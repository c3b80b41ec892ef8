package graft

import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Measurement probe: runs registered queries on the session Bench runs
  * (`GraftSession.local`) and reports where each rep's wall went.
  *
  * For each (dir, query, rep) the query is written into the `noop` sink,
  * so the full plan executes, and one line prints its wall plus the
  * totals of one listener: jobs, tasks, executor core-s, GC s, shuffle
  * read and write MB, spill MB, input MB and peak task memory. Failed
  * reps are counted and printed; any failure makes the exit status 1.
  *
  *  - `--stages` adds the last rep's slowest jobs and its stage totals
  *    per callsite (the query paths set no job descriptions, so the
  *    stage name's callsite is the attribution).
  *  - `--explain` prints the final adaptive plan (`isFinalPlan=true`)
  *    the last successful rep executed, with every graft rewrite in it.
  *
  * Usage:
  *   sbt "runMain graft.Probe [--reps N] [--stages] [--explain]
  *     --queries a,b,... dir..."
  */
object Probe {

  final case class Args(reps: Int = 1, stages: Boolean = false,
      explain: Boolean = false, queries: Seq[String] = Nil,
      dirs: Seq[String] = Nil)

  val Usage: String =
    "usage: Probe [--reps N] [--stages] [--explain] --queries a,b,... dir..."

  /** Pure argument parser; `Left` is the message a user sees. */
  private[graft] def parse(args: Seq[String]): Either[String, Args] = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Either[String, Args] = rest match {
      case Nil => Right(a)
      case "--reps" :: tail =>
        tail.headOption.flatMap(_.toIntOption).filter(_ > 0) match {
          case Some(n) => go(tail.tail, a.copy(reps = n))
          case None => Left("--reps needs a positive integer")
        }
      case "--stages" :: tail => go(tail, a.copy(stages = true))
      case "--explain" :: tail => go(tail, a.copy(explain = true))
      case "--queries" :: qs :: tail if !qs.startsWith("-") =>
        go(tail, a.copy(queries =
          a.queries ++ qs.split(',').map(_.trim).filter(_.nonEmpty)))
      case "--queries" :: _ => Left("--queries needs a comma-separated list")
      case flag :: _ if flag.startsWith("-") => Left(s"unknown flag: $flag")
      case dir :: tail => go(tail, a.copy(dirs = a.dirs :+ dir))
    }
    go(args.toList, Args()).flatMap { a =>
      if (a.queries.isEmpty) Left("no --queries given")
      else if (a.dirs.isEmpty) Left("no dir given")
      else Right(a)
    }
  }

  /** One rep's totals: reset before the rep, read after
    * `GraftSparkShim.drainListenerBus` has delivered every event. */
  private final class Totals extends SparkListener {
    var jobs, tasks = 0
    var runMs, gcMs, shufRead, shufWrite, spill, input, peakMem = 0L
    private val jobStart = mutable.Map.empty[Int, (Long, String)]
    /** (job id, wall s, description) */
    val jobWall = mutable.ArrayBuffer.empty[(Int, Double, String)]
    /** (stage name, wall s, tasks, executor run ms) */
    val stageRows = mutable.ArrayBuffer.empty[(String, Double, Int, Long)]

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        tasks += 1
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shufRead += m.shuffleReadMetrics.totalBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        // in-memory size of spilled data: the SCALE.md spill_MB column
        spill += m.memoryBytesSpilled
        input += m.inputMetrics.bytesRead
        peakMem = peakMem.max(m.peakExecutionMemory)
      }
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      // a set job description, else the result stage's callsite
      val desc = Option(j.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("")
      jobs += 1
      jobStart(j.jobId) = (System.nanoTime(), desc)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(j.jobId).foreach { case (t0, desc) =>
        jobWall += ((j.jobId, (System.nanoTime() - t0) / 1e9, desc))
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = s.stageInfo
        val wall = (for (a <- i.submissionTime; b <- i.completionTime)
          yield (b - a) / 1e3).getOrElse(0.0)
        stageRows += ((i.name, wall, i.numTasks,
          i.taskMetrics.executorRunTime))
      }

    def reset(): Unit = synchronized {
      jobs = 0; tasks = 0
      runMs = 0; gcMs = 0; shufRead = 0; shufWrite = 0; spill = 0
      input = 0; peakMem = 0
      jobStart.clear(); jobWall.clear(); stageRows.clear()
    }

    def line: String = synchronized {
      f"jobs $jobs%4d  tasks $tasks%6d  core_s ${runMs / 1e3}%7.1f  " +
        f"gc_s ${gcMs / 1e3}%5.1f  shuffle_read_mb ${shufRead / 1e6}%8.1f  " +
        f"shuffle_write_mb ${shufWrite / 1e6}%8.1f  " +
        f"spill_mb ${spill / 1e6}%8.1f  input_mb ${input / 1e6}%8.1f  " +
        f"peak_task_mb ${peakMem / 1e6}%7.1f"
    }

    /** Top 12 jobs by wall, then stage totals per name (callsite). */
    def stageReport: Seq[String] = synchronized {
      jobWall.sortBy(-_._2).take(12).map { case (id, w, desc) =>
        f"  job $id%5d  $w%7.2f s  ${desc.take(110)}"
      }.toSeq ++
        stageRows.groupBy(_._1).toSeq.map { case (n, rs) =>
          (n, rs.size, rs.map(_._2).sum, rs.map(_._3).sum, rs.map(_._4).sum)
        }.sortBy(-_._3).take(16).map { case (n, cnt, w, t, ms) =>
          f"  stage x$cnt%-3d $w%7.2f s  $t%6d tasks  " +
            f"${ms / 1e3}%7.1f core_s  ${n.take(90)}"
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq).fold(
      { err => System.err.println(s"[probe] $err\n$Usage"); sys.exit(2) },
      identity)
    val unknown = a.queries.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[probe] unknown queries: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val spark = GraftSession.local("graft-probe")
    val totals = new Totals
    spark.sparkContext.addSparkListener(totals)
    // The noop write runs its own QueryExecution, not df.queryExecution
    // (whose executedPlan is the initial isFinalPlan=false plan): capture
    // the one the write actually ran.
    val ran = new AtomicReference[QueryExecution]()
    if (a.explain) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = ran.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    // warm the JVM/codegen paths so the first rep isn't charged startup
    spark.range(1000000L).selectExpr("sum(id)").collect()

    var failed = 0
    for (dir <- a.dirs; name <- a.queries) {
      val sf = dir.stripSuffix("/").split('/').last
      var plan: Option[QueryExecution] = None
      (1 to a.reps).foreach { rep =>
        totals.reset()
        ran.set(null)
        val t0 = System.nanoTime()
        val err =
          try {
            SparkEntry.queries(name)(spark, dir)
              .write.format("noop").mode("overwrite").save()
            None
          } catch { case NonFatal(e) => Some(e) }
        val wall = (System.nanoTime() - t0) / 1e9
        GraftSparkShim.drainListenerBus(spark.sparkContext)
        val head = f"[probe] $name  $sf  rep $rep/${a.reps}  wall_s $wall%7.2f"
        err match {
          case None =>
            println(s"$head  ${totals.line}")
            plan = Option(ran.get).orElse(plan)
          case Some(e) =>
            failed += 1
            println(s"$head  FAILED: ${e.getMessage}")
        }
      }
      if (a.stages) totals.stageReport.foreach(println)
      if (a.explain) {
        println(s"[probe] $name  $sf  final adaptive plan:")
        println(plan.fold("(no successful rep)")(_.executedPlan.toString))
      }
    }
    val runs = a.dirs.size * a.queries.size * a.reps
    println(s"[probe] $runs reps, $failed failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
