package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up (several times, median reported), then run
  * the workload's job back to back, one job at a time, for `--seconds`,
  * each iteration cold, and report medians.
  *
  * {{{
  * Main --workload wds_pipeline|text_curate|media_dedup --seed N
  *      --seconds S --trace 0|1 --cache DIR --work DIR --trace-out FILE
  *      --build-id ID [--scale N]
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` alternates
  * untraced and traced iterations and reports the per-layer metrics,
  * the tracing overhead, and writes every span with its Spark counters
  * to `--trace-out`.
  */
object Main {

  val Setups = 3
  val MinIters = 3
  /** Untimed iterations first: a cold JVM pays class loading, JIT and
    * Spark codegen in its first job. With the JIT held at its C1 tier
    * (see run.py) later iterations level off. */
  val WarmupIters = 1
  val MaxIters = 200
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** Per-span engine counters reported as `spark.<span>.<counter>`. */
  val EngineSpans: Seq[String] = Seq("pack", "tokenize", "index", "curate",
    "curate_write", "mediadedup", "mediadedup_write")

  /** Per-layer metrics every traced run reports (0 where the workload
    * does not use the layer), with units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "pack.busy_s" -> "s", "pack.samples" -> "count", "pack.frames" -> "count",
    "pack.tars" -> "count", "pack.out_mb" -> "MB",
    "wds.scan_s" -> "s", "wds.scan_mb" -> "MB",
    "tokenize.busy_s" -> "s", "tokenize.samples_in" -> "count",
    "tokenize.skipped" -> "count", "tokenize.packs" -> "count",
    "tokenize.tokens" -> "count", "tokenize.fill_ratio" -> "ratio",
    "index.busy_s" -> "s", "index.shards" -> "count",
    "index.samples" -> "count", "index.read_mb" -> "MB",
    "index.read_frac" -> "ratio",
    "curate.busy_s" -> "s", "curate.write_s" -> "s") ++
    Seq("n_docs", "quality_keep", "mix_keep", "exact_keep", "near_keep",
      "cont_keep", "span_keep", "decontam_keep", "budget_keep", "n_curated")
      .map(k => s"curate.kept.$k" -> "count") ++ Seq(
    "curate.kept_frac" -> "ratio",
    "multimodal.stage_s" -> "s", "multimodal.stage_rows" -> "count",
    "mediadedup.busy_s" -> "s", "mediadedup.clusters" -> "count",
    "mediadedup.survivors" -> "count", "mediadedup.planted_recall" -> "ratio",
    "trace.overhead_s" -> "s", "trace.span_cover" -> "ratio",
    "warmup_s" -> "s", "peak_rss_mb" -> "MB") ++
    EngineSpans.flatMap(s => Seq("jobs" -> "count", "tasks" -> "count",
      "task_failures" -> "count", "cpu_s" -> "s", "gc_s" -> "s",
      "shuffle_mb" -> "MB", "spill_mb" -> "MB", "sched_wait_s" -> "s",
      "task_skew" -> "ratio").map { case (c, u) => s"spark.$s.$c" -> u })

  final case class Iter(traced: Boolean, wallS: Double, cpuS: Double,
      rssMb: Double, checks: Checked, spans: Seq[Span],
      counts: Map[String, SpanCounts], extras: Seq[Metric])

  private def arg(a: Map[String, String], k: String): String =
    a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(
        s"expected --flag value, got ${other.mkString(" ")}")
    }.toMap
    val workload = arg(a, "workload")
    val seed = arg(a, "seed").toLong
    val seconds = arg(a, "seconds").toDouble
    val trace = arg(a, "trace") == "1"
    // scale 1 sizes one iteration at a few seconds on a 4-core host
    val scale = a.get("scale").fold(1)(_.toInt)
    val cache = Paths.get(arg(a, "cache"))
    val work = Paths.get(arg(a, "work"))
    Files.createDirectories(cache)
    Files.createDirectories(work)

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // ---- set-up, several times; the median is reported
    var spark: SparkSession = null
    var job: Job = null
    var genS = 0.0
    var corpus: Inputs.Corpus = null
    val warmups = Seq.newBuilder[Iter]
    val setupS = (0 until Setups).map { k =>
      val t0 = if (k == 0) jvmStart else System.currentTimeMillis()
      if (spark != null) spark.stop()
      val conf = Jobs.confFor(workload)
      spark = session(workload, conf, work)
      corpus = Inputs.ensure(spark, cache, workload, seed, scale)
      genS += corpus.generatedS
      job = Jobs(workload, corpus, new Digests(corpus.dir, arg(a, "build-id")))
      job.warmUp(spark)
      (System.currentTimeMillis() - t0) / 1e3
    }
    System.err.println(f"[perfbench] $workload seed=$seed scale=$scale " +
      f"rows=${corpus.rows} input=${corpus.inputBytes / 1e6}%.2fMB " +
      f"generated=${genS}%.2fs setups=${setupS.map(s => f"$s%.2f").mkString(",")}")

    // ---- one warm-up iteration (JIT, codegen caches), then timed
    // iterations, closed loop, each on a cold session
    val iters = Seq.newBuilder[Iter]
    var n = -WarmupIters
    var crashed: Option[String] = None
    var loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    while (crashed.isEmpty && n < MaxIters && (n < MinIters ||
        (trace && n < MinIters * 2) || elapsed < seconds)) {
      val traced = trace && n % 2 == 1
      try {
        val it = iteration(spark, job, work.resolve(s"iter-$n"), traced)
        if (n < 0) { warmups += it; loopStart = System.nanoTime() }
        else iters += it
      } catch { case e: Exception =>
        crashed = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
      }
      n += 1
    }
    val all = iters.result()
    spark.stop()

    val warm = warmups.result()
    val checked = all ++ warm
    val checkAttempts = checked.map(_.checks.attempted).sum
    val checkFails = checked.flatMap(_.checks.failures)
    checkFails.distinct.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    crashed.foreach(c => System.err.println(s"[perfbench] FAILED: iteration threw $c"))
    val attempted = checked.size * job.stageCalls + checkAttempts +
      crashed.size * job.stageCalls
    val failed = checkFails.size + crashed.size * job.stageCalls
    val correct = failed == 0 && all.nonEmpty

    val metrics =
      if (all.isEmpty) Nil
      else if (!trace) endToEnd(all, corpus, setupS, attempted, failed)
      else {
        writeTrace(Paths.get(arg(a, "trace-out")), workload, seed, all)
        perLayer(all, warm)
      }
    metrics.foreach(m => println(Report.line(m)))
    println(Report.finalLine(correct, attempted.toLong, failed.toLong,
      metrics.filter(m => trace || m.name != "failed_frac")))
    System.exit(0)
  }

  def session(workload: String, conf: Seq[(String, String)],
      work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // a checkpoint dir gives connected components its reliable
    // (parquet snapshot) lineage cut, the production posture — and no
    // local-checkpoint blocks outlive an iteration
    s.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    s
  }

  /** One cold iteration: fresh session (no memoized relation of an
    * earlier iteration is visible to it), storage asserted empty, then
    * the timed job, then checks and clean-up outside the timing. */
  def iteration(base: SparkSession, job: Job, out: Path,
      traced: Boolean): Iter = {
    val spark = base.newSession()
    val sc = spark.sparkContext
    val leaked = sc.getPersistentRDDs.size
    val tr = new Tracer(sc)
    if (traced) tr.attach()
    Rss.resetPeak()
    val cpu0 = Rss.processCpuNs()
    val t0 = System.nanoTime()
    val result = tr.span(job.name) { job.run(spark, tr, out) }
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] iteration traced=$traced wall=$wall%.3fs " +
      tr.recorded.map(s => f"${s.name}=${s.durMs / 1e3}%.3f").mkString(" "))
    val cpu = (Rss.processCpuNs() - cpu0) / 1e9
    val rss = Rss.peakMb()
    val counts = tr.finish()
    val checked0 = job.check(spark, result, out, traced)
    val checked = checked0.copy(attempted = checked0.attempted + 1,
      failures = checked0.failures ++ (if (leaked == 0) Nil
        else Seq(s"$leaked cached RDDs visible when the timed section started")))
    val extras = if (traced) job.extras(spark, result, out) else Nil
    job.close(result)
    release(spark)
    delete(out)
    Iter(traced, wall, cpu, rss, checked, tr.recorded, counts, extras)
  }

  /** Drop every cached relation, then let the context cleaner remove
    * RDDs that are no longer referenced (local checkpoints of finished
    * plans): anything still persisted at the next iteration's start is
    * reachable, and is reported by the cold-run check. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val deadline = System.currentTimeMillis() + 5000
    while (sc.getPersistentRDDs.nonEmpty &&
        System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
  }

  def endToEnd(all: Seq[Iter], corpus: Inputs.Corpus, setupS: Seq[Double],
      attempted: Int, failed: Int): Seq[Metric] = {
    val wall = Stats.median(all.map(_.wallS))
    Seq(
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("wall_s", wall, "s"),
      Metric("samples_per_s", Stats.median(all.map(corpus.rows / _.wallS)), "1/s"),
      Metric("input_mb_per_s",
        Stats.median(all.map(corpus.inputBytes / 1e6 / _.wallS)), "MB/s"),
      Metric("cpu_core_s", Stats.median(all.map(_.cpuS)), "s"),
      Metric("failed_frac", failed.toDouble / attempted, "ratio"))
  }

  def perLayer(all: Seq[Iter], warm: Seq[Iter]): Seq[Metric] = {
    val traced = all.filter(_.traced)
    val untraced = all.filterNot(_.traced)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val self = all.map(i => Tracing.selfTimes(i.spans))
    def busy(span: String) = med(self.flatMap(_.get(span)).map(_ / 1e3))
    val layer = all.flatMap(_.checks.layer.toSeq) ++
      traced.flatMap(_.extras.map(m => m.name -> m.value)) ++ Seq(
        "pack.busy_s" -> busy("pack"),
        "tokenize.busy_s" -> busy("tokenize"),
        "index.busy_s" -> busy("index"),
        "curate.busy_s" -> busy("curate"),
        "curate.write_s" -> busy("curate_write"),
        "mediadedup.busy_s" -> busy("mediadedup"),
        "trace.overhead_s" ->
          (med(traced.map(_.wallS)) - med(untraced.map(_.wallS))),
        "trace.span_cover" -> med(all.map(i => Tracing.coverage(i.spans))),
        "warmup_s" -> warm.headOption.fold(0.0)(_.wallS),
        "peak_rss_mb" -> med(all.map(_.rssMb)))
    val engine = for {
      s <- EngineSpans
      (c, f) <- Seq[(String, SpanCounts => Double)](
        "jobs" -> (_.jobs.toDouble), "tasks" -> (_.tasks.toDouble),
        "task_failures" -> (_.taskFailures.toDouble), "cpu_s" -> (_.cpuS),
        "gc_s" -> (_.gcS), "shuffle_mb" -> (_.shuffleMb),
        "spill_mb" -> (_.spillMb), "sched_wait_s" -> (_.schedWaitS),
        "task_skew" -> (_.taskSkew))
    } yield s"spark.$s.$c" -> med(traced.flatMap(_.counts.get(s)).map(f))
    val byName = (layer ++ engine).groupBy(_._1)
      .map { case (k, vs) => k -> med(vs.map(_._2)) }
    LayerMetrics.map { case (name, unit) =>
      Metric(name, byName.getOrElse(name, 0.0), unit)
    }
  }

  /** Spans and Spark counters of every iteration, as one JSON file. */
  def writeTrace(path: Path, workload: String, seed: Long,
      all: Seq[Iter]): Unit = {
    def q(s: String) = "\"" + s + "\""
    def obj(fields: Seq[(String, String)]) =
      fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val iters = all.zipWithIndex.map { case (i, n) =>
      val self = Tracing.selfTimes(i.spans)
      val spans = i.spans.map { s =>
        val counts = i.counts.get(s.name).toSeq.flatMap { c =>
          Seq("jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
            "task_failures" -> c.taskFailures.toString,
            "cpu_s" -> Report.fmt(c.cpuS), "gc_s" -> Report.fmt(c.gcS),
            "shuffle_mb" -> Report.fmt(c.shuffleMb),
            "spill_mb" -> Report.fmt(c.spillMb),
            "sched_wait_s" -> Report.fmt(c.schedWaitS),
            "task_skew" -> Report.fmt(c.taskSkew))
        }
        obj(Seq("name" -> q(s.name), "parent" -> s.parent.fold("null")(q),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "self_ms" -> self(s.name).toString) ++ counts)
      }
      obj(Seq("iteration" -> n.toString, "traced" -> i.traced.toString,
        "wall_s" -> Report.fmt(i.wallS),
        "spans" -> spans.mkString("[", ", ", "]")))
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, obj(Seq("workload" -> q(workload),
      "seed" -> seed.toString,
      "iterations" -> iters.mkString("[\n", ",\n", "\n]"))) + "\n")
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

/** Process CPU time and peak resident set size. */
object Rss {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** Reset VmHWM to the current RSS (Linux `clear_refs` 5). */
  def resetPeak(): Unit =
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5"): Unit
    catch { case _: Exception => () }

  def peakMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else Files.readAllLines(f).toArray(Array.empty[String]).collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.stripPrefix("VmHWM:").trim.stripSuffix("kB").trim.toDouble / 1024
    }.getOrElse(0.0)
  }
}
