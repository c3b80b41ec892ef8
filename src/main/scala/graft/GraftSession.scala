package graft

import org.apache.spark.sql.SparkSession

/** The one local session every in-JVM main runs on (Bench, Verify,
  * Smoke, Probe), so a plan measured by one is the plan the others
  * execute. `Pipeline.main` keeps its own builder: it is the
  * spark-submit entry and must not set a master.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  private[graft] def cpusFrom(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)

  def cpus: String = cpusFrom(sys.env)

  /** Builder settings for `local[cpus]` — pure so a spec pins them. */
  private[graft] def conf(app: String, cpus: String): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.app.name" -> app,
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")

  /** Session with the graft extensions installed and a RELIABLE
    * checkpoint dir. Without one, iterative ops (qc07's connected
    * components) fall back to localCheckpoint, which pins RDD blocks in
    * executor memory until the ContextCleaner happens to GC them —
    * measured as bimodal qc07 reps (7s vs 45s) inside one otherwise-idle
    * bench JVM. */
  def local(app: String): SparkSession = {
    val spark = SparkSession.builder().config(conf(app, cpus)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft_ckpt").toString)
    spark
  }
}
