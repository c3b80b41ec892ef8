package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure pieces of the shared local session and the probe CLI. No
  * session is started here: `SparkSpec` owns the one test session. */
class GraftSessionSpec extends AnyFunSuite {

  test("session conf is exactly the settings Bench has always run with") {
    assert(GraftSession.conf("graft-bench", "8") == Map(
      "spark.master" -> "local[8]",
      "spark.app.name" -> "graft-bench",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("cpus: SPARK_GRAFT_CPUS wins, else every available core") {
    assert(GraftSession.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "3")) == "3")
    assert(GraftSession.cpusFrom(Map.empty) ==
      Runtime.getRuntime.availableProcessors().toString)
  }

  test("probe args: flags, comma-split queries, and every dir") {
    assert(Probe.parse(Seq("--reps", "2", "--stages", "--explain",
        "--queries", "q01_pricing_summary,qc07_curate_funnel",
        "/data/sf0.1", "/data/sf1")) ==
      Right(Probe.Args(reps = 2, stages = true, explain = true,
        queries = Seq("q01_pricing_summary", "qc07_curate_funnel"),
        dirs = Seq("/data/sf0.1", "/data/sf1"))))
    // dirs may precede the flags; defaults: 1 rep, no extras
    assert(Probe.parse(Seq("/d", "--queries", "a,,b")) ==
      Right(Probe.Args(queries = Seq("a", "b"), dirs = Seq("/d"))))
  }

  test("probe args: clean errors, never an index exception") {
    def err(args: String*): String =
      Probe.parse(args).swap.getOrElse(fail(s"accepted: $args"))
    assert(err("--reps") == "--reps needs a positive integer")
    assert(err("--queries", "a", "/d", "--reps") ==
      "--reps needs a positive integer")
    assert(err("--reps", "x", "--queries", "a", "/d") ==
      "--reps needs a positive integer")
    assert(err("--reps", "0", "--queries", "a", "/d") ==
      "--reps needs a positive integer")
    assert(err("--funnel", "--queries", "a", "/d") == "unknown flag: --funnel")
    assert(err("--queries") == "--queries needs a comma-separated list")
    assert(err("--queries", "--stages", "/d") ==
      "--queries needs a comma-separated list")
    assert(err("/d") == "no --queries given")
    assert(err("--queries", "a") == "no dir given")
  }
}
