package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  private val spans = Seq(
    Span("job", None, 0, 100),
    Span("pack", Some("job"), 10, 40),
    Span("tokenize", Some("job"), 40, 70),
    Span("index", Some("job"), 75, 95))

  test("self time subtracts direct children only") {
    val nested = spans :+ Span("read", Some("tokenize"), 45, 55)
    val self = Tracing.selfTimes(nested)
    assert(self("job") == 100 - 30 - 30 - 20)
    assert(self("tokenize") == 30 - 10)
    assert(self("pack") == 30)
    assert(self("read") == 10)
  }

  test("a child running past its parent counts only inside the parent") {
    val self = Tracing.selfTimes(Seq(Span("a", None, 0, 10),
      Span("b", Some("a"), 5, 20)))
    assert(self("a") == 5)
  }

  test("coverage is the root's share spent in its children") {
    assert(math.abs(Tracing.coverage(spans) - 0.8) < 1e-12)
    assert(Tracing.coverage(Nil) == 0.0)
  }

  test("a job goes to the span named by its local property") {
    assert(Tracing.attribute(Some("pack"), 80, spans).contains("pack"))
  }

  test("without a property a job goes to the innermost span holding it") {
    assert(Tracing.attribute(None, 50, spans).contains("tokenize"))
    assert(Tracing.attribute(None, 72, spans).contains("job"))
    assert(Tracing.attribute(None, 500, spans).isEmpty)
    // an unknown property falls back to time
    assert(Tracing.attribute(Some("other"), 20, spans).contains("pack"))
  }

  test("fill ratio is tokens over packs times the pack limit") {
    assert(Jobs.fillRatio(6000, 1) == 0.75)
    assert(Jobs.fillRatio(12000, 3, maxTokens = 8000) == 0.5)
    assert(Jobs.fillRatio(100, 0) == 0.0)
  }

  test("task skew is max over median of the heaviest stage") {
    // stage 2 carries the most task time: median 10, max 40
    val skew = Tracing.taskSkew(Map(1 -> Seq(1L, 1L, 9L),
      2 -> Seq(10L, 10L, 40L)))
    assert(skew == 4.0)
    assert(Tracing.taskSkew(Map(1 -> Seq(5L))) == 1.0)
    assert(Tracing.taskSkew(Map.empty) == 1.0)
  }

  test("span counters fold tasks, failures and waits") {
    val tasks = Seq(
      TaskRec(1, 0, 1100, 100, failed = false, 2000000000L, 500, 1000000, 0),
      TaskRec(1, 0, 1300, 300, failed = true, 0, 0, 0, 2000000))
    val c = Tracing.counts(2, tasks, Map((1, 0) -> 1000L))
    assert(c.jobs == 2 && c.tasks == 2 && c.taskFailures == 1)
    assert(c.cpuS == 2.0 && c.gcS == 0.5)
    assert(c.shuffleMb == 1.0 && c.spillMb == 2.0)
    assert(math.abs(c.schedWaitS - 0.4) < 1e-12)
    assert(c.taskSkew == 1.0)
  }

  test("the final line is one JSON object with every metric") {
    val line = Report.finalLine(correct = true, attempted = 12, failed = 0,
      Seq(Metric("wall_s", 1.25, "s"), Metric("setup_s", 0.5, "s"),
        Metric("tokenize.fill_ratio", 0.515625, "ratio")))
    assert(!line.contains("\n"))
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    implicit val f: org.json4s.Formats = org.json4s.DefaultFormats
    assert((parsed \ "correct").extract[Boolean])
    assert((parsed \ "attempted").extract[Long] == 12)
    assert((parsed \ "failed").extract[Long] == 0)
    assert((parsed \ "metrics" \ "wall_s" \ "value").extract[Double] == 1.25)
    assert((parsed \ "metrics" \ "wall_s" \ "unit").extract[String] == "s")
    assert((parsed \ "metrics" \ "tokenize.fill_ratio" \ "value")
      .extract[Double] == 0.515625)
  }

  test("the final line keeps every digit and rejects bad input") {
    val v = 0.1234567890123
    assert(Report.finalLine(correct = false, attempted = 1, failed = 1,
      Seq(Metric("x", v, "s"))).contains(v.toString))
    assert(Report.fmt(Double.NaN) == "0")
    assert(Report.fmt(3.0) == "3")
    intercept[IllegalArgumentException] {
      Report.finalLine(correct = true, attempted = 0, failed = 0, Nil)
    }
    intercept[IllegalArgumentException] {
      Report.finalLine(correct = true, attempted = 1, failed = 0,
        Seq(Metric("a", 1, "s"), Metric("a", 2, "s")))
    }
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
