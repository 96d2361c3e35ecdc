package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("covered length merges overlapping intervals and clips to the window") {
    assert(Span.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0.0, 10.0) == 4.0)
    assert(Span.covered(Seq((-5.0, 1.0), (9.0, 20.0)), 0.0, 10.0) == 2.0)
    assert(Span.covered(Nil, 0.0, 10.0) == 0.0)
  }

  test("self time is duration minus the union of the children") {
    val spans = Seq(
      Span(1, 0, "a", "op", "op", 0, 100),
      Span(2, 1, "a", "construct", "c", 0, 40),
      Span(3, 1, "a", "action", "x", 40, 90),
      Span(4, 3, "a", "job", "j1", 45, 70),
      Span(5, 3, "a", "job", "j2", 60, 80),
      Span(6, 4, "a", "stage", "s", 45, 70))
    val self = Span.selfTimes(spans)
    assert(self(1) == 10.0) // 100 - (40 + 50)
    assert(self(2) == 40.0)
    assert(self(3) == 15.0) // 50 - union(45..80)
    assert(self(4) == 0.0)
    assert(self(5) == 20.0)
  }

  test("jobs, stages and tasks are attributed to the op whose job group started them") {
    val spark = SparkSession.builder().master("local[2]").appName("TraceSpec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      // one job of two tasks, no shuffle
      Main.inGroup(spark, "op-a")(spark.sparkContext.parallelize(1 to 100, 2).count())
      Main.inGroup(spark, "op-b") {
        spark.range(0, 100, 1, 2).count()
        spark.range(0, 100, 1, 3).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      }
      val deadline = System.nanoTime() + 20e9.toLong
      while (tracer.totals(Set("op-b")).tasks < 5 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300)
      assert(tracer.jobsByOp("op-a").size == 1)
      assert(tracer.jobsByOp("op-b").size >= 2)
      assert(tracer.totals(Set("op-a")).tasks == 2)
      assert(tracer.totals(Set("op-b")).shuffleWrite > 0)
      assert(tracer.totals(Set("op-a")).shuffleWrite == 0)
      val spans = tracer.allSpans
      val opA = tracer.opSpan("op-a")
      val jobsA = spans.filter(s => s.kind == "job" && s.op == "op-a")
      assert(jobsA.nonEmpty && jobsA.forall(_.parent == opA))
      val stagesA = spans.filter(s => s.kind == "stage" && s.op == "op-a")
      assert(stagesA.nonEmpty && stagesA.forall(s => jobsA.exists(_.id == s.parent)))
      assert(!spans.exists(s => s.op == "op-b" && s.parent == opA))
    } finally spark.stop()
  }
}
