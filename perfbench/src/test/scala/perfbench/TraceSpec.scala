package perfbench

import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.Properties

class TraceSpec extends AnyFunSuite {

  test("union length merges overlapping and nested intervals") {
    assert(Intervals.unionLength(Seq((0L, 4L), (2L, 6L)), 0L, 100L) == 6L)
    assert(Intervals.unionLength(Seq((0L, 10L), (2L, 3L), (5L, 6L)), 0L, 100L) == 10L)
    assert(Intervals.unionLength(Seq((0L, 1L), (2L, 3L)), 0L, 100L) == 2L)
    assert(Intervals.unionLength(Seq((0L, 1L), (1L, 3L)), 0L, 100L) == 3L)
    assert(Intervals.unionLength(Nil, 0L, 100L) == 0L)
  }

  test("union length clips intervals to the span") {
    assert(Intervals.unionLength(Seq((-5L, 5L), (8L, 20L)), 0L, 10L) == 7L)
    assert(Intervals.unionLength(Seq((20L, 30L)), 0L, 10L) == 0L)
  }

  test("driver gap of overlapping jobs subtracts their union, not their sum") {
    // span 0-10 s; jobs 1-5 s and 3-7 s overlap by 2 s: covered 6 s
    val jobs = Seq((1000L, 5000L), (3000L, 7000L))
    assert(Intervals.driverGap(0L, 10000L, jobs) == 4000L)
    assert(Intervals.driverGap(0L, 10000L, jobs) != 10000L - jobs.map(j => j._2 - j._1).sum)
  }

  private def props(span: String): Properties = {
    val p = new Properties()
    if (span != null) p.setProperty(SpanListener.Key, span)
    p
  }

  test("listener rolls jobs up by span and ignores jobs outside spans") {
    val l = new SpanListener
    l.onJobStart(SparkListenerJobStart(1, 1000L, Nil, props("a")))
    l.onJobStart(SparkListenerJobStart(2, 3000L, Nil, props("a")))
    l.onJobStart(SparkListenerJobStart(3, 3000L, Nil, props(null)))
    l.onJobStart(SparkListenerJobStart(4, 8000L, Nil, props("b")))
    l.onJobEnd(SparkListenerJobEnd(1, 5000L, JobSucceeded))
    l.onJobEnd(SparkListenerJobEnd(2, 7000L, JobSucceeded))
    l.onJobEnd(SparkListenerJobEnd(3, 9000L, JobSucceeded))
    l.onJobEnd(SparkListenerJobEnd(4, 9000L, JobSucceeded))
    val a = l.rollup("a", Seq((0L, 10000L)), 10.0)
    assert(a.jobs == 2)
    assert(a.driverGapS == 4.0)
    val b = l.rollup("b", Seq((7500L, 9500L)), 2.0)
    assert(b.jobs == 1)
    assert(b.driverGapS == 1.0)
    val none = l.rollup("never", Nil, 0.0)
    assert(none.jobs == 0 && none.tasks == 0 && none.driverGapS == 0.0)
  }

  test("a span entered twice sums its walls and gaps") {
    val l = new SpanListener
    l.onJobStart(SparkListenerJobStart(1, 1000L, Nil, props("s")))
    l.onJobEnd(SparkListenerJobEnd(1, 2000L, JobSucceeded))
    l.onJobStart(SparkListenerJobStart(2, 11000L, Nil, props("s")))
    l.onJobEnd(SparkListenerJobEnd(2, 13000L, JobSucceeded))
    val s = l.rollup("s", Seq((0L, 3000L), (10000L, 14000L)), 7.0)
    assert(s.jobs == 2)
    assert(s.driverGapS == 4.0)
  }

  test("spans on a live session count jobs, tasks, shuffle and threads they start") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", 2)
      .getOrCreate()
    try {
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      val t = new Tracer(spark.sparkContext, l)
      t.span("agg") {
        spark.range(0, 20000).groupBy((col("id") % 10).as("k")).count().collect()
      }
      t.span("threads") {
        // jobs from threads started inside the span belong to it
        val th = (1 to 2).map(_ => new Thread(() => { spark.range(0, 1000).count(); () }))
        th.foreach(_.start())
        th.foreach(_.join())
      }
      t.span("idle")(Thread.sleep(50))
      spark.range(0, 10).count() // outside any span
      val agg = t.stats("agg")
      assert(agg.jobs >= 1)
      assert(agg.tasks >= 2)
      assert(agg.shuffleMb > 0.0)
      assert(agg.driverGapS >= 0.0 && agg.driverGapS <= agg.wallS + 0.001)
      assert(t.stats("threads").jobs >= 2)
      val idle = t.stats("idle")
      assert(idle.jobs == 0 && idle.tasks == 0)
      assert(math.abs(idle.driverGapS - idle.wallS) < 0.01)
      assert(l.peakTaskMemBytes > 0L)
    } finally spark.stop()
  }

  test("pair counts come from the contingency table") {
    val truth = Map("a" -> 1, "b" -> 1, "c" -> 1, "d" -> 2, "e" -> 3)
    // predicted: {a,b} {c,d} {e}; true pairs ab ac bc; predicted ab cd
    val pred = Map("a" -> "x", "b" -> "x", "c" -> "y", "d" -> "y", "e" -> "z")
    val pc = PairCounts(pred, truth)
    assert(pc == PairCounts(truePairs = 3, predictedPairs = 2, correctPairs = 1))
    assert(pc.recall == 1.0 / 3 && pc.precision == 0.5)
    // a missing id is a singleton
    assert(PairCounts(Map("a" -> "x"), truth).predictedPairs == 0)
  }
}
