package graft.bench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class LayerListenerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("perfbench-tests")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def traced[T](body: Tracer => T): (T, Tracer) = {
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val tracer = new Tracer(spark, Some(listener))
    try (body(tracer), tracer)
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("counts on a known job are exact and untraced jobs are left out") {
    val sc = spark.sparkContext
    val (_, tracer) = traced { t =>
      t.span("narrow", "query")(sc.parallelize(1 to 100, 4).map(_ * 2).count())
      sc.parallelize(1 to 10, 2).count() // outside any span
      t.span("shuffle", "query")(
        sc.parallelize(1 to 100, 4).map(x => (x % 3, 1)).reduceByKey(_ + _, 2).collect())
    }
    val calls = tracer.spans
    val (jobs, stages) = tracer.listener.get.snapshot(calls.map(_.id).toSet)
    val m = LayerMetrics.pass(calls, jobs, stages, cores = 4)
    assert(m("scheduler.jobs") == 2)
    assert(m("scheduler.stages") == 3)
    assert(m("scheduler.tasks") == 4 + 4 + 2)
    assert(m("shuffle.write_mb") > 0)
    assert(m("shuffle.read_mb") == m("shuffle.write_mb"))

    val per = LayerMetrics.perCall(calls, jobs, stages)
    assert(per("narrow").jobs == 1 && per("shuffle").jobs == 1)
    per.values.foreach { c =>
      assert(c.driverS >= 0 && c.driverS <= c.s)
    }
    val spans = LayerMetrics.spans(calls, jobs, stages)
    assert(spans.count(_("kind") == "job") == 2)
    assert(spans.count(_("kind") == "stage") == 3)
    spans.foreach(s => assert(s("self_ms").asInstanceOf[Double] >= 0))
  }

  test("untraced spans are plain pass-through") {
    val tracer = new Tracer(spark, None)
    assert(tracer.span("q", "query")(41 + 1) == 42)
    assert(tracer.spans.isEmpty)
  }

  test("covered is the length of the union of intervals inside the window") {
    assert(Tracer.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0, 10) == 4.0)
    assert(Tracer.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 1.5, 5.5) == 2.0)
    assert(Tracer.covered(Nil, 0, 1) == 0.0)
  }

  test("digest matches the Python oracle's canonical form") {
    val rows = Seq(Row(7L, 0.1, "a\"b", true), Row(-2, 2.0, "é", null),
      Row(0L, Double.NaN, "", false))
    // the value perfbench/tests/test_bench.py computes for the same rows
    assert(Digest.of(Seq("k", "x", "s", "f"), rows) ==
      "2898fcd26eda79dafc9e5f088618dc1bdbf3ef7155b98e527c5c7d9ebf49d03f")
  }

  test("digest does not depend on row or column order") {
    val cols = Seq("a", "b")
    val rows = Seq(Row(1L, 0.5), Row(2L, 0.25), Row(3L, null))
    val d = Digest.of(cols, rows)
    assert(Digest.of(cols, rows.reverse) == d)
    assert(Digest.of(Seq("b", "a"), rows.map(r => Row(r.get(1), r.get(0)))) == d)
    assert(Digest.of(cols, rows.updated(0, Row(1L, 0.5000001))) != d)
  }

  /** Holds `mb` MB live across a full GC, then drops it on return. */
  private def collectWhileHolding(mb: Int): Int = {
    val block = Array.fill(mb)(new Array[Byte](1 << 20))
    System.gc()
    block.length
  }

  test("heap peak keeps memory that was freed before the pass ended") {
    val peak = new HeapPeak
    try {
      System.gc()
      Thread.sleep(200) // GC notifications arrive on another thread
      peak.reset()
      assert(collectWhileHolding(64) == 64)
      System.gc()
      val deadline = System.nanoTime() + 5000000000L
      while (peak.mb < 64 && System.nanoTime() < deadline) Thread.sleep(20)
      val endMb = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
      assert(peak.mb >= endMb + 60)
    } finally peak.close()
  }
}
