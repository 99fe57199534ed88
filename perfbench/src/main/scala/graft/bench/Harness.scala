package graft.bench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** One workload in one JVM, closed loop on the driver thread:
  * set-up (session, index warmers, one untimed warm-up pass), one
  * timed untraced pass per 7 s of `--seconds` (at least 3), then with
  * `--trace 1` one traced pass. Writes every pass's timings, its largest
  * post-GC heap and its gate outputs as JSON to `--out`;
  * `perfbench/run.py` gates them and reports the metrics.
  *
  * Usage: `Harness --workload <name> --data <dir> --scratch <dir>
  *   --seconds <n> --trace <0|1> --cores <n> --out <file>`
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val scratch = new File(opts("scratch"))

    val calibBefore = Calib.run()
    val t0 = System.nanoTime()
    val spark = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secondsSince(t0)

    val workload = Workload(workloadName, opts("data"))
    val t1 = System.nanoTime()
    SparkEntry.clearMemos()
    workload.warmIndexes(spark)
    val indexS = secondsSince(t1)

    val untraced = new Tracer(spark, None)
    val (_, warm) = runPass(spark, workload, untraced, scratch, "warmup")

    // A fixed pass count, not a time limit: pass times fall for several
    // passes after warm-up, so a count that followed the host's speed
    // would move the median along that curve.
    val passes = math.max(3, math.round(seconds / NominalPassS).toInt)
    val heapPeak = new HeapPeak
    heapAfterGcMb() // start the first timed pass on a collected heap, like the others
    val timedPasses = Seq.fill(passes) {
      heapPeak.reset()
      val (_, p) = runPass(spark, workload, untraced, scratch, "timed")
      p + ("heap_mb" -> math.max(heapPeak.mb, heapAfterGcMb()))
    }
    heapPeak.close()

    val traced = if (!trace) None else {
      val listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      val (ctx, record) =
        runPass(spark, workload, new Tracer(spark, Some(listener)), scratch, "traced")
      spark.sparkContext.removeSparkListener(listener)
      val calls = ctx.tracer.spans
      val (jobs, stages) = listener.snapshot(calls.map(_.id).toSet)
      Some((record, layers(ctx, calls, jobs, stages, cores), LayerMetrics.spans(calls, jobs, stages)))
    }
    val calibAfter = Calib.run()

    val out = Map[String, Any](
      "workload" -> workloadName,
      "cores" -> cores,
      "setup" -> Map("session_s" -> sessionS, "index_s" -> indexS,
        "warmup_s" -> warm("wall_s")),
      "calib_s" -> Seq(calibBefore, calibAfter),
      "oracle_sql" -> workload.oracleSql,
      "passes" -> ((warm +: timedPasses) ++ traced.map(_._1)),
      "layers" -> traced.map(_._2).getOrElse(Map.empty),
      "spans" -> traced.map(_._3).getOrElse(Nil))
    Files.writeString(Paths.get(opts("out")), Json.write(out))
    spark.stop()
  }

  /** `--seconds` buys one timed pass per this many seconds. */
  private val NominalPassS = 7.0

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap still in use after a full collection: what the pass left
    * live (memos, cached blocks, driver-side state). Untimed; it also
    * starts the next pass on a collected heap. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** One pass: its context and its record for the results file. */
  private def runPass(spark: SparkSession, w: Workload, tracer: Tracer, scratch: File,
      kind: String): (PassCtx, Map[String, Any]) = {
    val ctx = new PassCtx(spark, tracer, scratch)
    val t0 = System.nanoTime()
    w.pass(ctx)
    ctx -> Map[String, Any](
      "kind" -> kind,
      "wall_s" -> ctx.wallNs / 1e9,
      "cpu_s" -> ctx.cpuNs / 1e9,
      "elapsed_s" -> secondsSince(t0),
      "calls" -> ctx.results.map(r => Map(
        "name" -> r.name, "ok" -> r.ok, "error" -> r.error.orNull, "out" -> r.out)).toSeq)
  }

  private def layers(ctx: PassCtx, calls: Seq[CallSpan], jobs: Seq[LayerListener.JobRec],
      stages: Seq[LayerListener.StageRec], cores: Int): Map[String, Double] = {
    val perCall = LayerMetrics.perCall(calls, jobs, stages).flatMap { case (name, c) =>
      calls.find(_.name == name).map(_.kind) match {
        case Some("query") => Map(s"$name.s" -> c.s, s"$name.jobs" -> c.jobs.toDouble,
          s"$name.driver_s" -> c.driverS, s"$name.cpu_s" -> c.cpuS)
        case Some("runlog") => Map("pipeline.runlog_s" -> c.s)
        case _ => Map(s"pipeline.$name.s" -> c.s, s"pipeline.$name.jobs" -> c.jobs.toDouble,
          s"pipeline.$name.driver_s" -> c.driverS)
      }
    }
    LayerMetrics.pass(calls, jobs, stages, cores) ++ perCall ++ ctx.extra ++
      Map("traced_wall_s" -> ctx.wallNs / 1e9)
  }
}

/** Largest heap in use right after a collection, over the collections
  * since the last [[reset]]: the heap pools' usage after each GC, from
  * the collectors' notifications. So driver-side state that a query
  * frees before it ends (collected results, broadcast tables) still
  * shows, as long as a collection ran while it was live. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, usage) if heapPools(pool) => usage.getUsed
      }.sum
      peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def reset(): Unit = peak.set(0L)
  def mb: Double = peak.get / (1024.0 * 1024.0)
  def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
}

/** Fixed single-thread CPU loop: a host stall shows as a slower loop. */
object Calib {
  @volatile private var sink = 0L

  def run(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def write(v: Any): String = v match {
    case null | None      => "null"
    case Some(x)          => write(x)
    case s: String        => Digest.jsonQuote(s)
    case b: Boolean       => b.toString
    case d: Double        => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float         => write(f.toDouble)
    case n: Int           => n.toString
    case n: Long          => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Digest.jsonQuote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_]   => s.map(write).mkString("[", ",", "]")
    case a: Array[_]      => write(a.toSeq)
    case other            => Digest.jsonQuote(other.toString)
  }
}
