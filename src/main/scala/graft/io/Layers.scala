package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Medallion layer I/O (reference: bronze JSONL capture
 * `src/pipelines/breweries_fetch_bronze_notebook.py:71-107`, silver
 * partitioned parquet `breweries_transform_silver_notebook.py:85-91`,
 * gold parquet `breweries_aggregate_gold_notebook.py:65`).
 *
 * Scale notes:
 *  - Bronze stays row-oriented (JSONL) for append-friendly raw capture;
 *    silver/gold are columnar Parquet. The reference's driver-side
 *    atomic-rename publish (K1) is subsumed by Spark's file commit
 *    protocol (`_temporary` staging + `_SUCCESS` marker) which is the
 *    multi-executor-safe version of the same idea.
 *  - Silver writes use dynamic partition overwrite
 *    (`breweries_transform_silver_notebook.py:35`) so a daily re-run
 *    replaces only the touched `state=/country=` dirs — at 100 TB you
 *    never rewrite the whole table for one day's data. Each write runs
 *    one task per partition directory on all cores ([[writeSilver]]),
 *    so one hot `state` dir is as slow as its own rows.
 *  - [[readJsonl]] with an enforced schema skips Spark's
 *    schema-inference pre-pass (which reads the whole file once!) —
 *    mandatory at scale.
 */
object Layers {

  /** S2 — schema-inferred JSONL scan (bronze exploration path only;
    * inference double-reads the data, so never on the hot path). */
  def readJsonlInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", value = false).json(path)

  /** S3 — schema-enforced JSONL scan (PERMISSIVE: missing → null, extra
    * source fields projected away — reference
    * `breweries_transform_silver_notebook.py:64-68`). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", value = false).json(path)

  /** K1/K2 — bronze JSONL sink; a `runId` yields the reference's
    * time-versioned `run_<ts>` layout
    * (`breweries_fetch_bronze_notebook.py:103-107`). Pass the run id in
    * (never wall-clock inside the job) so re-runs are reproducible. */
  def writeJsonl(df: DataFrame, dir: String, runId: Option[String] = None): String = {
    val target = runId.fold(dir)(id => s"$dir/run_$id")
    df.write.mode(SaveMode.Overwrite).json(target)
    target
  }

  /** K3 — silver partitioned Parquet sink with dynamic partition
    * overwrite. Rows are hash-clustered by `partitionCols` into
    * `defaultParallelism` tasks first, so each partition directory is
    * written by exactly one task and the tasks run on all cores. Files
    * per write = distinct partition values touched (no small-file
    * growth); one partition value is one task, the layout's skew limit.
    * The count is explicit (a `REPARTITION_BY_NUM` exchange) because
    * AQE coalesces a count-less `repartition(cols)` of a small frame
    * back to one task. No partition columns: written as it is. */
  def writeSilver(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.col
    val clustered =
      if (partitionCols.isEmpty) df
      else df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, partitionCols.map(col): _*)
    clustered.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** K4 — gold unpartitioned Parquet sink. */
  def writeGold(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** S4/S5 — Parquet scan; partition columns recovered from the dir
    * layout, so `WHERE state = …` prunes directories before any I/O. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /**
   * Events-table reader: normalizes `ts` to session-zoned
   * `TimestampType` regardless of the physical encoding the fixture
   * generator happened to use:
   *
   *   - nanosecond timestamps — Spark's vectorized reader refuses them
   *     ([PARQUET_TYPE_ILLEGAL]), so read as raw nanos (`nanosAsLong`)
   *     and convert with exact integer math (`div 1000`, never double
   *     division — nanos exceed 2^53). Micro-truncation matches
   *     DuckDB's ns→us cast semantics.
   *   - tz-naive `timestamp[us]` — Spark infers `TIMESTAMP_NTZ`, on
   *     which arithmetic casts (`CAST(ts AS DOUBLE)`) are illegal.
   *     Cast to `TimestampType`; the session is pinned UTC, so the
   *     wall-clock reinterpretation is value-identical.
   *
   * Downstream operators (sessionization gaps, range-join bucketing)
   * may therefore assume `ts: TimestampType` unconditionally.
   */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /**
   * Bucketed managed-table sink: `bucketBy(buckets, keys) + sortBy(keys)`
   * via `saveAsTable` (bucketing metadata lives in the catalog, so this
   * is a table write, not a path write). Two tables bucketed on the same
   * join keys with the same bucket count join WITHOUT any exchange —
   * the co-located-join strategy for repeated large⋈large joins at
   * 100 TB, where paying one bucketed write amortizes every later
   * shuffle away (verified by plan assertion in LayersSpec).
   */
  def writeBucketedTable(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /**
   * Range-clustered Parquet sink: `repartitionByRange(n, keys) +
   * sortWithinPartitions(keys)` before the write, so every output file
   * covers a DISJOINT key range. Parquet footers then carry tight
   * min/max stats per file and per row-group, and any reader filtering
   * on the cluster keys skips whole files without opening them — the
   * path-level analog of partition pruning for HIGH-cardinality keys
   * (timestamps, ids) where `partitionBy` would explode into millions
   * of directories. At 100 TB this is the difference between a range
   * query touching ~1/n of the files and touching all of them.
   * (LayersSpec asserts the per-file ranges are disjoint.)
   */
  def writeRangeClustered(
      df: DataFrame,
      path: String,
      clusterCols: Seq[String],
      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /**
   * Z-order (Morton-curve) cluster key over `zCols`, appended as
   * `zCol`: each column is rank-bucketed into `2^bits` cells against
   * its OWN full-frame min/max (one constant-size aggregate, collected
   * to the driver — never per-row state), and the buckets' bits are
   * interleaved (bit j of column i lands at position `j·k + i`).
   *
   * All arithmetic is INTEGER (`(v − min) · 2^bits div range`) so the
   * DuckDB oracle replays it exactly — no float rounding seam. Caller
   * contract: `(max − min + 1) · 2^bits` must fit in a signed 64-bit
   * long (pick `bits` accordingly for extreme-range keys).
   *
   * Why: range-clustering ([[writeRangeClustered]]) gives perfect file
   * skipping on ONE leading key; a Z-order layout gives good (not
   * perfect) skipping on EVERY participating key simultaneously —
   * queries filtering on any subset of the z columns touch a small
   * fraction of files. The 100 TB standard for multi-dimensional scan
   * pruning (Delta/Iceberg `OPTIMIZE ZORDER BY` do exactly this).
   */
  def zValues(
      df: DataFrame,
      zCols: Seq[String],
      bits: Int = 8,
      zCol: String = "__z"): DataFrame = {
    import org.apache.spark.sql.functions._
    val k = zCols.size
    require(k >= 2 && k <= 4, s"z-order needs 2–4 columns, got $k")
    require(bits >= 1 && bits * k <= 62,
      s"bits*cols must fit a long: got $bits*$k")
    val boundExprs = zCols.flatMap(c => Seq(
      min(col(c)).cast("long"), max(col(c)).cast("long")))
    val row = df.agg(boundExprs.head, boundExprs.tail: _*).first()
    val cells = 1L << bits
    // Null contract (every min/max slot guarded independently):
    //  - an ALL-NULL (or empty-frame) column has no bounds — it carries
    //    zero clustering information, so it contributes the constant
    //    cell 0 and the other columns still cluster;
    //  - a PER-ROW null maps to cell 0 (nulls-first, matching Spark's
    //    default sort order), giving the row a finite z-key instead of
    //    a null key that would silently collapse into one range
    //    partition at write time.
    val buckets = zCols.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(2 * i)) lit(0L)
      else {
        val mn = row.getLong(2 * i)
        val range = row.getLong(2 * i + 1) - mn + 1L
        // exact integer bucketing, identical in every engine
        coalesce(
          expr(s"((CAST($c AS BIGINT) - $mn) * ${cells}L) div ${range}L"),
          lit(0L))
      }
    }
    val z = (0 until bits).flatMap { j =>
      buckets.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * k + i)
      }
    }.reduce(_ bitwiseOR _)
    df.withColumn(zCol, z)
  }

  /**
   * Z-order clustered Parquet sink: rows range-partitioned and sorted
   * by their [[zValues]] Morton key, so consecutive files cover
   * compact HYPER-RECTANGLES of the key space and parquet footer
   * min/max stats stay tight on every z column at once. The helper
   * key is dropped before the write — layout changes I/O, never
   * content (LayersSpec asserts multi-column file skipping; the
   * roundtrip query's answers are oracle-checked).
   */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      numFiles: Int,
      bits: Int = 8): Unit = {
    import org.apache.spark.sql.functions.col
    zValues(df, zCols, bits)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /**
   * O3 analog — resolve the latest *successfully published* run
   * directory under `base` (subdirs named by sortable id, e.g.
   * `run_20251015` or an ISO date), gated on Spark's `_SUCCESS` marker.
   * Replaces the reference's Airflow `ExternalTaskSensor` + DagRun query
   * (`dags/breweries_gold_dag.py:118-139`) with plain dataflow: the
   * consumer reads the newest complete snapshot, never a half-written one.
   */
  /**
   * Small-files compaction — the maintenance op every long-lived table
   * needs at scale: streaming sinks, dynamic partition overwrites, and
   * incremental appends accrete files far below the object-store sweet
   * spot, and scan PLANNING cost plus per-file open/footer overhead
   * grow with file count, not bytes. Rewrites the layout as
   * `ceil(totalBytes / targetFileBytes)` balanced files and returns
   * `(filesBefore, filesAfter, inputBytes)`.
   *
   * Cost shape: the output file count derives from ONE filesystem
   * listing (no data pass), then the data is read and round-robin
   * `repartition`ed once — a single read+shuffle+write, balanced
   * regardless of input-file skew. Content is layout-invariant (q129's
   * oracle aggregates the compacted dir against the source table).
   * Partitioned tables compact per-partition through the same call on
   * each partition dir (composed with [[writeSilver]]'s dynamic
   * overwrite); this entry point is the single-directory primitive,
   * and it FAILS LOUD when handed anything else: a partitioned table
   * root (data in `col=val/` subdirectories) would list 0 top-level
   * files, plan n=1, and silently rewrite the whole tree into one
   * unpartitioned file — layout destroyed, no error. So a non-hidden
   * subdirectory or an input dir with no `*.parquet` files is a
   * caller bug, not a no-op.
   */
  def compact(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetFileBytes: Long = 128L << 20): (Int, Int, Long) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFiles(dir: String): Array[org.apache.hadoop.fs.FileStatus] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Array.empty
      else fs.listStatus(p).filter(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
    }
    val inP = new org.apache.hadoop.fs.Path(inPath)
    val inFs = inP.getFileSystem(conf)
    require(inFs.exists(inP), s"compact: input dir $inPath does not exist")
    val subdirs = inFs.listStatus(inP).filter(s => s.isDirectory && {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    })
    require(subdirs.isEmpty,
      s"compact: $inPath contains subdirectories " +
        s"(${subdirs.take(3).map(_.getPath.getName).mkString(", ")}) — " +
        "compact is a single-directory primitive; point it at each " +
        "partition directory (compose with writeSilver's dynamic overwrite)")
    val before = dataFiles(inPath)
    require(before.nonEmpty, s"compact: no *.parquet data files under $inPath")
    val bytes = before.map(_.getLen).sum
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    (before.length, dataFiles(outPath).length, bytes)
  }

  /**
   * Schema-drift reader: union parquet dirs whose schemas DRIFTED
   * across producer versions — columns added or dropped, and numerics
   * widened (byte/short/int → long, float → double, integral +
   * fractional → double). Spark's own `mergeSchema` merges footers but
   * HARD-FAILS on an Int-file-vs-Long-file conflict (the most common
   * drift: an upstream id column outgrows int), and silently refuses
   * mixed int/double. This reader computes the unified schema with
   * explicit widening rules, casts each source up to it, and
   * unions by name with absent columns read as typed nulls. Column
   * order is first-seen across `paths`. Non-numeric type conflicts
   * (string vs long, …) fail loud: that is a semantic break, not
   * drift, and auto-casting it would corrupt silently.
   *
   * Scale shape: per-path casts are narrow map-side projections fused
   * into each scan; the union is a plan-level concatenation (zero
   * shuffle) — drift handling costs nothing over reading the files.
   */
  def readDrifted(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    require(paths.nonEmpty, "readDrifted needs at least one path")
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    val fractional: Set[DataType] = Set(FloatType, DoubleType)
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (x, y) if integral(x) && integral(y) =>
        if (x == LongType || y == LongType) LongType
        else if (x == IntegerType || y == IntegerType) IntegerType
        else ShortType
      case (x, y) if (integral(x) || fractional(x)) && (integral(y) || fractional(y)) =>
        DoubleType
      case (x, y) => throw new IllegalArgumentException(
        s"readDrifted: non-widenable type conflict ${x.sql} vs ${y.sql} — " +
          "schema drift covers numeric widening and added/dropped columns only")
    }
    val schemas = paths.map(p => spark.read.parquet(p).schema)
    val order = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    schemas.foreach(_.foreach { f =>
      order(f.name) = order.get(f.name).map(widen(_, f.dataType)).getOrElse(f.dataType)
    })
    val unified = order.toSeq
    val frames = paths.zip(schemas).map { case (p, st) =>
      val have = st.map(_.name).toSet
      spark.read.parquet(p).select(unified.map { case (name, dt) =>
        if (have(name)) col(name).cast(dt).as(name)
        else lit(null).cast(dt).as(name)
      }: _*)
    }
    frames.reduce(_.unionByName(_))
  }

  def latestSuccessfulRun(spark: SparkSession, base: String): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    if (!fs.exists(basePath)) None
    else
      fs.listStatus(basePath)
        .filter(_.isDirectory)
        .map(_.getPath)
        // hidden names are staging dirs (Commits.publishAtomic) or
        // metadata — never published runs, whatever markers they hold
        .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        .map(_.toString)
        .sorted(Ordering[String].reverse)
        .headOption
  }

  /** Every `_SUCCESS`-gated run of a versioned-sink base directory,
    * OLDEST FIRST — [[latestSuccessfulRun]]'s full time-travel
    * companion: version `i` of the table is `successfulRuns(...)(i)`.
    * Same directory-listing contract (half-written runs without a
    * marker are invisible); listing cost ∝ run count, never data. */
  def successfulRuns(spark: SparkSession, base: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    if (!fs.exists(basePath)) Seq.empty
    else
      fs.listStatus(basePath)
        .filter(_.isDirectory)
        .map(_.getPath)
        // hidden names are staging dirs (Commits.publishAtomic), not runs
        .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
        .map(_.toString)
        .sorted
        .toSeq
  }

  /** Retention plan for a versioned-sink base directory — the VACUUM
    * planner of the lakehouse pattern, split from execution so the
    * deletions can be reviewed/audited first:
    *
    *  - `_SUCCESS`-gated runs, oldest first, are table versions; all
    *    but the newest `keepLast` plan as `expire`;
    *  - directories WITHOUT a marker plan as `orphan` — reported,
    *    never auto-expired: an unmarked directory is
    *    indistinguishable from a write in flight, so deleting it is a
    *    race by construction (age-based orphan reaping needs a
    *    wall-clock retention contract this listing deliberately does
    *    not assume).
    *
    * Listing cost ∝ run count (the [[successfulRuns]] contract),
    * never data. Output: (run_name, version, status) — version is
    * NULL for orphans; the newest `keepLast` versions keep.
    */
  def vacuumPlan(
      spark: SparkSession,
      base: String,
      keepLast: Int): org.apache.spark.sql.DataFrame = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    val dirs =
      if (!fs.exists(basePath)) Array.empty[org.apache.hadoop.fs.Path]
      else fs.listStatus(basePath).filter(_.isDirectory).map(_.getPath)
    val (gated, orphans) = dirs.sortBy(_.getName).partition(p =>
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
    val cut = gated.length - keepLast
    val rows =
      gated.zipWithIndex.map { case (p, v) =>
        (p.getName, Option(v.toLong),
          if (v < cut) "expire" else "keep")
      } ++ orphans.map(p => (p.getName, Option.empty[Long], "orphan"))
    spark.createDataFrame(rows.toSeq)
      .toDF("run_name", "version", "status")
  }
}
