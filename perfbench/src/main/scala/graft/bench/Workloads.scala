package graft.bench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.config.PipelineConfig
import graft.pipeline.{Medallion, RunLog, Runner}

/** Outcome of one call, with what the correctness gate compares. */
final case class CallResult(name: String, ok: Boolean, error: Option[String], out: Map[String, Any])

/** State of one pass: the timed wall and CPU of its calls (gate work
  * between calls is excluded) and each call's result. */
final class PassCtx(val spark: SparkSession, val tracer: Tracer, val scratch: File) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var wallNs = 0L
  var cpuNs = 0L
  val results = mutable.ArrayBuffer.empty[CallResult]
  /** Layer figures only the workload can see (files, layer sizes). */
  val extra = mutable.LinkedHashMap.empty[String, Double]

  def traced: Boolean = tracer.listener.isDefined

  def timed[T](body: => T): T = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    try body
    finally {
      wallNs += System.nanoTime() - t0
      cpuNs += os.getProcessCpuTime - c0
    }
  }

  def result(name: String, ok: Boolean, error: Option[String], out: Map[String, Any]): Unit =
    results += CallResult(name, ok, error, out)
}

trait Workload {
  /** Builds the indexes the workload's queries consume (set-up, untimed). */
  def warmIndexes(spark: SparkSession): Unit
  def pass(ctx: PassCtx): Unit
  /** DuckDB twins of the calls the gate checks by digest. */
  def oracleSql: Map[String, String]
}

object Workload {
  val Corpus: Seq[String] =
    Seq("q244_weighted_jaccard", "q151_pagerank", "q310_durable_filtered_walk")

  def apply(name: String, dataDir: String): Workload = name match {
    case "medallion"   => new MedallionWorkload(dataDir)
    case "corpus"      => new QueryWorkload(Corpus, dataDir)
    case other         => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Registry queries over the generated `documents`/`embeddings`
  * corpus; each result is collected and digested for the gate. */
final class QueryWorkload(queries: Seq[String], dataDir: String) extends Workload {

  def warmIndexes(spark: SparkSession): Unit =
    queries.flatMap(SparkEntry.indexWarmers.get).foreach(_(spark, dataDir))

  def pass(ctx: PassCtx): Unit = queries.foreach { q =>
    val fn = SparkEntry.queries(q)
    try {
      val t0 = System.nanoTime()
      val (cols, rows) = ctx.timed(ctx.tracer.span(q, "query") {
        val df = fn(ctx.spark, dataDir)
        (df.columns.toSeq, df.collect())
      })
      val s = (System.nanoTime() - t0) / 1e9
      ctx.result(q, ok = true, None,
        Map("digest" -> Digest.of(cols, rows), "rows" -> rows.length, "s" -> s))
    } catch {
      case NonFatal(e) => ctx.result(q, ok = false, Some(e.toString), Map.empty)
    }
  }

  def oracleSql: Map[String, String] = queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
}

/** The paper's daily medallion run, day 1 then day 2 into a fresh base
  * dir per pass: `Medallion.stages` + `Runner.run` + `RunLog.append`,
  * with the reference's partitioning, roll-ups and quality rules. */
final class MedallionWorkload(dataDir: String) extends Workload {
  import MedallionWorkload._

  private val conf = PipelineConfig.parse(PipelineYaml)
  private val meta = PipelineConfig.parseMetadata(MetadataYaml)
  private var passNo = 0

  def warmIndexes(spark: SparkSession): Unit = ()

  def oracleSql: Map[String, String] = Map.empty

  def pass(ctx: PassCtx): Unit = {
    passNo += 1
    val base = new File(ctx.scratch, s"medallion_$passNo").getAbsolutePath
    var seen = dataFiles(base)
    var attempts = 0
    Days.foreach { case (runId, date, dump) =>
      val stages = Medallion.stages(conf, meta,
          source = sp => sp.read.schema(RawSchema).json(s"$dataDir/$dump"),
          baseDir = base, runId = runId, transformationDate = date,
          clean = Clean, failOnViolation = false)
        .map(st => st.copy(run = (sp: SparkSession) => ctx.tracer.span(st.id, "pipeline")(st.run(sp))))
      val report = ctx.timed(Runner.run(ctx.spark, stages))
      ctx.timed(ctx.tracer.span("runlog", "runlog")(
        RunLog.append(base, conf.dagId, runId, date, report)))
      attempts += report.results.map(_.attempts).sum
      gate(ctx, base, date, report, layerCounts = date == Days.last._2)
      if (ctx.traced) {
        val now = dataFiles(base)
        ctx.extra("io.files_written") =
          ctx.extra.getOrElse("io.files_written", 0.0) + (now -- seen).size
        seen = now
      }
    }
    if (ctx.traced) {
      ctx.extra("pipeline.attempts") = attempts.toDouble
      Seq("bronze", "silver", "gold").foreach { layer =>
        ctx.extra(s"io.${layer}_mb") =
          dataFiles(s"$base/$layer").toSeq.map(f => new File(f).length).sum / (1024.0 * 1024.0)
      }
    }
  }

  /** Untimed: what each stage published, for the gate to compare.
    * Rows per silver partition and per gold roll-up are read after the
    * last day only: day 2's silver keeps day 1's untouched partitions,
    * and day 1's gold is checked through its row count and report. */
  private def gate(ctx: PassCtx, base: String, date: String, report: Runner.PipelineReport,
      layerCounts: Boolean): Unit = {
    val spark = ctx.spark
    val byId = report.results.map(r => r.id -> r).toMap
    StageIds.foreach { id =>
      val r = byId.get(id)
      val error = r match {
        case None => Some("stage not run")
        case Some(res) => res.status match {
          case Runner.Failed(e) => Some(e)
          case _                => None
        }
      }
      val out: Map[String, Any] = if (error.nonEmpty) Map.empty else try {
        id match {
          case "fetch_data_bronze" => r.get.metrics
          case "transform_silver" if layerCounts =>
            r.get.metrics ++ Map("silver_by_state" -> silverRowsByState(spark, s"$base/silver"))
          case "aggregate_gold" if layerCounts =>
            r.get.metrics ++ Map("gold_by_rollup" -> spark.read.parquet(s"$base/gold")
              .groupBy("aggregation").count().collect()
              .map(row => row.getString(0) -> row.getLong(1)).toMap)
          case "transform_silver" | "aggregate_gold" => r.get.metrics
          case "validate_gold_quality" =>
            r.get.metrics ++ Map("report" ->
              Files.readString(Paths.get(s"$base/quality/gold_report.json")))
        }
      } catch { case NonFatal(e) => Map("gate_error" -> e.toString) }
      ctx.result(s"$id@$date", error.isEmpty, error, out)
    }
  }
}

object MedallionWorkload {
  val StageIds: Seq[String] =
    Seq("fetch_data_bronze", "transform_silver", "aggregate_gold", "validate_gold_quality")

  /** (run id, transformation date, dump file under the data dir). */
  val Days: Seq[(String, String, String)] = Seq(
    ("20251015", "2025-10-15", "day1.jsonl"),
    ("20251016", "2025-10-16", "day2.jsonl"))

  /** Reference gold stage: three roll-ups (two share a grouping set, as
    * the reference's do) and the reference's default quality rules. */
  val PipelineYaml: String =
    """dag:
      |  dag_id: breweries_gold
      |stages:
      |  - task_id: aggregate_gold
      |    parameters:
      |      aggregations:
      |        - name: "by_country_type"
      |          group_by: ["country", "brewery_type"]
      |          metrics:
      |            - name: "total_breweries"
      |              expr: "count(*)"
      |        - name: "by_state_city_type"
      |          group_by: ["state", "city", "brewery_type"]
      |          metrics:
      |            - name: "total_breweries"
      |              expr: "count(*)"
      |        - name: "by_type_city_state"
      |          group_by: ["brewery_type", "city", "state"]
      |          metrics:
      |            - name: "total_breweries"
      |              expr: "count(*)"
      |  - task_id: validate_gold_quality
      |    depends_on: ["aggregate_gold"]
      |    quality_rules:
      |      - rule: "No null values in brewery_type"
      |        column: "brewery_type"
      |        type: "not_null"
      |      - rule: "No null values in city"
      |        column: "city"
      |        type: "not_null"
      |      - rule: "Count > 0 for all states"
      |        column: "total_breweries"
      |        type: "greater_than_zero"
      |""".stripMargin

  /** Reference silver metadata, partitioned the way its code does it. */
  val MetadataYaml: String =
    """dataset:
      |  name: breweries_silver
      |  partition_by: ["state", "country"]
      |schema:
      |  - name: id
      |    type: string
      |    nullable: false
      |  - name: name
      |    type: string
      |    nullable: false
      |  - name: brewery_type
      |    type: string
      |  - name: city
      |    type: string
      |  - name: state
      |    type: string
      |    nullable: false
      |  - name: country
      |    type: string
      |  - name: updated_at
      |    type: timestamp
      |  - name: ingestion_date
      |    type: date
      |    nullable: false
      |""".stripMargin

  val Clean: Medallion.CleanSpec = Medallion.CleanSpec(
    dedupKeys = Seq("id"),
    requiredCols = Seq("id", "name", "state", "country"),
    normalizeCols = Seq("name", "city", "state", "country", "brewery_type"),
    order = Seq(col("updated_at").desc_nulls_last))

  /** The API dump's shape: silver's enforced schema drops the extras. */
  val RawSchema: StructType = StructType(Seq(
    "id", "name", "brewery_type", "address_1", "city", "state_province",
    "postal_code", "country", "phone", "website_url", "state", "street",
    "updated_at", "ingestion_date").map(StructField(_, StringType)) ++ Seq(
    StructField("longitude", DoubleType), StructField("latitude", DoubleType)))

  /** Silver rows per `state` partition, from the Parquet footers. */
  def silverRowsByState(spark: SparkSession, dir: String): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(dir).toSeq.groupMapReduce { f =>
      val state = Paths.get(f).getParent.getParent.getFileName.toString
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(state.stripPrefix("state="))
    } { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }(_ + _)
  }

  /** Data files (Spark `part-*` outputs) under `dir`. */
  def dataFiles(dir: String): Set[String] = {
    val root = new File(dir)
    if (!root.exists()) Set.empty
    else {
      val it = Files.walk(root.toPath)
      try {
        val out = Set.newBuilder[String]
        it.forEach(p => if (p.getFileName.toString.startsWith("part-")) out += p.toString)
        out.result()
      } finally it.close()
    }
  }
}
