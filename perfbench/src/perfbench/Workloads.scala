package perfbench

import java.io.File
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.charts.SvgCharts
import graft.functions.OracleSafe
import graft.operators.{BankEtl, DataQuality, ManifestTable, WarehouseSink}
import graft.oracle.BankOracle

/** A workload: a batch phase (timed once per run) and a closed-loop request
  * window, in the order the product runs them, with untimed set-up between.
  */
trait Workload {
  def run(): Unit
}

object Workload {
  /** Compute every row and column of `df` without collecting it. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  def rowsJson(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq)

  /** (bytes, files) of the parquet files under `dir`. */
  def parquetSize(dir: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(dir).filter(_.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.size.toLong)
  }
}

import Workload._

/** The product's day: the `graft.Pipeline` ETL run in a fresh JVM (build
  * with cache → data-quality checks → parquet sink → dashboard charts →
  * read-back counts), then warm dashboards over the warehouse that run
  * cached: one closed-loop client sending a seeded sequence of SQL text.
  */
final class EtlDashboards(ctx: Ctx) extends Workload with AdaptiveSparkPlanHelper {
  import ctx._
  /** (key, Spark SQL text, DuckDB oracle SQL). */
  private var pool: IndexedSeq[(String, String, String)] = IndexedSeq.empty
  private var cacheOnly = 0

  def run(): Unit = {
    val out = s"${o.work}/etl"
    var w: Option[BankEtl.Warehouse] = None
    ctx.phase("batch") {
      ctx.op("etl", "etl") {
        val built = BankEtl.buildCached(spark, o.data)
        val (dq, counts) = etl(built, out)
        w = Some(built)
        checks("etl") = Map("dir" -> out, "counts" -> counts.toMap,
          "dq" -> dq.map(v => v.check -> v.count).toMap,
          "prelude" -> BankOracle.prelude,
          "oracle" -> EtlDashboards.starOracle.map { case (t, q) => t -> BankOracle.queries(q) })
        (dq, counts).hashCode
      }
    }
    if (o.trace) {
      val (bytes, files) = parquetSize(new File(out))
      extra("write.bytes") = bytes
      extra("write.files") = files
    }
    w.foreach { wh =>
      untimed {
        BankEtl.registerViews(wh)
        pool = buildPool()
        val first = pool.map { case (key, sql, oracle) =>
          val df = spark.sql(sql)
          key -> Map("oracle_sql" -> oracle, "columns" -> df.columns.toSeq,
            "rows" -> rowsJson(df.collect()))
        }
        checks("queries") = first.toMap
        extra("cache.bytes") =
          spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
      val schedule = ctx.rounds(pool)
      ctx.window {
        while (more) {
          val (key, sql, _) = schedule.next()
          ctx.op("query", key) {
            val df = spans("dash.sql")(spark.sql(sql))
            val rows = spans("dash.collect")(df.collect())
            if (spans.enabled &&
                find(df.queryExecution.executedPlan)(_.isInstanceOf[FileSourceScanExec]).isEmpty)
              cacheOnly += 1
            Main.digest(rows)
          }
        }
      }
      extra("cache.scan_ratio") =
        cacheOnly.toDouble / math.max(ops.count(p => p.traced && p.kind == "query"), 1)
    }
  }

  private def etl(w: BankEtl.Warehouse, out: String)
      : (Seq[DataQuality.Violations], Seq[(String, Long)]) = {
    if (spans.enabled) {
      // force the members in dependency order so their spans nest
      spans("etl.read")(BankEtl.read(spark, o.data))
      spans("etl.clean")(force(w.cleanAccounts))
      spans("etl.dims")(Seq(w.dimDate, w.dimCustomer, w.dimAccount, w.dimMerchant,
        w.dimLocation).foreach(force))
      spans("etl.fact")(force(w.fact))
    }
    val dq = spans("etl.dq")(DataQuality.warehouseChecks(w))
    require(dq.forall(_.count == 0), s"data-quality violations: $dq")
    spans("etl.sink")(WarehouseSink.write(w, out))
    val charts = spans("etl.charts")(SvgCharts.renderDashboards(w, s"$out/charts"))
    require(charts.size == 3 && charts.forall(_.toFile.length > 0), s"charts: $charts")
    val counts = spans("etl.readback")(WarehouseSink.loadOrder.map(t =>
      t -> spark.read.parquet(s"$out/$t").count()))
    (dq, counts)
  }

  private def distinct(sql: String): IndexedSeq[String] =
    spark.sql(sql).collect().map(r => String.valueOf(r.get(0))).sorted.toIndexedSeq

  /** The three dashboard queries plus seeded slices of the star by month
    * range, category, age group and region. A slice's SQL text runs as-is
    * on DuckDB after [[BankOracle.prelude]] (DuckDB identifiers ignore
    * case); the dashboards' twins are BankOracle's own entries.
    */
  private def buildPool(): IndexedSeq[(String, String, String)] = {
    val r = new scala.util.Random(o.seed)
    val total = "CAST(CAST(SUM(f.Amount_Spent) AS DECIMAL(18,2)) AS DOUBLE) AS Total_Spent"
    val months = distinct("SELECT DISTINCT Year * 100 + Month FROM Dim_Date").map(_.toInt).sorted
    def pick(sql: String): String = {
      val xs = distinct(sql)
      xs(r.nextInt(xs.size))
    }
    val a = r.nextInt(months.size)
    val (m0, m1) = (months(a), months(math.min(months.size - 1, a + 1 + r.nextInt(12))))
    val slices = Seq(
      "month_range" ->
        s"""SELECT d.Year, d.Month, COUNT(*) AS n_tx, $total
           |FROM Fact_Spending f JOIN Dim_Date d ON f.Date_Key = d.Date_Key
           |WHERE d.Year * 100 + d.Month BETWEEN $m0 AND $m1
           |GROUP BY d.Year, d.Month ORDER BY d.Year, d.Month""".stripMargin,
      "category" ->
        s"""SELECT l.Transaction_Region, d.Year, COUNT(*) AS n_tx, $total
           |FROM Fact_Spending f
           |JOIN Dim_Merchant m ON f.Merchant_Key = m.Merchant_Key
           |JOIN Dim_Location l ON f.Location_Key = l.Location_Key
           |JOIN Dim_Date d ON f.Date_Key = d.Date_Key
           |WHERE m.Category = ${sqlLit(pick("SELECT DISTINCT Category FROM Dim_Merchant"))}
           |GROUP BY l.Transaction_Region, d.Year
           |ORDER BY l.Transaction_Region, d.Year""".stripMargin,
      "age_group" ->
        s"""SELECT c.Gender, a.Account_Type, COUNT(*) AS n_tx, $total
           |FROM Fact_Spending f
           |JOIN Dim_Customer c ON f.Customer_Key = c.Customer_Key
           |JOIN Dim_Account a ON f.Account_Key = a.Account_Key
           |WHERE c.Age_Group = ${sqlLit(pick("SELECT DISTINCT Age_Group FROM Dim_Customer"))}
           |GROUP BY c.Gender, a.Account_Type
           |ORDER BY c.Gender, a.Account_Type""".stripMargin,
      "region" ->
        s"""SELECT m.Category, COUNT(*) AS n_tx, $total
           |FROM Fact_Spending f
           |JOIN Dim_Location l ON f.Location_Key = l.Location_Key
           |JOIN Dim_Merchant m ON f.Merchant_Key = m.Merchant_Key
           |WHERE l.Transaction_Region =
           |  ${sqlLit(pick("SELECT DISTINCT Transaction_Region FROM Dim_Location"))}
           |GROUP BY m.Category
           |ORDER BY Total_Spent DESC, m.Category LIMIT 5""".stripMargin)
    val dash = Seq(
      ("dash_trend", BankEtl.DashboardSql.trend, BankOracle.queries("q29_dash_trend")),
      ("dash_top_categories", BankEtl.DashboardSql.topCategories,
        BankOracle.queries("q30_dash_top_categories")),
      ("dash_age_groups", BankEtl.DashboardSql.ageGroups,
        BankOracle.queries("q31_dash_age_groups")))
    (dash ++ slices.map { case (k, sql) => (k, sql, s"${BankOracle.prelude}\n$sql") })
      .toIndexedSeq
  }
}

object EtlDashboards {
  /** Warehouse table → the oracle entry holding its rows. */
  val starOracle: Map[String, String] = Map(
    "Dim_Date" -> "q27_dim_date", "Dim_Customer" -> "q23_dim_customer",
    "Dim_Account" -> "q24_dim_account", "Dim_Merchant" -> "q25_dim_merchant",
    "Dim_Location" -> "q26_dim_location", "Fact_Spending" -> "q28_fact_spending")
}

/** The operator families and the table tier, with the star schema idle:
  * one pass over six operator-family queries from the registry; a
  * streaming ingest that drains landed chunk files one file per
  * micro-batch, each batch committed with the manifest table's idempotent
  * partitioned append; then seeded snapshot reads of the committed
  * versions.
  */
final class IngestOperators(ctx: Ctx) extends Workload {
  import ctx._
  private val partCol = "event_type"

  def run(): Unit = {
    val results = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    ctx.phase("batch") {
      IngestOperators.mix.foreach { q =>
        ctx.op("query", q) {
          val df = SparkEntry.queries(q)(spark, o.data)
          val rows = spans(s"mix.$q")(df.collect())
          results(q) = Map("dir" -> s"${o.work}/results/$q",
            "oracle_sql" -> SparkEntry.oracleSql(q), "rows" -> rows, "schema" -> df.schema)
          Main.digest(rows)
        }
      }
    }
    val src = s"${o.data}/events_chunks"
    val (schema, types) = untimed {
      val df = spark.read.parquet(src)
      (df.schema, df.select(partCol).distinct().collect().map(_.getString(0)).sorted.toIndexedSeq)
    }
    val tbl = s"${o.work}/stream/table"
    val (q, warmId) = untimed {
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          spans("table.commit", 0)(ManifestTable.appendPartitionedIdempotent(
            df.select(col("event_id"), col(partCol), col("value")), tbl, batchId + 1, partCol))
          ()
        }
        .option("checkpointLocation", s"${o.work}/stream/ck")
        .start()
      // warm-up: the first micro-batch starts the stream and commits the
      // table's first version; it is set-up, not a sample
      def first = q.recentProgress.find(_.numInputRows > 0)
      while (q.isActive && first.isEmpty) Thread.sleep(5)
      (q, first.fold(-1L)(_.batchId))
    }
    ctx.window {
      while (more && q.isActive) Thread.sleep(5)
      q.stop()
      val failure = q.exception.map(_.toString)
      def startOf(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli
      def endOf(p: StreamingQueryProgress) =
        startOf(p) + p.durationMs.get("triggerExecution").longValue
      val done = q.recentProgress.filter(p => p.numInputRows > 0 && p.batchId > warmId)
      done.foreach { p =>
        ctx.recordOp("batch", "stream", (endOf(p) - startOf(p)).toDouble,
          failure.isEmpty, failure.getOrElse(""), startOf(p) >= tracedFromMs)
      }
      // throughput counts the time from the first sampled batch's trigger to
      // the end of the last completed one, not the batch the window's end
      // cut short
      if (done.nonEmpty) ctx.activeS = Some((endOf(done.last) - startOf(done.head)) / 1e3)
      else ctx.recordOp("batch", "stream", 0, ok = false, failure.getOrElse("no batch ran"), false)
    }
    // seeded snapshot reads of the committed versions, with tracing on in a
    // traced run: what a reader of the table pays
    val v = ManifestTable.currentVersion(spark, tbl).getOrElse(0L)
    val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
    ctx.phase("read") {
      // one read per subset size, in seeded order: every run reads the same
      // mix of sizes
      val sizes = ctx.rounds(1 to types.size)
      if (v > 0) for (_ <- types.indices) {
        val at = 1 + rng.nextInt(v.toInt).toLong
        val subset = rng.shuffle(types).take(sizes.next()).sorted
        ctx.op("read", s"v$at:${subset.mkString("+")}") {
          val rows = spans("table.read")(partitionTotals(
            ManifestTable.readPartitionedVersion(spark, tbl, partCol, at)
              .filter(col(partCol).isin(subset: _*))))
          reads += Map("version" -> at, "subset" -> subset, "rows" -> rowsJson(rows))
          Main.digest(rows)
        }
      }
    }
    checks("mix") = results.map { case (q, m) =>
      spark.createDataFrame(m("rows").asInstanceOf[Array[Row]].toList.asJava,
        m("schema").asInstanceOf[StructType]).coalesce(1).write.parquet(m("dir").toString)
      q -> (m - "rows" - "schema")
    }
    val (bytes, files) = parquetSize(new File(s"$tbl/data"))
    val committed = Option(new File(src).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).take(v.toInt)
    checks("stream") = Map("version" -> v, "reads" -> reads, "final" ->
      (if (v > 0) rowsJson(partitionTotals(ManifestTable.readPartitioned(spark, tbl, partCol)))
       else Nil))
    extra("table.versions") = ManifestTable.partitionManifestVersions(spark, tbl).size
    extra("table.files") = files
    // bytes the table wrote over the bytes of the chunks it committed
    extra("table.write_amp") = bytes.toDouble / math.max(committed.map(_.length).sum, 1L)
  }

  private def partitionTotals(df: DataFrame): Array[Row] =
    df.groupBy(partCol)
      .agg(count(lit(1)).as("n"), sum(OracleSafe.quant(col("value"), 100)).as("cents"))
      .orderBy(partCol).collect()
}

object IngestOperators {
  /** One query per operator family: Dedup, Similarity, TextAnalysis, Graph,
    * Planning and Sampling.
    */
  val mix: Seq[String] = Seq("q59_dedup_clusters", "q322_filtered_ann", "q252_bpe_encode",
    "q271_recursive_closure", "q238_sketch_order_exec", "q79_train_test_split")
}
