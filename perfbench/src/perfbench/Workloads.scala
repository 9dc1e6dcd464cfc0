package perfbench

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Indicators, StockAnalytics}
import graft.dedup.Dedup
import graft.etl.{Merge, Schemas, Transform, Upsert}
import graft.graph.LinkGraph
import graft.quality.Validators
import graft.store.Store

/** What one timed operation reports: generator-counted input rows and
  * counts the per-layer ratios divide by. */
case class OpResult(rows: Long, staged: Long = 0, stagedBytes: Long = 0,
                    returned: Long = 0, check: () => Option[String] = () => None)

/** One workload: set-up (repeatable), untimed warm-up operations, then
  * operations the closed loop runs one after another. `prepare` builds
  * operation i's inputs untimed and returns the timed operation, whose
  * result's `check` runs after the operation's clock stops. */
trait Workload {
  def name: String
  /** Builds the inputs; returns (generate seconds, seed-table seconds). */
  def setup(): (Double, Double)
  def setupReps: Int = 1
  def warmupOps: Int
  def prepare(i: Int): Tracer => OpResult
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload =
    name match {
      case "daily_etl" => new DailyEtl(spark, seed, work)
      case "analyst_queries" => new AnalystQueries(spark, seed, work)
      case "graph_small" | "graph_large" => new Graphs(spark, seed, work, name)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rawRow(b: Gen.RawBar): Row =
    Row(b.date, b.symbol, b.open, b.high, b.low, b.close, b.volume, b.source, b.extractedAt)

  /** Writes a generated history as a month-partitioned bar table
    * through the engine's own load path (transform, partitioned
    * write). Generation is materialized first so it is timed apart. */
  def writeHistory(spark: SparkSession, seed: Long, symbols: Int, days: Int,
                   path: String): (Double, Double) = {
    val sc = spark.sparkContext
    val (raw, genS) = timed {
      val rdd = sc.parallelize(0 until symbols, sc.defaultParallelism * 4)
        .flatMap(s => Gen.history(seed, s, days).map(rawRow))
      spark.createDataFrame(rdd, Schemas.extracted).localCheckpoint()
    }
    val (_, tableS) = timed {
      val bars = Transform.transform(raw, processedAt = to_timestamp(date_add(col("date"), 1)))
        .withColumn("month", date_format(col("date"), "yyyy-MM"))
      Store.writePartitioned(bars, path, "month", Seq("symbol", "date"))
    }
    (genS, tableS)
  }
}

/** Daily upsert batches into a month-partitioned table, the
  * reference's own traffic: validate raw, transform and merge,
  * validate, MERGE-upsert, register table and view, read the view. */
final class DailyEtl(spark: SparkSession, seed: Long, work: String) extends Workload {
  import DailyEtl._
  val name = "daily_etl"
  val warmupOps = 5
  override val setupReps = 3
  private val path = s"$work/bars"
  private val symbolNames = (0 until Symbols).map(Gen.symbol)

  def setup(): (Double, Double) = Workload.writeHistory(spark, seed, Symbols, HistoryDays, path)

  def prepare(i: Int): Tracer => OpResult = {
    val b = Gen.batch(seed, i, Symbols, HistoryDays)
    t => run(b, t)
  }

  private def run(b: Gen.Batch, t: Tracer): OpResult = {
    val today = lit(Date.valueOf(Gen.dayString(b.newDay)))
    val raws = b.rows.map(rs => spark.createDataFrame(
      java.util.Arrays.asList(rs.map(Workload.rawRow): _*), Schemas.extracted))
    val gates = raws.map(r => t.span("quality.validateRaw")(Validators.validateRaw(r, today = today)))
    val merged = t.span("etl.transformMerge") {
      val processedAt = lit(java.sql.Timestamp.valueOf(Gen.Epoch.plusDays(b.newDay + 1L).atTime(7, 0)))
      Merge.mergeSources(raws.zipWithIndex.map { case (r, s) =>
          Transform.transform(r, processedAt).withColumn("__src_order", lit(s))
        }, Schemas.mergeKey, Seq(col("__src_order"), col("extracted_at")), sorted = false)
        .drop("__src_order")
    }
    val checks = gates ++ Seq(
      t.span("quality.validateTransformed")(Validators.validateTransformed(merged, today = today)),
      t.span("quality.validateCoverage")(Validators.validateCoverage(merged, symbolNames)),
      t.span("quality.validateFreshness")(Validators.validateFreshness(merged, today = today)))
    val failedGates = checks.filterNot(_.passed).flatMap(_.errors)
    if (failedGates.nonEmpty) throw new IllegalStateException(s"validation failed: ${failedGates.mkString("; ")}")
    t.span("etl.upsert")(Upsert.upsertPartitioned(spark, path,
      merged.withColumn("month", date_format(col("date"), "yyyy-MM")), Schemas.mergeKey, "month"))
    t.span("store.createTable")(Store.createTable(spark, "bars", path))
    t.span("store.createView")(Store.createDailyMetricsView(spark, "bars"))
    val touched = b.days.map(d => Date.valueOf(Gen.dayString(d)))
    val view = t.span("store.viewRead")(spark.table("stock_daily_metrics")
      .where(col("date").isin(touched: _*))
      .select(date_format(col("date"), "yyyy-MM-dd"), col("symbol"), col("close_price"),
        col("source_count")).collect())
    // post-load analytics: the table's quality metrics and the touched
    // dates' cross-source inconsistencies
    val (quality, inconsistent) = t.span("analytics.build") {
      val bars = Store.readTable(spark, path)
      (StockAnalytics.qualityMetrics(bars).select("total_rows", "unique_dates", "unique_symbols"),
        StockAnalytics.inconsistencies(bars.where(col("date").isin(touched: _*))))
    }
    val (q, nInconsistent) = t.span("analytics.exec")((quality.collect()(0), inconsistent.count()))
    val stagedBytes = b.rows.flatten.map(r => r.productIterator.map(String.valueOf).map(_.length + 1).sum).sum
    OpResult(rows = b.rawRows, staged = b.stagedRows, stagedBytes = stagedBytes,
      returned = view.length, check = () => checkBatch(b, view, q, nInconsistent))
  }

  /** The view over the touched dates equals the batch's expectation,
    * the table holds exactly one row per key, and the analytics see
    * the table and the planted inconsistencies the generator made. */
  private def checkBatch(b: Gen.Batch, view: Array[Row], quality: Row,
                         nInconsistent: Long): Option[String] = {
    val got = view.map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val bad = b.expectedClose.keys.filterNot(k =>
      got.get(k).contains((b.expectedClose(k), Gen.Sources.size.toLong)))
    val table = spark.read.parquet(path)
    val monthDays = (0 to b.newDay).count(d => b.months.contains(Gen.month(d)))
    val inMonths = table.where(col("month").isin(b.months: _*))
    val expectRows = monthDays.toLong * Symbols * Gen.Sources.size
    val totalRows = table.count()
    val monthRows = inMonths.count()
    val monthKeys = inMonths.select(Schemas.mergeKey.map(col): _*).distinct().count()
    val expectTotal = (HistoryDays.toLong + b.index) * Symbols * Gen.Sources.size
    if (got.size != b.expectedClose.size || bad.nonEmpty)
      Some(s"view: ${got.size} rows, ${bad.size} wrong of ${b.expectedClose.size}")
    else if (totalRows != expectTotal) Some(s"table rows $totalRows != $expectTotal")
    else if (monthRows != expectRows || monthKeys != expectRows)
      Some(s"touched months: rows $monthRows keys $monthKeys != $expectRows")
    else if (quality != Row(expectTotal, HistoryDays.toLong + b.index, Symbols.toLong))
      Some(s"quality metrics $quality")
    else if (nInconsistent != b.planted) Some(s"inconsistencies $nInconsistent != ${b.planted}")
    else None
  }
}

object DailyEtl {
  val Symbols = 500
  val HistoryDays = 500
}

/** Read-only analyst sessions over a larger month-partitioned table.
  * One operation is one session (see [[Gen.session]]). */
final class AnalystQueries(spark: SparkSession, seed: Long, work: String) extends Workload {
  import AnalystQueries._
  val name = "analyst_queries"
  val warmupOps = 1
  private val path = s"$work/bars"
  private val queries = Gen.session(seed, Symbols)
  private val digests = scala.collection.mutable.Map.empty[Int, (Long, Long, Long)]

  def setup(): (Double, Double) = {
    val r = Workload.writeHistory(spark, seed, Symbols, HistoryDays, path)
    Store.createTable(spark, "bars", path)
    Store.createDailyMetricsView(spark, "bars")
    r
  }

  def prepare(i: Int): Tracer => OpResult = t => {
    val results = queries.map(q => run(q, t))
    OpResult(rows = results.map(_.rows).sum, returned = results.map(_.returned).sum,
      check = () => results.view.flatMap(_.check()).headOption)
  }

  private def run(q: Gen.QuerySpec, t: Tracer): OpResult = {
    val anchor = lit(Date.valueOf(Gen.dayString(HistoryDays - 1)))
    val syms = q.symbols.map(Gen.symbol)
    val days = q.days(HistoryDays)
    def window(df: DataFrame): DataFrame =
      if (q.lookback == 0) df.where(col("symbol").isin(syms: _*))
      else StockAnalytics.recentWindow(df, days - 1, anchor, syms)
    val (result, check) = t.span("analytics.build") {
      lazy val bars = window(Store.readTable(spark, path))
      q.kind match {
        case "daily_metrics_view" =>
          (window(spark.table("stock_daily_metrics")), "close_price")
        case "moving_averages" =>
          (StockAnalytics.movingAverages(bars, min(_)), "close_price")
        case "inconsistencies" => (StockAnalytics.inconsistencies(bars), "min_close")
        case "quality_metrics" => (StockAnalytics.qualityMetrics(bars), "total_rows")
        case "ingestion_stats" => (StockAnalytics.ingestionStats(bars), "rows_ingested")
        case "indicators" =>
          (Indicators.indicators(bars.groupBy(col("symbol"), col("date"))
            .agg(min(col("close")).as("close_price"), sum(col("volume")).as("volume"))),
            "close_price")
      }
    }
    // order-independent digest: row count, the check column's sum and
    // two folds of a per-row hash
    val h = xxhash64(result.columns.map(c => col(s"`$c`")): _*)
    val digest = result.agg(count(lit(1)), coalesce(sum(col(check).cast("double")), lit(0.0)),
      bit_xor(h), sum(h.bitwiseAND(lit(0xffffffffL))))
    val row = t.span(if (q.kind == "daily_metrics_view") "store.viewRead" else "analytics.exec")(
      digest.collect()(0))
    OpResult(rows = q.rowsRead(HistoryDays), returned = row.getLong(0),
      check = () => checkQuery(q, row))
  }

  /** Row count and check sum against the generator; the full digest
    * against the first run of the same query in this run. */
  private def checkQuery(q: Gen.QuerySpec, row: Row): Option[String] = {
    val (n, sum) = Gen.expectedQuery(seed, q, HistoryDays)
    val got = (row.getLong(0), row.getLong(2), if (row.isNullAt(3)) 0L else row.getLong(3))
    val kindSum = q.kind != "inconsistencies"
    if (row.getLong(0) != n) Some(s"query ${q.id} (${q.kind}/${q.lookback}): ${row.getLong(0)} rows != $n")
    else if (kindSum && row.getDouble(1) != sum)
      Some(s"query ${q.id} (${q.kind}/${q.lookback}): check sum ${row.getDouble(1)} != $sum")
    else if (digests.getOrElseUpdate(q.id, got) != got) Some(s"query ${q.id}: digest changed")
    else None
  }
}

object AnalystQueries {
  val Symbols = 500
  val HistoryDays = 600
}

/** A stream of planted-structure graphs through the fixpoint
  * operators. Each operation is one graph: connected components, and
  * (when `scc`) strongly connected components of the same graph. */
final class Graphs(spark: SparkSession, seed: Long, work: String, val name: String)
    extends Workload {
  import spark.implicits._
  private val sizes = GraphSizes(name)
  private val scc = sizes.scc
  val warmupOps = 1

  def setup(): (Double, Double) = (0.0, 0.0)

  private val path = s"$work/edges"

  /** Writes graph i's edge list as parquet; the operation reads it.
    * The warm-up graph is small: it only has to compile the plans. */
  def prepare(i: Int): Tracer => OpResult = {
    val g = if (i <= warmupOps) Gen.graph(seed, i, 2000, 100) else sizes.graph(seed, i)
    spark.sparkContext.parallelize(g.src.zip(g.dst).toSeq, spark.sparkContext.defaultParallelism)
      .toDF("src", "dst").write.mode("overwrite").parquet(path)
    t => run(g, t)
  }

  private def run(g: Gen.Graph, t: Tracer): OpResult = {
    val edges = spark.read.parquet(path)
    val labels = t.span("fixpoint.componentLabels")(Dedup.componentLabels(edges, "src", "dst"))
    val cc = t.span("fixpoint.result")(labels.select("node", "label").collect())
    val sccRows = if (!scc) Array.empty[Row] else {
      val s = t.span("fixpoint.stronglyConnected")(LinkGraph.stronglyConnected(edges, "src", "dst"))
      t.span("fixpoint.result")(s.select("node", "scc", "scc_size").collect())
    }
    OpResult(rows = g.edges.toLong * (if (scc) 2 else 1), returned = cc.length + sccRows.length,
      check = () => checkGraph(g, cc, sccRows))
  }

  private def checkGraph(g: Gen.Graph, cc: Array[Row], sccRows: Array[Row]): Option[String] = {
    val ccBad = cc.count(r => g.componentMin(r.getLong(0).toInt) != r.getLong(1))
    val sccBad = sccRows.count { r =>
      val v = r.getLong(0).toInt
      g.sccMin(v) != r.getLong(1) || g.sccSize(v) != r.getLong(2)
    }
    if (cc.length != g.nodes || ccBad > 0) Some(s"components: ${cc.length} nodes, $ccBad wrong")
    else if (scc && (sccRows.length != g.nodes || sccBad > 0))
      Some(s"scc: ${sccRows.length} nodes, $sccBad wrong")
    else None
  }
}

/** Graph sizes per graph workload; `scc` adds strongly connected
  * components to each operation. */
case class GraphSizes(nodes: Int, maxComponent: Int, scc: Boolean) {
  def graph(seed: Long, i: Int): Gen.Graph = Gen.graph(seed, i, nodes, maxComponent)
}

object GraphSizes {
  def apply(workload: String): GraphSizes = workload match {
    case "graph_small" => GraphSizes(50000, 2000, scc = true)
    case "graph_large" => GraphSizes(1000000, 20000, scc = false)
  }
}
