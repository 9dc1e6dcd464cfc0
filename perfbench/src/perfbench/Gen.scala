package perfbench

import java.security.MessageDigest
import java.sql.Timestamp
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Every value is a pure function of the seed
  * and the value's coordinates (symbol, day, batch, graph), so the same
  * seed gives byte-identical inputs in any order and on any executor,
  * and every expectation the checks use is known by construction.
  *
  * Prices are integer-valued doubles: sums and averages over them are
  * exact, so query digests do not depend on aggregation order. */
object Gen {

  val Sources: Seq[String] = Seq("alpha_vantage", "yahoo_finance")
  /** Day 0 of every generated history. */
  val Epoch: LocalDate = LocalDate.of(2022, 1, 3)

  /** splitmix64 finaliser: a well-mixed 64-bit hash of one value. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Hash of a coordinate tuple under `seed`. */
  def h(seed: Long, parts: Long*): Long = {
    val a = parts.toArray
    var acc = mix(seed)
    var i = 0
    while (i < a.length) { acc = mix(acc ^ a(i)); i += 1 }
    acc
  }

  /** Uniform draw in [0, n) from a coordinate hash. */
  def uniform(n: Int, seed: Long, parts: Long*): Int =
    java.lang.Long.remainderUnsigned(h(seed, parts: _*), n.toLong).toInt

  def rng(seed: Long, parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(h(seed, parts: _*))

  def symbol(i: Int): String = {
    val n = i.toString
    "S" + "0" * (4 - n.length) + n
  }
  def dayString(day: Int): String = Epoch.plusDays(day.toLong).toString
  def month(day: Int): String = dayString(day).take(7)

  // ---------------------------------------------------------------- bars

  /** One raw bar in the `graft.etl.Schemas.extracted` column order. */
  case class RawBar(date: String, symbol: String, open: java.lang.Double,
                    high: java.lang.Double, low: java.lang.Double, close: Double,
                    volume: java.lang.Long, source: String, extractedAt: Timestamp)

  /** Source-0 close of (symbol, day): a per-symbol seasonal level plus
    * bounded noise, never below 100. */
  def baseClose(seed: Long, sym: Int, day: Int): Double = {
    val base = 200 + uniform(1800, seed, 1, sym)
    val period = 30 + uniform(200, seed, 2, sym)
    val amp = base / 5
    val wave = math.round(amp * StrictMath.sin(2 * math.Pi * day / period))
    val noise = uniform(7, seed, 3, sym, day) - 3
    math.max(100L, base + wave + noise).toDouble
  }

  /** A key whose two sources disagree by at least 5%: the
    * cross-source inconsistency queries must report exactly these. */
  def planted(seed: Long, sym: Int, day: Int): Boolean =
    uniform(50, seed, 4, sym, day) == 0

  /** Close of (symbol, day, source) at `revision` (0 = first load; a
    * restatement in batch b uses revision b). The sources differ by at
    * most 1 (under 1%) except on planted keys. */
  def close(seed: Long, sym: Int, day: Int, source: Int, revision: Int): Double = {
    val c0 = baseClose(seed, sym, day) +
      (if (revision == 0) 0 else 1 + uniform(5, seed, 5, sym, day, revision))
    if (source == 0) c0
    else if (planted(seed, sym, day)) c0 + math.max(6L, math.ceil(c0 * 0.06).toLong)
    else c0 + (uniform(3, seed, 6, sym, day) - 1)
  }

  /** The full raw bar; about 1% of rows lose open/high/low and 1% lose
    * volume (nullable columns only: a null close fails validation). */
  def rawBar(seed: Long, sym: Int, day: Int, source: Int, revision: Int,
             extractedAt: Timestamp, date: String, symbolName: String): RawBar = {
    val c = close(seed, sym, day, source, revision)
    val o = c + uniform(5, seed, 7, sym, day, source) - 2
    val hi = math.max(o, c) + uniform(4, seed, 8, sym, day, source)
    val lo = math.max(1.0, math.min(o, c) - uniform(4, seed, 9, sym, day, source))
    val vol = 100000L + uniform(4900000, seed, 10, sym, day, source)
    val nullPrices = uniform(100, seed, 11, sym, day, source, revision) == 0
    val nullVolume = uniform(100, seed, 12, sym, day, source, revision) == 0
    def d(x: Double): java.lang.Double = if (nullPrices) null else java.lang.Double.valueOf(x)
    RawBar(date, symbolName, d(o), d(hi), d(lo), c,
      if (nullVolume) null else java.lang.Long.valueOf(vol),
      Sources(source), extractedAt)
  }

  /** Extraction time of the history load for `day`: the next morning. */
  def historyExtractedAt(day: Int): Timestamp =
    Timestamp.valueOf(Epoch.plusDays(day + 1L).atTime(6, 0))

  /** Raw history of one symbol over days [0, days), both sources. */
  def history(seed: Long, sym: Int, days: Int): Iterator[RawBar] = {
    val name = symbol(sym)
    Iterator.range(0, days).flatMap { day =>
      val date = dayString(day)
      val at = historyExtractedAt(day)
      Sources.indices.iterator.map(src => rawBar(seed, sym, day, src, 0, at, date, name))
    }
  }

  /** One daily batch: the new day plus restated days, from both
    * sources, with in-source duplicate keys. `rows(s)` is source s's
    * raw frame; `expectedClose` is the daily-metrics close per
    * (date, symbol) of the touched dates after the batch lands, and
    * `planted` the number of its keys whose sources disagree. */
  case class Batch(index: Int, newDay: Int, days: Seq[Int], rows: Seq[Seq[RawBar]],
                   expectedClose: Map[(String, String), Double], planted: Long) {
    def rawRows: Int = rows.map(_.size).sum
    def stagedRows: Int = expectedClose.size * Sources.size
    def months: Seq[String] = days.map(month).distinct.sorted
  }

  /** Batch `b` (1-based) on a history of `historyDays` days: the new
    * day is `historyDays - 1 + b`; two earlier days are reloaded at
    * revision b: one of the last 7 days inside the new day's month (a
    * late correction; the day before when the new day opens a month)
    * and one day of the month before (a restatement). Which months a
    * batch touches depends on `b` only, so batch b rewrites the same
    * partitions whatever the seed. About 2% of keys carry a
    * later-extracted duplicate with a different close; the merge must
    * keep the earlier extraction. */
  def batch(seed: Long, b: Int, symbols: Int, historyDays: Int): Batch = {
    val newDay = historyDays - 1 + b
    val r = rng(seed, 20, b)
    val dayOfMonth = Epoch.plusDays(newDay.toLong).getDayOfMonth
    val late = newDay - 1 - (if (dayOfMonth > 1) r.nextInt(math.min(7, dayOfMonth - 1)) else 0)
    val prevMonthEnd = newDay - dayOfMonth
    val prevMonthDays = Epoch.plusDays(prevMonthEnd.toLong).getDayOfMonth
    val restated = prevMonthEnd - r.nextInt(prevMonthDays - (if (late == prevMonthEnd) 1 else 0)) -
      (if (late == prevMonthEnd) 1 else 0)
    val days = Seq(restated, late, newDay).sorted
    val extractedAt = Timestamp.valueOf(Epoch.plusDays(newDay + 1L).atTime(6, 0))
    val later = new Timestamp(extractedAt.getTime + 60000L)
    val rows = Sources.indices.map { src =>
      val out = ArrayBuffer.empty[RawBar]
      for (day <- days; sym <- 0 until symbols) {
        val rev = if (day == newDay) 0 else b
        val bar = rawBar(seed, sym, day, src, rev, extractedAt, dayString(day), symbol(sym))
        // duplicates come first in row order: the survivor must be
        // chosen by extraction time, not by position
        if (uniform(50, seed, 21, b, sym, day, src) == 0)
          out += bar.copy(close = bar.close + 7, extractedAt = later)
        out += bar
      }
      out.toSeq
    }
    val expected = (for (day <- days; sym <- 0 until symbols) yield {
      val rev = if (day == newDay) 0 else b
      (dayString(day), symbol(sym)) ->
        Sources.indices.map(src => close(seed, sym, day, src, rev)).min
    }).toMap
    val nPlanted = (for (day <- days; sym <- 0 until symbols if planted(seed, sym, day)) yield 1L).sum
    Batch(b, newDay, days, rows, expected, nPlanted)
  }

  // ------------------------------------------------------------- queries

  /** Lookback in days; 0 is the full history. */
  case class QuerySpec(id: Int, kind: String, lookback: Int, symbols: Seq[Int]) {
    def firstDay(historyDays: Int): Int =
      if (lookback == 0) 0 else math.max(0, historyDays - 1 - lookback)
    def days(historyDays: Int): Int = historyDays - firstDay(historyDays)
    /** Table rows inside the query's predicate. */
    def rowsRead(historyDays: Int): Long = symbols.size.toLong * days(historyDays) * Sources.size
  }

  /** The analyst's session: each of the reference's query kinds once,
    * at lookbacks 7/14/30/90 days or the full history (windowed kinds
    * get the long ones), each over its own seeded subset of 100
    * symbols. Every session of a run repeats these queries, as a
    * refreshed dashboard does, so each session is the same mix. */
  def session(seed: Long, symbols: Int): Seq[QuerySpec] =
    Seq("daily_metrics_view" -> 7, "ingestion_stats" -> 14, "inconsistencies" -> 30,
      "quality_metrics" -> 30, "indicators" -> 90, "moving_averages" -> 0).zipWithIndex.map {
      case ((kind, lookback), id) =>
        val subset = shuffled(seed, 30, id)(0 until symbols).take(math.min(100, symbols)).sorted
        QuerySpec(id, kind, lookback, subset)
    }

  def shuffled[T](seed: Long, parts: Long*)(xs: Seq[T]): Seq[T] =
    new scala.util.Random(h(seed, parts: _*)).shuffle(xs)

  /** Expected (row count, check sum) of a query by construction; the
    * check sum is the sum of the result's close column where the query
    * has one, else the number of input rows it aggregates. */
  def expectedQuery(seed: Long, q: QuerySpec, historyDays: Int): (Long, Double) = {
    val first = q.firstDay(historyDays)
    val dayRange = first until historyDays
    def minCloseSum: Double = (for (s <- q.symbols; d <- dayRange)
      yield math.min(close(seed, s, d, 0, 0), close(seed, s, d, 1, 0))).sum
    val perSymbolDays = q.symbols.size.toLong * dayRange.size
    q.kind match {
      case "daily_metrics_view" | "moving_averages" | "indicators" =>
        (perSymbolDays, minCloseSum)
      case "inconsistencies" =>
        val n = (for (s <- q.symbols; d <- dayRange if planted(seed, s, d)) yield 1L).sum
        (n, 0.0)
      case "quality_metrics" => (1L, q.rowsRead(historyDays).toDouble)
      case "ingestion_stats" => (dayRange.size.toLong, q.rowsRead(historyDays).toDouble)
    }
  }

  // -------------------------------------------------------------- graphs

  /** A directed graph with planted structure. Node ids are a seeded
    * permutation of [0, nodes). Components (sizes Pareto-distributed,
    * so a few are large and most are small) are split into blocks;
    * each block is a shallow random tree with edges both ways (one SCC), and
    * consecutive blocks of a component are joined by forward-only
    * edges, so the blocks are exactly the SCCs and the components are
    * exactly the weakly connected components. */
  case class Graph(nodes: Int, src: Array[Long], dst: Array[Long],
                   componentMin: Array[Long], sccMin: Array[Long], sccSize: Array[Int]) {
    def edges: Int = src.length
  }

  def graph(seed: Long, g: Int, nodes: Int, maxComponent: Int): Graph = {
    val r = rng(seed, 40, g)
    val perm = Array.tabulate(nodes)(_.toLong)
    var i = nodes - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val src = new scala.collection.mutable.ArrayBuilder.ofLong
    val dst = new scala.collection.mutable.ArrayBuilder.ofLong
    val componentMin = new Array[Long](nodes)
    val sccMin = new Array[Long](nodes)
    val sccSize = new Array[Int](nodes)
    def edge(a: Long, b: Long): Unit = { src += a; dst += b }
    var pos = 0
    while (pos < nodes) {
      // Pareto(alpha = 1.3) component sizes, at least 2 nodes
      val pareto = (2.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.3)).toInt
      var size = math.min(math.min(pareto, maxComponent), nodes - pos)
      if (nodes - pos - size == 1) size += 1 // never leave a lone node
      val comp = perm.slice(pos, pos + size)
      val cMin = comp.min
      comp.foreach(v => componentMin(v.toInt) = cMin)
      val nBlocks = 1 + r.nextInt(math.min(2, size))
      // cut points split the component into nBlocks non-empty blocks
      val cuts = 0 +: shuffled(seed, 42, g, pos)(1 until size).take(nBlocks - 1).sorted :+ size
      var prev: Array[Long] = null
      for (k <- 0 until nBlocks) {
        val block = comp.slice(cuts(k), cuts(k + 1))
        val bMin = block.min
        block.foreach { v => sccMin(v.toInt) = bMin; sccSize(v.toInt) = block.length }
        for (t <- 1 until block.length) {
          // parents among the block's first 4 nodes keep it shallow,
          // like the near-duplicate clusters the operators group
          val parent = block(r.nextInt(math.min(t, 4)))
          edge(parent, block(t)); edge(block(t), parent)
        }
        if (prev != null) {
          edge(prev(r.nextInt(prev.length)), block(r.nextInt(block.length)))
          if (r.nextInt(3) == 0) edge(prev(r.nextInt(prev.length)), block(r.nextInt(block.length)))
        }
        prev = block
      }
      pos += size
    }
    Graph(nodes, src.result(), dst.result(), componentMin, sccMin, sccSize)
  }

  // -------------------------------------------------------------- digest

  /** SHA-256 over a stream of values, for the determinism check. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: Any): Unit = md.update((String.valueOf(s) + "\n").getBytes("UTF-8"))
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
