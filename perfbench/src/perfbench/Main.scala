package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM with one client thread: set-up,
  * untimed warm-up operations, then a closed loop in which each
  * operation starts only after the previous one finished, until the
  * operations have taken `--seconds`. Writes the raw record (set-up times, one entry per
  * operation, and with `--trace 1` the spans, jobs and plans) to
  * `<out>/result.json`; `perfbench/run.py` turns it into metrics.
  *
  * `--digest 1` skips Spark and prints a SHA-256 of the workload's
  * generated inputs for the seed (the determinism check). */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    if (opts.get("digest").contains("1")) {
      println(inputDigest(workload, seed))
      return
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val out = opts("out")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val conf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$out/spark-local",
      "spark.sql.warehouse.dir" -> s"$out/warehouse")
    val spark = conf.foldLeft(SparkSession.builder().appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w = Workload(workload, spark, seed, s"$out/work")
    val setups = (1 to w.setupReps).map { _ =>
      val r = w.setup()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      r
    }
    val tracer = new Tracer(spark.sparkContext, trace)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == java.lang.management.MemoryType.HEAP &&
        Seq("Old Gen", "Tenured").exists(p.getName.contains))
    var heapPeakMb = 0.0

    /** Runs, checks and records operation i; returns its duration. */
    def runOp(i: Int, warm: Boolean): Long = {
      val run = w.prepare(i)
      val t0 = System.nanoTime()
      val res = Try(tracer.operation(i, w.name)(run(tracer)))
      val t1 = System.nanoTime()
      val error = res.flatMap(r => Try(r.check())) match {
        case Success(None) => None
        case Success(Some(why)) => Some(s"check: $why")
        case Failure(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000))
      }
      error.foreach(e => System.err.println(s"perfbench: operation $i failed: $e"))
      // live heap after each operation, outside its clock: release the
      // blocks its checkpoints cached, collect, give Spark's cleaner
      // time to drop what the collection freed, and collect again
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      Thread.sleep(200)
      System.gc()
      oldGen.foreach(p => heapPeakMb = math.max(heapPeakMb, p.getUsage.getUsed / 1048576.0))
      val r = res.toOption
      ops += Map("id" -> i, "warmup" -> warm, "start_ns" -> t0, "end_ns" -> t1,
        "ok" -> error.isEmpty, "error" -> error.orNull,
        "rows" -> r.map(_.rows).getOrElse(0L), "staged" -> r.map(_.staged).getOrElse(0L),
        "staged_bytes" -> r.map(_.stagedBytes).getOrElse(0L),
        "returned" -> r.map(_.returned).getOrElse(0L))
      t1 - t0
    }

    val (_, warmupS) = Workload.timed((1 to w.warmupOps).foreach(i => runOp(i, warm = true)))
    tracer.start(spark)
    val clock = Map("nano" -> System.nanoTime(), "wall_ms" -> System.currentTimeMillis())
    // the loop measures `seconds` of operation time: checks, GC and
    // input preparation between operations do not count against it
    var measuredNs = 0L
    var i = w.warmupOps
    while (measuredNs < seconds * 1e9) { i += 1; measuredNs += runOp(i, warm = false) }
    tracer.stop(spark)
    val probeS = graft.Bench.hostProbeSec(spark, cores)

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "conf" -> conf.toMap, "host_probe_s" -> probeS,
      "host_probe_reference_s" -> graft.Bench.HostProbeReferenceSec,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> setups.map(_._1),
        "seed_table_s" -> setups.map(_._2), "warmup_s" -> warmupS),
      "heap_live_peak_mb" -> heapPeakMb,
      "clock" -> clock,
      "ops" -> ops.toSeq,
      "spans" -> tracer.spanList.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "jobs" -> tracer.jobList.map(j => Map("job" -> j.jobId, "span" -> j.span, "op" -> j.op,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
        "cpu_ns" -> j.cpuNs, "run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "fetch_wait_ms" -> j.fetchWaitMs, "spill_disk" -> j.spillDisk,
        "input_bytes" -> j.inputBytes, "input_records" -> j.inputRecords,
        "output_bytes" -> j.outputBytes, "output_records" -> j.outputRecords)),
      "plans" -> tracer.planList.map(p => Map("op" -> p.op, "analysis_ms" -> p.analysisMs,
        "optimizer_ms" -> p.optimizerMs, "planning_ms" -> p.planningMs,
        "files_written" -> p.filesWritten)))
    Files.write(Paths.get(out, "result.json"), Json(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** SHA-256 of the inputs `workload` generates for `seed`: the first
    * operations' inputs and, where the workload has one, its history. */
  def inputDigest(workload: String, seed: Long): String = {
    val d = new Gen.Digest
    workload match {
      case "daily_etl" =>
        import DailyEtl._
        (0 until Symbols).foreach(s => Gen.history(seed, s, HistoryDays).foreach(d.add))
        (1 to 4).foreach { b =>
          val batch = Gen.batch(seed, b, Symbols, HistoryDays)
          batch.rows.flatten.foreach(d.add)
          batch.expectedClose.toSeq.sorted.foreach(d.add)
        }
      case "analyst_queries" =>
        import AnalystQueries._
        (0 until Symbols).foreach(s => Gen.history(seed, s, HistoryDays).foreach(d.add))
        Gen.session(seed, Symbols).foreach(q => d.add((q, Gen.expectedQuery(seed, q, HistoryDays))))
      case "graph_small" | "graph_large" =>
        (1 to 3).foreach { i =>
          val g = GraphSizes(workload).graph(seed, i)
          Seq(g.src, g.dst, g.componentMin, g.sccMin).foreach(a => d.add(a.mkString(",")))
          d.add(g.sccSize.mkString(","))
        }
    }
    d.hex
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
