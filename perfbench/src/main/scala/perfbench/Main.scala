package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one client thread issues the next op
  * of a seeded stream only after the previous one returned.
  *
  * {{{
  * Main --workload read_mix --seed 1 --seconds 20 --trace 0 --work <dir> [--spans <file>]
  * }}}
  *
  * The last stdout line is one JSON object: correct/attempted/failed
  * and the metrics (end-to-end with --trace 0, per-layer with
  * --trace 1). Everything Spark logs goes to stderr. */
object Main {
  val BuildReps = 3
  /** the timed loop stops early only past this multiple of --seconds */
  val CapFactor = 5
  /** op-kind p50 slots; every workload prints all of them */
  val Slots = 6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val s0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.vtx", "graft.sources.vortex.VortexCatalog")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9

    val w: Workload = workload match {
      case "read_mix" => new ReadMix(spark, s"$work/data")
      case "ingest_dml" => new IngestDml(spark, s"$work/data")
      case other => sys.error(s"unknown workload $other")
    }
    val g0 = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - g0) / 1e9
    val builds = (1 to BuildReps).map { _ =>
      w.datasets.foreach(Files.delete(spark, _))
      val t = System.nanoTime()
      w.build()
      (System.nanoTime() - t) / 1e9
    }

    val tracer = if (trace) Some(new Tracer(spark, w.datasets)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    // traced runs trace every other op of each kind, from a seeded first
    // choice per kind, so that a kind with only a few ops still has some
    // on each side; the untraced ops, run the same way but unobserved,
    // are the base of trace.overhead_ratio
    val coin = new java.util.SplittableRandom(seed ^ 0x7ace7aceL)
    val firstTraced = mutable.Map[String, Boolean]()
    val seen = mutable.Map[String, Int]()
    def alternate(kind: String): Boolean = {
      val k = seen.getOrElse(kind, 0)
      seen(kind) = k + 1
      (k % 2 == 0) == firstTraced.getOrElseUpdate(kind, coin.nextBoolean())
    }

    val lat = mutable.ArrayBuffer[(String, Double, Boolean)]()
    val failures = mutable.ArrayBuffer[(Int, String)]()
    var i = 0
    /** Runs, times and checks the next op; returns its latency in ns. */
    def step(traceIf: String => Boolean): Long = {
      val op = w.op(i)
      val traceThis = traceIf(op.kind)
      var ns = 0L
      var result: Any = null
      var error: Option[String] = None
      val started = System.nanoTime()
      try {
        result = tracer.filter(_ => traceThis) match {
          case Some(t) =>
            val (r, n) = t.traced(i, op)(op.run())
            ns = n
            r
          case None => op.run()
        }
      } catch {
        case NonFatal(e) => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      if (ns == 0L) ns = System.nanoTime() - started
      if (error.isEmpty) error = try w.check(i, op, result) catch {
        case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      error.foreach(msg => failures += ((i, s"${op.kind}: $msg")))
      if (traceThis && error.isEmpty) w.traceOp(op, result, tracer.get)
      System.err.println(f"[perfbench] op $i ${op.kind} ${ns / 1e6}%.1f ms")
      i += 1
      lat += ((op.kind, ns / 1e6, traceThis))
      ns
    }

    // warm-up: the first decks of the stream, run and checked like any
    // op but not sampled. The JIT needs several calls of each kind
    // before latencies settle; users of a long-lived session pay this
    // once, so it is part of set-up, not of every op.
    val wu0 = System.nanoTime()
    while (i < w.warmupOps) step(_ => false)
    val warmS = (System.nanoTime() - wu0) / 1e9
    lat.clear()
    val setupS = sessionS + Stats.median(builds) + warmS

    // the timed part is the rest of the stream, a fixed amount of work
    // sized by gen.py to take about `seconds`; the cap only keeps a far
    // slower engine inside the run's time limit, and is reported
    var busyNs = 0L
    val capNs = (CapFactor * seconds * 1e9).toLong
    while (i < w.opCount && busyNs < capNs) busyNs += step(kind => tracer.isDefined && alternate(kind))
    val timedOps = i - w.warmupOps
    val cut = w.opCount - i
    val v0 = System.nanoTime()
    failures ++= w.verify()
    val verifyS = (System.nanoTime() - v0) / 1e9
    val attempted = i
    val failedOps = failures.map(_._1).distinct.size
    failures.take(20).foreach { case (k, msg) => System.err.println(s"[perfbench] op $k failed: $msg") }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd(w, lat.toSeq, setupS, attempted, failedOps)
      else {
        val t = tracer.get
        opt.get("spans").foreach(t.writeSpans)
        val m = t.metrics(w.layerCounters(), w.parquetBytesPerRow) +
          ("trace.overhead_ratio" -> overheadRatio(lat.toSeq))
        Layers.all.map { case (name, unit) => (name, m.getOrElse(name, 0.0), unit) }
      }

    // human-readable table first, the machine-readable line last
    System.out.println(f"# $workload seed=$seed cores=$cores shuffle.partitions=${2 * cores} " +
      f"session_s=$sessionS%.2f generate_s=$genS%.2f builds_s=${builds.map(b => f"$b%.2f").mkString(",")} " +
      f"warmup_s=$warmS%.2f busy_s=${busyNs / 1e9}%.2f verify_s=$verifyS%.2f")
    System.out.println(f"# timed_ops=$timedOps stream_ops=${w.opCount} warmup_ops=${w.warmupOps}" +
      (if (cut > 0) f" CUT: $cut ops left after ${CapFactor}x the nominal seconds" else ""))
    System.out.println(f"# attempted=$attempted failed=$failedOps " +
      f"failed_op_ratio=${failedOps.toDouble / math.max(1, attempted)}%.4f")
    lat.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val ms = xs.map(_._2).toSeq
      System.out.println(f"# op $k%-10s n=${ms.size}%4d p50=${Stats.median(ms)}%9.2f ms " +
        f"p90=${Stats.pct(ms, 0.9)}%9.2f ms")
    }
    metrics.foreach { case (n, v, u) => System.out.println(f"# $n%-36s ${Json.num(v)}%18s $u") }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    System.out.println(s"""{"correct": ${failedOps == 0}, "attempted": $attempted, """ +
      s""""failed": $failedOps, "metrics": {$body}}""")
    System.out.flush()
    spark.stop()
  }

  private def endToEnd(w: Workload, lat: Seq[(String, Double, Boolean)], setupS: Double,
                       attempted: Int, failedOps: Int): Seq[(String, Double, String)] = {
    val all = lat.map(_._2)
    val busyS = all.sum / 1000.0
    def p50(kind: String): Double = {
      val xs = lat.filter(_._1 == kind).map(_._2)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val rows = w.liveRows()
    val bytes = w.datasets.map(Files.bytes(w.spark, _)).sum
    Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", lat.size / busyS, "ops/s"),
      ("latency_p50_ms", Stats.median(all), "ms"),
      ("latency_p90_ms", Stats.pct(all, 0.9), "ms"),
      ("ok_op_ratio", (attempted - failedOps).toDouble / math.max(1, attempted), "ok/attempted"),
      ("storage_bytes_per_row", if (rows > 0) bytes.toDouble / rows else 0.0, "B/row")) ++
      (1 to Slots).map(j => (s"op${j}_p50_ms", w.slots.lift(j - 1).map(p50).getOrElse(0.0), "ms"))
  }

  /** traced ÷ untraced throughput, per op kind (so the random split of
    * kinds between the halves does not bias it), weighted by the
    * kind's share of all ops. */
  private def overheadRatio(lat: Seq[(String, Double, Boolean)]): Double = {
    val byKind = lat.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val t = xs.filter(_._3).map(_._2)
      val u = xs.filterNot(_._3).map(_._2)
      if (t.nonEmpty && u.nonEmpty) Some((xs.size, Stats.median(t), Stats.median(u))) else None
    }
    val traced = byKind.map { case (n, t, _) => n * t }.sum
    val untraced = byKind.map { case (n, _, u) => n * u }.sum
    if (traced > 0) untraced / traced else 0.0
  }
}

/** The per-layer metrics, by the layer names of the engine's modules. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "plan.analyze_ms" -> "ms/op", "plan.optimize_ms" -> "ms/op", "plan.physical_ms" -> "ms/op",
    "plan.scan_partitions" -> "count/op",
    "scan.footer_fetches" -> "count/op", "scan.page_decodes" -> "count/op",
    "scan.records_read" -> "count/op", "scan.bytes_read" -> "B/op",
    "scan.result_rows_per_record_read" -> "ratio", "scan.leaf_task_ms" -> "ms/op",
    "fs.read_ops" -> "count/op", "fs.meta_ops" -> "count/op", "fs.bytes_read" -> "B/op",
    "exec.jobs" -> "count/op", "exec.stages" -> "count/op", "exec.tasks" -> "count/op",
    "exec.task_ms" -> "ms/op", "exec.cpu_ms" -> "ms/op", "exec.gc_ms" -> "ms/op",
    "exec.sched_delay_ms" -> "ms/op", "exec.peak_mem_mb" -> "MB",
    "shuffle.write_bytes" -> "B/op", "shuffle.read_bytes" -> "B/op",
    "shuffle.fetch_wait_ms" -> "ms/op", "spill.bytes" -> "B/op",
    "write.bytes_written" -> "B/op", "write.files_created" -> "count/op",
    "write.fs_ops" -> "count/op", "write.write_amp" -> "ratio",
    "write.live_files" -> "count", "write.dv_sidecars" -> "count",
    "dml.candidate_files" -> "count/op", "dml.untouched_files" -> "count/op",
    "dml.rewritten_files" -> "count/op", "dml.masked_files" -> "count/op",
    "dml.rows_changed_per_row_rewritten" -> "ratio",
    "curate.candidate_pairs" -> "count/op", "curate.confirmed_pairs" -> "count/op",
    "curate.pair_precision" -> "ratio",
    "self.plan_ms" -> "ms/op", "self.jobs_ms" -> "ms/op", "self.driver_ms" -> "ms/op",
    "trace.overhead_ratio" -> "ratio")
}
