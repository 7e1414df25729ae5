package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.vortex.{StatsManifest, VortexFileReader}

/** Traced-run instrumentation, all of it outside the engine: a Spark
  * listener (jobs, stages, tasks, linked to their op by a per-op job
  * group), a query-execution listener (QueryPlanningTracker phases,
  * scan partitions), the engine's public footer/page counters, Hadoop
  * FileSystem statistics, and directory listings taken before and
  * after each op outside its span. Spans stay in memory and are
  * written out once, at the end of the run. */
final class Tracer(spark: SparkSession, datasets: Seq[String])
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 1L
  private def spanId(): Long = { nextSpan += 1; nextSpan }

  // ---- listener state, written on the listener-bus thread ------------
  private val jobOp = mutable.Map[Int, String]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private val stageOp = mutable.Map[Int, String]()
  private val jobsOf = mutable.Map[String, mutable.ArrayBuffer[(Int, Long, Long)]]()
  private val stagesOf = mutable.Map[String, mutable.ArrayBuffer[(Int, String, Long, Long, Int)]]()
  private val taskAcc = mutable.Map[String, mutable.Map[String, Double]]()
  private val queries = mutable.ArrayBuffer[(Map[String, (Long, Long)], Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("traced-")) {
      jobOp(e.jobId) = g
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = g)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.get(e.jobId).foreach { g =>
      jobsOf.getOrElseUpdate(g, mutable.ArrayBuffer()) += ((e.jobId, jobStartMs(e.jobId), e.time))
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageOp.get(i.stageId).foreach { g =>
      stagesOf.getOrElseUpdate(g, mutable.ArrayBuffer()) += ((i.stageId, i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageOp.get(e.stageId).filter(_ => m != null).foreach { g =>
      val a = taskAcc.getOrElseUpdate(g, mutable.Map[String, Double]().withDefaultValue(0.0))
      def add(k: String, v: Double): Unit = a(k) = a(k) + v
      val info = e.taskInfo
      add("exec.tasks", 1)
      add("exec.task_ms", m.executorRunTime.toDouble)
      add("exec.cpu_ms", m.executorCpuTime / 1e6)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("exec.sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime).toDouble)
      a("exec.peak_mem_mb") = math.max(a("exec.peak_mem_mb"), m.peakExecutionMemory / 1048576.0)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
      add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
      if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0)
        add("scan.leaf_task_ms", m.executorRunTime.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    val parts = try {
      collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b.inputPartitions.size }.sum
    } catch { case _: Exception => 0 }
    synchronized { queries += ((phases, parts)) }
  }

  // ---- per-op measurement, on the benchmark thread -------------------
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var tracedOps = 0
  private var resultRows = 0L
  private var changedRows = 0L
  private var rowsRewritten = 0L
  private var bytesWrittenByChanges = 0.0

  def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  /** (read opens, bytes read, metadata calls, write-side calls, bytes written) */
  private def fsStats(): (Long, Long, Long, Long, Long) = {
    val all = FileSystem.getAllStatistics.asScala
    val (opens, meta, writes) = CountingFs.snapshot()
    (opens, all.map(_.getBytesRead).sum, meta, writes, all.map(_.getBytesWritten).sum)
  }

  private def snapshot(): Map[String, Seq[(String, Long)]] =
    datasets.map(d => d -> Files.list(spark, d)).toMap

  private def manifestRows(): Map[String, Long] = datasets.flatMap { d =>
    try {
      StatsManifest.read(new Path(d), spark.sessionState.newHadoopConf()).toSeq
        .map { case (rel, st) => s"$d/$rel" -> st.rows }
    } catch { case _: Exception => Seq.empty }
  }.toMap

  /** Runs `body` as traced op number `idx`; returns its result and
    * latency in ns. Everything but `body` itself runs outside the op
    * span and outside the latency. */
  def traced[T](idx: Int, op: Op)(body: => T): (T, Long) = {
    val dml = op.dml
    val sc = spark.sparkContext
    val tag = s"traced-$idx"
    val before = snapshot()
    val rowsBefore = if (dml) manifestRows() else Map.empty[String, Long]
    val ff0 = VortexFileReader.footerFetches.get
    val pd0 = VortexFileReader.pageDecodes.get
    val fs0 = fsStats()
    sc.setJobGroup(tag, op.kind, interruptOnCancel = false)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try body finally {
      sc.clearJobGroup()
    }
    val ns = System.nanoTime() - t0
    val w1 = math.max(System.currentTimeMillis(), w0 + ns / 1000000L)
    val fs1 = fsStats()
    val ff1 = VortexFileReader.footerFetches.get
    val pd1 = VortexFileReader.pageDecodes.get
    org.apache.spark.BenchBridge.drainListeners(sc)
    val after = snapshot()

    tracedOps += 1
    add("scan.footer_fetches", (ff1 - ff0).toDouble)
    add("scan.page_decodes", (pd1 - pd0).toDouble)
    add("fs.read_ops", (fs1._1 - fs0._1).toDouble)
    add("fs.bytes_read", (fs1._2 - fs0._2).toDouble)
    add("fs.meta_ops", (fs1._3 - fs0._3).toDouble)
    add("write.fs_ops", (fs1._4 - fs0._4).toDouble)
    add("write.bytes_written", (fs1._5 - fs0._5).toDouble)
    resultRows += op.rowsOut(out)

    // file-level effect of the op, from the listings
    var created = 0
    var masked = 0
    var rewritten = 0
    datasets.foreach { d =>
      val b = before(d).map(_._1).toSet
      val a = after(d).map(_._1).toSet
      created += (a -- b).size
      masked += (a -- b).count(Files.isMask)
      if (dml) {
        val gone = (b -- a).filter(Files.isData)
        rewritten += gone.size
        rowsRewritten += gone.toSeq.map(rel => rowsBefore.getOrElse(s"$d/$rel", 0L)).sum
      }
    }
    add("write.files_created", created)
    if (dml) {
      add("dml.rewritten_files", rewritten)
      add("dml.masked_files", masked)
    }
    if (op.changedRows > 0) {
      changedRows += op.changedRows
      bytesWrittenByChanges += (fs1._5 - fs0._5).toDouble
    }

    // spans: the op, its planning phases, its jobs and stages
    val opId = spanId()
    val children = mutable.ArrayBuffer[(Long, Long)]()
    val qs = synchronized {
      val mine = queries.filter { case (ph, _) =>
        ph.get("analysis").orElse(ph.values.headOption).exists { case (s, _) => s >= w0 - 1 && s <= w1 + 1 }
      }.toList
      queries --= mine
      mine
    }
    qs.foreach { case (ph, parts) =>
      add("plan.scan_partitions", parts)
      Seq("analysis" -> "plan.analyze_ms", "optimization" -> "plan.optimize_ms",
          "planning" -> "plan.physical_ms").foreach { case (p, k) =>
        ph.get(p).foreach { case (s, e) =>
          add(k, (e - s).toDouble)
          spans += Span(spanId(), opId, s"plan.$p", s, e, Map.empty)
          children += ((s, e))
        }
      }
    }
    val (jobs, stages, tasks) = synchronized {
      (jobsOf.remove(tag).map(_.toSeq).getOrElse(Nil), stagesOf.remove(tag).map(_.toSeq).getOrElse(Nil),
        taskAcc.remove(tag).getOrElse(Map.empty[String, Double]))
    }
    add("exec.jobs", jobs.size)
    add("exec.stages", stages.size)
    tasks.foreach { case (k, v) =>
      if (k == "exec.peak_mem_mb") sums(k) = math.max(sums(k), v) else add(k, v)
    }
    jobs.foreach { case (id, s, e) =>
      val jid = spanId()
      spans += Span(jid, opId, s"job.$id", s, e, Map.empty)
      children += ((s, e))
      stages.filter(st => st._3 >= s && st._4 <= e).foreach { st =>
        spans += Span(spanId(), jid, s"stage.${st._1}", st._3, st._4, Map("tasks" -> st._5.toDouble))
      }
    }
    val planMs = qs.flatMap(_._1.collect { case (p, (s, e)) if p != "parsing" => e - s }).sum
    val jobMs = union(jobs.map(j => (j._2, j._3)))
    val opMs = ns / 1e6
    add("self.plan_ms", planMs.toDouble)
    add("self.jobs_ms", jobMs.toDouble)
    add("self.driver_ms", math.max(0.0, opMs - union(children.toSeq)))
    spans += Span(opId, 0L, op.kind, w0, w1, Map("latency_ms" -> opMs, "op" -> idx.toDouble))
    (out, ns)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Per-layer table: per-op means of the counters, ratios with their
    * base, end-of-run state of the datasets. */
  def metrics(extra: Map[String, Double], parquetBytesPerRow: Double): Map[String, Double] = {
    val n = math.max(1, tracedOps).toDouble
    val perOp = sums.toMap.map { case (k, v) => k -> (if (k == "exec.peak_mem_mb") v else v / n) }
    val state = datasets.flatMap(d => Files.list(spark, d))
    val ratios = Map(
      "scan.result_rows_per_record_read" ->
        (if (sums("scan.records_read") > 0) resultRows / sums("scan.records_read") else 0.0),
      "write.write_amp" ->
        (if (changedRows > 0 && parquetBytesPerRow > 0)
          bytesWrittenByChanges / (changedRows * parquetBytesPerRow) else 0.0),
      "dml.rows_changed_per_row_rewritten" ->
        (if (rowsRewritten > 0) changedRows.toDouble / rowsRewritten else 0.0),
      "write.live_files" -> state.count(f => Files.isData(f._1)).toDouble,
      "write.dv_sidecars" -> state.count(f => Files.isMask(f._1)).toDouble)
    perOp ++ ratios ++ extra
  }

  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"attrs":{$attrs}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long,
                        attrs: Map[String, Double])
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
}
