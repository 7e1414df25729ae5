package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload's seeded stream. `run` is the
  * whole user-visible call, result collection included; it returns
  * what the user gets back (rows, a count, a DML result), which
  * `Workload.check` digests and compares with the reference outside
  * the timed region. `ref` carries what the check needs to know about
  * the op's parameters. `dml` marks a statement that may rewrite files:
  * traced runs then read the manifest before it, to count the rows of
  * the files it replaced (maintenance such as compaction is not DML and
  * stays unmarked). */
final case class Op(kind: String, run: () => Any, rowsOut: Any => Long = _ => 0L,
                    changedRows: Long = 0L, ref: String = "", dml: Boolean = false)

/** A closed-loop workload. The driver calls, in order: `generate`
  * (load the inputs and the op stream gen.py wrote, untimed), `build`
  * several times (each call starts from an empty work directory), then
  * `op`/`check` for every op of the stream: the first `warmupOps`
  * untimed, the rest timed; then `verify` for the checks that need the
  * whole run. */
trait Workload {
  def spark: SparkSession
  /** Op kinds reported as op1_p50_ms, op2_p50_ms, ... in slot order. */
  def slots: Seq[String]
  /** Dataset directories whose bytes and rows count as storage. */
  def datasets: Seq[String]
  def generate(): Unit
  def build(): Unit
  /** Length of the op stream and of its untimed warm-up prefix. */
  def opCount: Int
  def warmupOps: Int
  /** Op `i` of the stream; called once per op, in stream order. */
  def op(i: Int): Op
  /** None when the result matches its reference, else why it does not. */
  def check(i: Int, op: Op, result: Any): Option[String]
  /** Deferred checks: (op index, reason) for every op that failed. */
  def verify(): Seq[(Int, String)] = Seq.empty
  def liveRows(): Long
  /** Parquet bytes per input row: the base of `write.write_amp`. */
  def parquetBytesPerRow: Double = 0.0
  /** Extra per-layer counters only this workload can see (traced runs). */
  def layerCounters(): Map[String, Double] = Map.empty
  /** Called by traced runs after each traced op, outside its span. */
  def traceOp(op: Op, result: Any, tracer: Tracer): Unit = ()
}

/** The op stream gen.py writes to ops.json: {"warmup": W, "ops": [...]}. */
final class OpStream(path: String) {
  private val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
  val warmup: Int = root.get("warmup").asInt
  val ops: IndexedSeq[com.fasterxml.jackson.databind.JsonNode] = {
    val a = root.get("ops")
    (0 until a.size).map(a.get)
  }
}
