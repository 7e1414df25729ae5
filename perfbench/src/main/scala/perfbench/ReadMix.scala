package perfbench

import org.apache.spark.sql.SparkSession

/** The read-only workload: the SQL mix of ScanMix and the curation ops
  * of Curate, interleaved in one stream (gen.py's deck) over datasets
  * written once in set-up. Nothing is written after set-up, so a
  * write-side change should not move it. Each op goes to the part that
  * owns its kind. */
final class ReadMix(val spark: SparkSession, root: String) extends Workload {
  private val scan = new ScanMix(spark, root)
  private val curate = new Curate(spark, root)
  private val parts = Seq(scan, curate)
  private var kinds: IndexedSeq[String] = IndexedSeq.empty

  val slots: Seq[String] = scan.slots ++ curate.slots
  def datasets: Seq[String] = parts.flatMap(_.datasets)

  def generate(): Unit = {
    parts.foreach(_.generate())
    kinds = new OpStream(s"$root/in/ops.json").ops.map(_.get("kind").asText)
  }

  def build(): Unit = parts.foreach(_.build())

  def opCount: Int = kinds.size
  def warmupOps: Int = scan.warmupOps

  private def partOf(kind: String): Workload = if (Curate.Kinds(kind)) curate else scan

  def op(i: Int): Op = partOf(kinds(i)).op(i)
  def check(i: Int, op: Op, result: Any): Option[String] = partOf(op.kind).check(i, op, result)
  override def verify(): Seq[(Int, String)] = parts.flatMap(_.verify())
  def liveRows(): Long = parts.map(_.liveRows()).sum
  override def layerCounters(): Map[String, Double] = parts.map(_.layerCounters()).reduce(_ ++ _)
  override def traceOp(op: Op, result: Any, tracer: Tracer): Unit =
    partOf(op.kind).traceOp(op, result, tracer)
}
