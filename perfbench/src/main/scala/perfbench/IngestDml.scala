package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine
import graft.sources.vortex.{VortexDelete, VortexMaintenance}

/** Ingest and maintenance. From a base snapshot, a seeded statement
  * stream: `append` (bulk copy of a parquet batch), `delete` (point
  * deletes on the deletion-vector tier, id-range deletes on the
  * rewrite tier), SQL `update`, SQL `merge` (Zipf-skewed keys, about
  * half matched), and a `compact` (foldMasks + compact) that ends
  * every deck of six statements (gen.py). Each statement is followed by a SQL COUNT(*) that
  * reads it back, timed as part of the op and checked against the
  * model. The model replays every statement on plain Scala collections;
  * the end state is compared with it by row digest. */
final class IngestDml(val spark: SparkSession, root: String) extends Workload {
  import IngestDml._

  private val engine = Engine(spark)
  private val basePq = s"$root/in/base"
  private val appendPq = s"$root/in/append"
  private val mergePq = s"$root/in/merge"
  private val dir = s"$root/vortex/events"
  private val table = s"vtx.`$dir`"

  val slots = Seq("append", "delete_dv", "delete_rewrite", "update", "merge", "compact")
  def datasets: Seq[String] = Seq(dir)

  /** The model: live rows by id. */
  private val model = mutable.LongMap[Rec]()
  /** Source rows of every append and merge statement, by (statement, id). */
  private var inputs: Map[(Int, Long), Rec] = Map.empty
  private var stream: IndexedSeq[Stmt] = IndexedSeq.empty
  private var warmup = 0
  private var pqBytesPerRow = 0.0

  private def toRow(id: Long, x: Rec): Row =
    Row(id, x.grp, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.day)), x.qty, x.price,
      x.tax, x.flag, x.note)

  private def recOf(row: Row): Rec = Rec(row.getInt(1), row.getDate(2).toLocalDate.toEpochDay.toInt,
    row.getInt(3), row.getDouble(4), row.getDouble(5), row.getString(6), row.getString(7))

  /** The inputs and the statement stream are written by gen.py before
    * the JVM starts; this loads them into the model, untimed. */
  def generate(): Unit = {
    val ops = new OpStream(s"$root/in/ops.json")
    warmup = ops.warmup
    stream = ops.ops.map { n =>
      val ids = n.get("ids")
      Stmt(n.get("kind").asText, n.get("j").asInt, Array.tabulate(ids.size)(k => ids.get(k).asLong))
    }
    model.clear()
    spark.read.parquet(basePq).collect().foreach(row => model(row.getLong(0)) = recOf(row))
    pqBytesPerRow = Files.bytes(spark, basePq).toDouble / model.size
    inputs = Seq(appendPq, mergePq).flatMap { p =>
      spark.read.parquet(p).collect().map(row => (row.getInt(8), row.getLong(0)) -> recOf(row))
    }.toMap
  }

  def build(): Unit = {
    engine.copyToVortex(spark.read.parquet(basePq), dir)
  }

  def opCount: Int = stream.size
  def warmupOps: Int = warmup

  override def parquetBytesPerRow: Double = pqBytesPerRow

  private def live(a: Long, b: Long): Seq[Long] = (a until b).filter(model.contains)

  /** Every op is one statement followed by the COUNT(*) that reads it
    * back; the op returns (statement result, count). */
  private def withCount(kind: String, s: Stmt, changed: Long)(stmt: => Any): Op =
    Op(kind, () => (stmt, spark.sql(s"SELECT count(*) FROM $table").head().getLong(0)),
      rowsOut = _ => 1L, changedRows = changed, dml = s.kind != "compact")

  def op(i: Int): Op = {
    val s = stream(i)
    def range = live(s.ids(0), s.ids(1)).size.toLong
    s.kind match {
      case "compact" =>
        withCount("compact", s, 0L) {
          VortexMaintenance.foldMasks(spark, dir)
          VortexMaintenance.compact(spark, dir)
        }
      case "append" =>
        withCount("append", s, s.ids(1) - s.ids(0)) {
          engine.copyToVortex(spark.read.parquet(s"$appendPq/b=${s.j}"), dir, overwrite = false)
        }
      case "delete_point" =>
        withCount("delete_dv", s, range) {
          VortexDelete.delete(spark, dir, col("id") === s.ids(0), deletionVectors = true)
        }
      case "delete_range" =>
        withCount("delete_rewrite", s, range) {
          engine.deleteVortex(dir, col("id") >= s.ids(0) && col("id") < s.ids(1))
        }
      case "update" =>
        withCount("update", s, range) {
          spark.sql(s"UPDATE $table SET qty = qty + 1, flag = 'U' " +
            s"WHERE id >= ${s.ids(0)} AND id < ${s.ids(1)}").collect()
        }
      case "merge" =>
        withCount("merge", s, s.ids.length) {
          spark.sql(s"MERGE INTO $table t USING parquet.`$mergePq/b=${s.j}` s " +
            "ON t.id = s.id WHEN MATCHED THEN UPDATE SET qty = s.qty, price = s.price, flag = 'M' " +
            "WHEN NOT MATCHED THEN INSERT *").collect()
        }
    }
  }

  /** Applies the statement to the model, then compares what the engine
    * reported (delete counts, the COUNT(*) after it) with the model. */
  def check(i: Int, op: Op, result: Any): Option[String] = {
    val (stmtResult, count) = result.asInstanceOf[(Any, Long)]
    val stmtError = {
      val s = stream(i)
      s.kind match {
        case "compact" => None
        case "append" =>
          (s.ids(0) until s.ids(1)).foreach(id => model(id) = inputs((s.j, id)))
          None
        case "delete_point" | "delete_range" =>
          val gone = live(s.ids(0), s.ids(1))
          gone.foreach(model.remove)
          val got = stmtResult.asInstanceOf[VortexDelete.DeleteResult].rowsDeleted
          if (got == gone.size) None else Some(s"deleted $got rows, model deleted ${gone.size}")
        case "update" =>
          live(s.ids(0), s.ids(1)).foreach { id =>
            val x = model(id); model(id) = x.copy(qty = x.qty + 1, flag = "U")
          }
          None
        case "merge" =>
          s.ids.foreach { id =>
            val src = inputs((s.j, id))
            model.get(id) match {
              case Some(x) => model(id) = x.copy(qty = src.qty, price = src.price, flag = "M")
              case None => model(id) = src
            }
          }
          None
      }
    }
    stmtError.orElse(
      if (count == model.size) None else Some(s"COUNT(*) $count != model ${model.size}"))
  }

  override def traceOp(op: Op, result: Any, tracer: Tracer): Unit = result match {
    case (d: VortexDelete.DeleteResult, _) =>
      tracer.add("dml.candidate_files", d.candidateFiles)
      tracer.add("dml.untouched_files", d.untouchedFiles)
    case _ =>
  }

  /** The end state, row for row, against the model. */
  override def verify(): Seq[(Int, String)] = {
    val got = RowHash.ofRows(spark.sql(s"SELECT * FROM $table").collect())
    var h = 0L
    model.foreach { case (id, x) => h += RowHash.ofValues(toRow(id, x).toSeq) }
    val want = (h, model.size.toLong)
    if (got == want) Seq.empty else Seq((-1, s"end state digest/rows $got != model $want"))
  }

  def liveRows(): Long = model.size.toLong
}

object IngestDml {
  final case class Rec(grp: Int, day: Int, qty: Int, price: Double, tax: Double,
                       flag: String, note: String)
  /** One statement of the stream, `j` its index; `ids` is [lo, hi) for
    * appends, deletes and updates, the source keys for merges, empty for
    * compactions. */
  final case class Stmt(kind: String, j: Int, ids: Array[Long])
}
