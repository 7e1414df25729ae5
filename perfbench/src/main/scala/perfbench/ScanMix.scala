package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.sources.vortex.VortexBulkCopy

/** Read path and planning, the SQL part of the read_mix workload (see
  * ReadMix). A lineitem-shaped fact table clustered on
  * l_shipdate (zone maps prune date ranges) with a bloom filter on the
  * unclustered l_orderkey (min/max cannot prune key lookups, the bloom
  * filter can), plus an orders dimension. Both are written once in
  * set-up; no op writes. Every op is SQL text through the vtx catalog; its
  * reference is the same text over the parquet input through Spark's
  * stock reader, compared by row digest after the timed loop. */
final class ScanMix(val spark: SparkSession, root: String) extends Workload {
  import ScanMix._

  private val factPq = s"$root/in/lineitem"
  private val ordersPq = s"$root/in/orders"
  private val factV = s"$root/vortex/lineitem"
  private val ordersV = s"$root/vortex/orders"

  // stats is answered from chunk stats in a few ms: the mix has it,
  // the per-kind metrics leave it out
  val slots = Seq("lookup", "range", "agg", "join")
  def datasets: Seq[String] = Seq(factV, ordersV)

  private var stream: OpStream = _
  private val queryAt = mutable.LongMap[Q]()
  // every op's query and result digest, for the deferred check
  private val issued = mutable.ArrayBuffer[(Int, Q, (Long, Long))]()

  /** The inputs and the op stream are written by gen.py before the JVM
    * starts. */
  def generate(): Unit = stream = new OpStream(s"$root/in/ops.json")

  def build(): Unit = {
    VortexBulkCopy.copy(spark.read.parquet(factPq), factV, bloomCols = Set("l_orderkey"))
    VortexBulkCopy.copy(spark.read.parquet(ordersPq), ordersV)
  }

  def opCount: Int = stream.ops.size
  def warmupOps: Int = stream.warmup

  private def vtx(p: String) = s"vtx.`$p`"

  def op(i: Int): Op = {
    val n = stream.ops(i)
    val kind = n.get("kind").asText
    def int(k: String) = n.get(k).asLong
    val q = kind match {
      case "lookup" => Q(kind, int("key"))
      case "range" => Q(kind, int("start"), int("days"))
      case "agg" => Q(kind, int("delta"))
      case "join" => Q(kind, int("start"), int("days"))
      case _ => Q(kind)
    }
    queryAt(i) = q
    val sql = q.sql(vtx(factV), vtx(ordersV))
    Op(kind, () => spark.sql(sql).collect(), rowsOut = r => r.asInstanceOf[Array[Row]].length)
  }

  def check(i: Int, op: Op, result: Any): Option[String] = {
    issued += ((i, queryAt(i), RowHash.ofRows(result.asInstanceOf[Array[Row]])))
    None
  }

  /** References, over the parquet input through Spark's stock reader:
    * all lookups in one IN-list query, all date ranges in one range
    * join, every other distinct query once. */
  override def verify(): Seq[(Int, String)] = {
    spark.read.parquet(factPq).createOrReplaceTempView(RefFact)
    spark.read.parquet(ordersPq).createOrReplaceTempView(RefOrders)
    val qs = issued.map(_._2).distinct
    val keys = qs.filter(_.kind == "lookup").map(_.a)
    val byKey = if (keys.isEmpty) Map.empty[Long, Seq[Row]] else
      spark.sql(s"SELECT $LookupCols FROM $RefFact WHERE l_orderkey IN (${keys.mkString(",")})")
        .collect().toSeq.groupBy(_.getLong(0))
    // one range length per run, so the ranges differ by start only
    val ranges = qs.filter(_.kind == "range")
    val byStart = if (ranges.isEmpty) Map.empty[Long, Seq[Row]] else
      spark.sql(s"SELECT r.s, $RangeCols FROM $RefFact JOIN (SELECT explode(array(" +
        ranges.map(_.a).mkString(",") + s")) AS s) r ON l_shipdate >= date_add($Epoch, r.s) " +
        s"AND l_shipdate < date_add($Epoch, r.s + ${ranges.head.b})")
        .collect().toSeq.groupBy(_.getInt(0).toLong)
        .map { case (k, rows) => k -> rows.map(r => Row.fromSeq(r.toSeq.tail)) }
    val refs = qs.map { q =>
      q -> (q.kind match {
        case "lookup" => RowHash.ofRows(byKey.getOrElse(q.a, Seq.empty))
        case "range" => RowHash.ofRows(byStart.getOrElse(q.a, Seq.empty))
        case _ => RowHash.ofRows(spark.sql(q.sql(RefFact, RefOrders)).collect())
      })
    }.toMap
    issued.toSeq.collect { case (i, q, got) if refs(q) != got =>
      (i, s"digest/rows $got != reference ${refs(q)} for: ${q.sql(RefFact, RefOrders)}")
    }
  }

  def liveRows(): Long =
    spark.sql(s"SELECT count(*) FROM ${vtx(factV)}").head().getLong(0) +
      spark.sql(s"SELECT count(*) FROM ${vtx(ordersV)}").head().getLong(0)
}

object ScanMix {
  val LookupCols = "l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_tax, l_shipdate, l_comment"
  val RangeCols = "l_orderkey, l_extendedprice, l_tax, l_shipmode"
  val RefFact = "ref_lineitem"
  val RefOrders = "ref_orders"
  val Epoch = "DATE'1992-01-02'"

  /** One query of the mix: `a` is the lookup key, the range or join
    * start day, or the agg cutoff; `b` the range or join length. */
  final case class Q(kind: String, a: Long = 0L, b: Long = 0L) {
    def sql(fact: String, orders: String): String = kind match {
      case "lookup" =>
        s"SELECT $LookupCols FROM $fact WHERE l_orderkey = $a"
      case "range" =>
        s"SELECT $RangeCols FROM $fact WHERE l_shipdate < date_add($Epoch, ${a + b}) " +
          s"AND l_shipdate >= date_add($Epoch, $a)"
      case "agg" =>
        // prices are 2-decimal doubles; summing them as whole cents keeps
        // the result exact under any summation order, so digests compare
        s"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
          s"sum(CAST(l_extendedprice * 100 + 0.5 AS BIGINT)) AS sum_base, " +
          s"sum(CAST(l_extendedprice * (1 - l_discount) * 100 + 0.5 AS BIGINT)) AS sum_disc, " +
          s"max(l_tax) AS max_tax, count(*) AS n FROM $fact " +
          s"WHERE l_shipdate <= date_sub(DATE'1998-12-01', $a) " +
          s"GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
      case "stats" =>
        s"SELECT count(*), min(l_shipdate), max(l_shipdate), min(l_orderkey), max(l_orderkey) FROM $fact"
      case "join" =>
        s"SELECT o.o_orderpriority, count(*) AS n, sum(l.l_quantity) AS qty, " +
          s"sum(CAST(l.l_extendedprice * 100 + 0.5 AS BIGINT)) AS price FROM $fact l JOIN $orders o " +
          s"ON l.l_orderkey = o.o_orderkey " +
          s"WHERE o.o_orderdate >= date_add($Epoch, $a) AND o.o_orderdate < date_add($Epoch, ${a + b}) " +
          s"GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"
    }
  }
}
