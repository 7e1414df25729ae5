package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Engine

/** Curation operators over a docs + embeddings corpus stored as
  * vortex, the curation part of the read_mix workload (see ReadMix).
  * Three op kinds, the first two over one source slice of the docs,
  * the last over the whole embedding table:
  *   - `dedup_exact`: exact content dedup (`dedupExact`), counted;
  *   - `near_dup`: MinHash/LSH candidates verified at Jaccard >= tau
  *     (`minhashNearDup`);
  *   - `cosine_topk`: exact cosine top-k for a few query docs.
  * Shuffle and the compute kernels dominate; the scan is small. The
  * corpus and the op stream come from gen.py. */
final class Curate(val spark: SparkSession, root: String) extends Workload {
  import Curate._

  private val engine = Engine(spark)
  private val docsPq = s"$root/in/docs"
  private val embPq = s"$root/in/emb"
  private val docsV = s"$root/vortex/docs"
  private val embV = s"$root/vortex/emb"

  val slots = Seq("near_dup", "cosine_topk")
  def datasets: Seq[String] = Seq(docsV, embV)

  private var stream: OpStream = _
  private var tokens: Array[Set[String]] = Array.empty
  private var vecs: Array[Array[Float]] = Array.empty
  private var sliceOf: Array[Int] = Array.empty
  private var distinctPerSlice: Map[Int, Long] = Map.empty
  private val exactPairs = mutable.Map[Int, Set[(Long, Long)]]()
  private var candidates = 0L
  private var confirmed = 0L

  /** Loads the corpus gen.py wrote, for the checks, untimed. */
  def generate(): Unit = {
    stream = new OpStream(s"$root/in/ops.json")
    val docs = spark.read.parquet(docsPq).select("doc_id", "src", "text").collect()
    val n = docs.length
    tokens = new Array[Set[String]](n)
    sliceOf = new Array[Int](n)
    docs.foreach { r =>
      val i = r.getLong(0).toInt
      tokens(i) = r.getString(2).split(" ").toSet
      sliceOf(i) = r.getInt(1)
    }
    vecs = new Array[Array[Float]](n)
    spark.read.parquet(embPq).collect().foreach { r =>
      vecs(r.getLong(0).toInt) = r.getSeq[Float](1).toArray
    }
    // the exact-dedup reference: countDistinct over the parquet input
    distinctPerSlice = spark.read.parquet(docsPq).groupBy("src")
      .agg(countDistinct("text").as("n")).collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
  }

  def build(): Unit = {
    engine.copyToVortex(spark.read.parquet(docsPq), docsV)
    engine.copyToVortex(spark.read.parquet(embPq), embV)
  }

  def opCount: Int = stream.ops.size
  def warmupOps: Int = stream.warmup

  private def slice(s: Int) = engine.readVortex(docsV).where(col("src") === s)

  private def pairs(rows: Array[Row]): Array[(Long, Long)] =
    rows.map(row => (row.getLong(0), row.getLong(1)))

  private def neighbours(rows: Array[Row]): Array[(Long, Long, Double)] =
    rows.map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))

  def op(i: Int): Op = {
    val n = stream.ops(i)
    val kind = n.get("kind").asText
    lazy val s = n.get("slice").asInt
    lazy val q = { val a = n.get("queries"); (0 until a.size).map(k => a.get(k).asLong).toSet }
    kind match {
      case "dedup_exact" =>
        Op(kind, () => engine.dedupExact(slice(s), "text").count(), ref = s.toString)
      case "near_dup" =>
        Op(kind, () => pairs(engine.minhashNearDup(slice(s), "doc_id", "text", Tau)
          .select("id_a", "id_b").collect()), ref = s.toString)
      case "cosine_topk" =>
        Op(kind, () => neighbours(engine.cosineTopK(engine.readVortex(embV), "doc_id", "vec", q, K)
          .select("id_q", "id_n", "cos").collect()), ref = q.mkString(","))
    }
  }

  def check(i: Int, op: Op, result: Any): Option[String] = op.kind match {
    case "dedup_exact" =>
      val s = op.ref.toInt
      val kept = result.asInstanceOf[Long]
      if (kept == distinctPerSlice(s)) None
      else Some(s"exact dedup kept $kept, countDistinct ${distinctPerSlice(s)}")
    case "near_dup" =>
      val s = op.ref.toInt
      val got = ordered(result)
      val exact = exactPairsOf(s)
      // identical token sets share every LSH band, so each such pair
      // must be found: the recall floor that holds exactly
      val missing = exact.find { case (a, b) => tokens(a.toInt) == tokens(b.toInt) && !got(a -> b) }
      got.find(p => !exact(p)).map(p => s"pair $p fails Jaccard >= $Tau or leaves slice $s")
        .orElse(missing.map(p => s"identical-set pair $p not reported"))
    case "cosine_topk" =>
      topKError(op, result)
  }

  private def ordered(result: Any): Set[(Long, Long)] =
    result.asInstanceOf[Array[(Long, Long)]].map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet

  /** Every pair of the slice at Jaccard >= tau, by brute force. */
  private def exactPairsOf(s: Int): Set[(Long, Long)] = exactPairs.getOrElseUpdate(s, {
    val ids = sliceOf.indices.filter(sliceOf(_) == s)
    (for (a <- ids.iterator; b <- ids.iterator if a < b && jaccard(a, b) >= Tau)
      yield (a.toLong, b.toLong)).toSet
  })

  /** Each query gets k neighbours, none of them itself, each with its
    * cosine within 1e-6 of the double-precision one and none below the
    * k-th best cosine. */
  private def topKError(op: Op, result: Any): Option[String] = {
    val rows = result.asInstanceOf[Array[(Long, Long, Double)]]
    val qs = op.ref.split(",").map(_.toLong)
    val stray = rows.find(r => !qs.contains(r._1))
    if (stray.nonEmpty) return Some(s"row ${stray.get} answers no query")
    qs.iterator.flatMap { q =>
      val mine = rows.filter(_._1 == q)
      lazy val kth = vecs.indices.filter(_ != q).map(j => cosine(q.toInt, j))
        .sorted(Ordering[Double].reverse).apply(K - 1)
      if (mine.length != K) Some(s"query $q returned ${mine.length} neighbours, want $K")
      else mine.find { case (_, m, c) =>
        m == q || math.abs(cosine(q.toInt, m.toInt) - c) > 1e-6 || cosine(q.toInt, m.toInt) < kth - 1e-6
      }.map(bad => s"query $q neighbour $bad has a wrong cosine or is not in the exact top $K")
    }.toSeq.headOption
  }

  private def jaccard(a: Int, b: Int): Double = {
    val inter = (tokens(a) intersect tokens(b)).size
    inter.toDouble / (tokens(a).size + tokens(b).size - inter)
  }

  private def cosine(a: Int, b: Int): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    val x = vecs(a); val y = vecs(b)
    while (j < x.length) {
      d += x(j).toDouble * y(j); na += x(j).toDouble * x(j); nb += y(j).toDouble * y(j); j += 1
    }
    d / math.sqrt(na * nb)
  }

  override def traceOp(op: Op, result: Any, tracer: Tracer): Unit = if (op.kind == "near_dup") {
    val cand = engine.nearDupCandidates(slice(op.ref.toInt), "doc_id", "text").count()
    val conf = result.asInstanceOf[Array[(Long, Long)]].length
    candidates += cand
    confirmed += conf
    tracer.add("curate.candidate_pairs", cand.toDouble)
    tracer.add("curate.confirmed_pairs", conf.toDouble)
  }

  override def layerCounters(): Map[String, Double] =
    Map("curate.pair_precision" -> (if (candidates > 0) confirmed.toDouble / candidates else 0.0))

  /** a docs row and an emb row per doc */
  def liveRows(): Long = 2L * tokens.length
}

object Curate {
  val Kinds = Set("dedup_exact", "near_dup", "cosine_topk")
  val Tau = 0.8
  val K = 10
}
