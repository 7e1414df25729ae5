package perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}

/** Order-independent 64-bit digest of a result set: rows are rendered
  * canonically and their hashes summed, so two engines agree exactly
  * when they return the same multiset of rows in any order. */
object RowHash {
  def render(v: Any): String = v match {
    case null => "␀"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => render(d.bigDecimal)
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }
  def ofValues(vs: Seq[Any]): Long = {
    val s = vs.map(render).mkString("\u0001")
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }
  def ofRows(rows: Iterable[Row]): (Long, Long) = {
    var h = 0L
    var n = 0L
    rows.foreach { r => h += ofValues(r.toSeq); n += 1 }
    (h, n)
  }
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

object Files {
  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Every regular file under `dir`: (relative path, length). */
  def list(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) return Seq.empty
    val base = f.makeQualified(root).toString.stripSuffix("/") + "/"
    val it = f.listFiles(root, true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      out += (st.getPath.toString.stripPrefix(base) -> st.getLen)
    }
    out.result()
  }

  def bytes(spark: SparkSession, dir: String): Long = list(spark, dir).map(_._2).sum

  def delete(spark: SparkSession, dir: String): Unit = fs(spark, dir).delete(new Path(dir), true)

  /** Data files a reader can see: not dot-hidden (sidecars, temp files,
    * checksums), not under the engine's underscore-prefixed metadata. */
  def isData(rel: String): Boolean = {
    val parts = rel.split('/')
    rel.endsWith(".vortex") && !parts.exists(p => p.startsWith(".") || p.startsWith("_"))
  }
  def isMask(rel: String): Boolean =
    rel.split('/').last.matches("""\..*\.dv-\d+""")
}
