package lakebench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Row count plus an order-independent hash of a complete result.
  *
  * Each row is rendered with `tools/compare.py`'s normalization (columns
  * sorted by name, `None` as `NULL`, floats as Python `%.6g`, lists and
  * structs recursively, fields joined by `|`), so the rendering matches
  * the one the DuckDB oracle compare hashes. Rows are then combined by
  * summing the first 8 bytes of each row's MD5, so the hash does not
  * depend on row order or partitioning and the work stays on executors.
  */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  def parse(s: String): Fingerprint = {
    val Array(r, h) = s.split(":", 2)
    Fingerprint(r.toLong, h)
  }

  def of(df: DataFrame): Fingerprint = {
    val cols = df.columns.sorted
    val (n, h) = df.select(cols.toIndexedSeq.map(c => col(s"`$c`")): _*).rdd
      .mapPartitions { it =>
        val md5 = MessageDigest.getInstance("MD5")
        var n = 0L
        var h = 0L
        it.foreach { r =>
          n += 1
          h += rowHash(md5, renderRow(r))
        }
        Iterator((n, h))
      }
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fingerprint(n, f"$h%016x")
  }

  def rowHash(md5: MessageDigest, s: String): Long = {
    val d = md5.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def renderRow(r: Row): String =
    (0 until r.length).map(i => norm(r.get(i))).mkString("|")

  def norm(v: Any): String = v match {
    case null => "NULL"
    case d: Double => pyG(d)
    case f: Float => pyG(f.toDouble)
    case b: Boolean => if (b) "True" else "False"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case r: Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (k, i) => s"$k:${norm(r.get(i))}" }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
        .map { case (k, x) => s"$k:${norm(x)}" }.mkString("{", ",", "}")
    case other => other.toString
  }

  /** Python's `f"{v:.6g}"`. */
  def pyG(v: Double): String =
    if (v.isNaN) "NaN"
    else if (v.isInfinite) (if (v > 0) "inf" else "-inf")
    else if (v == 0.0) (if (1.0 / v < 0) "-0" else "0")
    else {
      val r = new JBigDecimal(v).round(new MathContext(6, RoundingMode.HALF_EVEN))
      val exp = r.precision - r.scale - 1
      def strip(s: String) =
        if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
        else s
      if (exp >= -4 && exp < 6) strip(r.setScale(math.max(0, 5 - exp)).toPlainString)
      else {
        val mant = strip(r.movePointLeft(exp).setScale(5, RoundingMode.HALF_EVEN).toPlainString)
        val sign = if (exp < 0) "-" else "+"
        f"${mant}e$sign${math.abs(exp)}%02d"
      }
    }
}
