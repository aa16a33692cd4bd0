package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Canonical per-column result hash, the same rules the project's
  * DuckDB compare uses (`scripts/check.py` `canon` / `col_hashes`):
  * columns sorted by name, one md5 per column over the NUL-joined
  * canonical value stream in row order. Floats hash as IEEE-754 bit
  * patterns, timestamps as epoch micros, decimals as plain strings.
  */
object Canon {
  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => if (b) "true" else "false"
    case f: Float => canon(f.toDouble)
    case d: Double =>
      if (d.isNaN) "NaN" else f"${java.lang.Double.doubleToLongBits(d)}%016x"
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.underlying.toPlainString
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => micros(t.toInstant).toString
    case i: java.time.Instant => micros(i).toString
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC)).toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case a: scala.collection.Seq[_] => a.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }
        .sorted.mkString("<", ",", ">")
    case other => other.toString
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  /** (sorted column names, md5 per column, row count). */
  def hashes(columns: Array[String], rows: Array[Row])
      : (Seq[String], Seq[String], Long) = {
    val order = columns.indices.sortBy(columns(_))
    val digests = order.map(_ => MessageDigest.getInstance("MD5"))
    rows.foreach { r =>
      order.zip(digests).foreach { case (i, d) =>
        d.update(canon(r.get(i)).getBytes("UTF-8"))
        d.update(0.toByte)
      }
    }
    (order.map(columns(_)),
      digests.map(_.digest().map(x => f"$x%02x").mkString), rows.length.toLong)
  }
}
