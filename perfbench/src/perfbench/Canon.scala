package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprints of results. Doubles are rounded to six
  * decimals first: aggregation order may move the last bits of an
  * unrounded double between two correct runs. */
object Canon {
  private def cell(v: Any): String = v match {
    case null => "␀"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
    case f: Float => cell(f.toDouble)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Fingerprint of collected rows: (row count, md5 of the sorted rows). */
  def rows(rs: Seq[Row]): String = {
    val md = MessageDigest.getInstance("MD5")
    rs.map(r => r.toSeq.map(cell).mkString("|")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    s"${rs.size}:" + md.digest().map("%02x".format(_)).mkString
  }

  private def canonCol(f: StructField): Column = f.dataType match {
    case DoubleType | FloatType => round(col(s"`${f.name}`").cast(DoubleType), 6)
    case _ => col(s"`${f.name}`")
  }

  /** Fingerprint of a frame computed in Spark (for tables too large to
    * collect): (row count, sum of row hashes mod a prime). */
  def frame(df: DataFrame): String = {
    val h = xxhash64(df.schema.fields.map(canonCol).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1000000007L)))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }
}
