package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-free result digest, byte-compatible with `canon.py`.
  *
  * A result is canonicalized the way the oracle compare does it: columns
  * sorted by name, rows compared as a multiset, values exactly. Each cell
  * becomes a tagged string (`N` null or NaN, `i` integer, `f` the IEEE bits
  * of a double with -0.0 folded to 0, `s` string, `t` UTC microseconds for
  * timestamps and dates, `b` boolean, `x` bytes, `[...]` arrays, `{...}`
  * structs and maps). Decimals compare as doubles, as they do once both
  * sides reach a pandas frame. The digest is the row count plus the sum
  * (mod 2^64) of the first eight bytes of each row's SHA-256, so row order
  * never matters and no sort is needed.
  */
object Canon {
  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: BigInt => "i" + x
    case x: java.math.BigInteger => "i" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case x: java.math.BigDecimal => dbl(x.doubleValue)
    case x: scala.math.BigDecimal => dbl(x.toDouble)
    case x: String => "s" + x
    case x: java.sql.Timestamp =>
      "t" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.Instant =>
      "t" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      cell(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => "t" + x.toLocalDate.toEpochDay * 86400000000L
    case x: java.time.LocalDate => "t" + x.toEpochDay * 86400000000L
    case x: Array[Byte] => "x" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => cell(k) + ":" + cell(w) }.sorted.mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ",", "]")
    case x: Row => x.toSeq.map(cell).mkString("{", ",", "}")
    case x => "s" + x.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "N"
    else if (d == 0.0) "f0"
    else "f" + java.lang.Double.doubleToRawLongBits(d)

  /** Running digest of one result. Column order is fixed once, from the
    * schema, by sorting the column names. */
  final class Acc(columns: Seq[String]) {
    private val order = columns.zipWithIndex.sortBy(_._1).map(_._2).toArray
    private val header = columns.sorted.mkString(",")
    private val md = MessageDigest.getInstance("SHA-256")
    private var sum = 0L
    private var n = 0L

    def add(r: Row): Unit = {
      val sb = new StringBuilder
      var i = 0
      while (i < order.length) {
        if (i > 0) sb.append('\u0001')
        sb.append(cell(r.get(order(i))))
        i += 1
      }
      val h = md.digest(sb.toString.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      n += 1
    }

    def reset(): Unit = { sum = 0L; n = 0L }

    def digest: String = {
      val hh = MessageDigest.getInstance("SHA-256").digest(header.getBytes(UTF_8))
      s"$n:${java.lang.Long.toUnsignedString(sum)}:" + hh.take(4).map(b => f"${b & 0xff}%02x").mkString
    }
  }

  def of(columns: Seq[String], rows: Iterator[Row]): String = {
    val a = new Acc(columns)
    rows.foreach(a.add)
    a.digest
  }
}
