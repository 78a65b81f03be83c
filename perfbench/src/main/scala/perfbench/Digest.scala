package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-sensitive digest of a query result: SHA-256 over a type-tagged
  * encoding of every value, row by row. Reordering rows, changing a value
  * or changing a value's type changes the digest; the same rows always give
  * the same digest, whichever run or session produced them.
  */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  private val buf = ByteBuffer.allocate(8)
  private var n = 0L

  def add(row: Row): Unit = {
    tag('R'); long(row.length.toLong)
    var i = 0
    while (i < row.length) { value(row.get(i)); i += 1 }
    n += 1
  }

  def rows: Long = n

  /** Finishes the digest; call once. */
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString

  private def tag(c: Char): Unit = md.update(c.toByte)
  private def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
  private def bytes(c: Char, b: Array[Byte]): Unit = { tag(c); long(b.length.toLong); md.update(b) }
  private def str(c: Char, s: String): Unit = bytes(c, s.getBytes(UTF_8))

  private def value(v: Any): Unit = v match {
    case null                      => tag('N')
    case x: Boolean                => tag('Z'); long(if (x) 1L else 0L)
    case x: Byte                   => tag('b'); long(x.toLong)
    case x: Short                  => tag('s'); long(x.toLong)
    case x: Int                    => tag('I'); long(x.toLong)
    case x: Long                   => tag('J'); long(x)
    // doubleToLongBits folds every NaN to one pattern and keeps -0.0 apart
    case x: Double                 => tag('D'); long(java.lang.Double.doubleToLongBits(x))
    case x: Float                  => tag('F'); long(java.lang.Float.floatToIntBits(x).toLong)
    case x: String                 => str('S', x)
    case x: java.math.BigDecimal   => str('M', x.toPlainString)
    case x: java.sql.Timestamp     => tag('T'); long(x.getTime); long(x.getNanos.toLong)
    case x: java.sql.Date          => str('d', x.toString)
    case x: java.time.Instant      => tag('i'); long(x.getEpochSecond); long(x.getNano.toLong)
    case x: java.time.LocalDate    => str('d', x.toString)
    case x: java.time.LocalDateTime => str('l', x.toString)
    case x: Array[Byte]            => bytes('B', x)
    case x: Row =>
      tag('r'); long(x.length.toLong)
      var i = 0
      while (i < x.length) { value(x.get(i)); i += 1 }
    case x: scala.collection.Map[_, _] =>
      tag('m'); long(x.size.toLong)
      x.foreach { case (k, w) => value(k); value(w) }
    case x: scala.collection.Seq[_] =>
      tag('a'); long(x.size.toLong)
      x.foreach(value)
    case x => str('O', x.toString)
  }
}

object Digest {
  /** (row count, hex digest) of `rows` in the order given. */
  def of(rows: Iterable[Row]): (Long, String) = {
    val d = new Digest
    rows.foreach(d.add)
    (d.rows, d.hex)
  }
}
