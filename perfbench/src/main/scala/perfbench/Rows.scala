package perfbench

import java.math.MathContext
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Consuming and checking a query's output. */
object Rows {
  private val sig = new MathContext(9)

  /** Canonical text of one value; floating point rounded to 9 significant
    * digits so that summation order cannot change a fingerprint. */
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(sig).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => canon(b.doubleValue)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** Order-insensitive fingerprint of a result: row count plus the sum and
    * xor of a 64-bit hash of each row's canonical text. */
  def fingerprint(rows: Array[Row]): String = {
    var sum = 0L; var xor = 0L
    rows.foreach { r =>
      val s = canon(r)
      val h = (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
      sum += h; xor ^= h
    }
    f"${rows.length}:$sum%016x:$xor%016x"
  }

  /** The timed action of a read: collect every column of every row and
    * fingerprint it (never `count()`, which lets pruning skip output). */
  def consume(df: DataFrame): (Array[Row], String) = {
    val rows = df.collect()
    (rows, fingerprint(rows))
  }

  /** A result as JSON for the DuckDB comparison: columns sorted by name,
    * rows in the order the engine returned them. */
  def toJson(df: DataFrame, rows: Array[Row]): String = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val sb = new StringBuilder
    sb ++= "{\"columns\":" ++= Json.arr(order.map(i => Json.str(names(i))))
    sb ++= ",\"rows\":["
    rows.indices.foreach { ri =>
      if (ri > 0) sb += ','
      sb ++= Json.arr(order.map(i => value(rows(ri).get(i))))
    }
    sb ++= "]}"
    sb.toString
  }

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) Json.str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: java.math.BigDecimal => b.toString
    case b: Boolean => b.toString
    case t: java.sql.Timestamp => Json.str("ts:" + t.toLocalDateTime.format(tsFmt))
    case t: java.time.LocalDateTime => Json.str("ts:" + t.format(tsFmt))
    case t: java.time.Instant =>
      Json.str("ts:" + java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFmt))
    case d: java.sql.Date => Json.str("date:" + d.toLocalDate.toString)
    case d: java.time.LocalDate => Json.str("date:" + d.toString)
    case r: Row => Json.arr(r.toSeq.map(value))
    case a: Array[Byte] => Json.str(a.map("%02x".format(_)).mkString)
    case m: scala.collection.Map[_, _] =>
      Json.obj(m.toSeq.map { case (k, x) => String.valueOf(k) -> value(x) })
    case s: scala.collection.Seq[_] => Json.arr(s.map(value))
    case o => Json.str(o.toString)
  }
}

/** Minimal JSON text building (the harness writes, never parses, JSON). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
