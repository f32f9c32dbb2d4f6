package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.ByteBuffer
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Order-independent digest of a result: row count plus the wrapping sum
  * of each row's MD5 prefix, over a canonical text form of the row with
  * columns sorted by name. `digest.py` computes the same digest from a
  * DuckDB result, so the two engines agree exactly when their results are
  * the same multiset of rows.
  *
  * Canonical values: null -> `∅`; integral numbers with |v| < 2^53 ->
  * decimal digits (so 3 and 3.0 agree); other finite doubles -> the hex of
  * their IEEE bits; timestamps -> `yyyy-MM-dd HH:mm:ss[.ffffff]` in UTC,
  * dates -> the same at midnight; arrays/structs/maps -> bracketed lists.
  */
object Digest {
  private val Exact = 9007199254740992.0 // 2^53
  private val Stamp = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Executes `df`'s own physical plan once (as a sink would: no second
    * planning pass) and digests every row it produces. */
  def of(df: DataFrame): String = {
    val names = df.columns
    val order = names.indices.sortBy(i => names(i)).toArray
    val schema = df.schema
    val (n, sum) = df.queryExecution.toRdd.mapPartitions { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val md5 = MessageDigest.getInstance("MD5")
      var n = 0L; var s = 0L
      rows.foreach { r => n += 1; s += rowHash(md5, toRow(r).asInstanceOf[Row], order) }
      Iterator.single((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    format(n, sum, order.map(names(_)).toSeq)
  }

  def format(n: Long, sum: Long, sortedNames: Seq[String]): String =
    f"$n:$sum%016x:${sortedNames.mkString(",")}"

  def rowHash(md5: MessageDigest, r: Row, order: Array[Int]): Long = {
    val s = order.map(i => canon(r.get(i))).mkString("\u001f")
    ByteBuffer.wrap(md5.digest(s.getBytes("UTF-8"))).getLong
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < Exact) d.toLong.toString
    else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def integral(v: Long): String =
    if (math.abs(v.toDouble) < Exact) v.toString else num(v.toDouble)

  private def stamp(t: LocalDateTime): String = {
    val micros = t.getNano / 1000
    if (micros == 0) Stamp.format(t) else f"${Stamp.format(t)}.$micros%06d"
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => b.toString
    case x: Byte => integral(x.toLong)
    case x: Short => integral(x.toLong)
    case x: Int => integral(x.toLong)
    case x: Long => integral(x)
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: JBigDecimal => num(x.doubleValue)
    case s: String => s
    case t: java.sql.Timestamp => stamp(LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: Instant => stamp(LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: LocalDateTime => stamp(t)
    case d: java.sql.Date => stamp(d.toLocalDate.atStartOfDay)
    case d: LocalDate => stamp(d.atStartOfDay)
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
