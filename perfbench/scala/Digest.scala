package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructField}

/** Order-independent digests: the row count plus a sum of one 64-bit hash
  * per row, so two frames with the same rows agree whatever their row
  * order.
  */
object Digest {

  private def byName(df: DataFrame): (DataFrame, Seq[StructField]) = {
    val unique = df.toDF(df.columns.zipWithIndex.map { case (c, i) => s"${c}__$i" }: _*)
    (unique, unique.schema.fields.toSeq.sortBy(_.name))
  }

  private def agg(hash: Column, df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(hash.cast(DecimalType(38, 0))))
      .collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Exact digest, computed in Spark: every value hashed bit for bit, columns
    * taken in name order. Used on tables that only round-trip through
    * storage (the etl workload). */
  def exact(df: DataFrame): String = {
    val (u, fields) = byName(df)
    agg(xxhash64(fields.map(f => col(s"`${f.name}`")): _*), u)
  }

  /** [[exact]] of each group of rows sharing a value of the integral
    * column `key`, all in one aggregation; `key` is left out of the hash. A
    * group with no rows is absent from the result. */
  def exactBy(df: DataFrame, key: String): Map[Long, String] = {
    val data = df.columns.filter(_ != key)
    require(data.distinct.length == data.length, s"duplicate column names: ${data.mkString(",")}")
    // exact's column order: by name, with the column's position appended
    val order = data.zipWithIndex.map { case (c, i) => (s"${c}__$i", c) }.sortBy(_._1)
    df.groupBy(col(key).cast("long"))
      .agg(count(lit(1)), sum(xxhash64(order.map { case (_, c) => col(s"`$c`") }: _*)
        .cast(DecimalType(38, 0))))
      .collect().map { r =>
        r.getLong(0) -> s"${r.getLong(1)}:${Option(r.getDecimal(2)).map(_.toPlainString).getOrElse("0")}"
      }.toMap
  }

  /** Run a query to completion and digest its rows on the way out: the
    * query's physical plan runs exactly as under the `noop` sink (every row
    * of the final, ordered result is produced; nothing is added on top of
    * the plan), and each row is hashed as it passes. Floating-point values
    * are rounded to 10 significant digits (the DuckDB oracle's 1e-9
    * relative tolerance), so a last-bit difference in a float aggregate
    * does not flip the digest. The per-row cost is a conversion to `Row`
    * and one hash. */
  def consume(df: DataFrame): String = {
    val parts = df.rdd.mapPartitions { rows =>
      var n = 0L
      var sum = 0L
      rows.foreach { r => n += 1; sum += rowHash(r) }
      Iterator((n, sum))
    }.collect()
    s"${parts.map(_._1).sum}:${parts.map(_._2).sum}"
  }

  private def rowHash(r: Row): Long = {
    val s = text(r)
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  private def text(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(text).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => text(k) + ":" + text(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(text).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.Instant => t.toString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else String.format(java.util.Locale.ROOT, "%.9e", Double.box(d))
}
