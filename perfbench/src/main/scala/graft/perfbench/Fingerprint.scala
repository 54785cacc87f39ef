package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a frame: its row count plus the
  * sum of one `xxhash64` per row over ALL columns. Hashing every column
  * forces every column to be computed, the way `toRdd.count()` does,
  * in the same single pass that counts the rows.
  *
  * Floating-point values are rounded before hashing, because a
  * distributed sum may differ in its last bits from run to run. The
  * rounding is relative (9 significant digits, after canonicalising
  * -0.0 and NaN) so one rule serves O(1) ratios and 1e9 sums alike —
  * the same concern as the fixed per-query decimals in SparkEntry,
  * without having to know each column's magnitude.
  */
final case class Fingerprint(rows: Long, hash: Long, extra: Seq[Double] = Nil) {
  def key: String = s"$rows:$hash"
}

object Fingerprint {

  private def canonDouble(c: Column): Column = {
    val x = c.cast("double")
    val e = floor(log10(abs(x)))
    when(x.isNull, lit(null).cast("double"))
      .when(isnan(x), lit(Double.NaN))
      .when(x === 0.0, lit(0.0))
      .otherwise(round(x / pow(lit(10.0), e), 8) * pow(lit(10.0), e) + lit(0.0))
  }

  /** Replace every float/double leaf of `c` (arrays and structs
    * included) by its rounded form; other types pass through.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => canonDouble(c)
    case ArrayType(et, _) if hasFloat(et) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.exists(f => hasFloat(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case _ => c
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _)       => hasFloat(et)
    case StructType(fs)         => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _)       => hasFloat(k) || hasFloat(v)
    case _                      => false
  }

  /** The fingerprint, computed by ONE action on `df`. `extra` columns
    * are summed in the same aggregation (their totals come back in
    * [[Fingerprint.extra]]).
    */
  def of(df: DataFrame, extra: Seq[Column] = Nil): Fingerprint = {
    val fields = df.schema.fields.toSeq
    // the column name joins the hash so two frames with swapped
    // columns of equal type fingerprint differently
    val parts = fields.flatMap(f => Seq(lit(f.name), canon(col(s"`${f.name}`"), f.dataType)))
    val rowHash = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    // unsigned 32-bit halves keep the sum clear of ANSI long overflow
    val lo = rowHash.bitwiseAND(lit(0xffffffffL))
    val hi = shiftrightunsigned(rowHash, 32)
    val aggs = Seq(count(lit(1)), coalesce(sum(lo), lit(0L)), coalesce(sum(hi), lit(0L))) ++
      extra.map(e => coalesce(sum(e.cast("double")), lit(0.0)))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val h = r.getLong(1) * 31L + r.getLong(2)
    Fingerprint(r.getLong(0), h, extra.indices.map(i => r.getDouble(3 + i)))
  }
}
