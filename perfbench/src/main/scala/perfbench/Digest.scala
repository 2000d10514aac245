package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive digest of a result: the row count plus two sums of
  * per-row hashes over EVERY output column.
  *
  * The digest is the op's one action. It is deliberately not `count()`:
  * a count lets Catalyst prune every column, so it would measure less work
  * than a user who reads the result pays for. Hashing all columns forces
  * each of them to be computed.
  *
  * Floating-point values are rounded to 20 mantissa bits (about six
  * significant digits) before hashing. Spark sums doubles in shuffle-fetch
  * order, which varies from run to run, so the last bits of an aggregate
  * are not reproducible; the rounding keeps the digest stable while still
  * catching any wrong answer that differs in the sixth digit. Maps are
  * hashed as their key-sorted entry arrays, since Spark refuses to hash a
  * map directly.
  */
object Digest {

  final case class Value(rows: Long, lo: Long, hi: Long) {
    override def toString: String = s"$rows:$lo:$hi"
  }

  def of(df: DataFrame): Value = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val h = xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)),
           coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
           coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Value(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Keep 20 of the 52 mantissa bits, rounding half up on the magnitude;
    * -0.0 becomes 0.0 and every NaN the canonical NaN. */
  def roundBits(d: Double): Double =
    if (d.isNaN) Double.NaN
    else {
      val b = java.lang.Double.doubleToLongBits(d + 0.0)
      val drop = 32
      java.lang.Double.longBitsToDouble(
        (b + (1L << (drop - 1))) & ~((1L << drop) - 1))
    }

  private val roundUdf = udf((d: java.lang.Double) =>
    if (d == null) null else java.lang.Double.valueOf(roundBits(d)))

  private def needs(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(e, _) => needs(e)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case _ if !needs(t) => c
    case DoubleType | FloatType => roundUdf(c.cast(DoubleType))
    case ArrayType(e, _) => transform(c, x => normalize(x, e))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toSeq.map(f =>
        normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      normalize(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
  }
}
