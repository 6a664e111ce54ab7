package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive full-row digest of a result: the row count plus a
  * multiset hash. Every cell is canonicalized to a string first, so the
  * digest ignores row order and column order, and floating-point cells
  * are rounded to a fixed number of significant digits, so it is stable
  * under a different float summation order. Computed as one Spark
  * aggregate, which consumes the result in full. */
object Digest {

  final case class Value(rows: Long, hash: String)

  /** Significant digits kept for a double (and a decimal); a sum over a
    * few hundred thousand values in another order moves only the last
    * two or three of the ~16 a double carries. */
  private val DoubleFmt = "%.8e"
  /** A float carries ~7 significant digits. */
  private val FloatFmt = "%.5e"

  private def fmt(c: Column, f: String): Column =
    // `+ 0.0` folds -0.0 into 0.0; NaN and Infinity print by name
    when(c.isNull, lit(null)).otherwise(format_string(f, c.cast(DoubleType) + lit(0.0)))

  def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | _: DecimalType => fmt(c, DoubleFmt)
    case FloatType                   => fmt(c, FloatFmt)
    case ArrayType(et, _)            => transform(c, x => canon(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case BinaryType => hex(c)
    case _          => c.cast(StringType)
  }

  def of(result: DataFrame): Value = {
    // positional names, so duplicate or odd column names resolve
    val df = result.toDF(result.columns.indices.map(i => s"c$i"): _*)
    val cols = result.schema.fields.toIndexedSeq.zipWithIndex
      .sortBy { case (f, i) => (f.name.toLowerCase, i) }
      .map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    // a leading constant keeps a zero-column frame hashable
    val h = xxhash64((lit("r") +: cols): _*)
    // Two 32-bit halves summed separately: the sums cannot overflow a
    // long below 2^31 rows, and a multiset sum (unlike XOR) does not
    // cancel duplicate rows.
    val r = df.select(h.as("h"))
      .agg(
        count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Value(r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }
}
