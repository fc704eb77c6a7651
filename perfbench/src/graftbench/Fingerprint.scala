package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query's output, computed the same way
  * on the DuckDB side (perfbench/oracle.py), so an output check moves three
  * numbers instead of the rows:
  *
  *  - each row becomes the `|`-joined canonical strings of its columns in
  *    name order: integers and booleans as SQL casts to string, floating
  *    point as `floor(x * 1e6 + 0.5)` (the contract's 6-decimal law), NULL
  *    as `\N`;
  *  - `count` is the row count, `sum` the sum of the first 32 bits of each
  *    row's md5, `xor` the XOR of the next 60 bits.
  */
final case class Fingerprint(columns: Seq[String], count: Long, sum: Long, xor: Long)

object Fingerprint {

  private def canon(df: DataFrame, name: String): Column = {
    val c = df.col(s"`$name`")
    df.schema(name).dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | StringType =>
        c.cast("string")
      case FloatType | DoubleType | _: DecimalType =>
        val d = c.cast("double")
        when(isnan(d), lit("NaN"))
          .when(d === lit(Double.PositiveInfinity), lit("inf"))
          .when(d === lit(Double.NegativeInfinity), lit("-inf"))
          .otherwise(floor(d * lit(1e6) + lit(0.5)).cast("long").cast("string"))
      case t => throw new IllegalArgumentException(
        s"output column $name has type ${t.simpleString}, which the output check cannot compare")
    }
  }

  def apply(df: DataFrame): Fingerprint = {
    val cols = df.columns.toSeq.sorted
    val row = concat_ws("|", cols.map(c => coalesce(canon(df, c), lit("\\N"))): _*)
    def hexBits(from: Int, len: Int) = conv(substring(col("m"), from, len), 16, 10).cast("long")
    val r = df.select(md5(row.cast("binary")).as("m"))
      .agg(count(lit(1)), coalesce(sum(hexBits(1, 8)), lit(0L)),
        coalesce(bit_xor(hexBits(9, 15)), lit(0L)))
      .head()
    Fingerprint(cols, r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
