package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a result: its sorted column names,
  * its row count and the sum of a per-row hash. Values are normalized
  * before hashing so that an engine result and its DuckDB oracle (read
  * back from parquet) agree when their values agree:
  *  - every number becomes a double; a fractional value is rounded to
  *    float precision, so summation order cannot change the hash;
  *  - NaN becomes null and -0.0 becomes 0.0;
  *  - timestamps and dates become epoch microseconds;
  *  - nested values are compared through their string form.
  */
final case class Fp(cols: String, rows: Long, hash: String) {
  override def toString: String = s"cols=[$cols] rows=$rows hash=$hash"
}

object Fingerprint {
  private def norm(f: StructField): Column = {
    val c = col(s"`${f.name}`")
    f.dataType match {
      case _: NumericType =>
        val d = c.cast(DoubleType)
        when(isnan(d), lit(null).cast(DoubleType))
          .when(d === floor(d), d + lit(0.0))
          .otherwise(d.cast(FloatType).cast(DoubleType) + lit(0.0))
      case TimestampType | TimestampNTZType | DateType =>
        unix_micros(c.cast(TimestampType))
      case StringType | BooleanType | BinaryType => c
      case _ => c.cast(StringType)
    }
  }

  private def fields(df: DataFrame): Seq[StructField] =
    df.schema.fields.toSeq.sortBy(_.name)

  private def aggs(df: DataFrame): (Column, Column) = {
    val row = xxhash64(fields(df).map(norm): _*)
    (count(lit(1)).as("fp_rows"),
      sum(row.cast(DecimalType(38, 0))).as("fp_hash"))
  }

  private def make(df: DataFrame, rows: Any, hash: Any): Fp =
    Fp(fields(df).map(_.name).mkString(","),
      rows.asInstanceOf[Long], String.valueOf(hash))

  /** `df` with an observation that yields its fingerprint once an action
    * on the returned frame has run: no extra job.
    */
  def observed(df: DataFrame): (DataFrame, () => Fp) = {
    val obs = new Observation()
    val (r, h) = aggs(df)
    (df.observe(obs, r, h), () => {
      val m = obs.get
      make(df, m("fp_rows"), m("fp_hash"))
    })
  }

  /** Fingerprint by a separate aggregation job. */
  def of(df: DataFrame): Fp = {
    val (r, h) = aggs(df)
    val row = df.agg(r, h).head()
    make(df, row.get(0), row.get(1))
  }
}
