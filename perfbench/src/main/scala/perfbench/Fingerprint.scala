package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Row count plus an order-independent content hash of a frame: the sum of
  * a 64-bit hash of every row's JSON rendering (columns renamed by position,
  * so duplicate output names are harmless). Summing makes the hash ignore
  * row order while still counting duplicate rows.
  */
object Fingerprint {
  final case class Print(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  def of(df: DataFrame): Print = {
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val rowHash = xxhash64(to_json(struct(byPos.columns.map(col).toIndexedSeq: _*)))
    val r = byPos.select(rowHash.cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    Print(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
