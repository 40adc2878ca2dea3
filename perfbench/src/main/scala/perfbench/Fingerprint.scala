package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A result's identity: its row count and an order-insensitive hash over
  * every column of every row. The per-row hash is Spark's `xxhash64` (seed
  * 42, nulls skipped) folded to 32 bits, so the sum over rows never
  * overflows; the same function runs in Spark (over a full result, as an
  * observed metric of the timed write) and in plain Scala (over collected
  * rows and over expected answers). */
final case class Fingerprint(rows: Long, hash: Long)

object Fingerprint {
  private val Seed = 42L

  private def internal(v: Any): Any = v match {
    case s: String => UTF8String.fromString(s)
    case other => other
  }

  def ofValues(values: Iterable[Seq[Any]], types: Seq[DataType]): Fingerprint = {
    var h = 0L
    var n = 0L
    values.foreach { row =>
      var rh = Seed
      row.zip(types).foreach { case (v, t) =>
        if (v != null) rh = XxHash64Function.hash(internal(v), t, rh)
      }
      h += rh & 0xffffffffL
      n += 1
    }
    Fingerprint(n, h)
  }

  def ofRows(rows: Array[Row], schema: StructType): Fingerprint =
    ofValues(rows.map(_.toSeq), schema.fields.map(_.dataType).toSeq)

  /** Materialize every column of `df` through the built-in `noop` sink and
    * return the result's fingerprint, computed as the rows stream by. */
  def ofFullResult(df: DataFrame): Fingerprint = {
    val obs = Observation()
    val cols: Seq[Column] = df.columns.toSeq.map(c => col(s"`$c`"))
    df.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))), lit(0L)).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Fingerprint(m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }
}
