package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** What a timed op produced: its result's fingerprint and schema. */
final case class Outcome(fp: Fingerprint, schema: StructType)

/** One timed call into the engine. `run` performs the call and completes
  * the result (collect or full write); `check` compares the outcome with
  * the independently computed answer, outside the timing. */
final case class Op(kind: String, layer: String, run: Tracer => Outcome, check: Outcome => Boolean,
                    frame: Option[Tracer => DataFrame] = None)

object Op {

  /** Run `op` (timed) and check it (untimed). Returns the seconds it took
    * and, when it failed or answered wrongly, why. */
  def attempt(op: Op, t: Tracer): (Double, Option[Outcome], Option[String]) = {
    val t0 = System.nanoTime()
    val outcome = try Right(t.op(op.kind)(op.run(t))) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    t.settle()
    val failure = outcome match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(o) =>
        val ok = try op.check(o) catch { case _: Throwable => false }
        if (ok) None else Some(s"wrong result: $o")
    }
    (secs, outcome.toOption, failure)
  }

  /** Expected rows coerced to the result's column types, so the
    * fingerprints of equal answers are equal bit for bit. */
  def expectedFingerprint(rows: Seq[Seq[Any]], schema: StructType): Fingerprint = {
    val types = schema.fields.map(_.dataType).toSeq
    def coerce(v: Any, t: DataType): Any = (v, t) match {
      case (null, _) => null
      case (x: Number, LongType) => x.longValue
      case (x: Number, IntegerType) => x.intValue
      case (x: Number, DoubleType) => x.doubleValue
      case (x: String, LongType) => x.toLong
      case (x, StringType) => x.toString
      case (x, _) => x
    }
    Fingerprint.ofValues(rows.map(_.zip(types).map { case (v, t) => coerce(v, t) }), types)
  }

  private def matches(expected: => Seq[Seq[Any]])(o: Outcome): Boolean =
    o.fp == expectedFingerprint(expected, o.schema)

  /** A read whose rows go to the client: timed to `collect()`. */
  def collected(kind: String, layer: String, call: Tracer => DataFrame,
                expected: => Seq[Seq[Any]]): Op =
    Op(kind, layer, t => {
      val df = call(t)
      val rows = t.span("exec")(df.collect())
      Outcome(Fingerprint.ofRows(rows, df.schema), df.schema)
    }, matches(expected))

  /** A whole-dataset op: timed to a `noop` write of every column. */
  def full(kind: String, layer: String, call: Tracer => DataFrame,
           expected: => Seq[Seq[Any]]): Op =
    Op(kind, layer, t => {
      val df = call(t)
      Outcome(t.span("exec")(Fingerprint.ofFullResult(df)), df.schema)
    }, matches(expected), Some(call))
}
