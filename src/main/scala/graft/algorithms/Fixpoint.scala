package graft.algorithms

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit, when}

/**
 * The one round loop of the distributed iterative operators (BFS
 * frontiers, peels, Luby rounds, Kleene closures): each round is
 * materialized by ONE eager local checkpoint, and the row count that
 * decides whether to go on is observed by that same job
 * (`Dataset.observe`), so no round pays a separate `count()` (2 more jobs
 * on a checkpoint) or `isEmpty` (1 more). The observed count reads 0 on
 * an empty or zero-partition frame.
 */
private[graft] object Fixpoint {

  /** `df` eagerly checkpointed, with `metrics` (aggregates over its rows)
    * evaluated in the checkpoint's own job. */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val names = metrics.indices.map(i => s"m$i")
    val cp = df.observe(obs, metrics.head.as(names.head),
      metrics.tail.zip(names.tail).map { case (m, n) => m.as(n) }: _*)
      .localCheckpoint(true)
    val got = obs.get
    (cp, Row.fromSeq(names.map(got)))
  }

  /** `df` eagerly checkpointed, with its row count. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val (cp, r) = observed(df, count(lit(1)))
    (cp, r.getLong(0))
  }

  /** One round of [[run]]: `frame` is checkpointed once; `delta` marks the
    * rows that changed this round (all of them by default), and their
    * count, observed in the checkpoint job, ends the loop at 0; `next`
    * builds the following state from the checkpointed frame and that
    * count. */
  final case class Round[S](frame: DataFrame, delta: Column = lit(true))(
      val next: (DataFrame, Long) => S)

  /** Runs `step(state, round)` for rounds 1, 2, … from `init`, applying
    * each round's `next`, and stops after the first round whose delta is
    * empty or after `maxRounds` rounds. Returns the final state and the
    * number of rounds run (an empty last round included). */
  def run[S](init: S, maxRounds: Int)(step: (S, Int) => Round[S]): (S, Int) = {
    var state = init
    var r = 0
    var done = false
    while (!done && r < maxRounds) {
      r += 1
      val round = step(state, r)
      val (cp, m) = observed(round.frame, count(when(round.delta, 1)))
      val n = m.getLong(0)
      state = round.next(cp, n)
      done = n == 0
    }
    (state, r)
  }
}
