package graft.ops

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, Statistics}

/** The one iteration driver of the graph, dedup and matching loops: it
  * cuts lineage and decides when rounds stop.
  *
  * Lineage must be cut every round. `persist` alone is not enough: a
  * round's plan nests the previous round's plan (often twice), so the
  * tree doubles per round and Spark stringifies the whole analyzed plan
  * on every action (observed: 2609 s at sf0.1 for a components loop).
  * `localCheckpoint` materializes the round and every round then plans
  * a constant-size tree. On a real cluster a reliable `checkpoint`
  * survives executor loss; switching is a change inside [[cut]] only.
  *
  * The checkpoint keeps the origin plan's size estimate, and an inner
  * join multiplies its inputs' estimates, so uncapped the estimate
  * grows geometrically with the round count (a 60-million-bit `BigInt`
  * by round 21 of a components loop, seconds of driver time per round).
  * [[cut]] caps it at `Long.MaxValue`; below the cap it is unchanged,
  * and [[Skew.sizedParallelism]] already reads anything above
  * `Long.MaxValue / 2` as unknown, so plans do not move. */
object Iterate {

  private val MaxEstimate = BigInt(Long.MaxValue)

  private def capped(s: Statistics): Statistics =
    if (s.sizeInBytes <= MaxEstimate) s else s.copy(sizeInBytes = MaxEstimate)

  /** Materializes `df` and cuts its lineage, size estimate capped. */
  def cut(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    GraftSqlBridge.withStats(cp, capped(cp.queryExecution.logical.stats))
  }

  /** `n` rounds of `step` from `init`; the input and every round's
    * output are cut. */
  def rounds(init: DataFrame, n: Int)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(cut(init))((cur, _) => cut(step(cur)))

  /** One cut round: the frame and the values of the fixed-point signal
    * aggregates, collected by `observe` during the cut's own job. */
  final case class Round(df: DataFrame, signal: Seq[Any])

  private def observedCut(df: DataFrame, signal: Seq[Column]): Round = {
    val obs = Observation()
    val observed = df.observe(obs, signal.head, signal.tail: _*)
    val cp = observed.localCheckpoint()
    // the estimate of `df` itself: the metrics node above it reports an
    // empty frame's 0 bytes as 1
    val est = observed.queryExecution.optimizedPlan match {
      case m: CollectMetrics => m.child.stats
      case p => p.stats
    }
    val values = obs.get
    Round(GraftSqlBridge.withStats(cp, capped(est)),
      signal.indices.map(i => values(s"__signal$i")))
  }

  /** Runs `step` from `init` until `done(previous, next)` holds or
    * `maxRounds` rounds have run, and returns the last frame and
    * whether it converged. The input and every round's output are cut,
    * and the `signal` aggregates are observed during that cut, so
    * deciding convergence costs no job of its own. The default `done`
    * stops when the signal repeats — exact for states that only shrink
    * or only improve, where an unchanged (count, sum) means an
    * unchanged state. */
  def fixedPoint(init: DataFrame, maxRounds: Long, signal: Column*)(
      step: DataFrame => DataFrame,
      done: (Round, Round) => Boolean = _.signal == _.signal): (DataFrame, Boolean) = {
    require(signal.nonEmpty, "fixedPoint needs at least one signal aggregate")
    val named = signal.zipWithIndex.map { case (c, i) => c.as(s"__signal$i") }
    @tailrec def go(prev: Round, round: Long): (DataFrame, Boolean) =
      if (round >= maxRounds) (prev.df, false)
      else {
        val next = observedCut(step(prev.df), named)
        if (done(prev, next)) (next.df, true) else go(next, round + 1)
      }
    go(observedCut(init, named), 0L)
  }
}
