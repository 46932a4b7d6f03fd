package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-sided assignment: stable matching by synchronous deferred
  * acceptance. The assignment problems a data platform actually hits —
  * shards to hosts, annotation batches to raters, queries to replicas —
  * are two-sided: each side has preferences, and an assignment with a
  * BLOCKING PAIR (a shard and a host that both prefer each other over
  * what they got) gets renegotiated/thrashed. Stability is the fix, and
  * Gale–Shapley finds the proposer-optimal stable matching.
  */
object Matching {

  /** Synchronous Gale–Shapley deferred acceptance (Gale & Shapley
    * 1962): every free proposer proposes to the next entry on its
    * ranked list simultaneously; each acceptor tentatively holds the
    * best offer it has ever seen (by its own score, ties to the
    * smaller proposer id); everyone rejected — including dumped
    * incumbents — advances its pointer. Classic GS processes proposers
    * one at a time in arbitrary order; the SYNCHRONOUS rounds used
    * here produce the same proposer-optimal matching (McVitie–Wilson:
    * proposal order does not change the outcome) while being a pure
    * function of the inputs — replayable by any engine. A fixpoint is
    * reached in at most |P|·|A| rounds (each non-final round advances
    * at least one pointer); extra rounds past the fixpoint are no-ops,
    * which is what lets an oracle replay a FIXED round count.
    *
    * Exactness: ranks and scores are caller-supplied integers (derive
    * them from md5 for engine portability — the cmBucket discipline);
    * nothing here computes floats.
    *
    * Scale shape per round: the state is one row per proposer —
    * (p, ptr, a), a null while free; one (p, rank)-keyed pointer lookup
    * for the free, one per-acceptor argmax window (offer-dimension
    * partitions), two joins that advance rejected pointers and record
    * the held offers — every table is preference-list-sized and cut
    * per round ([[Iterate.fixedPoint]]). Proposers whose list is
    * exhausted simply stop proposing (their pointer walks off the
    * end). A round's cut observes (Σ ptr, #engaged): each rejection
    * advances a pointer and each accepted proposal adds an engagement,
    * so both unchanged means nobody proposed — the fixpoint.
    *
    * @param propPrefs (p, a, rank) — proposer p's 0-based preference
    *                  rank of acceptor a (0 = most preferred); one row
    *                  per (p, a) pair p is willing to match
    * @param accScores (a, p, score) — acceptor a's integer score for
    *                  proposer p (higher = preferred)
    * @param maxRounds round cap; the default −1 DERIVES the worst-case
    *                  bound |propPrefs| + 1 from the input (every
    *                  non-final round advances at least one pointer and
    *                  pointers walk each preference row at most once, so
    *                  the fixpoint arrives within one round per
    *                  preference-list row — the displacement-chain worst
    *                  case, where max rank stays tiny but a dump cascade
    *                  crosses every proposer, actually reaches Θ(|P|)
    *                  rounds, which is why no fixed constant is safe).
    *                  An explicit cap tighter than the true bound still
    *                  fails loudly via the convergence `require`.
    * @return matched pairs (p, a, rank_used) */
  def stableMatching(propPrefs: DataFrame, accScores: DataFrame,
      maxRounds: Int = -1): DataFrame = {
    require(maxRounds >= 1 || maxRounds == -1,
      s"maxRounds must be >= 1 (or -1 = derive from input), got $maxRounds")
    val pp = Iterate.cut(propPrefs.select(col("p").cast("long").as("p"),
      col("a").cast("long").as("a"), col("rank").cast("long").as("rank")))
    // the derived bound is one bounded count over the (input-sized)
    // preference table — the IVF probe-ranking cost class, not a
    // corpus-sized collect
    val roundCap: Long =
      if (maxRounds >= 1) maxRounds.toLong else pp.count() + 1L
    val pa = Iterate.cut(accScores.select(col("a").cast("long").as("a"),
      col("p").cast("long").as("p"),
      col("score").cast("long").as("score")))
    val init = pp.select("p").distinct()
      .select(col("p"), lit(0L).as("ptr"), lit(null).cast("long").as("a"))
    // every per-round table is cut AND re-aliased through toDF: the
    // loop joins each round's output against tables sharing the same
    // ancestry (pp/pa), and without fresh expr-ids Catalyst sees
    // self-join attribute collisions
    val (state, converged) = Iterate.fixedPoint(init, roundCap,
        sum("ptr"), count(col("a"))) { cut =>
      val st = cut.toDF("p", "ptr", "a")
      val props = st.filter(col("a").isNull)
        .join(pp.toDF("pp_p", "pp_a", "pp_rank"),
          col("p") === col("pp_p") && col("ptr") === col("pp_rank"))
        .select(col("p"), col("pp_a").as("a"))
      val cands = Iterate.cut(props.unionByName(
        st.filter(col("a").isNotNull).select("p", "a"))).toDF("p", "a")
      val w = Window.partitionBy("a")
        .orderBy(desc("score"), col("p"))
      val winners = Iterate.cut(cands.join(pa, Seq("a", "p"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("p", "a")).toDF("p", "a")
      val losers = cands.exceptAll(winners)
        .select("p").distinct()
        .withColumn("__lost", lit(1L))
      st.select("p", "ptr").join(losers, Seq("p"), "left")
        .join(winners, Seq("p"), "left")
        .select(col("p"),
          (col("ptr") + coalesce(col("__lost"), lit(0L))).as("ptr"), col("a"))
    }
    require(converged, s"stableMatching did not converge in $roundCap rounds")
    state.toDF("p", "ptr", "a").join(pp.toDF("p", "a", "rank"), Seq("p", "a"))
      .select(col("p"), col("a"), col("rank").as("rank_used"))
  }
}
