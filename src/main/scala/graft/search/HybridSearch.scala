package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.embed.{Embedder, HashingEmbedder}
import graft.functions.GraftFunctions._
import graft.text.Bm25

/** T1-T3 / J4 / A5 — hybrid (dense + BM25) top-k with RRF fusion.
  *
  * The reference issues one Qdrant `query_points` call with two prefetch
  * branches (dense cosine, sparse BM25, each `limit = 5×k`) fused by
  * Reciprocal-Rank-Fusion and post-filtered by `score_threshold`
  * (`/root/reference/chatbot/app.py:110-191`). Here both branches are
  * Spark plans over the index table:
  *
  *  - dense: codegen'd [[graft.functions.CosineSimilarity]] scan +
  *    `orderBy(desc).limit(n)` — Catalyst plans `TakeOrderedAndProject`,
  *    a per-partition top-n + driver merge, NO global sort/shuffle, so
  *    it scales linearly with executors.
  *  - sparse: query terms are a handful of literals, so the token
  *    explode is filtered to them *before* any aggregation; doc-frequency
  *    stats arrive via a broadcast join (dimension side is tiny).
  *  - fusion: full-outer join of the two ranked branch results (both
  *    ≤ 5k rows — driver-scale), RRF `Σ 1/(rrfK + rank)`.
  *
  * RRF constant k=60 (the published default the reference inherits
  * server-side) is explicit config here so results are self-contained.
  */
object HybridSearch {

  /** @param rrfScoreThreshold applied to the RRF-fused score, which is
    *   bounded by 2/(rrfK+1) ≈ 0.033 — deliberately NOT named like the
    *   reference's `score_threshold` (default 0.4), which applies to
    *   store-native fused scores; porting that value here would silently
    *   return zero results, so the ceiling is validated.
    * @param postings when supplied (an
    *   [[graft.index.IndexWriter.postings]] table — term, id, tf, dl),
    *   every sparse branch in this object routes through
    *   [[bm25TopKPostings]]: the query's terms join the postings table
    *   and the chunk index's token arrays are NEVER scanned — the
    *   serving posture, where per-request sparse cost is proportional
    *   to the matched postings, not the corpus. `None` keeps the
    *   scan-path (correct for one-shot/oracle plans that would pay the
    *   postings build anyway). Scores are identical either way
    *   (HybridSearchSpec asserts bit-equality; q356 oracles it).
    * @param termBounds when supplied TOGETHER with `postings` (an
    *   [[graft.index.IndexWriter.termBounds]] table — term, max_tf,
    *   min_dl), the sparse branch routes through [[bm25TopKMaxScore]]:
    *   candidate generation enumerates only the ESSENTIAL terms'
    *   postings (Turtle & Flood's MaxScore), so a query mixing one rare
    *   term with stopword-frequency terms never materializes the
    *   stopwords' corpus-sized posting lists as candidates. Results
    *   stay EXACTLY [[bm25TopKPostings]]'s (the pruning bound is
    *   conservative in u6 fixed point — HybridSearchSpec asserts
    *   bit-equality, q367 oracles the pruning replay).
    * @param blockBounds when supplied TOGETHER with `postings` (an
    *   [[graft.index.IndexWriter.blockBounds]] table, built with
    *   `nBlocks`), the sparse branch routes through
    *   [[bm25TopKBlockMax]] — the block-max refinement over MaxScore
    *   (term bounds derive from the block table, so supplying this
    *   alone enables both tiers). Results identical to every other
    *   sparse route.
    * @param dense the route that serves the dense prefetch ([[Dense]]);
    *   the sparse branch and RRF fusion are the same on every route. */
  final case class Config(
      k: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      prefetchMultiplier: Int = 5,  // config.yml:60
      rrfK: Int = 60,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None,
      nBlocks: Int = 64,
      dense: Dense = Dense.Exact) {
    /** The largest RRF score a document can reach: rank 1 in both
      * branches. */
    def maxRrfScore: Double = 2.0 / (rrfK + 1)
    require(rrfScoreThreshold <= maxRrfScore,
      s"rrfScoreThreshold=$rrfScoreThreshold exceeds the maximum possible " +
        s"RRF score 2/(rrfK+1)=$maxRrfScore: every result would be " +
        "filtered. The reference's score_threshold (default 0.4) applies to " +
        "store-native scores, not RRF — do not port it verbatim.")
  }

  /** The route that serves the dense prefetch of [[search]] and
    * [[searchAll]]. Routes differ only in how the prefetch-n nearest
    * vectors are found; each hands the fusion exact cosine scores. */
  sealed trait Dense
  object Dense {
    /** Exact cosine scan of every vector ([[denseTopK]]). */
    case object Exact extends Dense

    /** Probe `nProbe` cells of a prebuilt
      * [[graft.ops.Similarity.IvfIndex]] and rank exactly within them
      * — nProbe/nCentroids of the corpus when the index is
      * [[graft.ops.Similarity.IvfIndex.writePartitioned]]. Results
      * differ from [[Exact]] only when a true neighbour lies outside
      * the probed cells, the recall/cost dial the
      * [[graft.ops.Similarity.RandomHyperplaneIndex.recallAudit]]
      * family of audits measures. */
    final case class Ivf(ivf: graft.ops.Similarity.IvfIndex, nProbe: Int = 4)
        extends Dense

    /** [[Ivf]] served from int8-quantized codes
      * ([[graft.ops.Similarity.IvfIndex.queryQuantized]]): the probed
      * cells rank by integer code dot products (4× less scan bandwidth
      * than floats), then the top `rerankN` survivors get their exact
      * cosine back. `rerankN` is the recall/bandwidth dial q374
      * measures; it is floored at the prefetch size so the branch can
      * always fill its quota. */
    final case class Int8(ivf: graft.ops.Similarity.IvfIndex,
        nProbe: Int = 4, rerankN: Int = 50) extends Dense

    /** Walk a prebuilt HNSW graph ([[HnswServing]],
      * [[graft.ops.Similarity.HnswIndex.search]]): O(ef · hops · deg)
      * graph rows per query instead of a corpus scan. `ef`/`hops` are
      * the recall/cost dials. */
    final case class Hnsw(hs: HnswServing, ef: Int = 16, hops: Int = 3)
        extends Dense
  }

  /** T2 — dense branch: exact cosine top-n (TakeOrderedAndProject). */
  def denseTopK(index: DataFrame, queryVec: Array[Float], n: Int,
      idCol: String = "id", vecCol: String = "dense_vec"): DataFrame =
    index
      // rounded to 6dp before ranking: fp-accumulation-order independent
      .withColumn("dense_score", round(vecCosine(col(vecCol), typedlit(queryVec)), 6))
      .orderBy(desc("dense_score"), col(idCol))
      .limit(n)
      .select(col(idCol), col("dense_score"))

  /** T3 — sparse branch: BM25 top-n against pre-computed doc frequencies.
    *
    * @param docStats (term, df) table from [[graft.index.IndexWriter.docFrequencies]]
    * @param corpusSize total docs N; avgDocLen mean token count
    */
  def bm25TopK(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, queryTerms: Seq[String], n: Int,
      idCol: String = "id", tokensCol: String = "tokens"): DataFrame = {
    val terms = queryTerms.distinct
    // empty branch derives its schema from the INPUT so the id type
    // always matches the caller's index (a lit("") id would diverge
    // for non-string ids — same hazard fixed at phraseMatches :840)
    if (terms.isEmpty) return index
      // null-typed literal: the non-empty branch's sum() is nullable,
      // so the empty frame must be too for schema equality
      .select(col(idCol), lit(null).cast("double").as("bm25_score")).limit(0)
    topBm25(index
      .select(col(idCol), size(col(tokensCol)).as("dl"),
        explode(col(tokensCol)).as("term"))
      .filter(col("term").isin(terms: _*))     // prune before the shuffle
      .groupBy(col(idCol), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf")),
      docStats, corpusSize, avgDocLen, terms, n, idCol)
  }

  /** The scoring tail every single-query sparse path ends with: (term,
    * id, tf, dl) rows join the query terms' df stats (broadcast), BM25
    * term scores sum per doc at 6dp, top-n. */
  private def topBm25(tfRows: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, terms: Seq[String], n: Int,
      idCol: String): DataFrame =
    tfRows
      .join(broadcast(docStats.filter(col("term").isin(terms: _*))), Seq("term"))
      .withColumn("term_score", termScoreCol(corpusSize, avgDocLen,
        col("tf"), col("dl"), col("df")))
      .groupBy(col(idCol))
      .agg(round(sum("term_score"), 6).as("bm25_score"))
      .orderBy(desc("bm25_score"), col(idCol))
      .limit(n)

  /** T3 SERVED FROM THE INVERTED INDEX — [[bm25TopK]] semantics with
    * per-request work proportional to the MATCHED POSTINGS, not the
    * corpus: the query's few terms filter the (term, id, tf, dl)
    * postings table (at scale term-partitioned/bucketed, so the filter
    * is partition pruning), doc-frequency stats broadcast, and the same
    * BM25 arithmetic runs over rows that already carry tf and dl — no
    * token-array explode, no corpus scan, no per-document aggregation
    * (tf was aggregated once at index-build time). Scores equal
    * [[bm25TopK]] bit-for-bit: identical expressions over identical
    * (tf, dl, df) values, same 6dp rounding. */
  def bm25TopKPostings(postings: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, queryTerms: Seq[String], n: Int,
      idCol: String = "id"): DataFrame = {
    val terms = queryTerms.distinct
    // schema from the postings frame, not lit("") — see bm25TopK
    if (terms.isEmpty) return postings
      .select(col("id").as(idCol),
        lit(null).cast("double").as("bm25_score")).limit(0)
    topBm25(postings
      .filter(col("term").isin(terms: _*))     // partition-prunable at scale
      .select(col("term"), col("id").as(idCol), col("tf"), col("dl")),
      docStats, corpusSize, avgDocLen, terms, n, idCol)
  }

  /** The BM25 term-score expression shared by every sparse path —
    * identical arithmetic everywhere is what makes the pruned/postings/
    * scan variants bit-equal. */
  private def termScoreCol(corpusSize: Long, avgDocLen: Double,
      tf: Column, dl: Column, df: Column): Column =
    log(lit(1.0) + (lit(corpusSize.toDouble) - df + 0.5) / (df + 0.5)) *
      tf * lit(Bm25.k1 + 1.0) /
      (tf + lit(Bm25.k1) * (lit(1.0 - Bm25.b) + lit(Bm25.b) * dl / lit(avgDocLen)))

  /** The MaxScore pruning decision, exposed so audits/oracles can
    * replay it: which query terms are ESSENTIAL — i.e. must have their
    * postings enumerated as candidates — for an exact top-n.
    *
    * All bound arithmetic is u6 fixed point (micro-units, the house
    * rounding convention) so any engine reproduces the identical
    * decision:
    *
    *  - `ub6(t) = round(idf(t) · tfnorm(max_tf, min_dl) · 10⁶) + 1` — a
    *    STRICT upper bound on every true term score ×10⁶ (tfnorm is
    *    monotone up in tf, down in dl; the +1 absorbs the rounding
    *    half-ulp).
    *  - `θ6 = (n-th largest round(score(tθ, d) · 10⁶)) − 1` over the
    *    single highest-ub term tθ's postings (tie on term name asc) — a
    *    STRICT lower bound on the true k-th best full score ×10⁶ (those
    *    n docs' full scores each dominate their tθ term score; the −1
    *    absorbs the half-ulp). Fewer than n matches → θ6 = −1 (no
    *    pruning; ub6 ≥ 1 > 0 keeps every term essential).
    *  - non-essential = the maximal prefix of terms sorted (ub6 asc,
    *    term asc) whose running ub6 sum stays < θ6: a doc matching only
    *    those terms scores strictly under θ6 even after the final 6dp
    *    round, so it can neither enter the top-n nor tie its boundary.
    *
    * tθ itself is always essential (its ub6 ≥ any single-term score +1
    * > θ6). A query term present in the corpus stats but ABSENT from
    * `termBounds` (add-side bounds lag: bounds built before a postings
    * merge landed, or a crashed stream batch) has NO valid upper bound
    * — it is reported unconditionally essential with the sentinel ub6
    * Long.MaxValue (and never joins the running sum), so stale-add
    * bounds degrade to LESS pruning, never to silently dropped
    * documents. Driver-side cost is |queryTerms| rows of stats plus one
    * n-row top list over ONE term's postings — request-scale, never
    * corpus-scale. */
  def maxScorePrune(postings: DataFrame, docStats: DataFrame,
      termBounds: DataFrame, corpusSize: Long, avgDocLen: Double,
      queryTerms: Seq[String], n: Int): (Long, Seq[(String, Long, Boolean)]) = {
    val terms = queryTerms.distinct
    val ubs = termBounds.filter(col("term").isin(terms: _*))
      .join(broadcast(docStats.filter(col("term").isin(terms: _*))), Seq("term"))
      .select(col("term"),
        (round(termScoreCol(corpusSize, avgDocLen,
            col("max_tf").cast("double"), col("min_dl").cast("double"),
            col("df")) * 1000000, 0).cast("long") + 1).as("ub6"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, u) => (u, t) }
    // terms the corpus KNOWS (df exists → postings may exist) but the
    // bounds table doesn't: no valid upper bound → forced essential
    val known = ubs.map(_._1).toSet
    val unbounded = docStats.filter(col("term").isin(terms: _*))
      .select("term").collect().map(_.getString(0))
      .filterNot(known).sorted
      .map(t => (t, Long.MaxValue, true))
    if (ubs.isEmpty) return (-1L, unbounded.toSeq)
    val thetaTerm = ubs.sortBy { case (t, u) => (-u, t) }.head._1
    val topTheta = postings.filter(col("term") === thetaTerm)
      .select((round(termScoreCol(corpusSize, avgDocLen,
          col("tf").cast("double"), col("dl").cast("double"),
          lit(docStatsDf(docStats, thetaTerm))) * 1000000, 0).cast("long"))
        .as("s6"), col("id"))
      .orderBy(desc("s6"), col("id"))
      .limit(n)
      .collect().map(_.getLong(0))
    val theta6 = if (topTheta.length < n) -1L else topTheta.last - 1L
    // the running sum is strictly increasing (ub6 ≥ 1), so the
    // non-essential flags form a prefix by construction; tθ's own ub6
    // exceeds θ6, so tθ is always essential
    var run = 0L
    (theta6, ubs.map { case (t, u) =>
      run += u
      (t, u, run >= theta6)
    } ++ unbounded)
  }

  /** df of one term as a driver scalar (θ-term scoring needs it as a
    * literal so the single-term plan is a pure postings filter). */
  private def docStatsDf(docStats: DataFrame, term: String): Double =
    docStats.filter(col("term") === term).select(col("df").cast("double"))
      .collect().headOption.map(_.getDouble(0)).getOrElse(0.0)

  /** [[bm25TopKPostings]] results with MAXSCORE candidate pruning
    * (Turtle & Flood 1995): only the essential terms' postings
    * generate candidate documents; non-essential (stopword-grade)
    * terms are consulted solely to complete the scores of docs already
    * admitted — a keyed semi-join lookup, never an enumeration. At
    * 100 TB the difference is a query like "the supreme court of
    * nunavut" never materializing "the"/"of"'s corpus-sized posting
    * lists as candidates while still scoring them for the handful of
    * docs the rare terms admit. Output is EXACTLY [[bm25TopKPostings]]
    * — the u6 bounds in [[maxScorePrune]] are conservative, so no
    * true top-n doc (or boundary tie) is ever pruned. */
  def bm25TopKMaxScore(postings: DataFrame, docStats: DataFrame,
      termBounds: DataFrame, corpusSize: Long, avgDocLen: Double,
      queryTerms: Seq[String], n: Int, idCol: String = "id"): DataFrame = {
    val terms = queryTerms.distinct
    val (_, flags) = maxScorePrune(postings, docStats, termBounds,
      corpusSize, avgDocLen, terms, n)
    if (flags.isEmpty)
      return bm25TopKPostings(postings, docStats, corpusSize, avgDocLen,
        terms, n, idCol)
    val essential = flags.collect { case (t, _, true) => t }
    val candidates = postings.filter(col("term").isin(essential: _*))
      .select(col("id")).distinct()
    scoreCandidates(postings, docStats, corpusSize, avgDocLen, terms,
      candidates, n, idCol)
  }

  /** The exact-scoring epilogue every pruned sparse path ends with:
    * full BM25 over all query terms, restricted to the admitted
    * candidate ids, top-n. */
  private def scoreCandidates(postings: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, terms: Seq[String],
      candidates: DataFrame, n: Int, idCol: String): DataFrame =
    topBm25(postings
      .filter(col("term").isin(terms: _*))
      .join(candidates, Seq("id"), "left_semi")
      .select(col("term"), col("id").as(idCol), col("tf"), col("dl")),
      docStats, corpusSize, avgDocLen, terms, n, idCol)

  /** BLOCK-MAX pruning (Ding & Suel's BMW, relationally) — the block
    * refinement of [[maxScorePrune]]: even an ESSENTIAL term's
    * postings skip whole hash blocks whose block-level bound cannot
    * lift any resident into the top-n. Soundness, all in the same u6
    * fixed point: a true top-n doc d has score·10⁶ ≥ θ6 and, for every
    * query term t it contains, score(d)·10⁶ < ub6(t, block_t(d)) +
    * Σ_{t'≠t} ub6(t') — so if that bound sits under θ6 the (t, block)
    * pair can admit no top-n doc through t, and if ALL of d's essential
    * (t, block) pairs are pruned the chain of inequalities puts
    * score(d) under θ6, a contradiction. Blocks therefore survive iff
    * `ub6(t, b) + (totalUb − ub6(t)) ≥ θ6`. Block bounds never exceed
    * their term bound (max/min compose monotonically), so this only
    * tightens [[bm25TopKMaxScore]]'s candidate set; results stay
    * EXACT.
    *
    * Returns (θ6, term flags as in [[maxScorePrune]], the surviving
    * (term, block, ub6b) frame over essential terms). */
  def blockMaxPrune(postings: DataFrame, docStats: DataFrame,
      blocks: DataFrame, corpusSize: Long, avgDocLen: Double,
      queryTerms: Seq[String], n: Int)
      : (Long, Seq[(String, Long, Boolean)], DataFrame) = {
    val terms = queryTerms.distinct
    val tb = graft.index.IndexWriter.termBoundsFromBlocks(
      blocks.filter(col("term").isin(terms: _*)))
    val (theta6, flags) = maxScorePrune(postings, docStats, tb,
      corpusSize, avgDocLen, terms, n)
    // Add-side bound lag: a term the stats know but `blocks` doesn't
    // carries the Long.MaxValue sentinel ub6 from [[maxScorePrune]].
    // It must stay OUT of totalUb/restCol — summing the sentinel
    // overflows Long and the garbage restCol would prune every bounded
    // term's blocks. The bounded-only remainder stays sound: a top-n
    // doc containing the lagged term is admitted unconditionally
    // through its postings in [[bm25TopKBlockMax]], and one that
    // doesn't contain it satisfies the pruning chain over bounded
    // terms alone, whose true remainder the bounded-only restCol still
    // over-estimates. (A lagged term also has no rows in `blocks`, so
    // it contributes no surviving-block rows here either way.)
    val boundedFlags = flags.filter(_._2 != Long.MaxValue)
    val essential = boundedFlags.collect { case (t, _, true) => t }
    val totalUb = boundedFlags.map(_._2).sum
    // per-term remainder Σ_{t'≠t} ub6(t') as a literal when-chain —
    // query-vocabulary-sized, folded into codegen
    val restCol = boundedFlags.foldLeft(lit(0L): Column) {
      case (acc, (t, u, _)) =>
        when(col("term") === t, lit(totalUb - u)).otherwise(acc)
    }
    val surviving = blocks
      .filter(col("term").isin(essential: _*))
      .join(broadcast(docStats.filter(col("term").isin(terms: _*))),
        Seq("term"))
      .withColumn("ub6b",
        round(termScoreCol(corpusSize, avgDocLen,
          col("max_tf").cast("double"), col("min_dl").cast("double"),
          col("df")) * 1000000, 0).cast("long") + lit(1L))
      .filter(col("ub6b") + restCol >= theta6)
      .select(col("term"), col("block"), col("ub6b"))
    (theta6, flags, surviving)
  }

  /** [[bm25TopKMaxScore]] with BLOCK-MAX candidate generation: only
    * surviving (term, block) pairs of essential terms admit candidates
    * — with postings persisted bucketed by (term_bucket, block) the
    * skip is physical partition pruning, the score-aware analog of
    * row-group min/max. Results are EXACTLY [[bm25TopKPostings]]'s
    * (q373 oracles the replay; HybridSearchSpec asserts equality).
    *
    * @param nBlocks MUST equal the value `blocks` was built with
    *   ([[graft.index.IndexWriter.blockBounds]]) — the candidate pass
    *   re-derives each posting's block with the same
    *   `pmod(xxhash64(id), nBlocks)`; a mismatch would mis-route
    *   postings past their surviving blocks. */
  def bm25TopKBlockMax(postings: DataFrame, docStats: DataFrame,
      blocks: DataFrame, corpusSize: Long, avgDocLen: Double,
      queryTerms: Seq[String], n: Int, nBlocks: Int = 64,
      idCol: String = "id"): DataFrame = {
    val terms = queryTerms.distinct
    val (_, flags, surviving) = blockMaxPrune(postings, docStats, blocks,
      corpusSize, avgDocLen, terms, n)
    if (flags.isEmpty)
      return bm25TopKPostings(postings, docStats, corpusSize, avgDocLen,
        terms, n, idCol)
    // A term lagging behind `blocks` (sentinel ub6) has no block rows,
    // so the surviving-blocks semi-join would silently drop every doc
    // it admits; its postings enter the candidate set UNCONDITIONALLY —
    // the block refinement degrades to MaxScore for that term, never
    // to missing documents.
    val essentialBounded =
      flags.collect { case (t, u, true) if u != Long.MaxValue => t }
    val essentialUnbounded =
      flags.collect { case (t, u, true) if u == Long.MaxValue => t }
    val blockCands = postings
      .filter(col("term").isin(essentialBounded: _*))
      .withColumn("block", graft.index.IndexWriter.blockOf("id", nBlocks))
      .join(broadcast(surviving.select("term", "block")),
        Seq("term", "block"), "left_semi")
      .select(col("id"))
    val candidates = (if (essentialUnbounded.isEmpty) blockCands
      else blockCands.union(postings
        .filter(col("term").isin(essentialUnbounded: _*))
        .select(col("id")))).distinct()
    scoreCandidates(postings, docStats, corpusSize, avgDocLen, terms,
      candidates, n, idCol)
  }

  /** BATCHED [[maxScorePrune]] — the pruning decision for a whole
    * query TABLE in one plan, no driver loop: per-(query, term) upper
    * bounds from broadcast stats joins, each query's θ-term by a
    * per-query rank window, every θ-term's postings scored in ONE
    * term-keyed lookup (the θ-terms broadcast — query-vocabulary
    * scale), per-query θ via [[graft.plans.TopK]] bounded heaps, and
    * the essential flags via a per-query cumulative-sum window over
    * the handful of (query, term) rows. Identical u6 arithmetic to
    * the single-query form, so per-query decisions match it exactly —
    * including the stale-add-bounds rule: a (query, term) whose term
    * the stats know but `termBounds` doesn't carries a NULL ub6, never
    * joins the running sum, and is unconditionally essential.
    *
    * @param qTerms distinct (query_id, term) rows
    * @return (query_id, term, ub6, theta6, essential) */
  def maxScorePruneAll(postings: DataFrame, docStats: DataFrame,
      termBounds: DataFrame, corpusSize: Long, avgDocLen: Double,
      qTerms: DataFrame, n: Int): DataFrame = {
    val allTerms = qTerms.select("term").distinct()
    val stats = broadcast(docStats
      .join(broadcast(allTerms), Seq("term"), "left_semi"))
    val ub = qTerms
      .join(stats, Seq("term"))
      .join(broadcast(termBounds
        .join(broadcast(allTerms), Seq("term"), "left_semi")), Seq("term"),
        "left")
      .withColumn("ub6",
        when(col("max_tf").isNull, lit(null).cast("long"))
          .otherwise(round(termScoreCol(corpusSize, avgDocLen,
            col("max_tf").cast("double"), col("min_dl").cast("double"),
            col("df")) * 1000000, 0).cast("long") + lit(1L)))
      .select("query_id", "term", "ub6")
    val wTheta = Window.partitionBy("query_id").orderBy(desc("ub6"), col("term"))
    val thetaTerms = ub.withColumn("__rn", row_number().over(wTheta))
      .filter(col("__rn") === 1).select("query_id", "term")
    val thetaScores = postings
      .join(broadcast(thetaTerms), Seq("term"))
      .join(stats, Seq("term"))
      .withColumn("s6",
        round(termScoreCol(corpusSize, avgDocLen,
          col("tf").cast("double"), col("dl").cast("double"),
          col("df")) * 1000000, 0).cast("long"))
      .select("query_id", "id", "s6")
    val thetas = graft.plans.TopK.perKey(thetaScores, Seq("query_id"),
        Seq(("s6", false), ("id", true)), n)
      .groupBy("query_id")
      .agg(count(lit(1)).as("__c"), min("s6").as("__m"))
      .select(col("query_id"),
        when(col("__c") < n, lit(-1L)).otherwise(col("__m") - 1)
          .as("theta6"))
    val wCum = Window.partitionBy("query_id")
      .orderBy(col("ub6"), col("term"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // sum() skips NULL ub6 rows, so unbounded terms never inflate the
    // running bound of the known terms behind them; they are forced
    // essential outright
    ub.withColumn("__run", sum("ub6").over(wCum))
      .join(broadcast(thetas), Seq("query_id"), "left")
      .select(col("query_id"), col("term"), col("ub6"),
        coalesce(col("theta6"), lit(-1L)).as("theta6"),
        (col("ub6").isNull || coalesce(col("__run"), lit(0L)) >=
          coalesce(col("theta6"), lit(-1L))).as("essential"))
  }

  /** BATCHED [[bm25TopKMaxScore]]: exact per-query top-n for a whole
    * query table with MaxScore-pruned candidate generation, in ONE
    * plan. Candidates come only from essential (query, term) postings;
    * the full-scoring pass first semi-joins postings down to the UNION
    * of candidate docs (so non-candidate corpus rows leave the plan
    * before the per-query fan-out), then restricts per (query_id, id).
    * Per-query results equal [[bm25TopKMaxScore]] for the same terms —
    * and therefore equal the unpruned batched branch bit-for-bit
    * (HybridSearchSpec asserts both; q369 oracles the batch). */
  def bm25TopKMaxScoreAll(postings: DataFrame, docStats: DataFrame,
      termBounds: DataFrame, corpusSize: Long, avgDocLen: Double,
      qTerms: DataFrame, n: Int): DataFrame = {
    val flags = maxScorePruneAll(postings, docStats, termBounds,
      corpusSize, avgDocLen, qTerms, n)
    val essential = flags.filter(col("essential"))
      .select("query_id", "term")
    val candidates = postings
      .join(broadcast(essential), Seq("term"))
      .select("query_id", "id").distinct()
    val allTerms = qTerms.select("term").distinct()
    val stats = broadcast(docStats
      .join(broadcast(allTerms), Seq("term"), "left_semi"))
    val scored = postings
      .join(candidates.select("id").distinct(), Seq("id"), "left_semi")
      .join(broadcast(qTerms), Seq("term"))
      .join(stats, Seq("term"))
      .withColumn("term_score",
        termScoreCol(corpusSize, avgDocLen,
          col("tf").cast("double"), col("dl").cast("double"), col("df")))
      .join(candidates, Seq("query_id", "id"), "left_semi")
      .groupBy("query_id", "id")
      .agg(round(sum("term_score"), 6).as("bm25_score"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(("bm25_score", false), ("id", true)), n)
  }

  /** The sparse-branch ROUTER every single-query entry point uses:
    * block-max when [[Config.postings]] AND [[Config.blockBounds]] are
    * supplied, MaxScore with postings + [[Config.termBounds]],
    * postings-backed with postings alone, token-scan otherwise. All
    * four produce identical scores. */
  private def sparseTopK(index: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, queryTerms: Seq[String], n: Int,
      cfg: Config): DataFrame =
    (cfg.postings, cfg.blockBounds, cfg.termBounds) match {
      case (Some(p), Some(bb), _) =>
        bm25TopKBlockMax(p, docStats, bb, corpusSize, avgDocLen,
          queryTerms, n, cfg.nBlocks)
      case (Some(p), None, Some(tb)) =>
        bm25TopKMaxScore(p, docStats, tb, corpusSize, avgDocLen, queryTerms, n)
      case (Some(p), None, None) =>
        bm25TopKPostings(p, docStats, corpusSize, avgDocLen, queryTerms, n)
      case _ =>
        bm25TopK(index, docStats, corpusSize, avgDocLen, queryTerms, n)
    }

  /** J4 + A5 + T1 — RRF fusion of the two ranked branches, threshold,
    * final top-k. */
  def rrfFuse(dense: DataFrame, sparse: DataFrame, cfg: Config,
      idCol: String = "id"): DataFrame = {
    val dw = Window.orderBy(desc("dense_score"), col(idCol))
    val sw = Window.orderBy(desc("bm25_score"), col(idCol))
    val d = dense.withColumn("dense_rank", row_number().over(dw))
    val s = sparse.withColumn("bm25_rank", row_number().over(sw))
    d.join(s, Seq(idCol), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(cfg.rrfK) + col("dense_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(cfg.rrfK) + col("bm25_rank")), lit(0.0)))
      .filter(col("rrf_score") >= cfg.rrfScoreThreshold) // P8
      .orderBy(desc("rrf_score"), col(idCol))
      .limit(cfg.k)
  }

  /** Batched dense branch: exact cosine prefetch-n per query ROW — the
    * relational replacement for a per-query driver loop (or a crossJoin
    * + full window sort). The query table broadcasts (requests are
    * driver-scale; the corpus side never moves), every (query, doc)
    * pair is scored in one codegen'd pass, and [[graft.plans.TopK]]
    * bounded heaps cut to n per query BEFORE anything sorts — the only
    * exchange is one hash shuffle on the query id.
    *
    * @param pairFilter predicate over the joined (query × index) row
    *   applied before the heaps (e.g. self-exclusion in eval harnesses:
    *   `col("doc_id") =!= col("query_id")`). */
  def denseTopKAll(index: DataFrame, queries: DataFrame, n: Int,
      idCol: String = "id", vecCol: String = "dense_vec",
      queryIdCol: String = "query_id", queryVecCol: String = "qv",
      pairFilter: Column = lit(true)): DataFrame =
    graft.plans.TopK.perKey(
      index.crossJoin(broadcast(queries.select(col(queryIdCol), col(queryVecCol))))
        .filter(pairFilter)
        .withColumn("dense_score", round(vecCosine(col(vecCol), col(queryVecCol)), 6))
        .select(col(queryIdCol), col(idCol), col("dense_score")),
      Seq(queryIdCol), Seq(("dense_score", false), (idCol, true)), n)

  /** Batched multi-query hybrid search: [[search]] semantics for a
    * whole query TABLE in ONE plan — no driver loop, no per-query jobs.
    *
    * Shape (the 100 TB story): queries embed/tokenize inside the plan
    * and broadcast everywhere they're needed; the dense branch scores
    * all pairs once and heap-prunes per query ([[denseTopKAll]]) or,
    * on the [[Dense.Hnsw]] route, walks the graph for the whole query
    * table at once ([[graft.ops.Similarity.HnswIndex.searchBatch]]:
    * every hop one (query_id, id)-keyed frontier⋈graph join); the
    * sparse branch explodes corpus tokens ONCE, semi-joins them to the
    * union of all query terms (broadcast — bounded by total query
    * vocabulary), computes each (doc, term) BM25 term score once, and
    * only then fans out to the queries containing the term; fusion
    * ranks with per-query_id windows over the already-pruned prefetch
    * rows (≤ 5k per query — the window sorts almost nothing, and the
    * TopKPerKey output ordering/partitioning feeds it without a
    * re-sort). Wide shuffles are keyed by query_id (+ id for the
    * fusion join); corpus text and vectors cross no exchange.
    *
    * Serves the [[Dense.Exact]] and [[Dense.Hnsw]] routes; the IVF
    * routes have no batched query and are rejected.
    *
    * Returns one [[search]]-shaped result set per query, keyed by
    * `query_id`, ordered (query_id, rrf_score desc, id). */
  def searchAll(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, queries: DataFrame, cfg: Config = Config(),
      embedder: Embedder = HashingEmbedder.default,
      queryIdCol: String = "query_id", queryCol: String = "query"): DataFrame = {
    require(cfg.dense == Dense.Exact || cfg.dense.isInstanceOf[Dense.Hnsw],
      "searchAll serves the Exact and Hnsw dense routes: IvfIndex has no " +
        "batched query")
    val prefetch = cfg.k * cfg.prefetchMultiplier
    val emb = embedder
    val embedQueryUdf = udf((q: String) => emb.embedQuery(q))
    val tokenizeUdf = udf((q: String) => graft.text.Bm25.tokenize(q))
    val qs = queries
      .select(col(queryIdCol).as("query_id"), col(queryCol).as("__qtext"))
      .withColumn("__qvec", embedQueryUdf(col("__qtext")))

    // dense prefetch: one scored pass + bounded per-query heaps, or one
    // batched graph walk
    val dense = cfg.dense match {
      case Dense.Hnsw(hs, ef, hops) =>
        hs.hnsw.searchBatch(qs.select("query_id", "__qvec"),
            prefetch, ef = ef, hops = hops,
            queryIdCol = "query_id", queryVecCol = "__qvec")
          .join(hs.idMap, "hid")
          .select(col("query_id"), col("id"), col("cos").as("dense_score"))
      case _ => denseTopKAll(index, qs, prefetch, queryVecCol = "__qvec")
    }

    // sparse prefetch: corpus tokens explode once; (doc, term) scores
    // computed once; fan-out to queries by term
    val qTerms = qs
      .select(col("query_id"), explode(tokenizeUdf(col("__qtext"))).as("term"))
      .distinct()
    // MaxScore route: per-query pruned candidates, identical scores
    // (a block-bound table serves the batched path at term granularity
    // — its term bounds are one groupBy away)
    val tbOpt = cfg.termBounds.orElse(cfg.blockBounds
      .map(graft.index.IndexWriter.termBoundsFromBlocks))
    if (cfg.postings.isDefined && tbOpt.isDefined) {
      val sparse = bm25TopKMaxScoreAll(cfg.postings.get, docStats,
        tbOpt.get, corpusSize, avgDocLen, qTerms, prefetch)
      return fuseRanked(index, dense, sparse, cfg)
    }
    // hoisted: the same distinct term set prunes both the corpus-token
    // explode and docStats — one aggregation, not two per plan
    val allTerms = qTerms.select("term").distinct()
    // (term, id, tf, dl) rows for the union of all query terms: the
    // postings table serves them by term lookup (no corpus token scan);
    // the scan path explodes corpus tokens once
    val tfRows = cfg.postings match {
      case Some(p) => p
        .join(broadcast(allTerms), Seq("term"), "left_semi")
        .select(col("term"), col("id"), col("tf"), col("dl"))
      case None => index
        .select(col("id"), size(col("tokens")).as("dl"),
          explode(col("tokens")).as("term"))
        .join(broadcast(allTerms), Seq("term"), "left_semi")
        .groupBy(col("id"), col("term"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .select(col("term"), col("id"), col("tf"), col("dl"))
    }
    val termScores = tfRows
      .join(broadcast(docStats.join(
        broadcast(allTerms), Seq("term"), "left_semi")),
        Seq("term"))
      .withColumn("term_score", termScoreCol(corpusSize, avgDocLen,
        col("tf"), col("dl"), col("df")))
    val sparsePairs = termScores
      .join(broadcast(qTerms), Seq("term"))
      .groupBy(col("query_id"), col("id"))
      .agg(round(sum("term_score"), 6).as("bm25_score"))
    val sparse = graft.plans.TopK.perKey(sparsePairs, Seq("query_id"),
      Seq(("bm25_score", false), ("id", true)), prefetch)
    fuseRanked(index, dense, sparse, cfg)
  }

  /** Per-query RRF fusion of the two batched prefetch branches —
    * identical arithmetic to [[rrfFuse]], per query_id, shared by the
    * unpruned and MaxScore sparse routes. */
  private def fuseRanked(index: DataFrame, dense: DataFrame,
      sparse: DataFrame, cfg: Config): DataFrame = {
    val dw = Window.partitionBy("query_id").orderBy(desc("dense_score"), col("id"))
    val sw = Window.partitionBy("query_id").orderBy(desc("bm25_score"), col("id"))
    val d = dense.withColumn("dense_rank", row_number().over(dw))
    val s = sparse.withColumn("bm25_rank", row_number().over(sw))
    val fused = d.join(s, Seq("query_id", "id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(cfg.rrfK) + col("dense_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(cfg.rrfK) + col("bm25_rank")), lit(0.0)))
      .filter(col("rrf_score") >= cfg.rrfScoreThreshold)
    val topK = graft.plans.TopK.perKey(fused, Seq("query_id"),
      Seq(("rrf_score", false), ("id", true)), cfg.k)
    topK.join(index, Seq("id"), "left")
      .orderBy(col("query_id"), desc("rrf_score"), col("id"))
  }

  /** Full §3.2 query lifecycle: embed query (V2, with BGE-style prefix)
    * → dense ∪ sparse prefetch (5×k each) → RRF → top-k, joined back to
    * payload columns. The dense prefetch runs on the [[Config.dense]]
    * route; the BM25 branch and RRF fusion are the same on every
    * route. */
  def search(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, query: String, cfg: Config = Config(),
      embedder: Embedder = HashingEmbedder.default): DataFrame = {
    val prefetch = cfg.k * cfg.prefetchMultiplier
    val qVec = embedder.embedQuery(query)
    val qTerms = Bm25.tokenize(query)
    val dense = cfg.dense match {
      case Dense.Exact => denseTopK(index, qVec, prefetch)
      case Dense.Ivf(ivf, nProbe) => ivf.query(qVec, prefetch, nProbe)
        .select(col("id"), col("cos").as("dense_score"))
      case Dense.Int8(ivf, nProbe, rerankN) => ivf.queryQuantized(qVec,
          prefetch, nProbe, rerank = math.max(rerankN, prefetch))
        .select(col("id"), col("cos").as("dense_score"))
      case Dense.Hnsw(hs, ef, hops) =>
        hs.hnsw.search(qVec, prefetch, ef = ef, hops = hops)
          .join(hs.idMap, "hid")
          .select(col("id"), col("cos").as("dense_score"))
    }
    val sparse = sparseTopK(index, docStats, corpusSize, avgDocLen, qTerms, prefetch, cfg)
    val fused = rrfFuse(dense, sparse, cfg)
    // payload projection (P9): hydrate the top-k ids only
    fused.join(index, Seq("id"), "left")
      .orderBy(desc("rrf_score"), col("id"))
  }

  /** Prebuilt HNSW serving bundle over the chunk index's dense vectors.
    * Chunk ids are uuid5 STRINGS while the graph index keys longs, so
    * the graph is built over a deterministic 60-bit md5 surrogate
    * (`hid` — the [[graft.ops.Similarity]] hex60 discipline; both
    * engines re-derive it as `CAST('0x' || substr(md5(id), 1, 15) AS
    * BIGINT)`) and `idMap` routes results back to the real ids. */
  final case class HnswServing(hnsw: graft.ops.Similarity.HnswIndex,
      idMap: DataFrame)

  /** Build the [[HnswServing]] bundle — `build = "nndescent"` by
    * default (the 100 TB graph construction; "broadcast" for the exact
    * small-corpus upper bound). Build once at startup; per-request work
    * is then only the beam walk. */
  def buildHnswServing(index: DataFrame, m: Int = 8, maxLevel: Int = 3,
      build: String = "nndescent", dim: Int = 384,
      prebuiltGraph: Option[DataFrame] = None): HnswServing = {
    val mapped = index.select(
      expr("CAST(conv(substring(md5(id), 1, 15), 16, 10) AS BIGINT)")
        .as("hid"),
      col("id"), col("dense_vec"))
    val hnsw = new graft.ops.Similarity.HnswIndex(
      mapped.select("hid", "dense_vec"), m = m, maxLevel = maxLevel,
      vecCol = "dense_vec", idCol = "hid", build = build, dim = dim,
      // warm restart: a persisted graph reopens as a pure read — the
      // idMap (a projection of the index) is re-derived, never stored
      prebuiltGraph = prebuiltGraph)
    HnswServing(hnsw, mapped.select("hid", "id"))
  }

  /** PHRASE matching from the positional inverted index
    * ([[graft.index.IndexWriter.positionalPostings]]) — "exact
    * consecutive-token phrase" served as POSITION INTERSECTION, never a
    * text rescan. The join chain anchors on the phrase's RAREST term
    * (min df, tie → earliest phrase slot): its occurrence list is the
    * smallest, every other slot then verifies by an (id, pos+offset)
    * equi-join against its own term's occurrences — at scale each join
    * is keyed by (id, pos), the anchor bound makes the intermediate no
    * bigger than the rarest term's postings, and the phrase's terms
    * prune the term-bucketed layout exactly like the BM25 branch. A
    * duplicated phrase word (offset collisions) is handled naturally:
    * each slot joins independently.
    *
    * Returns one row per phrase OCCURRENCE — (id, pos) with pos the
    * phrase's start slot — ordered (id, pos); `groupBy(id).count()` is
    * the per-doc hit count. Empty phrase or any term absent from the
    * stats ⇒ no rows (a phrase containing an unseen word cannot
    * match). */
  def phraseMatches(posPostings: DataFrame, docStats: DataFrame,
      phrase: Seq[String], idCol: String = "id"): DataFrame = {
    // empty frame derived from the INDEX so the id/pos types match the
    // non-empty branch whatever the index id type is (a lit("") id
    // would flip the schema to string on the empty branch and break
    // downstream unions/typed reads)
    val empty = posPostings.select(col(idCol), col("pos")).limit(0)
    if (phrase.isEmpty) return empty
    val dfs = docStats.filter(col("term").isin(phrase.distinct: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (phrase.exists(t => !dfs.contains(t))) return empty
    val anchor = phrase.indices.minBy(i => (dfs(phrase(i)), i))
    val anchored = posPostings.filter(col("term") === phrase(anchor))
      .select(col(idCol), (col("pos") - anchor).as("pos"))
      .filter(col("pos") >= 0)
    phrase.indices.filter(_ != anchor).foldLeft(anchored) { (acc, i) =>
      acc.join(posPostings.filter(col("term") === phrase(i))
          .select(col(idCol), (col("pos") - i).as("pos")),
        Seq(idCol, "pos"), "left_semi")
    }.orderBy(col(idCol), col("pos"))
  }

  /** BATCHED [[phraseMatches]] — a whole TABLE of phrases against the
    * positional index in ONE plan, with one join and one aggregate
    * regardless of phrase lengths: each phrase is (query_id, slot,
    * term) rows; every posting occurrence joined by term yields a
    * CANDIDATE START `pos − slot`, and a start is a match iff ALL m of
    * its phrase's slots appear — `count(DISTINCT slot) = m` per
    * (query_id, id, start). Duplicated phrase words fall out naturally
    * (each slot must be hit independently). The per-query anchored
    * chain ([[phraseMatches]]) reads less IO for one rare+stopword
    * phrase; this shape amortizes a request batch: postings are read
    * once for the UNION of all phrases' vocabularies (broadcast), the
    * only wide exchange is keyed by (query_id, id, start).
    *
    * @param qSlots (query_id, slot, term) — slot 0-based and dense per
    *   query (phrase length = max slot + 1 = distinct slot count)
    * @return (query_id, id, pos) per phrase occurrence, ordered */
  def phraseMatchesAll(posPostings: DataFrame, qSlots: DataFrame,
      idCol: String = "id"): DataFrame = {
    val lens = qSlots.groupBy("query_id")
      .agg(countDistinct("slot").as("__m"))
    val starts = posPostings
      .join(broadcast(qSlots), Seq("term"))
      .select(col("query_id"), col(idCol),
        (col("pos") - col("slot")).as("pos"), col("slot"))
      .filter(col("pos") >= 0)
    starts.groupBy(col("query_id"), col(idCol), col("pos"))
      .agg(countDistinct("slot").as("__hit"))
      .join(broadcast(lens), Seq("query_id"))
      .filter(col("__hit") === col("__m"))
      .select(col("query_id"), col(idCol), col("pos"))
      .orderBy(col("query_id"), col(idCol), col("pos"))
  }

  /** ORDERED-PROXIMITY matching (Lucene's SpanNear/sloppy-phrase
    * family) from the positional index: documents where the terms
    * occur IN ORDER within a bounded token window. The contract is the
    * GREEDY chain — for each occurrence p₀ of the first term, every
    * later term takes its SMALLEST position after the previous one;
    * greedy minimizes the end position for a given start, so a start
    * matches iff its greedy span fits. That makes the result set
    * deterministic and engine-replayable (no enumeration of all
    * combinatorial chains): one row per matching start, (id, s, e),
    * e − s ≤ maxSpan, e the greedy end.
    *
    * Scale shape: step i is an id-keyed join of the running
    * (id, s, prev) frontier against term i's occurrence list followed
    * by a (id, s)-grouped min — per-document occurrence lists are
    * short, the frontier never exceeds the FIRST term's occurrence
    * count, and the phrase's terms prune the term-bucketed layout
    * like every other lexical path. */
  def proximityMatches(posPostings: DataFrame, docStats: DataFrame,
      terms: Seq[String], maxSpan: Int, idCol: String = "id"): DataFrame = {
    require(maxSpan >= terms.length - 1 || terms.isEmpty,
      s"maxSpan $maxSpan cannot fit ${terms.length} ordered terms")
    // index-derived empty frame — same id/pos types on both branches
    val empty = posPostings
      .select(col(idCol), col("pos").as("s"), col("pos").as("e")).limit(0)
    if (terms.isEmpty) return empty
    val dfs = docStats.filter(col("term").isin(terms.distinct: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (terms.exists(t => !dfs.contains(t))) return empty
    def occ(t: String): DataFrame =
      posPostings.filter(col("term") === t).select(col(idCol), col("pos"))
    val start = occ(terms.head)
      .select(col(idCol), col("pos").as("s"), col("pos").as("e"))
    terms.drop(1).foldLeft(start) { (acc, t) =>
      acc.join(occ(t), Seq(idCol))
        .filter(col("pos") > col("e") && col("pos") - col("s") <= maxSpan)
        .groupBy(col(idCol), col("s"))
        .agg(min(col("pos")).as("e"))
    }.orderBy(col(idCol), col("s"))
  }

  /** Pseudo-relevance-feedback expansion terms (the RM1/RM3 family,
    * Lavrenko & Croft SIGIR 2001, score-weighted-tf form) — the
    * recall lever a lexical retriever gets for free: run the original
    * query, treat the top `fb` documents as relevant, and score every
    * candidate term by how much feedback mass it sits in:
    *
    *   w(t) = Σ_{d ∈ top-fb} tf(t, d) · bm25_u6(d)
    *
    * (each occurrence contributes its document's micro-fixed
    * retrieval score — score-weighted, so the best-matching docs
    * dominate the expansion, the RM weighting without the float
    * normalization). Original query terms are excluded; ties break
    * on the term. Exact after the one score micro-fixing (BM25 is
    * already rounded to 6dp by contract).
    *
    * Scale shape: the feedback set is fb-sized (broadcast); candidate
    * scoring is one explode + (term)-dimension aggregate over fb
    * documents only — the corpus is touched once by the retrieval the
    * caller already paid for. Returns the top `topTerms`
    * (term, df_fb, w_sum). */
  def prfExpansion(index: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, queryTerms: Seq[String],
      fb: Int = 10, topTerms: Int = 20, idCol: String = "id",
      tokensCol: String = "tokens"): DataFrame = {
    require(fb >= 1 && topTerms >= 1, s"bad fb/topTerms: $fb/$topTerms")
    val top = bm25TopK(index, docStats, corpusSize, avgDocLen,
        queryTerms, fb, idCol, tokensCol)
      .withColumn("w_u6",
        round(col("bm25_score") * 1000000, 0).cast("long"))
      .select(col(idCol), col("w_u6"))
    index.join(broadcast(top), idCol)
      .select(col(idCol), col("w_u6"),
        explode(col(tokensCol)).as("term"))
      .filter(col("term") =!= "" && !col("term").isin(queryTerms: _*))
      .groupBy("term")
      .agg(countDistinct(col(idCol)).as("df_fb"),
        sum("w_u6").as("w_sum"))
      .orderBy(desc("w_sum"), col("term"))
      .limit(topTerms)
  }
}
