package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph operators for corpus curation. Web-scale pipelines rank crawl
  * sources by link authority (CommonCrawl publishes harmonic/PageRank
  * domain ranks; curation caps and sampling weights key off them); the
  * dedup tier already walks the near-dup graph ([[Dedup.connectedComponents]]) —
  * this adds the scoring side.
  *
  * FIXED-POINT arithmetic throughout: ranks are scaled longs and every
  * per-edge contribution is an integer division. Floating-point PageRank
  * sums contributions in shuffle-arrival order — two runs (or two
  * engines) disagree in the last ulps and compound per iteration;
  * integer math makes the result a pure function of the graph, exactly
  * reproducible by any engine (the DuckDB oracle runs the same
  * recurrence in a recursive CTE).
  */
object GraphOps {

  /** PageRank on (src, dst) edges, `iters` synchronous iterations.
    *
    * Recurrence (all integer): rank₀ = `scale`;
    * rankᵢ₊₁(v) = scale·(1−d) + Σ_{u→v} (rankᵢ(u)·dNum) div (dDen·outdeg(u))
    * with d = dNum/dDen. Dangling mass (nodes with no out-edges) drops —
    * the standard "weak" variant — and multi-edges collapse first.
    *
    * Scale shape: the edge table shuffles ONCE per iteration, keyed by
    * src then by dst — never any payload, just (id, rank) longs; the
    * rounds run through [[Iterate.rounds]], which cuts the plan per
    * round (the [[Iterate]] discipline).
    *
    * Overflow bound: a node's rank is at most the total injected mass
    * ≈ nodes·scale, and the recurrence multiplies by `dNum` before
    * dividing — keep nodes·scale·dNum < 2⁶³ (at the defaults, fine to
    * ~10⁸ nodes; drop `scale` to 10⁶ for web-graph node counts). */
  def pageRankFixedPoint(edges: DataFrame, iters: Int = 10,
      scale: Long = 1000000000L, dNum: Long = 85L, dDen: Long = 100L): DataFrame = {
    require(iters >= 1 && dNum > 0 && dDen > dNum,
      s"need iters >= 1 and 0 < dNum < dDen, got iters=$iters d=$dNum/$dDen")
    val e = Iterate.cut(edges.select(col("src"), col("dst")).distinct())
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val base = scale * (dDen - dNum) / dDen
    Iterate.rounds(nodes.withColumn("rank", lit(scale)), iters) { ranks =>
      val contrib = e
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("id"),
          expr(s"(rank * $dNum) div ($dDen * outdeg)").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      nodes.join(contrib, Seq("id"), "left")
        .select(col("id"), (lit(base) + coalesce(col("s"), lit(0L))).as("rank"))
    }
  }

  /** Personalized PageRank (Haveliwala, WWW '02) — the topic-sensitive
    * variant of [[pageRankFixedPoint]]: the teleport mass lands ONLY on
    * the seed set, so the stationary measure scores proximity TO THE
    * SEEDS rather than global authority (crawl curation: "expand from
    * these trusted domains"; recommendation: "more like these items" —
    * also the TrustRank spam-demotion primitive, Gyöngyi VLDB '04).
    * Same exact-integer synchronous recurrence as the uniform variant:
    *
    *   rank₀(v)    = scale·[v ∈ S]
    *   rank_{t+1}(v) = base·[v ∈ S] + Σ_{u→v} rank_t(u)·dNum div (dDen·outdeg(u))
    *
    * with base = scale·(dDen−dNum) div dDen. Dangling nodes leak their
    * mass exactly as in [[pageRankFixedPoint]] (the conserved-mass
    * variant would re-inject it at the seeds; the leak form keeps both
    * engines' arithmetic identical). Seeds are a bounded driver-side
    * list by contract (a topic/trust whitelist, not a data-sized set) —
    * membership compiles to a codegen'd `isin` literal, never a join.
    * Scale shape and overflow bound are [[pageRankFixedPoint]]'s:
    * (id, rank) longs keyed by an endpoint per round, one [[Iterate]]
    * cut per round, nodes·scale·dNum < 2⁶³. */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
      iters: Int = 10, scale: Long = 1000000000L,
      dNum: Long = 85L, dDen: Long = 100L): DataFrame = {
    require(iters >= 1 && dNum > 0 && dDen > dNum,
      s"need iters >= 1 and 0 < dNum < dDen, got iters=$iters d=$dNum/$dDen")
    require(seeds.nonEmpty && seeds.size <= 10000,
      s"seed set must be a bounded non-empty whitelist, got ${seeds.size}")
    val e = Iterate.cut(edges.select(col("src"), col("dst")).distinct())
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val base = scale * (dDen - dNum) / dDen
    val isSeed = col("id").isin(seeds: _*)
    Iterate.rounds(nodes.withColumn("rank",
        when(isSeed, lit(scale)).otherwise(lit(0L))), iters) { ranks =>
      val contrib = e
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("id"),
          expr(s"(rank * $dNum) div ($dDen * outdeg)").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (when(isSeed, lit(base)).otherwise(lit(0L)) +
            coalesce(col("s"), lit(0L))).as("rank"))
    }
  }

  /** HITS hubs & authorities (Kleinberg, JACM '99) — the directional
    * complement of [[pageRankFixedPoint]]: a node is a good HUB when
    * it links to good authorities and a good AUTHORITY when good hubs
    * link to it (crawl curation: hub pages are link directories,
    * authorities are the documents worth fetching). Synchronous
    * mutual-recursion rounds in exact fixed point:
    *
    *   hub(u)  = Σ_{u→v} auth(v), then hub  ← hub·scale div max(hub)
    *   auth(v) = Σ_{u→v} hub(u),  then auth ← auth·scale div max(auth)
    *
    * Max-normalization (not L2) keeps every score an exact integer in
    * [0, scale] with the argmax pinned at `scale` — the ranking
    * converges to the same principal eigenvector direction, and the
    * whole run is a pure function of the graph any engine reproduces.
    *
    * Scale shape: per round, the edge table shuffles twice keyed by an
    * endpoint carrying only (id, score) longs; the max is a broadcast
    * one-row frame (never a driver collect); hubs and authorities are
    * each cut per round (the [[Iterate]] discipline).
    * Overflow bound: raw sums ≤ nodes·scale and normalization
    * multiplies by `scale` before dividing — keep nodes·scale² < 2⁶³
    * (defaults fine to ~9·10⁶ nodes; drop `scale` beyond). */
  def hits(edges: DataFrame, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale > 0,
      s"need iters >= 1 and scale > 0, got iters=$iters scale=$scale")
    val e = Iterate.cut(edges.select(col("src"), col("dst")).distinct())
    require(!e.isEmpty, "HITS needs at least one edge")
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
    // `base` (one row per node) gains column `out`: `raw` max-normalized
    def normalized(base: DataFrame, raw: DataFrame, out: String): DataFrame = {
      val mx = raw.agg(max("raw").as("mx"))
      base.join(raw, Seq("id"), "left")
        .withColumn("raw", coalesce(col("raw"), lit(0L)))
        .crossJoin(broadcast(mx))
        .withColumn(out, expr(s"CAST(raw * $scale div mx AS BIGINT)"))
        .drop("raw", "mx")
    }
    // each round's state is (id, hub, auth): the hub column rides along
    // so the last round's hubs need no join at the end
    Iterate.rounds(nodes.withColumn("auth", lit(scale)), iters) { state =>
      val hub = Iterate.cut(normalized(state.select("id"),
        e.join(state.select(col("id").as("dst"), col("auth")), "dst")
          .groupBy(col("src").as("id")).agg(sum("auth").as("raw")),
        "hub"))
      normalized(hub,
        e.join(hub.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id")).agg(sum("hub").as("raw")),
        "auth")
    }
  }

  /** Exact triangle count on an undirected (src, dst) edge table — the
    * standard clustering-coefficient numerator (link-farm detection in
    * crawl curation: spam clusters are triangle-dense, genuine link
    * graphs are sparse).
    *
    * Edges orient canonically (u < v, self-loops and multi-edges
    * dropped), then each triangle a < b < c is found EXACTLY ONCE as
    * the join e(a,b) ⋈ e(b,c) ⋈ e(a,c) — two equi-join shuffles over
    * id-pair rows, never a cross product, never payload. At web scale
    * the classic refinement is orienting low-degree → high-degree
    * before the join (caps the per-key fan-out at O(√|E|) wedges;
    * see Suri & Vassilvitskii, WWW'11); id-orientation keeps the
    * oracle's arithmetic identical and is the right default below
    * that regime. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") < col("v")).distinct()
    val ab = e.select(col("u").as("a"), col("v").as("b"))
    val bc = e.select(col("u").as("b"), col("v").as("c"))
    val ac = e.select(col("u").as("a"), col("v").as("c"))
    ab.join(bc, "b").join(ac, Seq("a", "c"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** [[triangleCount]] with low-degree → high-degree orientation (ties
    * on id) — the Suri & Vassilvitskii WWW'11 refinement: wedges are
    * enumerated at each edge's LOWER-degree endpoint, so a celebrity
    * node with degree d contributes O(d) oriented out-wedges spread
    * over its neighbors instead of O(d²) at itself — the bound that
    * keeps the wedge join alive on power-law web graphs. Any total
    * order counts each triangle exactly once, so the result is
    * IDENTICAL to the id-oriented count (the spec asserts it); only
    * the join's skew profile changes. Costs one extra degree
    * aggregate + two id-keyed joins over the edge list. */
  def triangleCountDegreeOriented(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") < col("v")).distinct()
    val deg = und.select(col("u").as("id"))
      .unionByName(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // orient each edge from the (degree, id)-smaller endpoint outward
    val oriented = und
      .join(deg.select(col("id").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("hi"))
    val ab = oriented.select(col("lo").as("a"), col("hi").as("b"))
    val bc = oriented.select(col("lo").as("b"), col("hi").as("c"))
    val ac = oriented.select(col("lo").as("a"), col("hi").as("c"))
    ab.join(bc, "b").join(ac, Seq("a", "c"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** Item co-occurrence similarity graph (market-basket / item-item
    * collaborative filtering): from (basket, item) observations, for
    * every item the k most-similar other items by co-occurrence
    * cosine — emitted as SQUARED cosine in exact micro units so no
    * sqrt enters the compare:
    *
    *   sim2_u6 = cooc² · 10⁶ div (c_i · c_j)
    *
    * Shape: (basket, item) dedupes first (the big reduction — repeat
    * purchases don't double-count); the pair pass is the per-basket
    * self-join, Σ |basket|² support (cap basket sizes upstream for
    * power-law data — the [[graft.ops.Dedup]] banding discipline; an
    * [[associationRules]]-style apriori semi-join cannot apply here —
    * the top-k COSINE output has no support threshold, so a rare item
    * can legitimately rank in another item's top k);
    * everything after lives on the (item, item) dimension, and per-item
    * top-k goes through the bounded-heap [[graft.plans.TopK.perKey]]
    * plan. Returns (item, other, cooc, c_item, c_other, sim2_u6, rank).
    * Overflow: cooc²·10⁶ needs cooc < ~3·10⁶ shared baskets per pair. */
  def itemCooccurrence(df: DataFrame, basketCol: String, itemCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val b = df.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .distinct()
    val cnt = b.groupBy("item").agg(count(lit(1)).as("c"))
    val pairs = b.join(b.select(col("bk"), col("item").as("other")), "bk")
      .filter(col("item") < col("other"))
      .groupBy("item", "other").agg(count(lit(1)).as("cooc"))
    val sym = pairs.unionByName(pairs.select(col("other").as("item"),
      col("item").as("other"), col("cooc")))
    val scored = sym
      .join(cnt.select(col("item"), col("c").as("c_item")), "item")
      .join(cnt.select(col("item").as("other"), col("c").as("c_other")),
        "other")
      .withColumn("sim2_u6", expr(
        "CAST(cooc * cooc * 1000000 div (c_item * c_other) AS BIGINT)"))
    val top = graft.plans.TopK.perKey(scored, Seq("item"),
      Seq(("sim2_u6", false), ("other", true)), k = k)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("item")
      .orderBy(desc("sim2_u6"), col("other"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select("item", "other", "cooc", "c_item", "c_other", "sim2_u6",
        "rank")
  }

  /** Neighborhood link prediction (common-neighbors + Jaccard) — the
    * classic structural "which edge appears next" scores (Liben-Nowell
    * & Kleinberg 2003): for every NON-adjacent pair sharing at least
    * one neighbor, the shared count and the exact per-mille Jaccard of
    * their neighborhoods. Crawl planning ranks candidate links;
    * entity-resolution uses the same scores as blocking evidence.
    *
    * Shape: the wedge join (neighbors-of-neighbors through the shared
    * middle node — Σ deg² support, the [[clusteringCoefficient]]
    * posture), an anti-join against existing edges, degrees joined on
    * the pair's endpoints. Exact integers throughout. */
  def linkPrediction(edges: DataFrame): DataFrame = {
    val sym = Iterate.cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    val canon = sym.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("dst").as("mid"), col("src").as("u"))
      .join(sym.select(col("dst").as("mid"), col("src").as("v")), "mid")
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cn"))
    wedges.join(canon, Seq("u", "v"), "left_anti")
      .join(deg.select(col("id").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("deg_v")), "v")
      .select(col("u"), col("v"), col("cn"), col("deg_u"), col("deg_v"),
        expr("CAST(cn * 1000 div (deg_u + deg_v - cn) AS BIGINT)")
          .as("jaccard_pm"))
  }

  /** Per-node local clustering coefficient — how interconnected each
    * node's neighborhood is (2·triangles div possible neighbor pairs),
    * the node-level refinement of [[triangleCount]]'s global number:
    * spam/link-farm neighborhoods run dense (cc → 1), organic link
    * graphs sparse. Exact per-mille.
    *
    * Shape: neighbor-pair generation costs Σ deg(u)² — at web scale
    * cap hub degrees upstream (sample neighbors per hub, the standard
    * move) or fall back to the degree-oriented global count; the
    * triangle close is one join against the canonical (a < b) edge
    * set. Nodes with degree < 2 report cc_pm 0 over 0 possible pairs. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val sym = Iterate.cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    val canon = sym.filter(col("src") < col("dst"))
      .select(col("src").as("pa"), col("dst").as("pb"))
    val deg = sym.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    val pairs = sym.select(col("src").as("id"), col("dst").as("v"))
      .join(sym.select(col("src").as("id"), col("dst").as("w")), "id")
      .filter(col("v") < col("w"))
    val tri = pairs.join(canon,
        pairs("v") === canon("pa") && pairs("w") === canon("pb"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_pm",
        when(col("deg") >= 2, expr(
          "CAST(triangles * 2 * 1000 div (deg * (deg - 1)) AS BIGINT)"))
          .otherwise(lit(0L)))
  }

  /** Single-source shortest paths by synchronous Bellman–Ford rounds —
    * the distance tier next to [[pageRankFixedPoint]] (influence) and
    * [[boruvkaMst]] (structure): citation-hop distance from a seed
    * authority, link distance from a trusted domain list. Weighted,
    * undirected; `rounds` bounds path LENGTH in hops — with rounds ≥
    * graph diameter the result is exact (extra rounds are no-op
    * relaxations, the [[kCore]] idempotence discipline).
    *
    * Per round, one join of the current distance table against the
    * edge list and a min-aggregate per node — (id, dist) longs only,
    * cut per round; at 100 TB this is the textbook Pregel iteration
    * shape. Distances only improve and the reached set only grows, so
    * a round that leaves (count, Σ dist) unchanged changed nothing:
    * the loop stops there ([[Iterate.fixedPoint]]), before `rounds`
    * when the graph's diameter is smaller. Returns (id, dist) for
    * REACHED nodes (unreachable nodes absent, not infinity). */
  def shortestPaths(edges: DataFrame, source: Long,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = Iterate.cut(edges.select(col("src"), col("dst"), col("w").cast("long"))
      .unionByName(edges.select(col("dst").as("src"),
        col("src").as("dst"), col("w").cast("long")))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min(col("w")).as("w")))
    Iterate.fixedPoint(Seq((source, 0L)).toDF("id", "dist"), rounds,
        count(lit(1)), sum("dist")) { dist =>
      val relaxed = dist.join(sym, dist("id") === sym("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist.unionByName(relaxed)
        .groupBy("id").agg(min(col("dist")).as("dist"))
    }._1
  }

  /** Distributed minimum-spanning-tree via Borůvka rounds — the
    * single-linkage clustering backbone (cut the MST's heaviest edges
    * and the components ARE the single-linkage clusters; the dedup
    * tier's connected components are the 0-threshold special case).
    * Each round every component selects its minimum outgoing edge
    * (composite order (w, a, b) — ties deterministic, so the MST is
    * unique), selected edges join the tree, and touched components
    * merge through [[graft.ops.Dedup.connectedComponents]] run on the
    * COMPONENT-LABEL graph (dimension-sized and halving per round —
    * never the data graph). Component count at least halves per round:
    * ⌈log₂ n⌉ rounds suffice; extra rounds are no-ops.
    *
    * Scale shape: the edge list carries its endpoints' component
    * labels; per round, one per-component bounded selection, a
    * label-dimension components pass and three joins that mark the
    * selected edges and relabel the endpoints, cut per round. The cut
    * observes how many edges still cross components and the loop
    * stops at zero ([[Iterate.fixedPoint]]), or after `iters` rounds.
    * Returns the MST edge set (a, b, w) with a < b. Multi-edges
    * collapse to their minimum weight; self-loops drop. */
  def boruvkaMst(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col("w").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
    // state: every edge with its endpoints' component labels (la, lb)
    // and whether it joined the tree; the loop stops once no edge
    // crosses two components
    val init = canon.select(col("a"), col("b"), col("w"), col("a").as("la"),
      col("b").as("lb"), lit(false).as("in_mst"))
    val (state, _) = Iterate.fixedPoint(init, iters,
        count(when(col("la") =!= col("lb"), 1)))({ cur =>
      val tagged = cur.filter(col("la") =!= col("lb"))
      val perComp = tagged.select(col("la").as("comp"), col("a"),
          col("b"), col("w"), col("la"), col("lb"))
        .unionByName(tagged.select(col("lb").as("comp"), col("a"),
          col("b"), col("w"), col("la"), col("lb")))
      val cheapest = org.apache.spark.sql.expressions.Window
        .partitionBy("comp").orderBy(col("w"), col("a"), col("b"))
      val sel = Iterate.cut(perComp
        .withColumn("rn", row_number().over(cheapest))
        .filter(col("rn") === 1)
        .select("a", "b", "la", "lb").distinct())
      val merged = graft.ops.Dedup.connectedComponents(
        sel.select(col("la").as("id1"), col("lb").as("id2")))
      def relabel(c: String) =
        merged.select(col("id").as(c), col("comp").as(s"new_$c"))
      cur.join(sel.select(col("a"), col("b"), lit(true).as("picked")),
          Seq("a", "b"), "left")
        .join(relabel("la"), Seq("la"), "left")
        .join(relabel("lb"), Seq("lb"), "left")
        .select(col("a"), col("b"), col("w"),
          coalesce(col("new_la"), col("la")).as("la"),
          coalesce(col("new_lb"), col("lb")).as("lb"),
          (col("in_mst") || coalesce(col("picked"), lit(false))).as("in_mst"))
    }, (_, next) => next.signal == Seq(0L))
    state.filter(col("in_mst")).select("a", "b", "w")
  }

  /** Pairwise association rules (the Apriori/market-basket output
    * [[itemCooccurrence]]'s symmetric similarity can't express —
    * direction matters: {printer}→{ink} can be near-certain while
    * {ink}→{printer} is weak): for every ordered item pair sharing at
    * least `minSupport` baskets,
    *
    *   confidence(i→j) = P(j | i)  → conf_pm  = cooc·1000 div c_i
    *   lift(i→j) = P(j|i) / P(j)   → lift_u6  = cooc·N·10⁶ div (c_i·c_j)
    *
    * exact integers (lift symmetric, confidence not). Same execution
    * shape as [[itemCooccurrence]] — dedupe, per-basket pair pass,
    * everything after on the (item, item) dimension. Lift > 10⁶ means
    * positively associated; < 10⁶ anti-associated. Overflow: cooc·N·10⁶
    * needs cooc·N < ~9·10¹² — shard the rule pass beyond that. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val b = df.select(col(basketCol).as("bk"), col(itemCol).as("item"))
      .distinct()
    val nB = b.select("bk").distinct().count()
    val cnt = b.groupBy("item").agg(count(lit(1)).as("c"))
    // Apriori prune BEFORE the per-basket pair explosion (guide §3,
    // r15 verdict ask #5): a pair's cooc is ≤ min(c_i, c_j), so items
    // under minSupport cannot appear in any surviving rule — the
    // semi-join drops their basket rows before the self-join squares
    // them. On power-law catalogs this is the difference between
    // Σ|basket|² over everything and over the frequent items only.
    // c_ante/c_cons still come from the UN-pruned counts, so surviving
    // rows are bit-identical to the unpruned plan's.
    val frequent = cnt.filter(col("c") >= minSupport).select("item")
    val bf = b.join(frequent, Seq("item"), "left_semi")
    val pairs = bf.join(bf.select(col("bk"), col("item").as("other")), "bk")
      .filter(col("item") < col("other"))
      .groupBy("item", "other").agg(count(lit(1)).as("cooc"))
      .filter(col("cooc") >= minSupport)
    val directed = pairs.unionByName(pairs.select(
      col("other").as("item"), col("item").as("other"), col("cooc")))
    directed
      .join(cnt.select(col("item"), col("c").as("c_ante")), "item")
      .join(cnt.select(col("item").as("other"), col("c").as("c_cons")),
        "other")
      .select(col("item").as("antecedent"), col("other").as("consequent"),
        col("cooc"), col("c_ante"), col("c_cons"),
        lit(nB).as("n_baskets"),
        expr("CAST(cooc * 1000 div c_ante AS BIGINT)").as("conf_pm"),
        expr(s"CAST(cooc * ${nB}L * 1000000 div (c_ante * c_cons) " +
          "AS BIGINT)").as("lift_u6"))
  }

  /** k-core decomposition membership: the maximal subgraph where every
    * node keeps degree ≥ k, found by iterative peeling — drop nodes
    * under degree k, recompute degrees, repeat. Spam/link-farm curation
    * uses the core number as a density signal next to
    * [[triangleCount]]; a chain or pendant tree unravels one layer per
    * round, so `iters` must cover the longest peel chain. Peeling only
    * removes edges, so a round that keeps the live-edge count keeps
    * the whole edge set and every later round would too: the loop
    * stops there (progressive core peeling, as in "An Optimal and
    * Progressive Approach to Online Search of Top-K Influential
    * Communities", VLDB 2018) and a generous cap costs nothing past
    * convergence.
    *
    * Scale shape: per round, one degree aggregate + two semi-joins, all
    * keyed on node ids — no payload, no driver collect; each round is
    * cut and its live-edge count observed by the cut ([[Iterate]]).
    * Returns surviving `(id, deg)` — each member with its within-core
    * degree. */
  def kCore(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, "kCore needs k >= 1 and iters >= 1")
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val (live, _) = Iterate.fixedPoint(sym, iters, count(lit(1))) { live =>
      val keep = live.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      live
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
    }
    live.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** Synchronous Louvain-style modularity local-move rounds (Blondel
    * et al. 2008, phase-1 sweep) — the DENSITY-aware community member
    * of the graph tier: [[labelPropagation]] takes the majority label,
    * this takes the argmax MODULARITY GAIN, so hubs don't absorb
    * everything touching them. Each round, every node simultaneously
    * joins the neighboring (or its own) community maximizing
    *
    *   score(c) = 2m·e_ic − k_i·K'_c,   K'_c = K_c − k_i iff c = comm(i)
    *
    * (score differences are exactly 2m²·ΔQ, so the argmax IS the
    * greedy local move; staying is always a candidate at e = 0 via the
    * own-community row). Deterministic: classic Louvain visits nodes
    * in random order — unreplayable; synchronous rounds with
    * (score desc, community asc) ties are a pure function of the
    * graph. All integers; the returned partition carries its exact
    * modularity Q·10⁶ = Σ_c(4m·E_c − K_c²)·10⁶ div 4m² (bound: needs
    * 4m²·10⁶ < 2⁶³ → m < 1.5·10⁶ edges in Long; swap the final
    * division to DECIMAL beyond that — the sums themselves stay
    * exact).
    *
    * Scale shape per round: one edge⋈community join, a (node,
    * community) count with map-side combine, one community-dimension
    * degree-mass aggregate, a per-node argmax window — ids and counts
    * only through every exchange; [[Iterate.rounds]] cuts every round.
    *
    * @param edges (src, dst) undirected pair table (dups/direction ok)
    * @return (id, comm, q_u6) after `iters` synchronous rounds */
  def modularityLocalMove(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "modularityLocalMove needs iters >= 1")
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    moveWeightedCore(sym.withColumn("w", lit(1L)), iters)
  }

  /** [[modularityLocalMove]] generalized to a WEIGHTED adjacency —
    * what the Louvain second level runs on. `adj` is (src, dst, w)
    * with BOTH directions present for src ≠ dst and at most one
    * (c, c, w) self-loop row per node; degree mass k_i = Σ_j A_ij
    * includes the self-loop, gain candidates e_ic exclude it (a
    * self-loop moves with its node, so it is constant across
    * choices), and E_c = (Σ_{i,j∈c} A_ij) div 2 counts it once —
    * exactly the convention under which contracting a partition
    * PRESERVES m, K_c, and Q ([[louvainContract]] asserts it by
    * construction). With w ≡ 1 and no self rows this is bit-identical
    * to the unweighted form (which now delegates here). */
  def modularityMoveWeighted(adj: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "modularityMoveWeighted needs iters >= 1")
    moveWeightedCore(adj, iters)
  }

  private def moveWeightedCore(adj: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = Iterate.cut(
      adj.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    val nonSelf = a.filter(col("src") =!= col("dst"))
    val deg = a.groupBy(col("src").as("id")).agg(sum("w").as("k"))
    val mRow = a.agg(expr("CAST(sum(w) div 2 AS BIGINT)").as("m"))
    val comm = Iterate.rounds(deg.select(col("id"), col("id").as("comm")),
        iters) { comm =>
      val kt = comm.join(deg, "id")
      val kc = kt.groupBy("comm").agg(sum("k").as("kc"))
      val nbrC = nonSelf
        .join(comm.select(col("id").as("dst"), col("comm").as("ncomm")),
          "dst")
        .groupBy(col("src").as("id"), col("ncomm"))
        .agg(sum("w").as("e"))
      val ownC = comm.select(col("id"), col("comm").as("ncomm"),
        lit(0L).as("e"))
      val cand = nbrC.unionByName(ownC)
        .groupBy("id", "ncomm").agg(max("e").as("e"))
        .join(kt, "id")
        .join(kc.select(col("comm").as("ncomm"), col("kc")), "ncomm")
        .crossJoin(broadcast(mRow))
        .withColumn("kcx", when(col("ncomm") === col("comm"),
          col("kc") - col("k")).otherwise(col("kc")))
        .withColumn("score",
          lit(2L) * col("m") * col("e") - col("k") * col("kcx"))
      val w = Window.partitionBy("id").orderBy(desc("score"), col("ncomm"))
      cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("ncomm").as("comm"))
    }
    val intra = nonSelf
      .join(comm.select(col("id").as("src"), col("comm").as("ca")), "src")
      .join(comm.select(col("id").as("dst"), col("comm").as("cb")), "dst")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(sum("w").as("aw"))
    val selfW = a.filter(col("src") === col("dst"))
      .join(comm.select(col("id").as("src"), col("comm")), "src")
      .groupBy("comm").agg(sum("w").as("sw"))
    val ec = comm.select("comm").distinct()
      .join(intra, Seq("comm"), "left")
      .join(selfW, Seq("comm"), "left")
      .select(col("comm"),
        expr("CAST((coalesce(aw, 0) + coalesce(sw, 0)) div 2 AS BIGINT)")
          .as("ec"))
    val qRow = comm.join(deg, "id").groupBy("comm").agg(sum("k").as("kc"))
      .join(ec, Seq("comm"), "left")
      .select(coalesce(col("ec"), lit(0L)).as("ec"), col("kc"))
      .crossJoin(broadcast(mRow))
      .agg(sum(lit(4L) * col("m") * col("ec") - col("kc") * col("kc"))
        .as("num"), max("m").as("m"))
      .select(expr("CAST(num * 1000000 div (4 * m * m) AS BIGINT)")
        .as("q_u6"))
    comm.crossJoin(broadcast(qRow)).select("id", "comm", "q_u6")
  }

  /** Louvain phase-2 contraction (Blondel et al. 2008): collapse each
    * community to a super-node; inter-community edge weights sum, and
    * each super-node gets a self-loop of weight 2·E_c (both-direction
    * intra count), the convention under which the coarse graph has
    * the SAME m, the same per-community degree mass, and the same Q
    * for the induced partition — so gains measured on the coarse
    * graph are gains on the original. One edge⋈community join and a
    * community-pair-dimension count; the coarse table is
    * |communities|²-bounded and usually tiny. */
  def louvainContract(edges: DataFrame, comm: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val lab = sym
      .join(comm.select(col("id").as("src"), col("comm").as("ca")), "src")
      .join(comm.select(col("id").as("dst"), col("comm").as("cb")), "dst")
    val inter = lab.filter(col("ca") =!= col("cb"))
      .groupBy(col("ca").as("src"), col("cb").as("dst"))
      .agg(count(lit(1)).as("w"))
    val self = lab.filter(col("ca") === col("cb"))
      .groupBy(col("ca"))
      .agg(count(lit(1)).as("w"))
      .select(col("ca").as("src"), col("ca").as("dst"), col("w"))
    inter.unionByName(self)
  }

  /** The full two-level Louvain pass: phase-1 local moves on the raw
    * graph, [[louvainContract]] to the community graph, phase-1 again
    * on the WEIGHTED coarse graph ([[modularityMoveWeighted]]), and
    * every node relabeled through its super-node. Because contraction
    * preserves Q, `q_l2_u6 ≥ q_l1_u6` whenever level 2 finds any
    * merge — the monotone-improvement contract the spec asserts.
    * Scale shape: level 1 is [[modularityLocalMove]]'s per-round
    * joins; everything at level 2 runs on the community-dimension
    * coarse graph. */
  def louvainTwoLevel(edges: DataFrame, iters: Int): DataFrame = {
    val l1 = Iterate.cut(modularityLocalMove(edges, iters))
    val comm1 = l1.select("id", "comm")
    val coarse = louvainContract(edges, comm1)
    val l2 = modularityMoveWeighted(coarse, iters)
    comm1
      .join(l2.select(col("id").as("comm"), col("comm").as("comm_l2"),
        col("q_u6").as("q_l2_u6")), "comm")
      .join(l1.select(col("id"), col("q_u6").as("q_l1_u6")), "id")
      .select(col("id"), col("comm").as("comm_l1"), col("comm_l2"),
        col("q_l1_u6"), col("q_l2_u6"))
  }

  /** SimRank (Jeh & Widom KDD'02) — structural node similarity:
    * "two objects are similar if they are referenced by similar
    * objects". [[linkPrediction]] scores LOCAL neighbor overlap; this
    * one propagates similarity through the whole graph: s(a,a) = 1 and
    *
    *   s(a,b) = C / (|I(a)|·|I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i, j)
    *
    * iterated `iters` times from the diagonal (the truncated series is
    * the standard estimator; error decays as C^k). Exact ppm fixed
    * point: s'(a,b) = cPpm·Σ s(i,j) div (|Ia|·|Ib|·10⁶) — one
    * truncating division per pair per round, replayable anywhere.
    * Zero-in-degree nodes have similarity 0 to everything but
    * themselves, per the paper.
    *
    * Scale contract: SimRank is inherently pair-quadratic — the state
    * is the (a, b) similarity MATRIX. Run it on a bounded subgraph
    * (an entity-resolution candidate cluster, a citation neighborhood
    * — the [[personalizedPageRank]] seed-expansion output), not a raw
    * corpus graph; within that contract every round is two edge joins
    * and one pair-dimension aggregate, cut per round ([[Iterate]]).
    *
    * @return (a, b, sim_ppm) for a < b with sim_ppm > 0 */
  def simRank(edges: DataFrame, iters: Int,
      cPpm: Long = 800000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(cPpm > 0 && cPpm < 1000000L,
      s"cPpm must be in (0, 1e6), got $cPpm")
    val e = Iterate.cut(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct())
    val nodes = Iterate.cut(e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()).toDF("id")
    val indeg = Iterate.cut(e.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("ind"))).toDF("id", "ind")
    val diag = nodes.select(col("id").as("a"), col("id").as("b"),
      lit(1000000L).as("s"))
    // every round's state is re-aliased through toDF: it shares its
    // ancestry with `diag`, and fresh expr-ids keep Catalyst from
    // seeing self-join attribute collisions
    val sim = Iterate.rounds(diag, iters) { prev =>
      val contrib = prev.toDF("a", "b", "s")
        .join(e.toDF("i", "ea"), col("i") === col("a"))
        .join(e.toDF("j", "eb"), col("j") === col("b"))
        .filter(col("ea") =!= col("eb"))
        .groupBy(col("ea"), col("eb")).agg(sum("s").as("ssum"))
      val offDiag = contrib
        .join(indeg.toDF("ea", "ia"), "ea")
        .join(indeg.toDF("eb", "ib"), "eb")
        .select(col("ea").as("a"), col("eb").as("b"),
          expr(s"CAST($cPpm * ssum div (ia * ib * 1000000) AS BIGINT)")
            .as("s"))
        .filter(col("s") > 0)
      diag.unionByName(offDiag)
    }.toDF("a", "b", "s")
    sim.filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("s").as("sim_ppm"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) — the
    * COMMUNITY member of the graph tier: connected components answer
    * "reachable at all?", LPA answers "densely knit together?"
    * (near-dup families inside one giant crawl component, topic groups
    * in a citation graph). Deterministic by construction — classic LPA
    * randomizes update order and tie-breaks, which no second engine
    * could replay: labels init to node ids; each round EVERY node
    * simultaneously takes the most frequent label among its neighbors
    * (count desc, then smallest label), isolated nodes keep theirs.
    *
    * Scale shape per round: one edge⋈label join keyed by node id, a
    * (node, label)-keyed count with map-side partial combine, and a
    * per-node argmax window — edges and labels are two longs wide, so
    * the shuffles carry ids, never payload; each round is cut and
    * observes how many labels changed, and a round that changes none
    * is a fixed point, so the loop stops there ([[Iterate.fixedPoint]])
    * with the rows `iters` rounds would give.
    *
    * @param edges (src, dst) undirected pair table (dups/direction fine)
    * @return (id, lbl) after `iters` synchronous rounds */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = Iterate.cut(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    val nodes = sym.select(col("src").as("id")).distinct()
    val init = nodes.select(col("id"), col("id").as("lbl"), col("id").as("prev"))
    val (labels, _) = Iterate.fixedPoint(init, iters,
        count(when(col("lbl") =!= col("prev"), 1)))({ labels =>
      val counts = sym
        .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("id").orderBy(desc("c"), col("lbl"))
      val winner = counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("id", "lbl")
      nodes
        .join(winner, Seq("id"), "left")
        .join(labels.select(col("id"), col("lbl").as("prev")), Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("prev")).as("lbl"), col("prev"))
    }, (_, next) => next.signal == Seq(0L))
    labels.select("id", "lbl")
  }
}
