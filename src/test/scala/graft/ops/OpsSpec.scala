package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, SparkTestBase}

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different text about spark query engines and shuffle planning"),
    (5L, "another unrelated document mentioning vectors embeddings and cosine math"))
    .toDF("doc_id", "text")

  test("exact dedup keeps first id per digest") {
    val out = Dedup.exact(corpus)
    assert(out.count() == 4)
    assert(out.filter($"doc_id" === 2).isEmpty)
  }

  test("exactDuplicateGroups reports the dup group") {
    val g = Dedup.exactDuplicateGroups(corpus).collect()
    assert(g.length == 1 && g(0).getAs[Long]("n") == 2 && g(0).getAs[Long]("keep_id") == 1)
  }

  test("minHashNearDups (xxhash hot path) finds exact+near dups, not unrelated") {
    val pairs = Dedup.minHashNearDups(corpus, jaccardThreshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup must always be caught")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("connectedComponents: chains propagate the min label multi-hop") {
    // 1-2-3-4 chain (diameter 3), 10-11 pair, 20 absent (no edges)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id1", "id2")
    val comps = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents composes with minHashNearDups pairs") {
    val pairs = Dedup.minHashNearDups(corpus, jaccardThreshold = 0.5)
      .select("id1", "id2")
    val comps = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    // the exact dups 1,2 always collapse to the group labeled 1; doc 3
    // (near dup) joins the same group whenever banding surfaced its pair
    assert(comps.get(1L).contains(1L) && comps.get(2L).contains(1L))
    assert(comps.get(3L).forall(_ == 1L))
    assert(!comps.contains(4L) && !comps.contains(5L), "unique docs get no label")
  }

  /** Driver-side union-find over an edge list: id -> min id of its
    * component. Linking the larger root under the smaller keeps every
    * root its set's minimum — the independent reference the
    * components specs compare against. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents: agrees with a driver-side union-find on " +
      "mixed topology and a seeded random graph") {
    val mixed = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (7L, 7L),
      (20L, 22L), (22L, 21L), (21L, 20L)) // chain, pair, self-loop, cycle
    val rnd = new scala.util.Random(5)
    val random = Seq.fill(240)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
    for (edges <- Seq(mixed, random)) {
      val got = Dedup.connectedComponents(edges.toDF("id1", "id2"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(edges), s"got $got")
    }
    val m = Dedup.connectedComponents(mixed.toDF("id1", "id2"))
      .as[(Long, Long)].collect().toMap
    assert(m(4L) == 1L && m(11L) == 10L && m(22L) == 20L && m(7L) == 7L)
  }

  test("connectedComponents: a 1000-link chain and its seeded " +
      "relabellings converge in O(log n) rounds") {
    // the pathological topology for label propagation: plain min-label
    // needs ~1000 rounds, and pointer halving only helps when ids grow
    // along the path. Randomly permuted ids (seeds 7, 11, 13) must
    // collapse within maxIter = 12 ~ O(log2 1000) just like the
    // monotone chain.
    def path(ids: IndexedSeq[Long]) =
      ids.indices.init.map(i => (ids(i), ids(i + 1))).toDF("id1", "id2")
    val ids = (0L until 1000L).toVector
    val inputs = ("monotone" -> ids) +: Seq(7, 11, 13).map(seed =>
      s"seed $seed" -> new scala.util.Random(seed).shuffle(ids))
    for ((name, order) <- inputs) {
      val comps = Dedup.connectedComponents(path(order), maxIter = 12)
        .as[(Long, Long)].collect()
      assert(comps.length == 1000, name)
      assert(comps.forall(_._2 == 0L), s"$name: one component, min id 0")
    }
  }

  test("jaroWinkler: literature known-answer vectors (Winkler 1990)") {
    def jw(a: String, b: String) =
      math.round(Dedup.jaroWinklerSim(a, b) * 1e6) / 1e6
    assert(jw("MARTHA", "MARHTA") == 0.961111)
    assert(jw("DIXON", "DICKSONX") == 0.813333)
    assert(jw("JELLYFISH", "SMELLYFISH") == 0.896296)
    assert(jw("DWAYNE", "DUANE") == 0.84)
    assert(jw("abc", "abc") == 1.0 && jw("", "") == 1.0)
    assert(jw("", "abc") == 0.0 && jw("ab", "ba") == 0.0)
    // boost threshold: a shared prefix does NOT boost a sub-0.7 jaro
    assert(jw("aXXXXXX", "aYYYYYY") == 0.428571)
    // but does above it (prefix 4, jaro 5/7)
    assert(jw("prefXab", "prefYcd") == 0.828571)
  }

  test("lshParamSweep: exact hand S-curve points, budget respected, " +
      "recommendation matches the local argmax, guards") {
    val got = Dedup.lshParamSweep(spark, totalHashes = 4, tPpm = 500000L)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    val byBr = got.map(r => (r._1, r._2) -> r).toMap
    // p(1,1)=0.5, p(4,1)=1−0.5⁴=0.9375, p(2,2)=1−0.75²=0.4375,
    // p(1,4)=0.0625 — all exact at t=0.5
    assert(byBr((1L, 1L))._3 == 500000L)
    assert(byBr((4L, 1L))._3 == 937500L)
    assert(byBr((2L, 2L))._3 == 437500L)
    assert(byBr((1L, 4L))._3 == 62500L)
    assert(got.forall(r => r._1 * r._2 <= 4), "budget respected")
    // the recommended row is the local mirror's gap argmax
    def p(s: Double, b: Long, r: Long): Long =
      math.round((1 - math.pow(1 - math.pow(s, r.toDouble),
        b.toDouble)) * 1e6)
    val t = 500000.0 / 1000000.0
    val exp = got.map { r =>
      (p(t + 0.1, r._1, r._2) - p(t - 0.1, r._1, r._2), r._1, r._2)
    }.minBy { case (g, b, r) => (-g, b, r) }
    val rec = got.filter(_._7 == 1L)
    assert(rec.length == 1 &&
      (rec.head._1, rec.head._2) == ((exp._2, exp._3)),
      s"recommended ${rec.toSeq} vs local $exp")
    intercept[IllegalArgumentException] {
      Dedup.lshParamSweep(spark, 4, tPpm = 50000L)
    }
  }

  test("tfidfCosinePairs: only rare-shared-token pairs surface, the " +
      "dot covers all shared tokens, singleton tokens never generate " +
      "candidates, guards") {
    // x has df 2 (rare) → candidate (1,2); a/b/y/c are singletons and
    // generate nothing, so doc 3 never pairs.
    val docs = Seq((1L, "x a"), (2L, "x b"), (3L, "y c"))
      .toDF("doc_id", "text")
    val got = Dedup.tfidfCosinePairs(docs, maxDf = 20L, k = 10)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val wx = math.round(math.log(3.0 / 2) * 1e6)
    val wa = math.round(math.log(3.0) * 1e6)
    val nrm = math.sqrt((wx * wx + wa * wa).toDouble)
    val expCos = math.rint(wx * wx / (nrm * nrm) * 1e6) / 1e6
    assert(got.map(r => (r._1, r._2, r._3)) == Seq((1L, 2L, wx * wx)),
      s"got $got")
    assert(math.abs(got.head._4 - expCos) < 1e-9,
      s"cos ${got.head._4} != $expCos")
    intercept[IllegalArgumentException] {
      Dedup.tfidfCosinePairs(docs, maxDf = 1L)
    }
  }

  test("sortedNeighborhoodPairs: each record pairs with its window-1 " +
      "sort successors, deterministic key-then-id order, guards") {
    val df = Seq((1L, 10L), (2L, 11L), (3L, 13L), (4L, 99L))
      .toDF("id", "key")
    val w2 = Dedup.sortedNeighborhoodPairs(df, "id", "key", window = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(w2 == Set((1L, 2L, 10L, 11L), (2L, 3L, 11L, 13L),
      (3L, 4L, 13L, 99L)), s"got $w2")
    val w3 = Dedup.sortedNeighborhoodPairs(df, "id", "key", window = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(w3 == w2 ++ Set((1L, 3L, 10L, 13L), (2L, 4L, 11L, 99L)),
      s"got $w3")
    intercept[IllegalArgumentException] {
      Dedup.sortedNeighborhoodPairs(df, "id", "key", window = 1)
    }
  }

  test("fellegiSunterPairs: frequency-estimated u, hand-computed " +
      "micro-log weights, block isolation, score filter, guards") {
    // N=4; both fields have value frequencies {3,1} → u = 10/16 =
    // 625000 ppm → wa = round(log10(0.95/0.625)e6) = 181844,
    // wd = round(log10(0.05/0.375)e6) = −875061.
    val df = Seq((1L, "X", 10L, "a"), (2L, "X", 10L, "a"),
      (3L, "X", 20L, "b"), (4L, "Y", 10L, "a"))
      .toDF("id", "blk", "f1", "f2")
    val got = Dedup.fellegiSunterPairs(df, "id", Seq("blk"),
        Seq("f1", "f2"), lowerU6 = 0L)
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set((1L, 2L, 2L, 363688L, "link")), s"got $got")
    // the review band exposes the double-disagree pairs as 'possible'
    val all = Dedup.fellegiSunterPairs(df, "id", Seq("blk"),
        Seq("f1", "f2"))
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(all == Set((1L, 2L, 2L, 363688L, "link"),
      (1L, 3L, 0L, -1750122L, "possible"),
      (2L, 3L, 0L, -1750122L, "possible")), s"got $all")
    intercept[IllegalArgumentException] {
      Dedup.fellegiSunterPairs(df, "id", Seq.empty, Seq("f1"))
    }
    intercept[IllegalArgumentException] {
      Dedup.fellegiSunterPairs(df, "id", Seq("blk"), Seq("f1"),
        mPpm = 1000000L)
    }
    intercept[IllegalArgumentException] {
      Dedup.fellegiSunterPairs(df, "id", Seq("blk"), Seq("f1"),
        upperU6 = 0L, lowerU6 = 1L)
    }
  }

  test("soundex4: known-answer codes (vowel-rule variant), sound-alike " +
      "collision, run collapse through the lead letter, non-letters " +
      "stripped, letterless null") {
    val df = Seq("robert", "rupert", "tymczak", "pfister", "honeyman",
      "ashcraft", "a", "xz", "o'brien", "123").toDF("w")
    val got = df.select(col("w"), Dedup.soundex4(col("w")).as("c"))
      .as[(String, Option[String])].collect().toMap
    assert(got("robert") == Some("R163") && got("rupert") == Some("R163"),
      s"sound-alikes collide: $got")
    assert(got("tymczak") == Some("T522"), s"got $got")
    assert(got("pfister") == Some("P236"), s"lead run collapses: $got")
    assert(got("honeyman") == Some("H555"), s"got $got")
    // vowel-rule variant: the archival h/w-transparent rule would give
    // A261; h coded 0 breaks the s/c run here — documented deviation
    assert(got("ashcraft") == Some("A226"), s"got $got")
    assert(got("a") == Some("A000") && got("xz") == Some("X000"),
      s"padding and same-code-as-lead drop: $got")
    assert(got("o'brien") == Some("O165"), s"punctuation stripped: $got")
    assert(got("123") == None, s"letterless is null: $got")
  }

  test("fuzzyLinkageJaroWinkler: blocked twins verified, unrelated dropped") {
    val a = Seq((1L, "entity_12"), (2L, "acme corp")).toDF("id_a", "name_a")
    val b = Seq((10L, "entity-12"), (20L, "zzzzzz_12")).toDF("id_b", "name_b")
    val out = Dedup.fuzzyLinkageJaroWinkler(a, b,
        expr("right(name_a, 2)"), expr("right(name_b, 2)"),
        "name_a", "name_b", minSim = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // entity_12 blocks with both right-2 = "12" candidates; JW keeps
    // only the one-substitution twin
    assert(out == Set((1L, 10L)), out.toString)
  }

  test("minHashAgainst: exact copy of a stored doc is flagged at agreement 1.0") {
    def sigs(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("sh", Dedup.shingles(col("text"), 3))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), Dedup.md5MinHashSignatureUdf(8)(col("sh")).as("sig"))
    val stored = sigs(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text"))
    val fresh = sigs(Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),      // copy of 1
      (11L, "completely different content here folks")).toDF("doc_id", "text"))
    val hits = Dedup.minHashAgainst(fresh, stored, bands = 4, minAgree = 0.8,
      numHashes = 8).as[(Long, Long, Double)].collect()
    assert(hits.toSeq == Seq((10L, 1L, 1.0)),
      s"only the exact copy crosses the agreement bar: ${hits.toSeq}")
    // signature agreement semantics
    val agree = Seq((Seq("a", "b", "c", "d"), Seq("a", "x", "c", "d")))
      .toDF("s1", "s2")
      .select(Dedup.signatureAgreementUdf(col("s1"), col("s2"))).head().getDouble(0)
    assert(agree == 0.75)
  }

  test("exactAgainst admits only batch rows new to both batch and corpus") {
    val corpus = Seq((100L, "known doc"), (101L, "other known")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "brand new"),
      (2L, "brand new"),     // within-batch dup: min id 1 wins
      (3L, "known doc"),     // already in corpus: rejected
      (4L, "also new")).toDF("doc_id", "text")
    val admitted = Dedup.exactAgainst(batch, Dedup.digests(corpus))
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(1L, 4L))
  }

  test("normalizeText canonicalizes composed and decomposed forms identically") {
    val composed = "Café ÉCOLE"            // é as U+00E9
    val decomposed = "Café ÉCOLE"        // e + U+0301
    val out = Seq((1L, composed), (2L, decomposed), (3L, "  a \t b\n c  "))
      .toDF("id", "text")
      .select(col("id"), TextAnalysis.normalizeText(col("text")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "cafe ecole")
    assert(out(2L) == "cafe ecole", "decomposed form must canonicalize the same")
    assert(out(3L) == "a b c", "whitespace runs collapse, ends trim")
  }

  test("buildVocab + tokenizeIds: frequency ranks, OOV, exact position order") {
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the the dog"),
      (3L, "rare rare rare the")).toDF("doc_id", "text")
    // counts: the=4, rare=3, cat/sat/dog=1 each → top-3 = the(0), rare(1), cat(2)
    val vocab = TextAnalysis.buildVocab(docs, "text", size = 3)
      .as[(String, Int)].collect().toMap
    assert(vocab == Map("the" -> 0, "rare" -> 1, "cat" -> 2),
      s"count desc then token asc: $vocab")
    val ids = TextAnalysis.tokenizeIds(docs, TextAnalysis.buildVocab(docs, "text", 3))
      .as[(Long, Seq[Long])].collect().toMap
    assert(ids(1L) == Seq(0L, 2L, -1L), "the cat sat → [0, 2, OOV]")
    assert(ids(2L) == Seq(0L, 0L, -1L), "position order preserved for repeats")
    assert(ids(3L) == Seq(1L, 1L, 1L, 0L))
  }

  test("pageRankFixedPoint: hand-computed integer ranks on a 3-node graph") {
    // 1→2, 3→2, 2→1; scale 1000, d=85/100, base=150
    // iter1: r(1)=150+850=1000, r(2)=150+850+850=1850, r(3)=150
    // iter2: r(1)=150+floor(1850*85/100)=1722,
    //        r(2)=150+850+floor(150*85/100)=1127, r(3)=150
    val e = Seq((1L, 2L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = GraphOps.pageRankFixedPoint(e, iters = 2, scale = 1000L)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1722L, 2L -> 1127L, 3L -> 150L), s"got $r")
    // determinism: a second run computes identical longs
    assert(GraphOps.pageRankFixedPoint(e, iters = 2, scale = 1000L)
      .as[(Long, Long)].collect().toMap == r)
  }

  test("personalizedPageRank: teleport mass lands only on the seed, " +
      "hand-computed integer ranks, determinism, guards") {
    // 1→2, 3→2, 2→1; seeds {1}; scale 1000, d=85/100, base=150
    // r0: (1000, 0, 0)
    // iter1: r(1)=150+0=150, r(2)=0+850=850, r(3)=0
    // iter2: r(1)=150+floor(850*85/100)=872,
    //        r(2)=0+floor(150*85/100)=127, r(3)=0
    val e = Seq((1L, 2L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = GraphOps.personalizedPageRank(e, seeds = Seq(1L), iters = 2,
      scale = 1000L).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 872L, 2L -> 127L, 3L -> 0L), s"got $r")
    assert(GraphOps.personalizedPageRank(e, seeds = Seq(1L), iters = 2,
      scale = 1000L).as[(Long, Long)].collect().toMap == r)
    // a non-seed component reachable only FROM seeds still accumulates;
    // one unreachable from seeds stays at exactly 0 (3 above)
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(e, seeds = Seq.empty, iters = 1)
    }
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(e, seeds = Seq(1L), iters = 0)
    }
  }

  test("hits: hand-computed truncating max-normalized rounds, pure " +
      "hub and pure authority land at 0/scale, determinism, guards") {
    // 1→2, 1→3, 2→3; scale 1000.
    // r1: hub raw (2000,1000,0) → (1000,500,0);
    //     auth raw 2:1000, 3:1500 → (0,666,1000)
    // r2: hub raw 1:1666, 2:1000 → (1000, 600, 0);
    //     auth raw 2:1000, 3:1600 → (0, 625, 1000)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = GraphOps.hits(e, iters = 2, scale = 1000L)
      .select("id", "hub", "auth")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1000L, 0L), (2L, 600L, 625L),
      (3L, 0L, 1000L)), s"got $got")
    assert(GraphOps.hits(e, iters = 2, scale = 1000L)
      .select("id", "hub", "auth")
      .as[(Long, Long, Long)].collect().toSet == got)
    intercept[IllegalArgumentException] { GraphOps.hits(e, iters = 0) }
    intercept[IllegalArgumentException] {
      GraphOps.hits(e.limit(0), iters = 1)
    }
  }

  test("triangleCount: K4 has 4 triangles; orientation dedups multi-edges/loops") {
    // K4 on {1,2,3,4} = C(4,3) = 4 triangles; reversed duplicates and a
    // self-loop must not change the count.
    val k4 = for (u <- 1L to 4L; v <- 1L to 4L if u != v) yield (u, v)
    val e = (k4 ++ Seq((1L, 1L), (2L, 1L))).toDF("src", "dst")
    assert(GraphOps.triangleCount(e).first().getLong(0) == 4L)
    // a path graph has none
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.triangleCount(path).first().getLong(0) == 0L)
  }

  test("linkPrediction: open wedge scores its endpoints, adjacent " +
      "pairs excluded, exact Jaccard, no-shared-neighbor pairs absent") {
    // path 1-2-3 + 3-4: candidates (1,3) share {2}: jac = 1000/(2+2-1)
    // wait — deg(1)=1, deg(3)=2 → 1·1000//(1+2-1) = 500;
    // (2,4) share {3}: deg(2)=2, deg(4)=1 → 500; (1,4) share none.
    val g = Seq((1L, 2L, 0L), (2L, 3L, 0L), (3L, 4L, 0L))
      .toDF("src", "dst", "w")
    val got = GraphOps.linkPrediction(g)
      .select("u", "v", "cn", "jaccard_pm")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 1L, 500L), (2L, 4L, 1L, 500L)),
      s"got $got")
    // triangle: every pair adjacent → nothing to predict
    val tri = Seq((1L, 2L, 0L), (2L, 3L, 0L), (3L, 1L, 0L))
      .toDF("src", "dst", "w")
    assert(GraphOps.linkPrediction(tri).count() == 0L)
  }

  test("clusteringCoefficient: triangle node 1000, open wedge 0, K4 " +
      "all 1000, pendant low-degree zero over zero pairs") {
    // triangle {1,2,3} + pendant 3-4: cc(1)=cc(2)=1000; 3 has deg 3
    // with 1 closed pair of 3 → 333; 4 has deg 1 → 0
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w")
    val got = GraphOps.clusteringCoefficient(g)
      .select("id", "deg", "triangles", "cc_pm")
      .as[(Long, Long, Long, Long)].collect()
      .map { case (i, d, t, c) => i -> ((d, t, c)) }.toMap
    assert(got == Map(1L -> ((2L, 1L, 1000L)), 2L -> ((2L, 1L, 1000L)),
      3L -> ((3L, 1L, 333L)), 4L -> ((1L, 0L, 0L))), s"got $got")
    // a path has no closed wedges anywhere
    val path = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    assert(GraphOps.clusteringCoefficient(path)
      .filter(col("cc_pm") > 0).count() == 0L)
  }

  // 1-2 (5), 2-3 (2), 1-3 (10): best 1→3 is 7 via 2; 9-10 is a
  // separate component — absent from source 1's table
  private def pathsGraph = Seq((1L, 2L, 5L), (2L, 3L, 2L), (1L, 3L, 10L),
    (9L, 10L, 1L)).toDF("src", "dst", "w")

  test("shortestPaths: relaxation beats the direct edge, unreachable " +
      "absent, extra rounds idempotent, multi-edge min") {
    val g = pathsGraph
    def run(r: Int) = GraphOps.shortestPaths(g, 1L, r)
      .as[(Long, Long)].collect().toMap
    assert(run(4) == Map(1L -> 0L, 2L -> 5L, 3L -> 7L), s"${run(4)}")
    assert(run(8) == run(4), "past-diameter rounds are no-ops")
    // one round only reaches direct neighbors (3 via the 10-edge)
    assert(run(1) == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
    // parallel edges keep the lighter; reversed direction symmetric
    val multi = Seq((1L, 2L, 9L), (2L, 1L, 4L)).toDF("src", "dst", "w")
    assert(GraphOps.shortestPaths(multi, 2L, 2)
      .as[(Long, Long)].collect().toMap == Map(2L -> 0L, 1L -> 4L))
  }

  test("boruvkaMst: unique MST on distinct weights, cycle edge " +
      "excluded, forest on disconnected input, idempotent rounds") {
    // square 1-2(w1), 2-3(w2), 3-4(w3), 4-1(w9) + diagonal 1-3(w5):
    // MST = {1-2, 2-3, 3-4}; both w9 and w5 close cycles
    val sq = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L),
      (4L, 1L, 9L), (1L, 3L, 5L)).toDF("src", "dst", "w")
    val got = GraphOps.boruvkaMst(sq, iters = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)),
      s"got $got")
    // two components → spanning forest, n1−1 + n2−1 edges
    val forest = sq.unionByName(
      Seq((10L, 11L, 4L), (11L, 12L, 6L), (10L, 12L, 7L))
        .toDF("src", "dst", "w"))
    val f = GraphOps.boruvkaMst(forest, iters = 6)
      .as[(Long, Long, Long)].collect().toSet
    assert(f == got ++ Set((10L, 11L, 4L), (11L, 12L, 6L)), s"got $f")
    // multi-edges collapse to min weight; reversed direction canonical
    val multi = Seq((1L, 2L, 8L), (2L, 1L, 3L)).toDF("src", "dst", "w")
    assert(GraphOps.boruvkaMst(multi, 3)
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 2L, 3L)))
  }

  test("itemCooccurrence: repeat purchases dedupe, exact squared-" +
      "cosine micro scores, tie-break on other asc, k truncation") {
    // baskets: b1 {1,2,3} (item 1 twice — must dedupe), b2 {1,2},
    // b3 {1,2}, b4 {3} → c1=3, c2=3, c3=2; cooc(1,2)=3, (1,3)=1,
    // (2,3)=1 → sim2(1,2)=9e6//9=1000000, (1,3)=(2,3)=1e6//6=166666
    val df = Seq((10L, 1L), (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 1L), (20L, 2L), (30L, 1L), (30L, 2L), (40L, 3L))
      .toDF("bk", "it")
    val got = GraphOps.itemCooccurrence(df, "bk", "it", k = 2)
      .select("item", "other", "cooc", "sim2_u6", "rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 3L, 1000000L, 1L), (1L, 3L, 1L, 166666L, 2L),
      (2L, 1L, 3L, 1000000L, 1L), (2L, 3L, 1L, 166666L, 2L),
      (3L, 1L, 1L, 166666L, 1L), (3L, 2L, 1L, 166666L, 2L)),
      s"got $got")
    // k = 1 keeps only each item's best neighbor
    assert(GraphOps.itemCooccurrence(df, "bk", "it", 1).count() == 3L)
    intercept[IllegalArgumentException] {
      GraphOps.itemCooccurrence(df, "bk", "it", 0)
    }
  }

  test("associationRules: asymmetric confidence, symmetric lift, " +
      "min-support prunes, exact integers") {
    // baskets: {1,2} ×3, {1} ×1, {2,3} ×1 → c1=4, c2=4, c3=1, N=5
    // cooc(1,2)=3: conf(1→2)=750, conf(2→1)=750,
    //   lift = 3·5·1e6 // 16 = 937500 (both directions)
    // cooc(2,3)=1 < minSupport 2 → pruned
    val df = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 2L), (40L, 1L), (50L, 2L), (50L, 3L))
      .toDF("bk", "it")
    val got = GraphOps.associationRules(df, "bk", "it", minSupport = 2)
      .select("antecedent", "consequent", "cooc", "n_baskets",
        "conf_pm", "lift_u6")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 3L, 5L, 750L, 937500L),
      (2L, 1L, 3L, 5L, 750L, 937500L)), s"got $got")
    // asymmetry: shrink c2's solo support → conf(2→1) rises above
    // conf(1→2)
    val asym = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L),
      (30L, 1L), (40L, 1L)).toDF("bk", "it")
    val conf = GraphOps.associationRules(asym, "bk", "it", 2)
      .select("antecedent", "conf_pm").as[(Long, Long)].collect().toMap
    assert(conf(2L) == 1000L && conf(1L) == 500L,
      s"2→1 certain, 1→2 half: $conf")
    intercept[IllegalArgumentException] {
      GraphOps.associationRules(df, "bk", "it", 0)
    }
  }

  // triangle {0,1,2} + pendant chain 2-10-11-12: for k = 2 the chain
  // peels from the far end, one node per round
  private def coreGraph = Seq((0L, 1L), (1L, 2L), (2L, 0L),
    (2L, 10L), (10L, 11L), (11L, 12L)).toDF("src", "dst")

  // two K4 cliques {0..3} and {10..13} plus one bridge 3-10
  private def bridgedCliques = {
    def clique(base: Long) = for {
      i <- base until base + 4; j <- (i + 1) until base + 4
    } yield (i, j)
    (clique(0) ++ clique(10) :+ ((3L, 10L))).toDF("src", "dst")
  }

  test("kCore: chain unravels one node per round, ring and triangle " +
      "survive, extra rounds are no-ops") {
    val edges = coreGraph
    def core(iters: Int) = GraphOps.kCore(edges, k = 2, iters = iters)
      .as[(Long, Long)].collect().toMap
    // one round: only the current leaf (12) is gone
    assert(core(1).keySet == Set(0L, 1L, 2L, 10L, 11L))
    // converged: triangle only, every member at degree 2
    assert(core(4) == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // idempotent past convergence
    assert(core(8) == core(4))
    // k = 1 keeps everything with its full degree
    assert(GraphOps.kCore(edges, k = 1, iters = 2)
      .as[(Long, Long)].collect().toMap ==
      Map(0L -> 2L, 1L -> 2L, 2L -> 3L, 10L -> 2L, 11L -> 2L, 12L -> 1L))
    // k above the max degree empties the graph
    assert(GraphOps.kCore(edges, k = 4, iters = 3).count() == 0L)
  }

  test("labelPropagation: cliques converge to their min id, a single " +
      "bridge does not merge them, pure function of the edges") {
    val edges = bridgedCliques
    val got = GraphOps.labelPropagation(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert((0L to 2L).forall(got(_) == 0L), s"clique A -> min id 0: $got")
    assert((11L to 13L).forall(got(_) == 10L), s"clique B -> min id 10: $got")
    assert(got(3L) == 0L && got(10L) == 10L,
      s"bridge endpoints stay with their dense side: $got")
    val again = GraphOps.labelPropagation(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(again == got, "deterministic")
  }

  test("kCore, shortestPaths, labelPropagation stop at their exact " +
      "fixed point: a generous round cap returns the converged rows and " +
      "runs no more jobs than one round past convergence") {
    // (name, converged round count c, run with a round cap): c is the
    // first round after which the output no longer changes — the chain
    // peels 12, 11, 10; 3's distance improves to 7 in round 2; both
    // cliques settle on their min id in round 2
    val cases = Seq[(String, Int, Int => Set[(Long, Long)])](
      ("kCore", 3, n => GraphOps.kCore(coreGraph, k = 2, iters = n)
        .as[(Long, Long)].collect().toSet),
      ("shortestPaths", 2, n => GraphOps.shortestPaths(pathsGraph, 1L, n)
        .as[(Long, Long)].collect().toSet),
      ("labelPropagation", 2, n => GraphOps.labelPropagation(
        bridgedCliques, iters = n).as[(Long, Long)].collect().toSet))
    for ((name, c, run) <- cases) {
      val (atC, _) = JobCount(spark)(run(c))
      val (past, pastJobs) = JobCount(spark)(run(c + 1))
      val (capped, cappedJobs) = JobCount(spark)(run(50))
      assert(capped == atC && past == atC, s"$name: $capped vs $atC")
      assert(cappedJobs <= pastJobs,
        s"$name: iters = 50 ran $cappedJobs jobs, iters = ${c + 1} $pastJobs")
    }
  }

  test("modularityLocalMove: barbell graph, hand-walked synchronous " +
      "rounds with ties to the smaller community, exact micro Q, " +
      "deterministic") {
    // two triangles {1,2,3} / {4,5,6} bridged 3-4; m = 7. Round 1 from
    // singletons pairs nodes off; round 2 re-forms {1,3} and {4,5}
    // (synchronous moves legitimately oscillate — determinism is the
    // contract, not convergence).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val r1 = GraphOps.modularityLocalMove(edges, iters = 1)
      .as[(Long, Long, Long)].collect()
    assert(r1.map(r => r._1 -> r._2).toMap ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 6L, 6L -> 5L),
      s"round 1: ${r1.toSeq}")
    // Q for the {singleton, pair} × 2 partition:
    // (4·7·1 − 25) + (0 − 4) + (28 − 25) + (0 − 4) = −2 → −2e6 div 196
    assert(r1.forall(_._3 == -10204L), s"q_u6: ${r1.toSeq}")
    val r2 = GraphOps.modularityLocalMove(edges, iters = 2)
      .as[(Long, Long, Long)].collect()
    assert(r2.map(r => r._1 -> r._2).toMap ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 5L, 5L -> 5L, 6L -> 6L),
      s"round 2: ${r2.toSeq}")
    assert(r2.forall(_._3 == -10204L), s"q_u6: ${r2.toSeq}")
    val again = GraphOps.modularityLocalMove(edges, iters = 2)
      .as[(Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq == r2.sortBy(_._1).toSeq,
      "deterministic")
    intercept[IllegalArgumentException] {
      GraphOps.modularityLocalMove(edges, iters = 0)
    }
  }

  test("simRank: co-cited targets score C/2 and reach the fixpoint, " +
      "zero-in-degree sources stay at 0, disjoint components never " +
      "mix, guards") {
    // component 1: papers 1,2 both cite 3 and 4 → s(3,4) = C·2e6 /
    // (2·2·1e6) = 400000, stable. component 2: 11→{12,13}, both →14:
    // s(12,13) = C (shared single parent), s(14, ·) = 0 (its in-pairs
    // carry s(11-vs-paper) = 0).
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L),
      (11L, 12L), (11L, 13L), (12L, 14L), (13L, 14L)).toDF("src", "dst")
    val got = GraphOps.simRank(edges, iters = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((3L, 4L, 400000L), (12L, 13L, 800000L)),
      s"got $got")
    intercept[IllegalArgumentException] {
      GraphOps.simRank(edges, iters = 0)
    }
    intercept[IllegalArgumentException] {
      GraphOps.simRank(edges, iters = 1, cPpm = 1000000L)
    }
  }

  test("louvainContract/modularityMoveWeighted/louvainTwoLevel: hand " +
      "coarse adjacency with 2E self-loops, weighted move with exact " +
      "micro Q, contraction preserves Q through the full two-level " +
      "pass") {
    // Barbell: two triangles bridged 3-4. Level-1 (iters=2) partition
    // is {1,3}/{2}/{4,5}/{6} (hand-walked in the unweighted spec).
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val comm1 = Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 5L), (5L, 5L),
      (6L, 6L)).toDF("id", "comm")
    val adj = GraphOps.louvainContract(edges, comm1)
      .as[(Long, Long, Long)].collect().toSet
    // intra {1,3} and {4,5} → self-loops of weight 2; two bridge pairs
    // of weight 2 (both triangle edges to the singleton) and the 3-4
    // bridge of weight 1, both directions
    assert(adj == Set((1L, 1L, 2L), (5L, 5L, 2L),
      (1L, 2L, 2L), (2L, 1L, 2L), (5L, 6L, 2L), (6L, 5L, 2L),
      (1L, 5L, 1L), (5L, 1L, 1L)), s"got $adj")
    // two-level on the barbell: the symmetric coarse graph oscillates
    // back to singleton super-communities at iters=2, so comm_l2 must
    // equal comm_l1 and — the contraction-preserves-Q contract —
    // q_l2 computed on the COARSE graph equals q_l1 exactly
    val two = GraphOps.louvainTwoLevel(edges, iters = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(two.forall(r => r._3 == r._2) &&
      two.forall(r => r._4 == -10204L && r._5 == -10204L),
      s"got ${two.toSeq}")
    // weighted move with a self-loop: (1,2) w=10 dominates (2,3) w=1,
    // node 1 carries a self-loop of 4 → k₁ = 14, m = 13; one round
    // merges {1,3} into community 2's slot... hand scores: node1→c2
    // (106), node2→c1 (106 vs 15), node3→c2 (15). Q: E_{c2} = 4/2 = 2
    // (the self-loop), K_{c2} = 15, K_{c1} = 11 →
    // ((104 − 225) + (0 − 121))·10⁶ div 676 = −357988.
    val wadj = Seq((1L, 2L, 10L), (2L, 1L, 10L), (2L, 3L, 1L),
      (3L, 2L, 1L), (1L, 1L, 4L)).toDF("src", "dst", "w")
    val wres = GraphOps.modularityMoveWeighted(wadj, iters = 1)
      .as[(Long, Long, Long)].collect()
    assert(wres.map(r => r._1 -> r._2).toMap ==
      Map(1L -> 2L, 2L -> 1L, 3L -> 2L), s"got ${wres.toSeq}")
    assert(wres.forall(_._3 == -357988L), s"q: ${wres.toSeq}")
    intercept[IllegalArgumentException] {
      GraphOps.modularityMoveWeighted(wadj, iters = 0)
    }
  }

  test("triangleCountDegreeOriented equals the id-oriented count on every shape") {
    // a hub graph (node 1 connects to everyone, rim is a cycle): the
    // degree orientation points every hub edge AWAY from the rim nodes,
    // but the count must not change — any total order counts each
    // triangle once
    val rim = (2L to 9L)
    val hub = rim.map(v => (1L, v)) ++
      rim.map(v => (v, if (v == 9L) 2L else v + 1)) // cycle on the rim
    val e = hub.toDF("src", "dst")
    val byId = GraphOps.triangleCount(e).first().getLong(0)
    val byDeg = GraphOps.triangleCountDegreeOriented(e).first().getLong(0)
    assert(byId == byDeg && byId == 8L,
      s"8 hub-rim triangles on an 8-cycle: id=$byId deg=$byDeg")
    // K4 + multi-edges/self-loops, same invariance
    val k4 = (for (u <- 1L to 4L; v <- 1L to 4L if u != v) yield (u, v)) ++
      Seq((1L, 1L), (2L, 1L))
    val k4df = k4.toDF("src", "dst")
    assert(GraphOps.triangleCountDegreeOriented(k4df).first().getLong(0) == 4L)
  }

  test("bigramCounts: adjacent pairs in position order, short docs empty") {
    val docs = Seq((1L, "a b a b c"), (2L, "x"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramCounts(docs)
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L)), got.toString)
  }

  test("Count-Min: never underestimates, exact when collision-free, weighted build matches raw") {
    val vals = (Seq.fill(5)("heavy") ++ Seq("a", "b", "c")).toDF("v")
    val sk = Profile.countMinBuild(vals, "v", depth = 4, width = 64)
    val est = Profile.countMinEstimate(sk, vals, "v", depth = 4, width = 64)
      .as[(String, Long)].collect().toMap
    assert(est("heavy") >= 5L && est("a") >= 1L, s"CM must never undercount: $est")
    // 4 values in 64 buckets: collisions in all 4 rows are vanishingly
    // unlikely — min over rows recovers the exact counts here
    assert(est == Map("heavy" -> 5L, "a" -> 1L, "b" -> 1L, "c" -> 1L), est.toString)
    // weighted build over the frequency table = raw build over the stream
    val counts = vals.groupBy("v").count()
    val sk2 = Profile.countMinBuildCounts(counts, "v", "count", depth = 4, width = 64)
    assert(sk.as[(Int, Long, Long)].collect().toSet ==
      sk2.as[(Int, Long, Long)].collect().toSet)
    // shard sketches merge cell-wise into exactly the whole-corpus sketch
    val shardA = Profile.countMinBuild(vals.limit(4), "v", depth = 4, width = 64)
    val shardB = Profile.countMinBuild(vals.exceptAll(vals.limit(4)), "v",
      depth = 4, width = 64)
    val merged = Profile.countMinMerge(shardA.unionByName(shardB))
    assert(merged.as[(Int, Long, Long)].collect().toSet ==
      sk.as[(Int, Long, Long)].collect().toSet)
  }

  test("topBigramStats: templated text concentrates mass in one transition") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"),  // "now buy" x3, "buy now" x4
      (2L, "a b c d e")).toDF("doc_id", "text")
    val got = TextAnalysis.topBigramStats(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(1L -> ((4L, 7L)), 2L -> ((1L, 4L))), got.toString)
  }

  test("bigramFluency: common transitions score high, in exact integers") {
    // corpus: "a b" occurs in both docs (count 2), "b z" only once.
    val docs = Seq((1L, "a b z"), (2L, "a b")).toDF("doc_id", "text")
    val f = TextAnalysis.bigramFluency(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc 1: pairs (a,b) cnt 2 + (b,z) cnt 1 -> sum 3, n 2
    // doc 2: pair (a,b) cnt 2 -> sum 2, n 1 (higher mean: fluent)
    assert(f == Map(1L -> ((3L, 2L)), 2L -> ((2L, 1L))), f.toString)
  }

  test("keepCanonical drops every clustered doc except the min id") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "a"), (10L, "b"), (11L, "b"),
      (20L, "unique")).toDF("doc_id", "text")
    // chain 1-2, 2-3 (labels must travel 2 hops); pair 10-11; 20 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L))
  }

  test("keepBest keeps the highest-score cluster member, min id on ties") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 30L), (3L, "a", 20L), // winner: 2 (score)
      (10L, "b", 5L), (11L, "b", 5L),                 // tie -> min id 10
      (20L, "unique", 1L))                            // unpaired survives
      .toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val kept = Dedup.keepBest(docs, "doc_id", "score", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L, 20L), kept.toString)
  }

  test("paragraphDedup keeps only the globally-first occurrence of a repeated line") {
    val docs = Seq(
      (1L, "header\nbody one\nfooter"),
      (2L, "header\nbody two\nfooter"),
      (3L, "header\n\n  \nbody three")).toDF("doc_id", "text")
    val kept = Dedup.paragraphDedup(docs, "doc_id", "text")
      .select("doc_id", "idx", "para").as[(Long, Long, String)].collect().toSet
    assert(kept == Set(
      (1L, 0L, "header"), (1L, 1L, "body one"), (1L, 2L, "footer"),
      (2L, 1L, "body two"), (3L, 3L, "body three")),
      s"blank segments dropped, header/footer survive only in doc 1: $kept")
  }

  test("tokenRarity: corpus counts joined back per doc; rare = count <= rareMax") {
    val docs = Seq((1L, "the the cat"), (2L, "the dog")).toDF("doc_id", "text")
    // corpus counts: the=3, cat=1, dog=1
    val out = TextAnalysis.tokenRarity(docs, rareMax = 1)
      .select("doc_id", "n_tok", "sum_cnt", "n_rare")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((3L, 7L, 1L)), s"doc 1: 3 toks, 3+3+1 cnt, cat rare: $out")
    assert(out(2L) == ((2L, 4L, 1L)), s"doc 2: 2 toks, 3+1 cnt, dog rare: $out")
    // the float view is a monotone transform of the exact integers
    val scored = TextAnalysis.tokenRarity(docs, rareMax = 1)
      .withColumn("score", TextAnalysis.unigramLogProbScore(
        org.apache.spark.sql.functions.col("sum_cnt"),
        org.apache.spark.sql.functions.col("n_tok"),
        org.apache.spark.sql.functions.lit(5L)))
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // doc1 mean corpus count 7/3 > doc2's 4/2 → doc1 scores higher
    assert(scored(1L) > scored(2L),
      s"doc of more-common tokens must score higher: $scored")
  }

  test("simHash: identical texts identical, unrelated texts differ") {
    val sigs = corpus.select($"doc_id", Dedup.simHash($"text", 32).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("simHashRadiusPairsBanded: bands = maxDist+1 gives pigeonhole-complete recall") {
    // Adversarial placements for a 48-bit sig over 5 bands (widths
    // 10,10,10,9,9 at offsets 0,10,20,30,39): every planted pair has
    // dist <= 4 with its diff bits spread across DIFFERENT bands, the
    // placements a coarser banding (e.g. 2 bands) can miss.
    val base = 0x0000aaaa5555L
    def flip(bits: Int*): Long = bits.foldLeft(base)((s, b) => s ^ (1L << b))
    val sigs = Seq(
      1L -> base,
      2L -> flip(0, 10, 20, 30),     // dist 4, hits bands 0-3, band 4 clean
      3L -> flip(9, 19, 29, 47),     // dist 4, band-edge bits, band 3 clean
      4L -> flip(5, 15, 25),         // dist 3
      5L -> flip(39, 40, 41, 42),    // dist 4, all in band 4
      6L -> flip(0, 10, 20, 30, 39), // dist 5 — outside the radius
      7L -> base                      // dist 0 twin
    ).toDF("doc_id", "sig")
    val got = Dedup.simHashRadiusPairsBanded(sigs, "doc_id", "sig",
        maxDist = 4, sigBits = 48, bands = 5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    // every pair within radius 4 of the base MUST be present
    for (other <- Seq(2L, 3L, 4L, 5L, 7L)) {
      assert(got.contains((1L, other)), s"missed in-radius pair (1,$other)")
      assert(got.contains((other, 7L)) || got.contains((7L, other)) || other == 7L,
        s"missed twin-side pair for $other")
    }
    assert(!got.contains((1L, 6L)), "dist-5 pair must be filtered (outside radius)")
  }

  test("simHashRadiusPairs: refuses a banding that cannot honor the radius") {
    // 6 byte-bands at radius 6 violates the pigeonhole contract
    // (needs bands >= maxDist + 1) — the round-6 re-gate.
    val sigs = Seq(1L -> 0L, 2L -> 1L).toDF("doc_id", "sig")
    intercept[IllegalArgumentException] {
      Dedup.simHashRadiusPairs(sigs, "doc_id", "sig", maxDist = 6, sigBytes = 6)
    }
    // bands = maxDist + 1 is accepted
    assert(Dedup.simHashRadiusPairs(sigs, "doc_id", "sig",
      maxDist = 1, sigBytes = 2).count() == 1L) // dist(0,1)=1 pair found
  }

  test("lshBandAudit: twin pairs collide in EVERY band at precision 1000;" +
      " an unrelated corpus proposes nothing") {
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "one two three four five six seven eight nine",
      "red orange yellow green blue indigo violet")
    val twins = texts.zipWithIndex.flatMap { case (t, i) =>
      Seq((i.toLong, t), (i + 100L, t)) }.toDF("doc_id", "text")
    val audit = Dedup.lshBandAudit(twins, numHashes = 16, bands = 4)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(audit.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    audit.foreach { case (b, nBuckets, nCand, nVer, pm) =>
      assert(nBuckets == 3L, s"band $b: 3 twin buckets, got $nBuckets")
      assert(nCand == 3L, s"band $b: each twin pair collides once")
      assert(nVer == 3L && pm == 1000L, s"band $b: identical docs verify")
    }
    val unrelated = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val quiet = Dedup.lshBandAudit(unrelated, numHashes = 16, bands = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(quiet.forall(r => r._3 == 0L && r._4 == 0L && r._5 == 0L),
      s"no candidates on an unrelated corpus: ${quiet.toSeq}")
  }

  test("jaccard column: exact dup = 1.0, disjoint = 0.0") {
    val df = Seq((Seq("a", "b"), Seq("a", "b")), (Seq("a"), Seq("b")))
      .toDF("x", "y").select(Dedup.jaccard($"x", $"y").as("j"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0))
  }

  test("embeddingNearDups finds planted identical vector") {
    val vecs = Seq(
      (1L, 0, Array(1.0f, 0.0f, 0.0f)),
      (2L, 0, Array(1.0f, 0.0f, 0.0f)),
      (3L, 0, Array(0.0f, 1.0f, 0.0f)),
      (4L, 1, Array(1.0f, 0.0f, 0.0f))) // same vec but different block -> not compared
      .toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, threshold = 0.99)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("fuzzyLinkage: typo matched at dist 1; typo in the BLOCK key missed (recall trade)") {
    val a = Seq((1L, "acme corp"), (2L, "zeta ltd")).toDF("id_a", "name_a")
    val b = Seq(
      (10L, "acme c0rp"), // typo outside the block key -> found at dist 1
      (20L, "zeta ltX"),  // typo IN the right-2 block key -> missed
      (30L, "acme corp")  // exact -> dist 0
    ).toDF("id_b", "name_b")
    val got = Dedup.fuzzyLinkage(a, b,
        expr("right(name_a, 2)"), expr("right(name_b, 2)"),
        "name_a", "name_b", maxDist = 1)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 10L, 1), (1L, 30L, 0)), s"got $got")
  }

  test("semanticDedupAssigned: anchor rule within cluster; cluster fence respected") {
    def v(x: Double, y: Double, z: Double) = Array(x.toFloat, y.toFloat, z.toFloat)
    val assigned = Seq(
      (1L, v(1, 0, 0), 0), (2L, v(0.999, 0.01, 0), 0), (3L, v(0.998, -0.01, 0), 0),
      (10L, v(0, 1, 0), 1), (11L, v(0.01, 0.999, 0), 1),
      (20L, v(0, 0.1, 0.995), 1), // in the y-cluster but cos ~0.1 — survives
      (30L, v(1, 0, 0), 1)) // identical to vec 1 but FENCED in another cluster
      .toDF("vec_id", "embedding", "centroid")
    val kept = Dedup
      .semanticDedupAssigned(assigned, "embedding", "vec_id", threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L, 30L), s"kept: $kept")
  }

  test("semanticDedup end-to-end: identical vectors co-cluster and later copies drop") {
    // identical coordinates always land on the same nearest centroid,
    // so the wrapper's behavior is deterministic regardless of the
    // k-means initialization
    def v(x: Double, y: Double, z: Double) = Array(x.toFloat, y.toFloat, z.toFloat)
    val vecs = Seq(
      (1L, v(1, 0, 0)), (2L, v(1, 0, 0)), (3L, v(1, 0, 0)),
      (10L, v(0, 1, 0)), (11L, v(0, 1, 0)),
      (20L, v(0, 0, 1)))
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(vecs, nClusters = 3, threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(3L))
    assert(kept.contains(10L) && !kept.contains(11L))
    assert(kept.contains(20L))
  }

  test("winnowingFingerprints: window min with rightmost ties, locality " +
      "guarantee, sub-k and sub-w boundaries") {
    def md5h(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    // doc 1: 8 words -> 6 3-grams, w=4 -> windows at 0..2; replay by hand
    val words = "a b c d e f g h".split(" ")
    val grams = (0 to 5).map(i => words.slice(i, i + 3).mkString(" "))
    val hs = grams.map(md5h)
    val want = (0 to 2).map { p =>
      val win = (p until p + 4)
      val mn = win.map(hs).min
      val pos = win.filter(i => hs(i) == mn).max // rightmost tie
      (pos.toLong, mn)
    }.toSet
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y"), (3L, "p q r"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.winnowingFingerprints(docs, "doc_id", "text",
        k = 3, w = 4)
      .as[(Long, Long, Long)].collect()
    assert(got.filter(_._1 == 1L).map(r => (r._2, r._3)).toSet == want)
    // sub-k doc emits nothing; sub-w doc emits exactly its global min
    assert(!got.exists(_._1 == 2L), "2-word doc has no 3-grams")
    val d3 = got.filter(_._1 == 3L)
    assert(d3.toSeq == Seq((3L, 0L, md5h("p q r"))),
      s"single-gram doc keeps its one gram: ${d3.toSeq}")
    // locality: two docs sharing a 6-word run (k + w - 1) share a fp
    val shared = "s1 s2 s3 s4 s5 s6"
    val pair = Seq((10L, s"aa bb $shared"), (11L, s"$shared zz ww"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowingFingerprints(pair, "doc_id", "text",
        k = 3, w = 4)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    val common = fps(10L).map(_._3).toSet intersect fps(11L).map(_._3).toSet
    assert(common.nonEmpty, "length k+w-1 match must share a fingerprint")
  }

  test("copySpans: a contiguous copy lands on one diagonal; unrelated " +
      "docs produce nothing") {
    val body = (1 to 20).map(i => s"w$i").mkString(" ")
    val left = Seq((1L, body), (2L, (1 to 20).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    // doc 100 copies words 5..16 of doc 1 behind a 3-word salt:
    // every shared fingerprint sits on diagonal (saltLen - copyStart)
    val copy = "s1 s2 s3 " + (5 to 16).map(i => s"w$i").mkString(" ")
    val right = Seq((100L, copy), (101L, (1 to 20).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val spans = TextAnalysis.copySpans(left, right, "doc_id", "text",
        k = 3, w = 4, minShared = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(spans.map(r => (r._1, r._2)).toSet == Set((1L, 100L)),
      s"only the planted pair may surface: ${spans.toSeq}")
    val Array((_, _, diag, n, lo, hi)) = spans
    assert(diag == 3L - 4L, s"diagonal must be saltLen - copyStart: $diag")
    assert(n >= 2L && lo >= 4L && hi <= 13L,
      s"evidence extent inside the copied run: n=$n lo=$lo hi=$hi")
  }
}

class PrefixFilterSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("containmentJoin: excerpt caught despite near-zero Jaccard, " +
      "directed output, below-threshold overlap silent") {
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val excerpt = (10 to 21).map(i => s"w$i").mkString(" ")  // 12 words ⊂ long
    val partial = ((10 to 16) ++ Seq(999, 998, 997, 996, 995))
      .map(i => s"w$i").mkString(" ")                         // ~3/8 contained
    val docs = Seq(
      (1L, long), (2L, excerpt), (3L, partial),
      (4L, (100 to 140).map(i => s"x$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.containmentJoin(docs, "doc_id", "text",
        shingleK = 5, tNum = 4, tDen = 5)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // the excerpt is fully contained: 8 shingles, all in doc 1
    assert(out.contains((2L, 1L)), s"excerpt must pair: ${out.keys}")
    assert(out((2L, 1L))._5 == 1000L, "full containment = 1000 per mille")
    // NOT the reverse direction (doc 1 is not contained in doc 2)
    assert(!out.contains((1L, 2L)), "containment is directed")
    // Jaccard would be 8/(56+8-8) = 0.14 — the symmetric join is blind
    val sym = Dedup.prefixFilterJoin(docs, "doc_id", "text",
      shingleK = 5, tNum = 3, tDen = 5)
    assert(!sym.as[(Long, Long, Long, Long)].collect()
      .exists(r => r._1 == 1L && r._2 == 2L),
      "Jaccard join must miss the excerpt (that's the point)")
    // partial overlap below 4/5 stays silent
    assert(!out.keys.exists(_._1 == 3L), s"partial must not pair: ${out.keys}")
    assert(!out.keys.exists(p => p._1 == 4L || p._2 == 4L))
    intercept[IllegalArgumentException](
      Dedup.containmentJoin(docs, "doc_id", "text", tNum = 6, tDen = 5))
  }
}

class PrefixFilterJoinSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("prefixFilterJoin: exact threshold incl. the boundary, no false" +
      " negatives, decoys absent") {
    val docs = Seq(
      (1L, "a b c d e f g h"), // shingles: abcde bcdef cdefg defgh
      (2L, "a b c d e f g h"), // identical twin of 1 -> J = 1
      (3L, "a b c d e f g x"), // 3 of 5 union shingles with 1 -> J = 3/5
      (4L, "z y x w v u t s")) // disjoint decoy
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.prefixFilterJoin(docs, "doc_id", "text",
        shingleK = 5, tNum = 3, tDen = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 2L, 4L, 4L), (1L, 3L, 3L, 5L), (2L, 3L, 3L, 5L)),
      s"exact pairs incl. J=3/5 boundary: $out")
    // raising the threshold past 3/5 drops the boundary pairs
    val strict = graft.ops.Dedup.prefixFilterJoin(docs, "doc_id", "text",
        shingleK = 5, tNum = 2, tDen = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(strict == Set((1L, 2L, 4L, 4L)))
  }

  test("prefixFilterAdmit: re-submitted stored doc flagged under frozen" +
      " stats; batch-only shingles rank rarest consistently") {
    val stored = Seq(
      (10L, "a b c d e f g h"),
      (20L, "z y x w v u t s")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "a b c d e f g h"),  // exact copy of stored 10 -> must flag
      (2L, "a b c d e f g x"),  // J = 3/5 vs stored 10 -> boundary flag
      (3L, "p q r s t u v w"))  // novel (some overlap w/ 20 below t)
      .toDF("doc_id", "text")
    val out = graft.ops.Dedup.prefixFilterAdmit(batch, stored,
        "doc_id", "text", shingleK = 5, tNum = 3, tDen = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 10L, 4L, 4L), (2L, 10L, 3L, 5L)),
      s"copy + boundary flag, novel admitted: $out")
  }
}

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("kCenterCoreset: farthest-point picks in hand order, duplicate " +
      "of the seed picked last at distance 0, id tie-breaks, guards") {
    graft.functions.GraftFunctions.register(spark)
    // a=(1,0) b=(0,1) c=(1,1) d=dup of a; micro dists: a↔b 1e6,
    // a↔c = 1e6−707107 = 292893
    val df = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)),
        (3L, Seq(1f, 1f)), (4L, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val got = Similarity.kCenterCoreset(df, k = 4)
      .as[(Long, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 1L, None), (2L, 2L, Some(1000000L)),
      (3L, 3L, Some(292893L)), (4L, 4L, Some(0L))), s"got $got")
    intercept[IllegalArgumentException] {
      Similarity.kCenterCoreset(df, k = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.kCenterCoreset(df, k = 5)
    }
  }

  test("PqIndex: codes bounded, clusters separate under ADC, deterministic") {
    // two well-separated clusters in 8-d; m=2 subspaces, k=2 codebooks
    def jitter(base: Array[Float], eps: Float) = base.map(_ + eps)
    val a = Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
    val b = Array(0f, 0f, 0f, 0f, 1f, 1f, 1f, 1f)
    val vecs = (0 until 6).map(i => (i.toLong, jitter(a, i * 0.01f).toSeq)) ++
      (6 until 12).map(i => (i.toLong, jitter(b, (i - 6) * 0.01f).toSeq))
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.PqIndex(df, m = 2, k = 2, maxFitSample = 100)
    val codes = idx.encoded.as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 2)))
    // all cluster-A members share a code word; B shares the other
    assert((0L to 5L).map(codes).distinct.size == 1)
    assert((6L to 11L).map(codes).distinct.size == 1)
    assert(codes(0L) != codes(6L), "clusters must quantize apart")
    // ADC with an A-center query ranks every A vector above every B vector
    val top = idx.adcTopK(a, 12).as[(Long, Double)].collect()
    assert(top.take(6).map(_._1).toSet == (0L to 5L).toSet, top.mkString(","))
    // pure function of (data, seed): second fit produces identical codes
    val again = new Similarity.PqIndex(df, m = 2, k = 2, maxFitSample = 100)
      .encoded.as[(Long, Seq[Int])].collect().toMap
    assert(again == codes)
  }

  test("IvfPqResidualIndex: self-query survives pruning and ranks itself first") {
    // on real vectors: querying WITH a corpus vector must probe its own
    // cell (its centroid is by definition among the nearest) and the
    // residual quantization error must leave it at the top
    val idx = new Similarity.IvfPqResidualIndex(emb, nCells = 8,
      m = 4, k = 16, maxFitSample = 500)
    val q7 = emb.filter($"vec_id" === 7).select("embedding")
      .as[Seq[Float]].head().toArray
    val top = idx.query(q7, topK = 5, nProbe = 2)
      .select("vec_id", "adc_dist").as[(Long, Double)].collect()
    assert(top.head._1 == 7L,
      s"self must rank first under residual ADC: ${top.mkString(",")}")
    assert(top.map(_._2).sliding(2).forall {
      case Array(x, y) => x <= y; case _ => true }, "ascending distances")
  }

  test("IvfPqResidualIndex.queryBatch: each batch row equals the " +
      "single-query residual ADC for the same vector") {
    val idx = new Similarity.IvfPqResidualIndex(emb, nCells = 8,
      m = 4, k = 16, maxFitSample = 500)
    val qids = Seq(3L, 7L, 19L)
    val queries = emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val batch = idx.queryBatch(queries, topK = 5, nProbe = 2)
      .as[(Long, Long, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._4, r._2))
        .map(r => (r._2, r._3, r._4)).toSeq).toMap
    for (q <- qids) {
      val qv = emb.filter($"vec_id" === q).select("embedding")
        .as[Seq[Float]].head().toArray
      val single = idx.query(qv, topK = 5, nProbe = 2)
        .as[(Long, Int, Double)].collect().toSeq
      assert(batch(q) == single, s"query $q: ${batch(q)} != $single")
    }
    intercept[IllegalArgumentException](idx.queryBatch(queries, 0))
  }

  test("bruteForceTopK: self is rank 1 with cos 1.0; scores non-increasing") {
    val q = emb.filter($"vec_id" === 7).select("embedding").as[Seq[Float]].head().toArray
    val top = Similarity.bruteForceTopK(emb, q, 5).select("vec_id", "cos")
      .as[(Long, Double)].collect()
    assert(top.head._1 == 7L && top.head._2 == 1.0)
    assert(top.map(_._2).sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("LSH query finds the vector itself (same bucket) and agrees with brute force top-1") {
    val q = emb.filter($"vec_id" === 11).select("embedding").as[Seq[Float]].head().toArray
    val idx = new Similarity.RandomHyperplaneIndex(emb, nBits = 8, dim = 64)
    val top = idx.query(q, k = 3).select("vec_id").as[Long].collect()
    assert(top.head == 11L)
  }

  test("IVF index: self is rank 1; probed top-k overlaps brute force") {
    val idx = new Similarity.IvfIndex(emb, nCentroids = 8)
    val q = emb.filter($"vec_id" === 23).select("embedding").as[Seq[Float]].head().toArray
    val ivf = idx.query(q, k = 10, nProbe = 4).select("vec_id").as[Long].collect()
    assert(ivf.head == 23L, "query vector must find itself in its own cell")
    val brute = Similarity.bruteForceTopK(emb, q, 10).select("vec_id").as[Long].collect()
    val overlap = ivf.toSet.intersect(brute.toSet).size
    assert(overlap >= 3, s"IVF(4/8 probes) should recover some of brute-force top-10, got $overlap")
  }

  test("queryQuantized: generous rerank == exact probed query; tight " +
      "rerank returns exact cosines for every row it serves") {
    val idx = new Similarity.IvfIndex(emb, nCentroids = 8)
    val q = emb.filter($"vec_id" === 23).select("embedding")
      .as[Seq[Float]].head().toArray
    val exact = idx.query(q, k = 10, nProbe = 4)
      .select("vec_id", "cos").as[(Long, Double)].collect().toSeq
    // rerank >= candidate-set size: stage A admits everything, so the
    // two-stage result must equal the exact probed query bit-for-bit
    val cellCount = idx.assigned
      .filter($"centroid".isin(idx.probeCells(q, 4): _*)).count().toInt
    val full = idx.queryQuantized(q, k = 10, nProbe = 4, rerank = cellCount)
      .select("vec_id", "cos").as[(Long, Double)].collect().toSeq
    assert(full == exact)
    // tight rerank: served rows still carry EXACT cosines (stage B is
    // exact on survivors), self is still rank 1, and each served cosine
    // matches the exact query's score for that id
    val tight = idx.queryQuantized(q, k = 10, nProbe = 4, rerank = 15)
      .select("vec_id", "cos").as[(Long, Double)].collect().toSeq
    assert(tight.head._1 == 23L && tight.head._2 == 1.0)
    val exactById = exact.toMap
    tight.foreach { case (id, c) =>
      exactById.get(id).foreach(e => assert(e == c,
        s"served cosine for $id must be exact: $c vs $e"))
    }
    // the dial is honest: k must not exceed rerank
    intercept[IllegalArgumentException](
      idx.queryQuantized(q, k = 10, nProbe = 4, rerank = 5))
  }

  test("partitioned LSH/IVF index: disk query matches in-memory and prunes partitions") {
    val q = emb.filter($"vec_id" === 11).select("embedding").as[Seq[Float]].head().toArray
    val tmp = java.nio.file.Files.createTempDirectory("graft_ann").toString

    val lsh = new Similarity.RandomHyperplaneIndex(emb, nBits = 8, dim = 64)
    lsh.writePartitioned(s"$tmp/lsh")
    val fromDisk = lsh.queryPartitioned(spark, s"$tmp/lsh", q, k = 5, probes = 8)
    val inMem = lsh.query(q, k = 5, probes = 8)
    assert(fromDisk.select("vec_id", "cos").collect().toSeq ==
      inMem.select("vec_id", "cos").collect().toSeq)
    // the bucket predicate must reach the scan as a partition filter —
    // pruning happens at file listing, before any I/O
    val plan = fromDisk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
      s"expected bucket partition pruning in plan:\n$plan")

    val ivf = new Similarity.IvfIndex(emb, nCentroids = 8)
    ivf.writePartitioned(s"$tmp/ivf")
    val ivfDisk = ivf.queryPartitioned(spark, s"$tmp/ivf", q, k = 5, nProbe = 4)
    assert(ivfDisk.select("vec_id", "cos").collect().toSeq ==
      ivf.query(q, k = 5, nProbe = 4).select("vec_id", "cos").collect().toSeq)
    val ivfPlan = ivfDisk.queryExecution.executedPlan.toString
    assert(ivfPlan.contains("PartitionFilters: [") && ivfPlan.contains("centroid"),
      s"expected centroid partition pruning in plan:\n$ivfPlan")
  }

  test("knnJoin: every query's rank-1 neighbor is itself") {
    val out = Similarity.knnJoin(emb, emb.filter($"vec_id" < 3), 2)
    val rank1 = out.filter($"rn" === 1).select("query_id", "corpus_id")
      .as[(Long, Long)].collect()
    assert(rank1.forall { case (q, c) => q == c })
  }

  test("IVF generations: pruned query over appended batches == monolithic index") {
    // centroids fit on the BASE half only, then freeze; the second half
    // arrives later via appendGeneration. A pruned query over the merged
    // on-disk generations must return the identical top-k to an
    // in-memory index over everything assigned with the SAME centroids.
    val base = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1)
    val idx = new Similarity.IvfIndex(base, nCentroids = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_gen").toString
    idx.writeGeneration(s"$tmp/ivf", gen = 0)
    idx.appendGeneration(s"$tmp/ivf", batch, gen = 1)

    val q = emb.filter($"vec_id" === 23).select("embedding").as[Seq[Float]].head().toArray
    val merged = idx.queryGenerations(spark, s"$tmp/ivf", q, k = 8, nProbe = 4)
    // reference: everything assigned under the same frozen centroids
    val mono = idx.appendAssign(emb)
      .filter(col("centroid").isin(idx.probeCells(q, 4): _*))
      .withColumn("cos", org.apache.spark.sql.functions.round(
        graft.functions.GraftFunctions.vecCosine(col("embedding"),
          org.apache.spark.sql.functions.typedlit(q)), 6))
      .orderBy(desc("cos"), col("vec_id")).limit(8)
    assert(merged.select("vec_id", "cos").collect().toSeq ==
      mono.select("vec_id", "cos").collect().toSeq)
    // the merged read is still partition-pruned on centroid
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("centroid"),
      s"generation merge must keep centroid pruning:\n$plan")
    // both generations are actually present
    val gens = spark.read.parquet(s"$tmp/ivf").select("generation")
      .distinct().as[Int].collect().toSet
    assert(gens == Set(0, 1), gens.toString)
  }

  test("LSH generations: appended batch queries like a monolithic index") {
    val base = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1)
    val lsh = new Similarity.RandomHyperplaneIndex(base, nBits = 8, dim = 64)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_gen").toString
    lsh.writeGeneration(s"$tmp/lsh", gen = 0)
    lsh.appendGeneration(s"$tmp/lsh", batch, gen = 1)
    val q = emb.filter($"vec_id" === 11).select("embedding").as[Seq[Float]].head().toArray
    // planes are seeded constants, so an index built over everything IS
    // the rebuild reference
    val mono = new Similarity.RandomHyperplaneIndex(emb, nBits = 8, dim = 64)
    val merged = lsh.queryPartitioned(spark, s"$tmp/lsh", q, k = 5, probes = 8)
    assert(merged.select("vec_id", "cos").collect().toSeq ==
      mono.query(q, k = 5, probes = 8).select("vec_id", "cos").collect().toSeq)
    assert(spark.read.parquet(s"$tmp/lsh").select("generation")
      .distinct().as[Int].collect().toSet == Set(0, 1))
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("bucket"),
      s"generation merge must keep bucket pruning:\n$plan")
  }

  test("compactGenerations: file count drops, query results bit-identical") {
    val base = emb.filter($"vec_id" % 2 === 0)
    val idx = new Similarity.IvfIndex(base, nCentroids = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    idx.writeGeneration(s"$tmp/ivf", gen = 0)
    // three appended batches: the small-files decay compaction undoes
    for (g <- 1 to 3)
      idx.appendGeneration(s"$tmp/ivf", emb.filter($"vec_id" % 8 === g), gen = g)
    val q = emb.filter($"vec_id" === 23).select("embedding").as[Seq[Float]].head().toArray
    val beforeRows = idx.queryGenerations(spark, s"$tmp/ivf", q, k = 8, nProbe = 4)
      .select("vec_id", "cos", "centroid").collect().toSeq
    val rep = Similarity.compactGenerations(spark, s"$tmp/ivf")
    assert(rep.generationsBefore == 4, rep.toString)
    assert(rep.filesAfter < rep.filesBefore,
      s"compaction must shrink the file count: $rep")
    // top-k bit-identical post-compaction; provenance collapsed to gen 0
    val afterRows = idx.queryGenerations(spark, s"$tmp/ivf", q, k = 8, nProbe = 4)
      .select("vec_id", "cos", "centroid").collect().toSeq
    assert(afterRows == beforeRows)
    assert(spark.read.parquet(s"$tmp/ivf").select("generation")
      .distinct().as[Int].collect().toSeq == Seq(0))
    // full content identical too, not just the probed top-k
    assert(spark.read.parquet(s"$tmp/ivf").count() ==
      base.count() + (1 to 3).map(g => emb.filter($"vec_id" % 8 === g).count()).sum)
    // the compacted table still partition-prunes
    val plan = idx.queryGenerations(spark, s"$tmp/ivf", q, k = 8, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("centroid"))
  }

  test("compactGenerations: LSH bucket layout compacts the same way") {
    val base = emb.filter($"vec_id" % 2 === 0)
    val lsh = new Similarity.RandomHyperplaneIndex(base, nBits = 8, dim = 64)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lsh_cmp").toString
    lsh.writeGeneration(s"$tmp/lsh", gen = 0)
    lsh.appendGeneration(s"$tmp/lsh", emb.filter($"vec_id" % 2 === 1), gen = 1)
    val q = emb.filter($"vec_id" === 11).select("embedding").as[Seq[Float]].head().toArray
    val before = lsh.queryPartitioned(spark, s"$tmp/lsh", q, k = 5, probes = 8)
      .select("vec_id", "cos").collect().toSeq
    val rep = Similarity.compactGenerations(spark, s"$tmp/lsh")
    assert(rep.generationsBefore == 2 && rep.filesAfter < rep.filesBefore, rep.toString)
    assert(lsh.queryPartitioned(spark, s"$tmp/lsh", q, k = 5, probes = 8)
      .select("vec_id", "cos").collect().toSeq == before)
  }

  test("driftMonitor: same-distribution batch is fresh; shifted batch is stale") {
    val base = emb.filter($"vec_id" % 2 === 0)
    val idx = new Similarity.IvfIndex(base, nCentroids = 8)
    // the other half of the SAME distribution: frozen centroids fine
    val same = idx.driftMonitor(emb.filter($"vec_id" % 2 === 1))
    assert(!same.stale,
      s"same-distribution batch must not flag: ${same.errorInflation}x")
    assert(same.errorInflation < 1.3, s"fresh batch ~1x: ${same.errorInflation}")
    // a hard distribution shift (all vectors pushed far from the corpus):
    // frozen centroids quantize it far worse than a refit would
    val shifted = emb.select($"vec_id",
      org.apache.spark.sql.functions.transform($"embedding",
        x => x * lit(-3.0f) + lit(10.0f)).as("embedding"))
    val drift = idx.driftMonitor(shifted)
    assert(drift.stale, s"shifted batch must flag: ${drift.errorInflation}x")
    assert(drift.errorInflation > 2.0,
      s"frozen centroids must quantize a shifted batch much worse: ${drift.errorInflation}")
    assert(drift.sampleN > 0 && drift.threshold == 1.5)
    // degenerate batch the refit quantizes EXACTLY (one distinct far
    // vector -> refitErr 0): maximal drift, not freshness
    val degenerate = emb.limit(50).select($"vec_id",
      org.apache.spark.sql.functions.transform($"embedding",
        x => x * lit(0.0f) + lit(25.0f)).as("embedding"))
    val deg = idx.driftMonitor(degenerate)
    assert(deg.stale && deg.errorInflation.isPosInfinity,
      s"exactly-quantized shifted batch must flag stale: $deg")
  }

  test("queryFilteredAdaptive widens the probe prefix to the minimal" +
      " cutoff and matches the independent filtered top-k") {
    val idx = new Similarity.IvfIndex(emb, nCentroids = 16)
    val qv = emb.filter($"vec_id" === 0)
      .select($"embedding").head.getSeq[Float](0).toArray
    val pred = col("label") % 3 === 1
    val k = 25
    val out = idx.queryFilteredAdaptive(pred, qv, k)
      .as[(Long, Int, Int, Double)].collect()
    assert(out.length == k)
    // independent expectation: assignments + probe order on the driver
    val asg = idx.assigned.filter(pred)
      .select($"vec_id", $"centroid").as[(Long, Int)].collect()
    val rank = idx.probeOrder(qv).toMap // centroid -> rank
    val perRank = asg.groupBy(r => rank(r._2)).view.mapValues(_.length)
    val ranksWithRows = perRank.keys.toSeq.sorted
    val cum = ranksWithRows.scanLeft(0)((a, r) => a + perRank(r)).drop(1)
    val cutoff = ranksWithRows.zip(cum).collectFirst {
      case (r, c) if c >= k => r }.getOrElse(ranksWithRows.max)
    assert(out.map(_._3).max <= cutoff)
    // every winner comes from the probed prefix
    val inScope = asg.filter(r => rank(r._2) <= cutoff).map(_._1).toSet
    assert(out.forall(r => inScope(r._1)))
    // exact agreement with a brute-force rounded-cosine top-k in scope
    val expected = graft.ops.Similarity.bruteForceTopK(
        emb.filter(pred).filter($"vec_id".isin(inScope.toSeq: _*)),
        qv, k)
      .select($"vec_id").as[Long].collect().toSeq
    assert(out.map(_._1).toSeq == expected)
    // degenerate predicates: fewer matches than k returns them all;
    // empty predicate returns empty, no crash
    val tiny = idx.queryFilteredAdaptive(col("vec_id") < 3, qv, k)
    assert(tiny.count() == emb.filter($"vec_id" < 3).count())
    assert(idx.queryFilteredAdaptive(col("label") === -1, qv, k).count() == 0)
  }

  test("mmrRerank diversifies: near-copy of the top hit is demoted below" +
      " a diverse lower-relevance result") {
    // query [1,0]: a is a perfect hit, b a near-copy of a with slightly
    // lower relevance, c diverse with still-lower relevance. Pure
    // relevance ranks a,b,c; MMR at λ=0.5 must pick c before b because
    // b's similarity-to-a penalty exceeds its relevance edge.
    val df = Seq(
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.9f, 0.12f)),
      (3L, Seq(0.6f, -0.8f))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Similarity.mmrRerank(df, Array(1f, 0f), k = 3,
        candidates = 3, lambda = 0.5)
      .as[(Long, Double, Double, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 2L),
      s"expected diversified order 1,3,2: ${out.mkString(",")}")
    assert(out.map(_._4).toSeq == Seq(1L, 2L, 3L))
    // relevance alone would have ordered 1,2,3 (sanity: b outranks c on rel)
    val rels = out.map(r => r._1 -> r._2).toMap
    assert(rels(2L) > rels(3L))
    // rank-1 has no penalty: mmr = round6(λ·rel)
    assert(math.abs(out.head._3 - 0.5 * rels(1L)) < 1e-6)
  }

  test("HnswIndex: md5 levels, bounded degrees, layer membership," +
      " deterministic beam search with high recall vs brute force") {
    val n = 300
    // seeded Gaussians: an isotropic cloud with unambiguous neighbors —
    // the honest ANN landscape (clone-family disambiguation is dedup's
    // job, not the graph walk's)
    def vecOf(i: Int): Array[Float] = {
      val r = new java.util.Random(i * 1000003L)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val df = (0 until n).map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.HnswIndex(df, m = 8, maxLevel = 3)

    // levels: recompute the trailing-zero-nibble rule independently
    val lv = idx.levels.as[(Long, Int)].collect().toMap
    def expectedLevel(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val h = java.lang.Long.parseLong(hex, 16)
      if (h % 4096 == 0) 3 else if (h % 256 == 0) 2
      else if (h % 16 == 0) 1 else 0
    }
    assert(lv.size == n)
    (0L until 20L).foreach(i => assert(lv(i) == expectedLevel(i), s"id $i"))
    assert(lv.values.count(_ >= 1) > 0, "some node must reach layer 1")

    // graph: members of layer l all have level >= l; symmetric (the
    // navigability-bearing reverse links); no self loops
    val g = idx.graph.select("layer", "id", "nbr")
      .as[(Int, Long, Long)].collect()
    assert(g.forall { case (l, id, nbr) => lv(id) >= l && lv(nbr) >= l })
    val edges = g.map(r => (r._1, r._2, r._3)).toSet
    assert(edges.forall { case (l, a, b) => edges((l, b, a)) },
      "every edge must have its reverse")
    assert(g.forall { case (_, id, nbr) => id != nbr }, "no self loops")

    // search: recall vs brute at serving parameters, deterministic
    val qv = vecOf(7)
    val brute = Similarity.bruteForceTopK(df, qv, 10)
      .select("vec_id").as[Long].collect().toSet
    val got = idx.search(qv, k = 10, ef = 32, hops = 4)
      .select("vec_id").as[Long].collect()
    assert(got.length == 10)
    val recall = got.count(brute).toDouble / 10
    assert(recall >= 0.8, s"recall@10 $recall below 0.8 (got ${got.toSeq})")
    val again = idx.search(qv, k = 10, ef = 32, hops = 4)
      .select("vec_id").as[Long].collect()
    assert(got.toSeq == again.toSeq, "beam walk must be deterministic")
    intercept[IllegalArgumentException](idx.search(qv, k = 0))
  }

  test("HnswIndex.searchBatch: each batch row equals the single-query " +
      "walk — same visited logic, same tie-breaks — and one plan " +
      "serves the whole query table") {
    val n = 200
    def vecOf(i: Int): Array[Float] = {
      val r = new java.util.Random(i * 1000003L)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val df = (0 until n).map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.HnswIndex(df, m = 8, maxLevel = 3)
    val qids = Seq(3, 57, 101)
    val queries = qids.map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("query_id", "qv")
      .select($"query_id", $"qv".cast("array<float>").as("qv"))
    val batch = idx.searchBatch(queries, k = 10, ef = 16, hops = 3)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(r =>
        (r._2, r._3)).toSeq).toMap
    for (q <- qids) {
      val single = idx.search(vecOf(q), k = 10, ef = 16, hops = 3)
        .as[(Long, Double)].collect().toSeq
      assert(batch(q.toLong) == single,
        s"query $q: batch ${batch(q.toLong)} != single $single")
    }
    intercept[IllegalArgumentException](idx.searchBatch(queries, k = 0))
  }

  test("HNSW delete: searchTombstoned filters deletes but walks through " +
      "them; repairHnswGraph removes every dangling edge, re-links " +
      "via union-of-neighbors without degree growth, and recall over " +
      "survivors stays >= 0.8 after deleting 20% of nodes") {
    val n = 300
    def vecOf(i: Int): Array[Float] = {
      val r = new java.util.Random(i * 1000003L)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val df = (0 until n).map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.HnswIndex(df, m = 8, maxLevel = 3)
    val tomb = df.filter($"vec_id" % 5 === 0).select("vec_id") // 20%
    val tombSet = tomb.as[Long].collect().toSet
    val qv = vecOf(7)

    // pre-repair serving: tombstoned ids never surface, but the walk
    // may route through them (recall vs survivor brute stays healthy)
    val bruteSurv = Similarity.bruteForceTopK(
        df.join(tomb, Seq("vec_id"), "left_anti"), qv, 10)
      .select("vec_id").as[Long].collect().toSet
    val ts = idx.searchTombstoned(qv, k = 10, tomb, ef = 32, hops = 4)
      .select("vec_id").as[Long].collect()
    assert(ts.length == 10 && ts.forall(!tombSet(_)),
      s"tombstoned ids must never surface: ${ts.toSeq}")
    assert(ts.count(bruteSurv).toDouble / 10 >= 0.8,
      s"tombstoned-walk recall too low: ${ts.toSeq}")
    // the batched walk with the same tombstones returns the same rows
    val batchTs = idx.searchBatch(
        Seq((7L, vecOf(7).toSeq)).toDF("query_id", "qv")
          .select($"query_id", $"qv".cast("array<float>").as("qv")),
        k = 10, ef = 32, hops = 4, tombstones = Some(tomb))
      .select("vec_id").as[Long].collect()
    assert(batchTs.toSeq == ts.toSeq,
      s"batch+tombstones must equal searchTombstoned: ${batchTs.toSeq}")

    // repair: no tombstoned endpoint survives, symmetry holds, no
    // node's per-layer out-degree exceeds its pre-delete degree
    val repaired = Similarity.repairHnswGraph(idx.graph, tomb, df)
      .localCheckpoint()
    val re = repaired.select("layer", "id", "nbr")
      .as[(Int, Long, Long)].collect()
    assert(re.nonEmpty)
    assert(re.forall { case (_, a, b) => !tombSet(a) && !tombSet(b) },
      "dangling edges must be swept")
    val eset = re.toSet
    assert(eset.forall { case (l, a, b) => eset((l, b, a)) },
      "repair must close symmetrically")
    val degBefore = idx.graph.select("layer", "id", "nbr")
      .as[(Int, Long, Long)].collect()
      .groupBy(r => (r._1, r._2)).view.mapValues(_.length).toMap
    val degAfter = re.groupBy(r => (r._1, r._2)).view.mapValues(_.length)
    // 1:1 replacement + symmetric closure: a node can gain at most the
    // reverse edges of other survivors' replacements — bounded by its
    // pre-delete degree plus the replacement slack, never unbounded
    assert(degAfter.forall { case (k, d) => d <= degBefore(k) + 8 },
      "degree must stay in the pre-delete class")

    // serving the repaired graph: survivors-only index, plain search
    val survivors = df.join(tomb, Seq("vec_id"), "left_anti")
    val idx2 = new Similarity.HnswIndex(survivors, m = 8, maxLevel = 3,
      prebuiltGraph = Some(repaired))
    val got = idx2.search(qv, k = 10, ef = 32, hops = 4)
      .select("vec_id").as[Long].collect()
    assert(got.length == 10 && got.forall(!tombSet(_)))
    val recall = got.count(bruteSurv).toDouble / 10
    assert(recall >= 0.8, s"post-repair recall $recall < 0.8 (${got.toSeq})")
  }

  test("HnswIndex nndescent build: no corpus-sized collect, symmetric " +
      "bounded graph, search recall matches the broadcast build's class") {
    val n = 300
    def vecOf(i: Int): Array[Float] = {
      val r = new java.util.Random(i * 1000003L)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val df = (0 until n).map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.HnswIndex(df, m = 8, maxLevel = 3,
      build = "nndescent", dim = 8)

    val lv = idx.levels.as[(Long, Int)].collect().toMap
    val g = idx.graph.select("layer", "id", "nbr")
      .as[(Int, Long, Long)].collect()
    // layer membership, symmetry, no self loops — the broadcast build's
    // structural contract holds verbatim
    assert(g.forall { case (l, id, nbr) => lv(id) >= l && lv(nbr) >= l })
    val edges = g.toSet
    assert(edges.forall { case (l, a, b) => edges((l, b, a)) },
      "every edge must have its reverse")
    assert(g.forall { case (_, id, nbr) => id != nbr }, "no self loops")
    // out-degree before symmetrization is deg; after, bounded by the
    // classic Mmax slack (deg + in-degree) — sanity: nobody explodes
    val deg0 = g.filter(_._1 == 0).groupBy(_._2).map(_._2.length)
    assert(deg0.max <= 16 * 4, s"degree blow-up: ${deg0.max}")

    // recall vs brute force at serving parameters
    val qv = vecOf(7)
    val brute = Similarity.bruteForceTopK(df, qv, 10)
      .select("vec_id").as[Long].collect().toSet
    val got = idx.search(qv, k = 10, ef = 32, hops = 4)
      .select("vec_id").as[Long].collect()
    assert(got.length == 10)
    val recall = got.count(brute).toDouble / 10
    assert(recall >= 0.8, s"recall@10 $recall below 0.8 (got ${got.toSeq})")
    // deterministic: a fresh index rebuild yields the identical graph
    val again = new Similarity.HnswIndex(df, m = 8, maxLevel = 3,
      build = "nndescent", dim = 8)
    assert(again.graph.select("layer", "id", "nbr")
      .as[(Int, Long, Long)].collect().toSet == edges,
      "NN-descent rebuild must be bit-identical")

    // THE scale assert: the distributed path never collected/broadcast
    // the member table (build, graph read, and search all ran above)
    assert(!idx.memberBroadcastForced,
      "nndescent build path must not collect the member table")
    intercept[IllegalArgumentException](
      new Similarity.HnswIndex(df, build = "bogus"))
  }

  test("HnswIndex.appendEdges: frozen-side admission links both ways, " +
      "exact top-M vs brute force, no batch-batch edges") {
    def vecOf(i: Int): Array[Float] = {
      val r = new java.util.Random(i * 999983L)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val stored = (0 until 120).map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val batch = (200 until 210).map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.HnswIndex(stored, m = 4, maxLevel = 3)
    val added = idx.appendEdges(batch)
      .as[(Int, Long, Long, Double)].collect()
    val batchIds = (200L until 210L).toSet
    // every new edge touches exactly one batch node (frozen stored side,
    // no batch-batch links), and the symmetric closure holds
    assert(added.nonEmpty)
    assert(added.forall { case (_, a, b, _) =>
      batchIds(a) ^ batchIds(b) }, "edges must pair batch with stored")
    val eset = added.map(r => (r._1, r._2, r._3)).toSet
    assert(eset.forall { case (l, a, b) => eset((l, b, a)) })
    // layer-0 out-edges of a batch node == exact brute top-2M among
    // stored members (every stored node is a layer-0 member)
    val storedVecs = stored.as[(Long, Array[Float])].collect().toMap
    val qv = vecOf(205)
    def cosTo(ov: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      (0 until 8).foreach { j =>
        dot += qv(j).toDouble * ov(j); nx += qv(j).toDouble * qv(j)
        ny += ov(j).toDouble * ov(j)
      }
      BigDecimal(dot / (math.sqrt(nx) * math.sqrt(ny)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = storedVecs.toSeq.map { case (id, v) => (id, cosTo(v)) }
      .sortBy { case (id, c) => (-c, id) }.take(8).map(_._1).toSet
    val got = added.filter(r => r._1 == 0 && r._2 == 205L).map(_._3).toSet
    assert(got == want, s"layer-0 neighbors of 205: $got != $want")
  }

  test("HnswIndex.appendEdgesDistributed: batch×stored only, symmetric, " +
      "no corpus broadcast, near-exact layer-0 neighbors") {
    def vecOf(i: Int): Array[Float] = {
      val r = new java.util.Random(i * 999983L)
      Array.fill(8)(r.nextGaussian().toFloat)
    }
    val stored = (0 until 200).map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val batch = (300 until 315).map(i => (i.toLong, vecOf(i).toSeq))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.HnswIndex(stored, m = 4, maxLevel = 3,
      build = "nndescent", dim = 8)
    val added = idx.appendEdgesDistributed(batch)
      .as[(Int, Long, Long, Double)].collect()
    val batchIds = (300L until 315L).toSet
    assert(added.nonEmpty)
    assert(added.forall { case (_, a, b, _) => batchIds(a) ^ batchIds(b) },
      "every edge pairs batch with stored — batch-batch links are " +
        "impossible by construction")
    val eset = added.map(r => (r._1, r._2, r._3)).toSet
    assert(eset.forall { case (l, a, b) => eset((l, b, a)) }, "symmetric")
    // layer-0 out-neighbors approximate the exact stored top-8: at
    // least 6 of 8 recovered for every batch node (LSH seed + graph
    // expansion on an isotropic cloud)
    val storedVecs = stored.as[(Long, Array[Float])].collect().toMap
    def cosTo(qv: Array[Float], ov: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      (0 until 8).foreach { j =>
        dot += qv(j).toDouble * ov(j); nx += qv(j).toDouble * qv(j)
        ny += ov(j).toDouble * ov(j)
      }
      BigDecimal(dot / (math.sqrt(nx) * math.sqrt(ny)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val minHits = batchIds.toSeq.map { bid =>
      val qv = vecOf(bid.toInt)
      val want = storedVecs.toSeq.map { case (id, v) => (id, cosTo(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(8).map(_._1).toSet
      val got = added.filter(r => r._1 == 0 && r._2 == bid).map(_._3).toSet
      want.intersect(got).size
    }.min
    assert(minHits >= 6, s"worst batch node recovered $minHits of 8")
    // the distributed admission never collected the stored corpus
    assert(!idx.memberBroadcastForced,
      "appendEdgesDistributed must not broadcast the member table")
  }

  test("hardNegatives: self and above-ceiling excluded, top-k below, " +
      "TopKPerKey plan") {
    // query 1 = (1,0); corpus: 2 = exact copy (cos 1, self-sim decoy),
    // 3 = cos .8 (above ceiling .7), 4 = cos .6, 5 = cos 0, 6 = cos -1
    val a = math.sqrt(1 - 0.8 * 0.8).toFloat
    val b = math.sqrt(1 - 0.6 * 0.6).toFloat
    val corpus = Seq(
      (1L, Array(1f, 0f)), (2L, Array(1f, 0f)), (3L, Array(0.8f, a)),
      (4L, Array(0.6f, b)), (5L, Array(0f, 1f)), (6L, Array(-1f, 0f)))
      .toDF("vec_id", "embedding")
    val negs = Similarity.hardNegatives(corpus,
        corpus.filter($"vec_id" === 1), k = 2, posCeiling = 0.7)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._4)
    assert(negs.map(_._2).toSeq == Seq(4L, 5L),
      s"want hard negs (4, 5): ${negs.toSeq}")
    assert(negs.map(_._4).toSeq == Seq(1L, 2L), "ranks 1-based in cos order")
    assert(negs.forall(_._3 < 0.7), "everything returned is below the ceiling")
    // scale shape: bounded-heap custom plan + broadcast queries
    val plan = Similarity.hardNegatives(corpus,
        corpus.filter($"vec_id" === 1), k = 2, posCeiling = 0.7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"expected TopKPerKey plan:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("Broadcast"),
      "queries must broadcast")
  }

  test("probeBucketsRanked: least-confident planes flip first; full " +
      "budget equals the bit-order probe SET") {
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq(i * 0.1f - 2f, 1f - i * 0.05f, 0.3f, -0.7f)))
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.RandomHyperplaneIndex(df, nBits = 8, dim = 4)
    val q = Array(0.4f, -0.2f, 0.9f, 0.1f)
    val ranked = idx.probeBucketsRanked(q, 8)
    val bitOrder = idx.probeBuckets(q, 8)
    assert(ranked.head == bitOrder.head, "home bucket leads both walks")
    assert(ranked.toSet == bitOrder.toSet,
      "full budget probes the same Hamming-1 ball, just reordered")
    // the flip order must follow |dot(query, plane)| ascending
    val planes = Similarity.hyperplanes(8, 4)
    val conf = planes.indices.map { i =>
      val dot = (0 until 4).map(j => planes(i)(j) * q(j)).sum
      (math.abs(math.round(dot * 1e6)), i)
    }.sorted.map(_._2)
    val expectedFlips = conf.map(b => ranked.head ^ (1L << b))
    assert(ranked.tail == expectedFlips,
      s"ranked walk must flip least-confident bits first: ${ranked.tail}")
    // same candidate set at full budget -> identical top-k
    val a = idx.queryRanked(q, 5, 8)
      .select("vec_id", "bucket", "cos").as[(Long, Long, Double)].collect().toSeq
    val b = idx.query(q, 5, 8)
      .select("vec_id", "bucket", "cos").as[(Long, Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("recallAudit: self-queries always recover themselves; full-probe " +
      "budget reaches recall 1000 on every query") {
    val vecs = (0 until 60).map { i =>
      val a = (i % 7).toFloat; val b = (i % 11).toFloat
      (i.toLong, Seq(a, 1f - a * 0.1f, b * 0.2f, -0.5f + b * 0.05f))
    }
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = new Similarity.RandomHyperplaneIndex(df, nBits = 6, dim = 4)
    val queries = df.filter($"vec_id" % 10 === 0)
    // full Hamming-1 budget can still miss (>= 2-bit neighbors), but
    // recall is monotone in probes and self is always in the home bucket
    val r1 = idx.recallAudit(queries, k = 5, probes = 0)
      .as[(Long, Long, Long)].collect()
    assert(r1.forall(_._2 >= 1L), "the query itself is in its home bucket")
    val r6 = idx.recallAudit(queries, k = 5, probes = 6)
      .as[(Long, Long, Long)].collect()
    r6.foreach { case (_, n, pm) => assert(pm == n * 200, "pm arithmetic") }
    val r0sum = idx.recallAudit(queries, k = 5, probes = 0)
      .as[(Long, Long, Long)].collect().map(_._2).sum
    assert(r6.map(_._2).sum >= r0sum, "recall monotone in probe budget")
  }

  test("kMeans: separates two well-apart clusters, deterministically") {
    val vecs = (0 until 8).map(i => (i.toLong,
        Seq(1f + i * 0.001f, 0f, 0f, 0f))) ++
      (8 until 16).map(i => (i.toLong,
        Seq(0f, 0f, 0f, 1f + (i - 8) * 0.001f)))
    val df = vecs.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val (asg, cents) = Similarity.kMeans(df, k = 2, iters = 3)
    val byId = asg.as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(byId.values.toSet.size == 2, "both clusters populated")
    assert((0L to 7L).map(byId).toSet.size == 1, "cluster A together")
    assert((8L to 15L).map(byId).toSet.size == 1, "cluster B together")
    assert(byId(0L) != byId(8L), "clusters apart")
    assert(cents.count() == 2 * 4, "k x dim centroid rows")
    val again = Similarity.kMeans(df, k = 2, iters = 3)._1
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(again == byId, "pure function of the data")
  }

  test("kMeans: k=1 centroid is the exact elementwise floorDiv mean") {
    val df = Seq((1L, Seq(0.1f, 0.2f)), (2L, Seq(0.3f, -0.5f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val cents = Similarity.kMeans(df, k = 1, iters = 1)._2
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    val shift = 1L << 21
    // scaled coords: (100000, 200000) and (300000, -500000) + shift
    val want = Seq(
      Math.floorDiv((100000L + shift) + (300000L + shift), 2L),
      Math.floorDiv((200000L + shift) + (-500000L + shift), 2L))
    assert(cents.map(_._3).toSeq == want, s"got ${cents.toSeq}")
  }

  test("embeddingOutliers: a planted far point flags, tight-cluster " +
      "members don't; exact cross-multiplied rule") {
    val tight = (0 until 10).map(i =>
      (i.toLong, Seq(1f + i * 0.001f, 0f, 0f, 0f)))
    val far = Seq((99L, Seq(-40f, 40f, 0f, 0f))) // same cluster, way out
    val df = (tight ++ far).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val got = Similarity.embeddingOutliers(df, k = 1, iters = 2, factor = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(got(99L) == 1L, s"planted outlier must flag: $got")
    assert((0L to 9L).forall(got(_) == 0L), s"tight members stay: $got")
  }

  test("kMeans: a cluster left empty keeps its previous centroid") {
    // three identical points: the two init centroids coincide, argmin
    // ties to centroid 0, centroid 1 is never assigned a point and must
    // survive the update untouched
    val df = Seq((1L, Seq(0.5f, 0.5f)), (2L, Seq(0.5f, 0.5f)),
        (3L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val (asg, cents) = Similarity.kMeans(df, k = 2, iters = 2)
    assert(asg.as[(Long, Long, Long)].collect().forall(_._2 == 0L),
      "ties assign to the smallest centroid index")
    val c = cents.as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(c(0L) == c(1L), "empty cluster inherited the (identical) centroid")
  }

  test("gridDbscan: chain fixture — ends are border, middles core, " +
      "isolated point noise, coincident triple clusters at min id, " +
      "cross-cell eps-edge found, singleton core at minPts=1, guards") {
    val pts = Seq(
      (1L, 0L, 0L), (2L, 10L, 0L), (3L, 20L, 0L), (4L, 30L, 0L),
      (5L, 100L, 100L),
      (6L, 200L, 200L), (7L, 200L, 200L), (8L, 200L, 200L))
      .toDF("id", "x", "y")
    // eps=10, minPts=3: chain edges 1-2, 2-3, 3-4 (dist exactly eps,
    // across cell boundaries 0|1|2|3). Self-inclusive counts: ends see
    // 2 < 3 → border (attached to min core cluster 2); middles see 3 →
    // core; 5 sees 1 → noise; the coincident triple all core, min id 6.
    val got = Similarity.gridDbscan(pts, "id", "x", "y",
        eps = 10L, minPts = 3)
      .as[(Long, String, Option[Long])].collect().toSet
    val want = Set(
      (1L, "border", Some(2L)), (2L, "core", Some(2L)),
      (3L, "core", Some(2L)), (4L, "border", Some(2L)),
      (5L, "noise", None),
      (6L, "core", Some(6L)), (7L, "core", Some(6L)),
      (8L, "core", Some(6L)))
    assert(got == want, s"got $got")
    // minPts=1: everything core; the isolated 5 becomes a singleton
    // cluster through the no-core-neighbor coalesce path
    val solo = Similarity.gridDbscan(pts, "id", "x", "y",
        eps = 10L, minPts = 1)
      .as[(Long, String, Option[Long])].collect().toSet
    assert(solo.contains((5L, "core", Some(5L))) &&
      solo.forall(_._2 == "core"), s"got $solo")
    intercept[IllegalArgumentException] {
      Similarity.gridDbscan(pts, "id", "x", "y", eps = 0L, minPts = 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.gridDbscan(pts, "id", "x", "y", eps = 10L, minPts = 0)
    }
  }
}

class MultimodalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("HeaderDecoder parses real PNG/JPEG/GIF/WAV headers, rejects junk") {
    val dec = new Multimodal.HeaderDecoder
    // PNG 640x480: signature + IHDR length + tag + BE dims
    val png = java.nio.ByteBuffer.allocate(24)
      .put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      .putInt(13).put("IHDR".getBytes("US-ASCII")).putInt(640).putInt(480).array()
    assert(dec.decode(png) == Multimodal.MediaMeta(24, "png", 640, 480, 0, ok = true))
    // JPEG: SOI + APP0(len 16) + SOF0(precision 8, 480x640)
    val jpeg = java.nio.ByteBuffer.allocate(29)
      .put(Array(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10).map(_.toByte))
      .put(new Array[Byte](14)) // APP0 payload filler
      .put(Array(0xff, 0xc0, 0x00, 0x11, 0x08, 0x01, 0xe0, 0x02, 0x80).map(_.toByte))
      .array()
    assert(dec.decode(jpeg) == Multimodal.MediaMeta(29, "jpeg", 640, 480, 0, ok = true))
    // GIF 320x200: LE dims after "GIF89a"
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array(0x40, 0x01, 0xc8, 0x00).map(_.toByte)
    assert(dec.decode(gif) == Multimodal.MediaMeta(10, "gif", 320, 200, 0, ok = true))
    // WAV: RIFF/WAVE + fmt(byteRate 16000) + data(32000 bytes) = 2000 ms
    val wav = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(32000)
      .array()
    assert(dec.decode(wav) == Multimodal.MediaMeta(44, "wav", 0, 0, 2000, ok = true))
    // junk and truncation: honest ok = false, never a throw
    assert(!dec.decode("not media at all".getBytes).ok)
    assert(!dec.decode(Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x01)).ok)
    assert(!dec.decode(Array.empty[Byte]).ok)
    assert(!dec.decode(null).ok)
    // the same decoder runs distributed through the mapPartitions plumbing
    val df = Seq((1L, png), (2L, wav), (3L, "junk".getBytes)).toDF("id", "content")
    val out = Multimodal.withMediaMeta(df, decoder = dec)
      .select("id", "media.format", "media.width", "media.durationMs", "media.ok")
      .as[(Long, String, Int, Long, Boolean)].collect().toSet
    assert(out == Set((1L, "png", 640, 0L, true), (2L, "wav", 0, 2000L, true),
      (3L, "bin", 0, 0L, false)))
  }

  test("stub decoder sniffs magic bytes; schema plumbing is real") {
    val png = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte, 1, 2, 3, 4).map(_.toByte)
    val jpg = Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 5, 6).map(_.toByte)
    val wav = "RIFFxxxxWAVE".getBytes
    val df = Seq((1L, png), (2L, jpg), (3L, wav), (4L, Array.empty[Byte]))
      .toDF("id", "content")
    val out = Multimodal.withMediaMeta(df)
      .select($"id", $"media.format", $"media.ok", $"media.byteLen")
      .as[(Long, String, Boolean, Long)].collect().sortBy(_._1)
    assert(out(0)._2 == "png" && out(0)._3)
    assert(out(1)._2 == "jpeg")
    assert(out(2)._2 == "wav")
    assert(out(3)._3 == false && out(3)._4 == 0L)
  }

  test("frame sampling explodes a deterministic frame sequence") {
    val df = Seq((1L, 2500L)).toDF("id", "dur")
    val frames = Multimodal.sampleFrames(df, "dur", 1000L)
      .select("frame_ms").as[Long].collect().toSeq
    assert(frames == Seq(0L, 1000L, 2000L))
  }

  test("ImageIoDecoder: real pixel decode round-trips exact dimensions") {
    val dec = new Multimodal.ImageIoDecoder
    // draw → encode with real ImageIO in-test → decode must see the
    // exact geometry back, for PNG and JPEG and GIF
    for (fmt <- Seq("png", "jpg", "gif")) {
      val img = new java.awt.image.BufferedImage(47, 31,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 31; x <- 0 until 47)
        img.setRGB(x, y, (x * 5) << 16 | (y * 7) << 8)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no $fmt writer")
      val m = dec.decode(out.toByteArray)
      assert(m.ok && m.width == 47 && m.height == 31, s"$fmt: $m")
    }
    // fixture renderer goes through the same codec path
    val m32 = dec.decode(Multimodal.renderTestImage(7L))
    assert(m32.ok && m32.width == 32 && m32.height == 32 && m32.format == "png")
    // real WAV: 8000 Hz mono 16-bit, 4000 frames = 500 ms
    val fmtWav = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](8000)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmtWav, 4000)
    val wavOut = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wavOut)
    val mw = dec.decode(wavOut.toByteArray)
    assert(mw.ok && mw.format == "wav" && mw.durationMs == 500, s"$mw")
    // junk/truncation degrade honestly
    assert(!dec.decode("not an image".getBytes).ok)
    assert(!dec.decode(Multimodal.renderTestImage(7L).take(20)).ok)
    assert(!dec.decode(Array.empty[Byte]).ok)
    assert(!dec.decode(null).ok)
  }

  test("dHash/aHash: identical twins at distance 0, variants nearby, " +
      "unrelated far, undecodable null") {
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val a1 = Multimodal.dHash64(Multimodal.renderTestImage(42L)).get
    val a2 = Multimodal.dHash64(Multimodal.renderTestImage(42L)).get
    assert(dist(a1, a2) == 0, "identical images must collide exactly")
    // controlled perturbation (2 of 64 blocks brightened) stays within a
    // small radius: each changed block flips at most its two adjacent
    // dHash comparisons
    val a3 = Multimodal.dHash64(Multimodal.renderTestImage(42L, perturb = 2)).get
    assert(dist(a1, a3) <= 4, s"perturbed twin drifted ${dist(a1, a3)} bits")
    // a different seed is a different random gradient field: far away
    val b1 = Multimodal.dHash64(Multimodal.renderTestImage(43L)).get
    assert(dist(a1, b1) > 8, s"unrelated images only ${dist(a1, b1)} bits apart")
    // aHash: same contract, mean-threshold flavor
    val h1 = Multimodal.aHash64(Multimodal.renderTestImage(42L)).get
    val h2 = Multimodal.aHash64(Multimodal.renderTestImage(42L)).get
    assert(dist(h1, h2) == 0)
    assert(Multimodal.dHash64("junk".getBytes) == None)
    assert(Multimodal.aHash64(null) == None)
    // dHash survives lossless re-encode through a different container
    val img = Multimodal.decodeImage(Multimodal.renderTestImage(42L))
    val outPng = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", outPng)
    val reenc = Multimodal.dHash64(outPng.toByteArray).get
    assert(dist(a1, reenc) == 0, "lossless re-encode must not move the hash")
  }

  test("imageNearDupPairs: planted twins found via the banded join, " +
      "junk rows dropped") {
    val rows = (0L until 40L).map { i =>
      // two images per class: seed i/2, odd ids perturbed by one block
      (i, Multimodal.renderTestImage(i / 2, perturb = (i % 2).toInt))
    } :+ (99L, "not an image".getBytes)
    val df = rows.toDF("img_id", "content")
    val pairs = Multimodal.imageNearDupPairs(df, "img_id", "content", maxDist = 4)
      .select("id1", "id2", "dist")
      .as[(Long, Long, Int)].collect()
    val twinPairs = pairs.filter(p => p._1 / 2 == p._2 / 2)
    assert(twinPairs.length == 20,
      s"every planted twin pair must surface: got ${twinPairs.length}")
    assert(pairs.forall(_._3 <= 4))
    assert(!pairs.exists(p => p._1 == 99L || p._2 == 99L),
      "undecodable rows must be filtered, not hashed")
  }

  test("imageNearDupAdmit: resubmitted + perturbed images flag against the" +
      " stored signature table, novel and undecodable admit (q91 discipline)") {
    val stored = (0L until 10L).map(i => (i, Multimodal.renderTestImage(i)))
      .toDF("img_id", "content")
    val storedSigs = stored.select(col("img_id"),
      Multimodal.imageDHashUdf(col("content")).as("sig"))
    val batch = Seq(
      (100L, Multimodal.renderTestImage(3L)),              // identical resubmit
      (101L, Multimodal.renderTestImage(5L, perturb = 1)), // near-dup resubmit
      (102L, Multimodal.renderTestImage(424242L)),         // novel
      (103L, "not an image".getBytes)                      // undecodable
    ).toDF("img_id", "content")
    val m = Multimodal
      .imageNearDupAdmit(batch, storedSigs, "img_id", "content", maxDist = 4)
      .as[(Long, Long, Int)].collect()
    assert(m.exists(p => p._1 == 100L && p._2 == 3L && p._3 == 0),
      s"identical resubmit must flag at dist 0: ${m.mkString(",")}")
    assert(m.exists(p => p._1 == 101L && p._2 == 5L && p._3 <= 4),
      s"one-block perturb must flag within radius: ${m.mkString(",")}")
    assert(!m.exists(_._1 == 102L), "novel image must admit")
    assert(!m.exists(_._1 == 103L), "undecodable must drop, not hash")
    // stored side is FROZEN: matches are always batch-vs-stored, never
    // batch-vs-batch (the incremental-admission contract)
    assert(m.forall(p => p._1 >= 100L && p._2 < 100L))
  }

  test("audioNearDupAdmit: resubmitted envelope flags, novel admits") {
    val stored = Seq((1L, Multimodal.renderTestWav(5L)),
      (2L, Multimodal.renderTestWav(6L))).toDF("aud_id", "content")
    val storedSigs = stored.select(col("aud_id"),
      Multimodal.audioHashUdf(col("content")).as("sig"))
    val batch = Seq(
      (10L, Multimodal.renderTestWav(5L)),    // resubmit
      (11L, Multimodal.renderTestWav(991L))   // novel
    ).toDF("aud_id", "content")
    val m = Multimodal
      .audioNearDupAdmit(batch, storedSigs, "aud_id", "content", maxDist = 4)
      .as[(Long, Long, Int)].collect()
    assert(m.exists(p => p._1 == 10L && p._2 == 1L && p._3 == 0))
    assert(!m.exists(_._1 == 11L))
  }

  test("decodeWavPcm: real AudioSystem round-trip recovers exact samples") {
    val bytes = Multimodal.renderTestWav(seed = 3L, halfPeriod = 4)
    val Some((rate, pcm)) = Multimodal.decodeWavPcm(bytes)
    assert(rate == 8000 && pcm.length == 4096)
    // block 0: x = 3*73+5 = 224, (224² / 64) % 8 = 784 % 8 = 0 → a = 512
    assert(pcm(0) == 512 && pcm(3) == 512 && pcm(4) == -512)
    // block 1: x = 241, (58081 / 64) % 8 = 907 % 8 = 3 → a = 2048
    assert(pcm(64) == 2048)
    // corrupt / truncated / null: None, never a throw
    assert(Multimodal.decodeWavPcm("RIFFjunk".getBytes).isEmpty)
    assert(Multimodal.decodeWavPcm(bytes.take(30)).isEmpty)
    assert(Multimodal.decodeWavPcm(null).isEmpty)
    assert(Multimodal.decodeWavPcm(Array.empty[Byte]).isEmpty)
  }

  test("audioFeatures match the square wave's analytic ground truth") {
    val seed = 7L
    val Some((n, durMs, rms, crossings)) =
      Multimodal.audioFeatures(Multimodal.renderTestWav(seed, halfPeriod = 8))
    assert(n == 4096 && durMs == 512)
    assert(crossings == 4095 / 8)
    val amps = (0 until 64).map { b =>
      val x = seed * 73 + b * 17 + 5
      512L * (1 + (x * x / 64) % 8)
    }
    val expectRms = math.floor(math.sqrt(amps.map(a => a * a * 64).sum / 4096.0)).toLong
    assert(rms == expectRms)
  }

  test("audioHash64: twins within radius, gain-invariant, unrelated far") {
    def h(seed: Long, perturb: Int = 0): Long =
      Multimodal.audioHash64(Multimodal.renderTestWav(seed, 4, perturb)).get
    assert(h(5L) == h(5L))
    val dtwin = java.lang.Long.bitCount(h(5L) ^ h(5L, perturb = 2))
    assert(dtwin <= 3 && dtwin >= 1, s"perturbed twin at distance $dtwin")
    // the envelope hash is amplitude-ratio based: doubling EVERY block
    // (a pure gain change) must not move any bit — emulate via a clip
    // whose amplitudes are all doubled (perturb = 64 doubles all blocks)
    assert(h(5L, perturb = 64) == h(5L))
    val dfar = java.lang.Long.bitCount(h(5L) ^ h(21L))
    assert(dfar > 4, s"unrelated clips must not collide: $dfar")
    assert(Multimodal.audioHash64("RIFFjunk".getBytes).isEmpty)
  }

  test("audioNearDupPairs: planted twins via the banded join, junk dropped") {
    val rows = (0L until 40L).map { i =>
      (i, Multimodal.renderTestWav(i / 2, 4, perturb = (i % 2).toInt * 2))
    } :+ (99L, "not audio".getBytes)
    val df = rows.toDF("aud_id", "content")
    val pairs = Multimodal.audioNearDupPairs(df, "aud_id", "content", maxDist = 4)
      .select("id1", "id2", "dist")
      .as[(Long, Long, Int)].collect()
    val twinPairs = pairs.filter(p => p._1 / 2 == p._2 / 2)
    assert(twinPairs.length == 20,
      s"every planted twin pair must surface: got ${twinPairs.length}")
    assert(pairs.forall(_._3 <= 4))
    assert(!pairs.exists(p => p._1 == 99L || p._2 == 99L))
  }

  test("GV1 container round-trips; malformed inputs degrade to fewer " +
      "frames, never throw") {
    val frames = (0 until 3).map(i => Multimodal.renderTestImage(i + 10L))
    val vid = Multimodal.encodeVideo(frames, fps = 8)
    val back = Multimodal.videoFrames(vid)
    assert(back.length == 3)
    back.zip(frames).foreach { case (a, b) => assert(a.sameElements(b)) }
    assert(Multimodal.videoFrames("nope".getBytes).isEmpty)
    assert(Multimodal.videoFrames(null).isEmpty)
    // truncated mid-frame: frames before the cut survive
    val cut = java.util.Arrays.copyOf(vid, vid.length - 10)
    assert(Multimodal.videoFrames(cut).length == 2)
    // length field past the buffer: parsed prefix survives
    val lied = vid.clone(); lied(8) = 0x7f.toByte
    assert(Multimodal.videoFrames(lied).isEmpty)
    // near-2^31 length: int `i + len` would overflow negative and step
    // past the bounds check — must degrade, never throw
    val huge = vid.clone()
    huge(8) = 0x7f.toByte; huge(9) = 0xff.toByte
    huge(10) = 0xff.toByte; huge(11) = 0xf0.toByte
    assert(Multimodal.videoFrames(huge).isEmpty)
  }

  test("videoSampleHashes: every-th frame, real decode, undecodable drop") {
    val frames = Seq(Multimodal.renderTestImage(1L),
      "junk".getBytes, Multimodal.renderTestImage(2L),
      Multimodal.renderTestImage(3L), Multimodal.renderTestImage(4L))
    val vid = Multimodal.encodeVideo(frames)
    val all = Multimodal.videoSampleHashes(vid, every = 1)
    assert(all.map(_._1) == Seq(0, 2, 3, 4), "frame 1 undecodable -> dropped")
    assert(all.toMap.apply(2) == Multimodal.dHash64(frames(2)).get)
    val sampled = Multimodal.videoSampleHashes(vid, every = 2)
    assert(sampled.map(_._1) == Seq(0, 2, 4))
  }

  test("videoNearDupPairs: a time-shifted perturbed copy lands on ONE " +
      "diagonal with every frame matched; unrelated videos silent") {
    val a = Multimodal.renderTestVideo(7L, nFrames = 5)
    val b = Multimodal.renderTestVideo(7L, nFrames = 5, junkPrefix = 1,
      perturbFrame = 2) // shift +1, one frame inside the radius
    val c = Multimodal.renderTestVideo(8L, nFrames = 5) // unrelated
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("vid_id", "content")
    val got = Multimodal.videoNearDupPairs(df, "vid_id", "content",
        every = 1, maxDist = 4, minMatch = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 1, s"exactly the planted pair: ${got.toSeq}")
    val (l, r, diag, n, lo, hi) = got.head
    assert((l, r) == ((1L, 2L)))
    assert(diag == 1L, "junk lead-in frame = +1 time shift")
    assert(n == 5L, "all five content frames matched, perturbed one included")
    assert((lo, hi) == ((0L, 4L)))
  }
}

class ProfileSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("fdViolations: only lhs values spanning >1 rhs, with their counts") {
    val df = Seq(("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"), ("b", "z"),
      ("c", null.asInstanceOf[String]))
      .toDF("lhs", "rhs")
    val v = Profile.fdViolations(df, "lhs", "rhs")
      .as[(String, Long)].collect().toMap
    assert(v == Map("b" -> 3L), s"a is clean, c's null isn't a distinct value: $v")
  }

  test("spearmanSigned: monotone 1e6 both signs, ties share doubled " +
      "ranks, symmetric pattern cancels to zero, constants refused") {
    def run(rows: Seq[(Long, Long, Long)]) =
      Profile.spearmanSigned(rows.toDF("id", "x", "y"), "id", "x", "y")
        .select("cov_sign", "rho2_u6").as[(Long, Long)].head()
    assert(run(Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 30L))) ==
      ((1L, 1000000L)))
    assert(run(Seq((1L, 1L, 30L), (2L, 2L, 20L), (3L, 3L, 10L))) ==
      ((-1L, 1000000L)))
    // tie groups rank identically on both sides → still perfect
    assert(run(Seq((1L, 1L, 5L), (2L, 1L, 5L), (3L, 2L, 9L))) ==
      ((1L, 1000000L)))
    // x ascending, y symmetric (10,20,20,10): covariance exactly zero
    assert(run(Seq((1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 20L),
      (4L, 4L, 10L))) == ((0L, 0L)))
    intercept[IllegalArgumentException] {
      run(Seq((1L, 7L, 1L), (2L, 7L, 2L)))
    }
  }

  test("ksStatistic: hand-computed ECDF gaps, smallest attaining " +
      "value wins, identical samples give zero") {
    // a = {1,2,3}, b = {3,4}: gaps |cumA·2 − cumB·3| = 2,4,3,0 →
    // max 4 at value 2 → ks = 4·1000 div 6 = 666
    val a = Seq(1L, 2L, 3L).toDF("v")
    val b = Seq(3L, 4L).toDF("v")
    val got = Profile.ksStatistic(a, b, "v")
      .select("value", "cum_a", "cum_b", "gap_num", "ks_pm", "ks_at_value")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 0L, 2L, 666L, 2L),
      (2L, 2L, 0L, 4L, 666L, 2L), (3L, 3L, 1L, 3L, 666L, 2L),
      (4L, 3L, 2L, 0L, 666L, 2L)), s"got $got")
    assert(Profile.ksStatistic(a, a, "v")
      .select("ks_pm").distinct().as[Long].head() == 0L)
  }

  test("aucStatistic: perfect separation 1e6, reversed 0, full tie " +
      "500000, both classes required") {
    def sc(rows: (Long, Long)*) = rows.toDF("s", "y")
    def auc(df: org.apache.spark.sql.DataFrame) =
      Profile.aucStatistic(df, "s", "y")
        .select("auc_u6").distinct().as[Long].head()
    assert(auc(sc((0L, 0L), (0L, 0L), (10L, 1L))) == 1000000L)
    assert(auc(sc((10L, 0L), (0L, 1L))) == 0L)
    assert(auc(sc((5L, 0L), (5L, 1L))) == 500000L)
    // mixed hand case: neg {1,3}, pos {2,4} → pairs won 3/4 + 0 ties
    assert(auc(sc((1L, 0L), (3L, 0L), (2L, 1L), (4L, 1L))) == 750000L)
    intercept[IllegalArgumentException] {
      Profile.aucStatistic(sc((1L, 1L)), "s", "y")
    }
  }

  test("benfordAudit: a geometric series is near-Benford, all digits " +
      "reported, non-positive excluded, exact micro deviations") {
    // powers of 2 below 10^6: first digits follow Benford closely
    val pows = (0 until 20).map(i => 1L << i)
    val df = (pows ++ Seq(0L, -5L)).toDF("v") // 0 and negatives drop
    val got = Profile.benfordAudit(df, "v")
      .select("digit", "n", "share_u6", "expected_u6", "dev_u6")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet == (1L to 9L).toSet, "all nine digits present")
    assert(got.values.map(_._2).sum == 20L, "20 positive values audited")
    // digit 1 leads 6/20 = 300000 µ vs expected 301030 µ
    assert(got(1L) == ((1L, 6L, 300000L, 301030L, 1030L)), got(1L))
    // a digit that never appears (7 is absent among 2^0..2^19? no —
    // check 9: powers of two starting with 9 below 2^20: none)
    assert(got(9L)._2 == 0L && got(9L)._5 == got(9L)._4,
      s"absent digit deviates by its full expectation: ${got(9L)}")
  }

  test("concentrationAudit: even split is gini 0, one-holder extreme, " +
      "hand-computed mid case with Lorenz cumulative shares") {
    // weights 1,1,2 (sorted): Σ=4, Σi·w = 1+2+6 = 9 →
    // gini = (18 − 16)·1000 div 12 = 166
    val df = Seq(("a", 1L), ("b", 1L), ("c", 2L)).toDF("grp", "w")
    val got = Profile.concentrationAudit(df, "grp", "w")
      .select("grp", "share_pm", "cum_share_pm", "lorenz_rank", "gini_pm")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(("a", 250L, 250L, 1L, 166L),
      ("b", 250L, 500L, 2L, 166L), ("c", 500L, 1000L, 3L, 166L)),
      s"got $got")
    // perfectly even → 0
    val even = Seq(("a", 5L), ("b", 5L)).toDF("grp", "w")
    assert(Profile.concentrationAudit(even, "grp", "w")
      .select("gini_pm").distinct().as[Long].head() == 0L)
    // one group holds everything → (n−1)/n of full scale
    val one = Seq(("a", 0L), ("b", 0L), ("c", 9L)).toDF("grp", "w")
    assert(Profile.concentrationAudit(one, "grp", "w")
      .select("gini_pm").distinct().as[Long].head() == 666L)
    // per-row weights aggregate per group first
    val dup = Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("grp", "w")
    assert(Profile.concentrationAudit(dup, "grp", "w")
      .select("gini_pm").distinct().as[Long].head() == 0L)
  }

  test("isotonicCalibration: violating prefix pools to its mean, " +
      "monotone input untouched, exact 1e-12 rationals") {
    def rep(s: Long, pos: Int, neg: Int) =
      Seq.fill(pos)((s, 1L)) ++ Seq.fill(neg)((s, 0L))
    // means 0.8, 0.2, 0.6 → PAV pools the first two to 0.5
    val df = (rep(1L, 4, 1) ++ rep(2L, 1, 4) ++ rep(3L, 3, 2))
      .toDF("s", "y")
    val got = Profile.isotonicCalibration(df, "s", "y")
      .select("score", "n", "n_pos", "iso_u12")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 5L, 4L, 500000000000L),
      (2L, 5L, 1L, 500000000000L), (3L, 5L, 3L, 600000000000L)),
      s"got $got")
    // already-monotone means pass through as their own (exact) rates
    val mono = (rep(1L, 1, 4) ++ rep(2L, 2, 1)).toDF("s", "y")
    assert(Profile.isotonicCalibration(mono, "s", "y")
      .select("iso_u12").as[Long].collect().toSeq ==
      Seq(200000000000L, 666666666666L))
    // a fully reversed staircase collapses to one global pool
    val rev = (rep(1L, 3, 0) ++ rep(2L, 0, 3)).toDF("s", "y")
    assert(Profile.isotonicCalibration(rev, "s", "y")
      .select("iso_u12").distinct().as[Long].collect().toSeq ==
      Seq(500000000000L))
  }

  test("calibrationAudit: sum-form ECE exact, top score clamps into " +
      "the last bucket, per-bucket means/rates") {
    // bucket 0: (50,y)×4 with one positive → |200 − 1000| = 800;
    // bucket 9: (950,1)×2 + (1000,1) → |2900 − 3000| = 100;
    // ECE = (800+100)·1000 div 7 = 128571 µ
    val df = Seq((50L, 0L), (50L, 0L), (50L, 0L), (50L, 1L),
      (950L, 1L), (950L, 1L), (1000L, 1L)).toDF("score_pm", "y")
    val got = Profile.calibrationAudit(df, "score_pm", "y", buckets = 10)
      .select("bucket", "n", "mean_score_pm", "pos_rate_pm", "ece_u6")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 4L, 50L, 250L, 128571L),
      (9L, 3L, 966L, 1000L, 128571L)), s"got $got")
    // perfectly calibrated buckets → ECE 0
    val perfect = Seq((0L, 0L), (1000L, 1L)).toDF("score_pm", "y")
    assert(Profile.calibrationAudit(perfect, "score_pm", "y", 10)
      .select("ece_u6").distinct().as[Long].head() == 0L)
    intercept[IllegalArgumentException] {
      Profile.calibrationAudit(df, "score_pm", "y", 7) // 7 ∤ 1000
    }
  }

  test("chiSquareAudit: textbook 2x2 exact in micro units, perfect " +
      "independence is zero, absent grid cells contribute") {
    def rep(a: String, b: String, k: Int) = Seq.fill(k)((a, b))
    // O = [[10,20],[20,10]], E = 15 everywhere: each term
    // (300² · 1e6) div (60·30·30) = 1666666 → chi2 6666664, dof 1
    val df = (rep("r1", "c1", 10) ++ rep("r1", "c2", 20) ++
      rep("r2", "c1", 20) ++ rep("r2", "c2", 10)).toDF("a", "b")
    val got = Profile.chiSquareAudit(df, "a", "b")
      .select("a", "b", "observed", "chi2_u6", "dof")
      .as[(String, String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("r1", "c1", 10L, 6666664L, 1L), ("r1", "c2", 20L, 6666664L, 1L),
      ("r2", "c1", 20L, 6666664L, 1L), ("r2", "c2", 10L, 6666664L, 1L)),
      s"got $got")
    // exact independence → statistic 0
    val indep = (rep("r1", "c1", 6) ++ rep("r1", "c2", 2) ++
      rep("r2", "c1", 3) ++ rep("r2", "c2", 1)).toDF("a", "b")
    assert(Profile.chiSquareAudit(indep, "a", "b")
      .select("chi2_u6").distinct().as[Long].head() == 0L)
    // a never-observed cell still appears with its expected mass
    val sparse = (rep("r1", "c1", 2) ++ rep("r2", "c2", 2)).toDF("a", "b")
    val cells = Profile.chiSquareAudit(sparse, "a", "b")
      .select("a", "b", "observed").as[(String, String, Long)]
      .collect().toSet
    assert(cells == Set(("r1", "c1", 2L), ("r1", "c2", 0L),
      ("r2", "c1", 0L), ("r2", "c2", 2L)), s"full grid required: $cells")
  }

  test("clusterLabelPurity: totals, majority argmax, smallest-label tie-break") {
    val df = Seq((0, 1), (0, 1), (0, 2), (1, 5), (1, 7), (2, 9))
      .toDF("centroid", "label")
    val out = Profile.clusterLabelPurity(df)
      .as[(Int, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0) == ((3L, 1, 2L)))            // clear majority
    assert(out(1) == ((2L, 5, 1L)), "count tie -> smallest label wins")
    assert(out(2) == ((1L, 9, 1L)))            // singleton cell
  }

  test("heavyHitters: MG sketch surfaces every true heavy hitter within its error bound") {
    // N = 500 + 120 + 200 = 820; sketchSize 16 -> error bound N/17 ~ 48
    val rows = Seq.fill(500)("hot") ++ Seq.fill(120)("warm") ++
      (1 to 200).map(i => s"cold$i")
    val df = rows.toDF("tok")
    val hh = Profile.heavyHitters(df, "tok", sketchSize = 16)
      .as[(String, Long)].collect()
    val est = hh.toMap
    val n = rows.length
    val bound = n / 17 + 1
    assert(est.contains("hot") && est.contains("warm"),
      s"true heavy hitters must survive: $est")
    assert(hh.head._1 == "hot", "top slot is the hottest value")
    // estimates never overcount and undercount by at most N/(size+1)
    assert(est("hot") <= 500 && est("hot") >= 500 - bound, s"hot=${est("hot")}")
    assert(est("warm") <= 120 && est("warm") >= 120 - bound, s"warm=${est("warm")}")
    assert(hh.length <= 16, "sketch is bounded")
  }

  test("distinctSketch: unioned per-batch sketches estimate the full distinct count") {
    val full = spark.range(20000).select((col("id") % 7321).as("v"))
    val exact = 7321L
    // two "daily batches" sketched independently, then merged
    val day1 = Profile.distinctSketch(full.filter(col("v") % 2 === 0), "v")
    val day2 = Profile.distinctSketch(full.filter(col("v") % 2 =!= 0), "v")
    val merged = Profile.mergedDistinctEstimate(day1.unionByName(day2))
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"merged estimate $merged vs exact $exact")
    // incremental union == one-shot sketch over everything
    val oneShot = Profile.mergedDistinctEstimate(Profile.distinctSketch(full, "v"))
    assert(math.abs(merged - oneShot).toDouble / exact < 0.02,
      s"union-of-parts $merged vs one-shot $oneShot")
    // per-group sketches
    val grouped = Profile.distinctSketch(
      full.withColumn("g", col("v") % 2), "v", groupCols = Seq("g"))
    assert(grouped.count() == 2)
  }

  test("heavyHittersExact equals plain GROUP BY/HAVING; refuses uncovered thresholds") {
    val rows = Seq.fill(300)("a") ++ Seq.fill(200)("b") ++ Seq.fill(90)("c") ++
      (1 to 100).map(i => s"x$i")
    val df = rows.toDF("tok")
    val got = Profile.heavyHittersExact(df, "tok", threshold = 100, sketchSize = 32)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 300L, "b" -> 200L), s"got $got")
    // fraction form: phi = 0.12 of 690 rows -> threshold 83 -> c included
    val frac = Profile.heavyHittersExactFrac(df, "tok", phi = 0.12, sketchSize = 32)
      .as[(String, Long)].collect().toMap
    assert(frac == Map("a" -> 300L, "b" -> 200L, "c" -> 90L), s"got $frac")
    // threshold below the sketch guarantee must fail loudly, not return
    // a silently-partial answer
    intercept[IllegalArgumentException] {
      Profile.heavyHittersExact(df, "tok", threshold = 5, sketchSize = 32)
    }
  }

  test("mlmMasking: every coin replayed locally, 80/10/10 residue " +
      "branches, vocabulary-rank replacement, unselected absent, " +
      "guards") {
    val docs = Seq((7L, "a b c d e f g h i j")).toDF("doc_id", "text")
    def u(id: Long, pos: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:$pos".getBytes("UTF-8"))
      d.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    val vocab = "abcdefghij".map(_.toString).sorted
    val exp = (0 until 10).map { p =>
      val uu = u(7L, p)
      val action = if (uu % 10 < 8) "mask"
        else if (uu % 10 == 8) "random" else "keep"
      val repl = if (action == "random")
        Some(vocab(((uu / 10) % 10).toInt)) else None
      (7L, p.toLong, vocab(p), action, repl)
    }.toSet
    // selPpm = 1e6 selects every position — the branch logic is what's
    // under test; the 15% gate reuses the same coin inequality
    val got = graft.ops.Curation.mlmMasking(docs, selPpm = 1000000L)
      .as[(Long, Long, String, String, Option[String])].collect().toSet
    assert(got == exp, s"got $got\nexp $exp")
    intercept[IllegalArgumentException] {
      graft.ops.Curation.mlmMasking(docs, selPpm = 0L)
    }
  }

  test("mondrian: hand median splits, k-starvation finalizes, child " +
      "ids are the cut path, every cell >= k, guards") {
    // a-values {1,2,3,4,10,20}, b constant 7 → dim is always a.
    // k=2: root med=3 splits 3/3 → pids 2,3; round 2 medians starve
    // the right side (2/1) → both finalize.
    val df = (1L to 6L).zip(Seq(1L, 2L, 3L, 4L, 10L, 20L)).map {
      case (id, a) => (id, a, 7L)
    }.toDF("id", "a", "b")
    val got = graft.ops.Curation.mondrian(df, "id", "a", "b",
        k = 2, rounds = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((2L, 3L, 1L, 3L, 7L, 7L),
      (3L, 3L, 4L, 20L, 7L, 7L)), s"got $got")
    // k=4: the 3/3 root cut would starve both sides → root finalizes
    val whole = graft.ops.Curation.mondrian(df, "id", "a", "b",
        k = 4, rounds = 3)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(whole == Set((1L, 6L, 1L, 20L, 7L, 7L)), s"got $whole")
    intercept[IllegalArgumentException] {
      graft.ops.Curation.mondrian(df, "id", "a", "b", k = 0, rounds = 1)
    }
  }

  test("theilSenSlope: hand pairwise micro slopes, lower median odd " +
      "and even, truncating negative slope, equal-x pair excluded, " +
      "group isolation") {
    val df = Seq(
      ("a", 0L, 0L), ("a", 1L, 2L), ("a", 2L, 3L),
      ("b", 0L, 0L), ("b", 1L, 1L), ("b", 2L, 10L), ("b", 3L, 11L),
      ("c", 1L, 5L), ("c", 1L, 9L), ("c", 2L, 7L))
      .toDF("g", "x", "y")
    val got = graft.ops.Profile.theilSenSlope(df, "g", "x", "y")
      .as[(String, Long, Long)].collect().toSet
    // a: slopes {2e6, 1.5e6, 1e6}, k=2 → 1500000
    // b: slopes {1e6, 5e6, 3666666, 9e6, 5e6, 1e6}, k=3 → 3666666
    // c: same-x pair dropped; slopes {2e6, −2e6}, k=1 → −2000000
    assert(got == Set(("a", 3L, 1500000L), ("b", 6L, 3666666L),
      ("c", 2L, -2000000L)), s"got $got")
  }

  test("splitConformal: truncating group means, count-based ceil-index " +
      "quantile, per-group coverage, infinite interval when k > n, " +
      "unseen groups dropped, alpha guard") {
    // group a: train {10,20} → mean 15; cal resids {0,3,10,5};
    // test resids {0,15,8}. group b never appears in training.
    val df = Seq((1L, "a", 10L), (4L, "a", 20L),
      (2L, "a", 15L), (5L, "a", 18L), (8L, "a", 25L), (11L, "a", 10L),
      (0L, "a", 15L), (3L, "a", 30L), (6L, "a", 7L),
      (14L, "b", 99L), (9L, "b", 42L)).toDF("id", "g", "v")
    // alpha 25%: k = ceil(5·0.75) = 4 → qhat = 4th smallest resid = 10
    val got = graft.ops.Profile.splitConformal(df, "id", "g", "v",
        alphaPct = 25L)
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(got == Set(("a", 3L, 2L, Some(10L))), s"got $got")
    // alpha 10%: k = ceil(5·0.9) = 5 > n_cal = 4 → infinite interval
    val inf = graft.ops.Profile.splitConformal(df, "id", "g", "v")
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(inf == Set(("a", 3L, 3L, None)), s"got $inf")
    intercept[IllegalArgumentException] {
      graft.ops.Profile.splitConformal(df, "id", "g", "v", alphaPct = 0L)
    }
  }

  test("fleissKappa: hand 2-item 3-rater kappa exactly 0.25, unequal " +
      "rater counts reject, degenerate single label rejects") {
    val df = Seq((1L, "r1", "a"), (1L, "r2", "a"), (1L, "r3", "a"),
      (2L, "r1", "a"), (2L, "r2", "b"), (2L, "r3", "b"))
      .toDF("item", "rater", "lbl")
    // sa = 6 + 2 = 8; tc a=4 b=2 → s2 = 20; P=8/12, Pe=20/36 → 1/4
    val got = graft.ops.Profile.fleissKappa(df, "item", "rater", "lbl")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == ((2L, 3L, 8L, 20L, 250000L)), got.toString)
    intercept[IllegalArgumentException] {
      graft.ops.Profile.fleissKappa(
        df.filter(!(col("item") === 2L && col("rater") === "r3")),
        "item", "rater", "lbl")
    }
    intercept[IllegalArgumentException] {
      graft.ops.Profile.fleissKappa(
        Seq((1L, "r1", "a"), (1L, "r2", "a"), (2L, "r1", "a"),
          (2L, "r2", "a")).toDF("item", "rater", "lbl"),
        "item", "rater", "lbl")
    }
  }

  test("schemaMatch: per-pair value-set jaccard, disjoint pairs " +
      "absent, threshold filter") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("ka", "sa")
    val b = Seq((2L, "x"), (3L, "z")).toDF("kb", "sb")
    val got = graft.ops.Profile.schemaMatch(a, b)
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    // ka∩kb = {"2"} → 1/3; sa∩sb = {"x"} → 1/3; the cross pairs share
    // nothing and never appear
    assert(got == Set(("ka", "kb", 2L, 2L, 1L, 333333L),
      ("sa", "sb", 2L, 2L, 1L, 333333L)), s"got $got")
    assert(graft.ops.Profile.schemaMatch(a, b, minJaccardPm = 400000L)
      .count() == 0L)
  }

  test("ransacLine: local md5 replay finds the planted line, outliers " +
      "never pull the winner, degenerate draws drop, guards") {
    // 6 points on y = 2x plus two gross outliers; tol 0 → the winner
    // must be an on-line candidate with 6 inliers.
    val pts = (1L to 6L).map(x => (x, x, 2 * x)) ++
      Seq((7L, 7L, 100L), (8L, 8L, 0L))
    val df = pts.toDF("id", "x", "y")
    def md5u32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    }
    val arr = pts.toArray // rank order = id order
    val cands = (0 until 8).flatMap { r =>
      val r1 = (md5u32(s"a:$r") % 8 + 1).toInt
      val r2 = (md5u32(s"b:$r") % 8 + 1).toInt
      if (r1 == r2 || arr(r1 - 1)._2 == arr(r2 - 1)._2) None
      else {
        val (_, x1, y1) = arr(r1 - 1); val (_, x2, y2) = arr(r2 - 1)
        val slope = (y2 - y1) * 1000000L / (x2 - x1)
        val inl = arr.count { case (_, x, y) =>
          math.abs(y - (y1 + slope * (x - x1) / 1000000L)) <= 0L }
        Some((r.toLong, x1, y1, slope, inl.toLong))
      }
    }
    val exp = cands.maxBy(c => (c._5, -c._1))
    val got = graft.ops.Profile.ransacLine(df, "id", "x", "y",
        b = 8, tol = 0L)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got == exp, s"got $got exp $exp")
    assert(got._4 == 2000000L && got._5 == 6L,
      s"the planted line must win: $got")
    intercept[IllegalArgumentException] {
      graft.ops.Profile.ransacLine(df, "id", "x", "y", b = 0)
    }
  }

  test("heapsLaw: cumulative token/type curve from first occurrences, " +
      "empty doc ignored, two-point fit equals the closed-form slope, " +
      "guards") {
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "a b c d"),
      (3L, "  ")).toDF("doc_id", "text")
    val got = graft.ops.Profile.heapsLaw(docs, checkEvery = 2L)
      .orderBy("b")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // bucket 0: N=4 V=3; bucket 1: N=8 V=4 (only d is new)
    val (x1, y1, x2, y2) = (602060L, 477121L, 903090L, 602060L)
    val beta = (BigInt(2L * (x1 * y1 + x2 * y2) -
        (x1 + x2) * (y1 + y2)) * 1000000 /
      BigInt(2L * (x1 * x1 + x2 * x2) - (x1 + x2) * (x1 + x2))).toLong
    val alpha = ((y1 + y2) - (beta * (x1 + x2)) / 1000000L) / 2L
    assert(got == Seq((0L, 4L, 3L, x1, y1, beta, alpha),
      (1L, 8L, 4L, x2, y2, beta, alpha)), s"got $got (beta=$beta)")
    intercept[IllegalArgumentException] {
      graft.ops.Profile.heapsLaw(docs, checkEvery = 0L)
    }
  }

  test("woeIv: hand-computed smoothed cross-ratio both signs, " +
      "symmetric bins give equal IV terms, balanced bin at zero, " +
      "non-binary labels rejected") {
    // b0: 1+/3−, b1: 3+/1− (P=N=4, B=2): woe ∓301030, dp ∓333333,
    // iv 100343 each
    def rows(bin: Long, pos: Int, neg: Int) =
      Seq.fill(pos)((bin, 1L)) ++ Seq.fill(neg)((bin, 0L))
    val df = (rows(0L, 1, 3) ++ rows(1L, 3, 1)).toDF("bin", "y")
    val got = Profile.woeIv(df, "bin", "y")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 1L, 3L, -301030L, 100343L),
      (1L, 3L, 1L, 301030L, 100343L)), s"got $got")
    // a bin mirroring the global balance carries no evidence
    val bal = (rows(0L, 2, 2) ++ rows(1L, 2, 2)).toDF("bin", "y")
    assert(Profile.woeIv(bal, "bin", "y")
      .select("woe_u6", "iv_u6").as[(Long, Long)]
      .collect().toSet == Set((0L, 0L)))
    intercept[IllegalArgumentException] {
      Profile.woeIv(Seq((0L, 2L)).toDF("bin", "y"), "bin", "y")
    }
  }

  test("expectationsAudit: one-pass rule sums, null predicate counts " +
      "as violation, uniqueness surplus, empty table all-pass, guards") {
    val df = Seq((1L, Option(10L), "a"), (2L, None, "b"),
        (2L, Option(-5L), "b"), (4L, Option(3L), null))
      .toDF("id", "v", "s")
    val rules = Seq(
      ("v_positive", col("v") > 0),
      ("s_not_null", col("s").isNotNull),
      ("id_not_null", col("id").isNotNull))
    val got = Profile.expectationsAudit(df, rules, Seq("id"))
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      ("v_positive", 4L, 2L, false),
      ("s_not_null", 4L, 1L, false),
      ("id_not_null", 4L, 0L, true),
      ("unique_id", 4L, 1L, false)), s"got $got")
    val empty = Profile.expectationsAudit(df.limit(0), rules, Seq("id"))
      .as[(String, Long, Long, Boolean)].collect()
    assert(empty.length == 4 && empty.forall(r => r._2 == 0 && r._4))
    intercept[IllegalArgumentException] {
      Profile.expectationsAudit(df, Nil, Nil)
    }
    intercept[IllegalArgumentException] {
      Profile.expectationsAudit(df,
        Seq(("unique_id", col("id").isNotNull)), Seq("id"))
    }
  }

  test("rfmSegments: staircase corpus gives r=f=m=k, segment k·111, " +
      "ties on a dimension break by entity, buckets bound enforced") {
    import java.sql.Timestamp
    // entity k: k orders, last at epoch+k s, each worth 10·k
    val rows = for { k <- 1 to 5; i <- 1 to k } yield
      (k.toLong, new Timestamp(k * 1000L), 10.0 * k)
    val got = Profile.rfmSegments(rows.toDF("e", "ts", "v"), "e", "ts", "v")
      .select("entity", "recency", "frequency", "monetary", "r", "f",
        "m", "segment")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == (1 to 5).map { k =>
      (k.toLong, k * 1000000L, k.toLong, 10L * k * k,
        k.toLong, k.toLong, k.toLong, k * 111L)
    }.toSeq, s"got $got")
    // all-identical dimensions: ranks follow the entity tie-break
    val flat = Seq((7L, new Timestamp(1000L), 5.0),
      (3L, new Timestamp(1000L), 5.0)).toDF("e", "ts", "v")
    val tied = Profile.rfmSegments(flat, "e", "ts", "v", buckets = 2)
      .select("entity", "segment").as[(Long, Long)].collect().toMap
    assert(tied == Map(3L -> 111L, 7L -> 222L), s"got $tied")
    intercept[IllegalArgumentException] {
      Profile.rfmSegments(flat, "e", "ts", "v", buckets = 1)
    }
  }

  test("fdDiscover: a key determines everything, inverse FDs fail " +
      "with exact violation counts, constant column is determined by " +
      "all, guards") {
    val df = Seq((1L, 1L, 9L), (2L, 0L, 9L), (3L, 1L, 9L))
      .toDF("k", "v", "c")
    val got = Profile.fdDiscover(df, Seq("k", "v", "c"))
      .as[(String, String, Long, Long, Boolean, Long)].collect().toSet
    val want = Set(
      ("k", "v", 3L, 3L, true, 0L), ("k", "c", 3L, 3L, true, 0L),
      ("v", "k", 2L, 3L, false, 1L), ("v", "c", 2L, 2L, true, 0L),
      ("c", "k", 1L, 3L, false, 2L), ("c", "v", 1L, 2L, false, 1L))
    assert(got == want, s"got $got")
    intercept[IllegalArgumentException] {
      Profile.fdDiscover(df, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Profile.fdDiscover(df, Seq("k", "k"))
    }
  }

  test("joinSizeEstimate: local md5-mirror inner products per row, min " +
      "estimate, exact size, disjoint sides null ppm, guards") {
    import java.security.MessageDigest
    def bucket(row: Int, v: String, width: Int): Long = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(s"$row#$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % width
    }
    val depth = 4; val width = 8
    val aKeys = Seq("x", "x", "y"); val bKeys = Seq("x", "y", "y", "z")
    val ca = aKeys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cb = bKeys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val inners = (0 until depth).map { r =>
      val cellsA = ca.groupMapReduce { case (k, _) => bucket(r, k, width) }(
        _._2)(_ + _)
      val cellsB = cb.groupMapReduce { case (k, _) => bucket(r, k, width) }(
        _._2)(_ + _)
      r.toLong ->
        cellsA.map { case (bk, c) => c * cellsB.getOrElse(bk, 0L) }.sum
    }.toMap
    val est = inners.values.min
    val exact = 2L * 1L + 1L * 2L // x: 2·1, y: 1·2 = 4
    val got = Profile.joinSizeEstimate(aKeys.toDF("k"), "k",
        bKeys.toDF("k"), "k", depth = depth, width = width)
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet
    val want = (0 until depth).map { r =>
      (r.toLong, inners(r.toLong), est, exact,
        Some((est - exact) * 1000000L / exact))
    }.toSet
    assert(got == want, s"got $got want $want")
    // disjoint key spaces: exact = 0 → over_ppm null; est still >= 0
    val dis = Profile.joinSizeEstimate(Seq("p").toDF("k"), "k",
        Seq("q").toDF("k"), "k", depth = 2, width = 8)
      .as[(Long, Long, Long, Long, Option[Long])].collect()
    assert(dis.length == 2 && dis.forall(r => r._4 == 0L && r._5.isEmpty),
      s"got ${dis.toSeq}")
    intercept[IllegalArgumentException] {
      Profile.joinSizeEstimate(aKeys.toDF("k"), "k", bKeys.toDF("k"), "k",
        depth = 0, width = 8)
    }
  }
}

class TokenizerSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("classTfIdfTopTerms: hand-computed micro scores, class-local " +
      "terms outrank shared ones, score-tie term order, k truncation") {
    // tokens: c1 = (apple apple banana), c2 = (cherry banana);
    // A = 5 div 2 = 2; f: apple 2, banana 2, cherry 1.
    // log10(1 + 2/2) → 301030 µ; log10(1 + 2/1) → 477121 µ.
    val df = Seq(("c1", "apple apple banana"), ("c2", "cherry banana"))
      .toDF("grp", "text")
    val got = TextAnalysis.classTfIdfTopTerms(df, "grp", "text", k = 5)
      .select("cls", "term", "tf", "f_w", "score_u6", "rank")
      .as[(String, String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("c1", "apple", 2L, 2L, 602060L, 1L),
      ("c1", "banana", 1L, 2L, 301030L, 2L),
      ("c2", "cherry", 1L, 1L, 477121L, 1L),
      ("c2", "banana", 1L, 2L, 301030L, 2L)), s"got $got")
    // k truncates and equal scores fall back to term order
    val tie = Seq(("c", "bb aa")).toDF("grp", "text")
    val first = TextAnalysis.classTfIdfTopTerms(tie, "grp", "text", k = 1)
      .select("term").as[String].collect().toSeq
    assert(first == Seq("aa"), s"score tie must break on term asc: $first")
  }

  test("naiveBayesLogo: dropping the poison group raises held-out " +
      "accuracy (negative delta), dropping the good group is neutral " +
      "here, full row has delta 0") {
    // train: g0 = {(a,"x"), (b,"z")} good; g1 = {(a,"z")} poison.
    // test: id0 (b,"z") — full model mispredicts a because of g1;
    //       id5 (a,"x") — always right.
    val docs = Seq(
      (1L, "a", "x", "0"), (2L, "b", "z", "0"), (3L, "a", "z", "1"),
      (0L, "b", "z", "0"), (5L, "a", "x", "0"))
      .toDF("doc_id", "lang", "text", "grp")
    val got = TextAnalysis.naiveBayesLogo(docs)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("__full__", 2L, 1L, 0L), ("0", 2L, 1L, 0L),
      ("1", 2L, 2L, -1L)), s"got $got")
  }

  test("uncertaintySamples: smallest top1-top2 margins surface first " +
      "(hand-computed from the naiveBayes fixture), k caps the queue, " +
      "single-class reject") {
    val docs = Seq((1L, "a", "x x y"), (2L, "b", "z z"),
      (0L, "a", "x z q"), (5L, "b", "z z"))
      .toDF("doc_id", "lang", "text")
    // doc0 margin = −1920819 − (−2158362) = 237543;
    // doc5 margin = −744728 − (−1857332) = 1112604
    val got = TextAnalysis.uncertaintySamples(docs, k = 2)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((0L, "b", 237543L), (5L, "b", 1112604L)),
      s"got $got")
    val one = TextAnalysis.uncertaintySamples(docs, k = 1)
      .as[(Long, String, Long)].collect().toSeq
    assert(one == Seq((0L, "b", 237543L)), s"got $one")
    intercept[IllegalArgumentException] {
      TextAnalysis.uncertaintySamples(
        docs.filter(col("lang") === "a"))
    }
  }

  test("naiveBayes: hand-built Laplace model, OOV fallback, argmax " +
      "with evidence beating prior ties, correctness flags, guards") {
    // train: doc1 (a, "x x y"), doc2 (b, "z z"); V = 3. test: doc0
    // (a, "x z q" — q OOV everywhere), doc5 (b, "z z").
    val docs = Seq((1L, "a", "x x y"), (2L, "b", "z z"),
      (0L, "a", "x z q"), (5L, "b", "z z"))
      .toDF("doc_id", "lang", "text")
    val got = TextAnalysis.naiveBayes(docs)
      .as[(Long, String, String, Long, Long)].collect().toSet
    // doc0: score(a) = −301030 (prior) − 301030 (x) − 778151·2 (z,q
    //       OOV in a) = −2158362; score(b) = −301030 − 698970 (x OOV)
    //       − 221849 (z) − 698970 (q) = −1920819 → pred b, wrong
    // doc5: score(b) = −301030 − 2·221849 = −744728 → pred b, right
    assert(got == Set((0L, "b", "a", -1920819L, 0L),
      (5L, "b", "b", -744728L, 1L)), s"got $got")
    intercept[IllegalArgumentException] {
      TextAnalysis.naiveBayes(docs, testMod = 1L)
    }
  }

  test("fleschReadability: vowel-run syllables floored per word, " +
      "sentence runs floored per doc, truncating milli formulas, " +
      "empty doc absent") {
    val docs = Seq((1L, "Hello world. It works!"), (2L, "xz"),
      (3L, "  ")).toDF("doc_id", "text")
    val got = TextAnalysis.fleschReadability(docs)
      .select("doc_id", "n_words", "n_sents", "n_syll", "flesch_u3",
        "fkgl_u3")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // doc 1: W=4 S=2 Syl=2+1+1+1=5 → 206835 − 2030 − 105750 = 99055;
    //        fkgl 780 + 14750 − 15590 = −60
    // doc 2: no vowel run → syl floors to 1, no terminator → S=1
    assert(got == Set((1L, 4L, 2L, 5L, 99055L, -60L),
      (2L, 1L, 1L, 1L, 121220L, -3400L)), s"got $got")
  }

  test("tokenEntropy: uniform two-type doc at log10(2), constant doc " +
      "at zero, four distinct types at log10(4), truncating division, " +
      "empty doc absent") {
    val docs = Seq((1L, "a a b b"), (2L, "x x x x"),
      (3L, "a b c d"), (4L, "a a b"), (5L, "   ")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs)
      .select("doc_id", "n_tok", "n_types", "entropy_u6")
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 4: (2·round(log10(3/2)·1e6) + 1·round(log10(3)·1e6)) div 3
    //      = (2·176091 + 477121) div 3 = 829303 div 3 = 276434
    assert(got == Set((1L, 4L, 2L, 301030L), (2L, 4L, 1L, 0L),
      (3L, 4L, 4L, 602060L), (4L, 3L, 2L, 276434L)), s"got $got")
  }

  test("skipGramPairs: no-op threshold gives the exact symmetric " +
      "window pairs, heavy subsampling deterministically drops the " +
      "frequent token, window/tPpm guards") {
    // tPpm = 1e6 → t=1 ≥ every frequency → thresholds cap, all kept
    val doc = Seq((1L, "a b c")).toDF("doc_id", "text")
    val all = TextAnalysis.skipGramPairs(doc, window = 2,
        tPpm = 1000000L)
      .as[(String, String, Long)].collect().toSet
    assert(all == Set(("a", "b", 1L), ("b", "a", 1L), ("b", "c", 1L),
      ("c", "b", 1L), ("a", "c", 1L), ("c", "a", 1L)), s"got $all")
    // skewed corpus: x dominates; at tPpm=20000 singletons keep
    // certainly (t ≥ f) while x occurrences mostly drop
    val skew = Seq((1L, ("x " * 50).trim), (2L, "y z")).toDF("doc_id", "text")
    val sub = TextAnalysis.skipGramPairs(skew, window = 1, tPpm = 20000L)
      .as[(String, String, Long)].collect().toSet
    val full = TextAnalysis.skipGramPairs(skew, window = 1,
        tPpm = 1000000L)
      .as[(String, String, Long)].collect().toSet
    assert(sub.contains(("y", "z", 1L)) && sub.contains(("z", "y", 1L)))
    def xCnt(s: Set[(String, String, Long)]) =
      s.collect { case ("x", "x", c) => c }.headOption.getOrElse(0L)
    assert(xCnt(sub) < xCnt(full), s"sub=$sub full=$full")
    // determinism: the hash-derandomized sample replays exactly
    assert(TextAnalysis.skipGramPairs(skew, window = 1, tPpm = 20000L)
      .as[(String, String, Long)].collect().toSet == sub)
    intercept[IllegalArgumentException] {
      TextAnalysis.skipGramPairs(doc, window = 0)
    }
  }

  test("sourceDivergence: hand-computed micro KL per class, identical " +
      "class at zero, divergent class positive, truncating division") {
    // A = "a a b", B = "b b b": KL(A)=301030 div 3=100343,
    // KL(B)=3·176091 div 3=176091
    val docs = Seq(("A", "a a b"), ("B", "b b b")).toDF("src", "text")
    val got = TextAnalysis.sourceDivergence(docs, "src")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("A", 3L, 2L, 100343L), ("B", 3L, 1L, 176091L)),
      s"got $got")
    // a single class IS the corpus: every ratio is 1, KL exactly 0
    val single = TextAnalysis.sourceDivergence(
      Seq(("A", "a b c")).toDF("src", "text"), "src")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(single == Seq(("A", 3L, 3L, 0L)), s"got $single")
  }

  test("textRankKeywords: hand-computed PageRank over the window " +
      "graph, hub token wins, rank ties break on token asc, a " +
      "window-2 triangle is symmetric, guards") {
    // "x y z y", window 1 → undirected star through y:
    // iter2 ranks y=1127500000, x=z=936250000 (tie → x first)
    val docs = Seq((1L, "x y z y")).toDF("doc_id", "text")
    val got = TextAnalysis.textRankKeywords(docs, window = 1,
        iters = 2, k = 2)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("y", 1127500000L), ("x", 936250000L)), s"got $got")
    // window 2 closes "a b c" into a triangle: all ranks equal scale
    val tri = TextAnalysis.textRankKeywords(
        Seq((1L, "a b c")).toDF("doc_id", "text"), window = 2,
        iters = 3, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(tri == Seq(("a", 1000000000L), ("b", 1000000000L),
      ("c", 1000000000L)), s"got $tri")
    intercept[IllegalArgumentException] {
      TextAnalysis.textRankKeywords(docs, window = 0)
    }
  }

  test("kneserNeyBigram: hand-computed exact rationals, discounted " +
      "mass flows to the continuation term, discount bounds enforced") {
    // corpus "a b a c" + "b a": cnts (a,b)=1 (a,c)=1 (b,a)=2;
    // c1(a)=2 n1fwd(a)=2; c1(b)=2 n1fwd(b)=1; n1bwd all 1; ntot=3
    // D=3/4: p(b|a) = (1·3 + 3·2·1)/(4·2·3) = 9/24 → 375000 (=p(c|a));
    //        p(a|b) = (5·3 + 3·1·1)/24 = 18/24 → 750000
    val docs = Seq("a b a c", "b a").toDF("text")
    val got = TextAnalysis.kneserNeyBigram(docs)
      .as[(String, String, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(got == Set(
      ("a", "b", 1L, 2L, 2L, 1L, 375000L),
      ("a", "c", 1L, 2L, 2L, 1L, 375000L),
      ("b", "a", 2L, 2L, 1L, 1L, 750000L)), s"got $got")
    intercept[IllegalArgumentException] {
      TextAnalysis.kneserNeyBigram(docs, dNum = 4L, dDen = 4L)
    }
  }

  test("keyness: hand-computed micro log-likelihood both directions, " +
      "zero side contributes zero, minTotal prunes, sign exact") {
    // A = "a a b" (n1=3), B = "b c" (n2=2), N=5
    val a = Seq("a a b").toDF("text")
    val b = Seq("b c").toDF("text")
    val got = TextAnalysis.keyness(a, b, "text", minTotal = 1L)
      .select("term", "o1", "o2", "c1_u6", "c2_u6", "keyness_u6",
        "direction")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    // a: 2·round(log10(10/6)·1e6)=443698; b: round(log10(5/6)·1e6)
    //   = −79181 vs round(log10(5/4)·1e6)=96910; c: round(log10(5/2)
    //   ·1e6)=397940
    assert(got == Seq(
      ("a", 2L, 0L, 443698L, 0L, 887396L, 1L),
      ("b", 1L, 1L, -79181L, 96910L, 35458L, -1L),
      ("c", 0L, 1L, 0L, 397940L, 795880L, -1L)), s"got $got")
    // minTotal = 2 drops the singleton term c
    val pruned = TextAnalysis.keyness(a, b, "text", minTotal = 2L)
      .select("term").as[String].collect().toSet
    assert(pruned == Set("a", "b"), s"got $pruned")
    intercept[IllegalArgumentException] {
      TextAnalysis.keyness(a, b, "text", minTotal = 0L)
    }
  }

  test("langIdTrain/Classify: trained char-bigram profiles separate " +
      "planted languages with positive margin; deterministic") {
    // three synthetic 'languages' with disjoint character shapes
    val mk = (s: String) => s * 8
    val labeled = Seq(
      ("en", mk("the quick brown fox jumps over lazy dogs ")),
      ("en", mk("a stitch in time saves nine for sure ")),
      ("zz", mk("zzq zzw zzr zzt zzy zzu zzi zzo ")),
      ("zz", mk("zzp zza zzs zzd zzf zzg zzh zzj ")),
      ("qq", mk("xoxo xixi xaxa xuxu xexe xyxy ")),
      ("qq", mk("xbxb xcxc xdxd xfxf xgxg xhxh ")))
      .toDF("lang", "text")
    val profile = TextAnalysis.langIdTrain(labeled, buckets = 2048)
    // one floor row per language; weights are negative micro-logs
    val floors = profile.filter($"bucket" === -1L)
      .as[(String, Long, Long)].collect()
    assert(floors.map(_._1).sorted.toSeq == Seq("en", "qq", "zz"))
    assert(floors.forall(_._3 < 0))

    val test = Seq(
      (1L, "the quick fox saves time over the brown dogs"),
      (2L, "zzq zzs zzt zzf zzy zzh"),
      (3L, "xoxo xcxc xaxa xgxg")).toDF("doc_id", "text")
    val out = TextAnalysis.langIdClassify(test, profile, buckets = 2048)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._2 == "en" && out(2L)._2 == "zz" && out(3L)._2 == "qq",
      out.toString)
    assert(out.values.forall(_._4 > 0), s"positive margins: $out")
    // deterministic rebuild + rescore
    val again = TextAnalysis.langIdClassify(test,
        TextAnalysis.langIdTrain(labeled, buckets = 2048), buckets = 2048)
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
    // empty text is absent (no grams), not misclassified
    assert(TextAnalysis.langIdClassify(
      Seq((9L, "")).toDF("doc_id", "text"), profile, buckets = 2048)
      .count() == 0)
  }

  test("rougeN: clipped multiset counts, per-mille arithmetic, " +
      "degenerate sides at zero") {
    val pairs = Seq(
      // cand bigrams: {a b, b a, a b} ; ref bigrams: {a b, b c}
      // clipped match on 'a b' = min(2, 1) = 1
      (1L, "a b a b", "a b c"),
      (2L, "x y", "p q"),     // no overlap
      (3L, "", "a b"),        // empty candidate
      (4L, "a b c d", "a b c d")) // identical
      .toDF("id", "cand", "ref")
    val got = TextAnalysis.rougeN(pairs, "id", "cand", "ref", n = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1L) == ((3L, 2L, 1L, 333L, 500L)), got.toString)
    assert(got(2L) == ((1L, 1L, 0L, 0L, 0L)))
    assert(got(3L) == ((0L, 1L, 0L, 0L, 0L)))
    assert(got(4L) == ((3L, 3L, 3L, 1000L, 1000L)))
  }

  test("wordPieceWord: greedy longest-match, ## continuations, whole-word UNK") {
    val vocab = Set("un", "##able", "##ab", "##le", "a", "##a", "b", "##b")
    // longest match wins at every cursor: un + ##able, not un ##ab ##le
    assert(TextAnalysis.wordPieceWord("unable", vocab, 5) ==
      Seq("un", "##able"))
    // a position with no piece voids the WHOLE word (BERT rule)
    assert(TextAnalysis.wordPieceWord("unablez", vocab, 5) == Seq("[UNK]"))
    assert(TextAnalysis.wordPieceWord("zb", vocab, 5) == Seq("[UNK]"),
      "start pieces never match as continuations and vice versa")
    assert(TextAnalysis.wordPieceWord("ab", vocab, 5) == Seq("a", "##b"))
  }

  test("buildWordPieceVocab + encode UDF: deterministic, segments the " +
      "corpus it was built from without UNK") {
    val docs = Seq((1L, "alpha beta alphabet beta beta"),
      (2L, "alpha alphabet gamma")).toDF("doc_id", "text")
    val vocab = TextAnalysis.buildWordPieceVocab(docs, "text", 50, 50)
    val pieces = vocab.select("piece").as[String].collect().toSeq
    assert(pieces.distinct.size == pieces.size)
    val again = TextAnalysis.buildWordPieceVocab(docs, "text", 50, 50)
      .select("piece").as[String].collect().toSeq
    assert(again.sorted == pieces.sorted, "pure function of the corpus")
    val enc = TextAnalysis.wordPieceEncodeUdf(pieces)
    val out = docs.select(concat_ws(" ", enc($"text")).as("p"))
      .as[String].collect()
    assert(out.forall(!_.contains("[UNK]")),
      s"vocab built FROM the corpus must cover it: ${out.toSeq}")
    // round-trip: stripping ## markers reconstructs the text's chars
    val joined = out.mkString(" ").replace(" ##", "").replace("##", "")
    assert(joined == "alpha beta alphabet beta beta alpha alphabet gamma")
  }

  import graft.ops.TextAnalysis

  test("compressionRatio: repetitive text compresses far below varied prose") {
    val rep = "spam spam spam " * 50
    val varied = (1 to 150).map(i => s"w${i * 7919 % 1000}x$i").mkString(" ")
    val df = Seq((1L, rep), (2L, varied), (3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val r = df.select($"id", TextAnalysis.compressionRatio($"text").as("cr"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) < 0.1, s"repetitive must crush: ${r(1L)}")
    assert(r(2L) > 0.4, s"varied stays high: ${r(2L)}")
    assert(r(1L) < r(2L) / 3)
    assert(r(3L) == 0.0 && r(4L) == 0.0)
    // deterministic across evaluations
    val again = df.select(TextAnalysis.compressionRatio($"text")).as[Double].collect()
    assert(again.sorted.toSeq == r.values.toSeq.sorted)
  }

  test("bpeTrain learns the classic merge sequence; bpeEncode applies it") {
    // the standard BPE teaching corpus: hug x10, pug x5, pun x12,
    // bun x4, hugs x5 — first merges are (u,g), (u,n), (h,ug)
    val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")
    val docs = Seq(words.mkString(" ")).toDF("text")
    val merges = TextAnalysis.bpeTrain(docs, "text", numMerges = 3)
    assert(merges == Seq(("u", "g"), ("u", "n"), ("h", "ug")), merges.toString)
    // deterministic: a second run learns the identical rules
    assert(TextAnalysis.bpeTrain(docs, "text", numMerges = 3) == merges)
    val enc = Seq(("hugs pun bug"))
      .toDF("text")
      .select(TextAnalysis.bpeEncode(col("text"), merges).as("syms"))
      .as[Seq[String]].head()
    assert(enc == Seq("hug", "s", "p", "un", "b", "ug"), enc.toString)
  }

  test("bpeTrain batched: batch=1 is exactly classic BPE; batch>1 takes " +
      "non-conflicting top pairs per round and stays deterministic") {
    val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")
    val docs = Seq(words.mkString(" ")).toDF("text")
    val sequential = TextAnalysis.bpeTrain(docs, "text", numMerges = 4)
    assert(TextAnalysis.bpeTrain(docs, "text", numMerges = 4, batch = 1)
      == sequential, "batch=1 must reduce to the per-merge path")
    // On THIS corpus every round-1 rival of (u,g) shares a symbol with
    // it ((u,n), (p,u), (h,u), (g,s), (b,u)), so batch=2 degrades to
    // one selection in round 1 — and from round 2 on the top-2 are
    // disjoint ((u,n) + (h,ug)), landing on the SAME vocabulary as
    // sequential training: conflict skipping preserves greedy order.
    val batched = TextAnalysis.bpeTrain(docs, "text", numMerges = 4, batch = 2)
    assert(batched == sequential, s"$batched vs $sequential")
    // A corpus WITH disjoint top pairs: (a,b)=10 and (c,d)=8 share no
    // symbol, so one batched round takes both (two aggregate rounds
    // worth of vocabulary from one driver round-trip).
    val dj = Seq((Seq.fill(10)("ab") ++ Seq.fill(8)("cd") ++
      Seq.fill(3)("ae")).mkString(" ")).toDF("text")
    val djMerges = TextAnalysis.bpeTrain(dj, "text", numMerges = 2, batch = 2)
    assert(djMerges == Seq(("a", "b"), ("c", "d")), djMerges.toString)
    // deterministic rebuild
    assert(TextAnalysis.bpeTrain(docs, "text", numMerges = 4, batch = 2)
      == batched)
    intercept[IllegalArgumentException](
      TextAnalysis.bpeTrain(docs, "text", numMerges = 2, batch = 0))
  }

  test("distinctN: per-mille diversity, repetitive text crushed, " +
      "short docs absent for large n") {
    val docs = Seq(
      (1L, "a b c d"),            // distinct-1 = 4/4, distinct-2 = 3/3
      (2L, "a a a a"),            // distinct-1 = 1/4, distinct-2 = 1/3
      (3L, "word")).toDF("doc_id", "text") // no bigram row
    val out = TextAnalysis.distinctN(docs, "doc_id", "text", Seq(1, 2))
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(out((1L, 1L)) == ((4L, 4L, 1000L)))
    assert(out((1L, 2L)) == ((3L, 3L, 1000L)))
    assert(out((2L, 1L)) == ((4L, 1L, 250L)))
    assert(out((2L, 2L)) == ((3L, 1L, 333L)))
    assert(out((3L, 1L)) == ((1L, 1L, 1000L)))
    assert(!out.contains((3L, 2L)), "one-token doc has no bigram row")
    intercept[IllegalArgumentException](
      TextAnalysis.distinctN(docs, "doc_id", "text", Seq.empty))
  }

  test("ahoCorasickScan: overlapping matches, fail-link transitions, " +
      "suffix-term outputs, one row per hit term") {
    // "aaab": "aa" overlaps at 0,1 -> 2; "aab" at 1 -> 1; "b" at 3 -> 1
    val docs = Seq(
      (1L, "aaab"),
      (2L, "abcd"),   // "abc" and "bcd" share a fail transition
      (3L, "xyz"),    // no hits -> absent
      (4L, "bb")).toDF("doc_id", "text")
    val out = TextAnalysis.ahoCorasickScan(docs, "doc_id", "text",
        Seq("aa", "aab", "b", "abc", "bcd"))
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.map(r => r._2 -> r._3).toMap }
    assert(out(1L) == Map("aa" -> 2L, "aab" -> 1L, "b" -> 1L), out(1L).toString)
    assert(out(2L) == Map("abc" -> 1L, "bcd" -> 1L, "b" -> 1L), out(2L).toString)
    assert(!out.contains(3L), "hitless docs are absent")
    assert(out(4L) == Map("b" -> 2L))
    // suffix outputs: a term that is a proper suffix of another fires
    // wherever the longer one does
    val sfx = TextAnalysis.ahoCorasickScan(
        Seq((1L, "xabc")).toDF("doc_id", "text"), "doc_id", "text",
        Seq("xabc", "abc", "bc", "c"))
      .as[(Long, String, Long)].collect().map(r => r._2 -> r._3).toMap
    assert(sfx == Map("xabc" -> 1L, "abc" -> 1L, "bc" -> 1L, "c" -> 1L))
    intercept[IllegalArgumentException](
      TextAnalysis.ahoCorasickScan(docs, "doc_id", "text", Seq("a", "a")))
    intercept[IllegalArgumentException](
      TextAnalysis.ahoCorasickScan(docs, "doc_id", "text", Seq("")))
  }

  test("langIdCounts: per-batch counts union to a profile bit-identical " +
      "to full-corpus training") {
    val labeled = Seq(
      ("en", "the quick brown fox the lazy dog"),
      ("en", "a stitch in time saves nine"),
      ("zz", "zzq zzw zzr zzt zzy"),
      ("zz", "zzp zza zzs zzd zzf")).toDF("lang", "text")
    val full = TextAnalysis.langIdTrain(labeled, buckets = 128)
      .as[(String, Long, Long)].collect().toSet
    val b1 = TextAnalysis.langIdCounts(labeled.limit(2), buckets = 128)
    val b2 = TextAnalysis.langIdCounts(
      labeled.exceptAll(labeled.limit(2)), buckets = 128)
    val inc = TextAnalysis.langIdProfileFromCounts(
        b1.unionByName(b2), buckets = 128)
      .as[(String, Long, Long)].collect().toSet
    assert(inc == full,
      "additive counts: incremental profile must equal full training")
  }

  test("unigramViterbiWord: max-likelihood segmentation with " +
      "lexicographic tie-break; stranded positions return None") {
    // 'abc': pieces abc(-1.0), ab(-2), bc(-2), a(-3), b(-3), c(-3)
    val sc = Map("abc" -> -1000000L, "ab" -> -2000000L, "bc" -> -2000000L,
      "a" -> -3000000L, "b" -> -3000000L, "c" -> -3000000L)
    val best = TextAnalysis.unigramViterbiWord("abc", sc, 4)
    assert(best.contains((Seq("abc"), -1000000L)), best.toString)
    // drop 'abc': ab+c (-5) ties a+bc (-5) -> lexicographically smaller
    // piece string "a bc" < "ab c" wins
    val tie = TextAnalysis.unigramViterbiWord("abc", sc - "abc", 4)
    assert(tie.contains((Seq("a", "bc"), -5000000L)), tie.toString)
    // unreachable position strands the word
    assert(TextAnalysis.unigramViterbiWord("axc", sc, 4).isEmpty)
  }

  test("unigramTrain: hard EM never decreases the corpus Viterbi " +
      "objective; encode replays deterministically") {
    val words = Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(12)("pun") ++ Seq.fill(4)("bun") ++ Seq.fill(5)("hugs")
    val docs = Seq(words.mkString(" ")).toDF("text")
    val wcnt = words.groupBy(identity).map { case (w, ws) => w -> ws.size }

    def corpusScore(vocab: org.apache.spark.sql.DataFrame): Long = {
      val enc = TextAnalysis.unigramEncodeWords(docs, "text", vocab)
        .as[(String, String, Long, Long)].collect()
        .map(r => r._1 -> r._3).toMap
      wcnt.map { case (w, c) => enc(w) * c }.sum
    }
    val v1 = TextAnalysis.unigramTrain(docs, "text", vocabSize = 20, iters = 1)
    val v2 = TextAnalysis.unigramTrain(docs, "text", vocabSize = 20, iters = 2)
    val v3 = TextAnalysis.unigramTrain(docs, "text", vocabSize = 20, iters = 3)
    val (s1, s2, s3) = (corpusScore(v1), corpusScore(v2), corpusScore(v3))
    // hard EM: corpus positions × 1 micro-unit of rounding slack
    val slack = words.map(_.length).sum.toLong
    assert(s2 >= s1 - slack, s"EM must not regress: $s1 -> $s2")
    assert(s3 >= s2 - slack, s"EM must not regress: $s2 -> $s3")
    // deterministic rebuild
    val again = TextAnalysis.unigramTrain(docs, "text", vocabSize = 20,
      iters = 2).as[(String, Long, Long)].collect().toSet
    assert(again == v2.as[(String, Long, Long)].collect().toSet)
    // every word encodes (single chars guarantee coverage)
    val enc = TextAnalysis.unigramEncodeWords(docs, "text", v2)
      .as[(String, String, Long, Long)].collect()
    assert(enc.length == wcnt.size && enc.forall(_._2 != "[UNK]"))
    assert(enc.forall(r => r._2.replace(" ", "") == r._1),
      "pieces must spell the word")
  }

  test("rank-greedy BPE encoder: known answers from the committed fixture") {
    val rank = TextAnalysis.defaultBpeMerges.zipWithIndex.toMap
    // chained merges bottom out at whole words the fixture covers
    assert(TextAnalysis.bpeEncodeWord(rank, "court") == Seq("court"))
    assert(TextAnalysis.bpeEncodeWord(rank, "the") == Seq("the"))
    assert(TextAnalysis.bpeEncodeWord(rank, "and") == Seq("and"))
    // partial coverage splits at learned boundaries
    assert(TextAnalysis.bpeEncodeWord(rank, "thing") == Seq("th", "ing"))
    // LOWEST rank anywhere in the word wins each round: (i,n)=r2 fires
    // before (c,o)=r12 even though (c,o) is leftmost; both suffix "ing"
    // and the co->cour->court chain still complete
    assert(TextAnalysis.bpeEncodeWord(rank, "courting") ==
      Seq("court", "ing"))
    // one sweep merges every occurrence of the winning pair
    assert(TextAnalysis.bpeEncodeWord(rank, "onon") == Seq("on", "on"))
    // unknown word degrades to characters
    assert(TextAnalysis.bpeEncodeWord(rank, "xyz") == Seq("x", "y", "z"))
  }

  test("bpeEncodeText: piece regex + case fold + digit/punct singletons") {
    val rank = TextAnalysis.defaultBpeMerges.zipWithIndex.toMap
    // "The"->the, "Court"->court, "," singleton, "in" merged,
    // each digit its own token (tokenCountBpe piece-regex parity)
    assert(TextAnalysis.bpeEncodeText(rank, "The Court, in 2024") ==
      Seq("the", "court", ",", "in", "2", "0", "2", "4"))
    assert(TextAnalysis.bpeEncodeText(rank, null) == Nil)
    assert(TextAnalysis.bpeEncodeText(rank, "   ") == Nil)
  }

  test("bpeTokenCountUdf counts subword tokens in a DataFrame pass") {
    val df = Seq((1L, "The Court, in 2024"), (2L, "thing"), (3L, null))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.bpeTokenCountUdf()($"text").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 8L, 2L -> 2L, 3L -> 0L))
  }

  test("stupidBackoffScores: hand-computed tiers and micro-unit log probs") {
    // train = doc 0 only ("a b c d"): trigrams {abc, bcd}; bigrams
    // {ab, bc, cd}; unigrams a,b,c,d ×1 → N=4, V=4.
    val docs = Seq(
      (0L, "a b c d"),   // both trigrams tier-3 at p=1 → lp6 = 0
      (1L, "a b c x"),   // abc tier-3 p=1; bcx: no tri, no (c,x) bigram
                         //   → tier-1 p = 0.4²·(0+1)/8 = 0.02
      (3L, "x b c d")    // xbc: no tri, (b,c) trained → tier-2
                         //   p = 0.4·1/1 = 0.4; bcd tier-3 p=1
    ).toDF("doc_id", "text") // ids 1,3 odd → doc 0 is the only trainer
    val out = TextAnalysis.stupidBackoffScores(docs, $"doc_id" % 2 === 0)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // log10(0.02)·1e6 = -1698970.004 → -1698970 (round half-up)
    // log10(0.4)·1e6  =  -397940.009 →  -397940
    assert(out(0L) == ((2L, 0L, 2L, 0L, 0L)), s"doc0: ${out(0L)}")
    assert(out(1L) == ((2L, -1698970L, 1L, 0L, 1L)), s"doc1: ${out(1L)}")
    assert(out(3L) == ((2L, -397940L, 1L, 1L, 0L)), s"doc3: ${out(3L)}")
  }

  test("labelConflictAudit: outvoted near-dup labels flag with the " +
      "majority suggestion, consistent clusters stay silent") {
    // cluster A: three near-identical vectors, labels 1,1,2 — the '2'
    // is outvoted 2:0 among its neighbors → flagged, suggested 1.
    // cluster B: two near-identical vectors, both label 3 → silent.
    // id 50 is far from everything → no neighbors → absent.
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val df = Seq(
      (10L, v(1.0, 0.01), 1), (11L, v(1.0, 0.02), 1),
      (12L, v(1.0, 0.03), 2),
      (20L, v(0.0, 1.0), 3), (21L, v(0.01, 1.0), 3),
      (50L, v(-1.0, -1.0), 9))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelConflictAudit(df, "vec_id", "embedding",
        "label", threshold = 0.9)
      .select("vec_id", "label", "n_nbrs", "n_conflict", "suggested_label")
      .as[(Long, Int, Long, Long, Int)].collect().toSeq
    assert(got == Seq((12L, 2, 2L, 2L, 1)), s"got $got")
    // an isolated disagreeing pair flags BOTH ways (each row's single
    // neighbor is a unanimous majority against it) — the review queue
    // surfaces the pair, a human picks the survivor
    val even = Seq((1L, v(1.0, 0.0), 1), (2L, v(1.0, 0.01), 2))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.labelConflictAudit(even, "vec_id", "embedding",
      "label", threshold = 0.9).count() == 2L)
  }

  test("secretScan: zero-entropy run unflagged, 17-distinct-char token " +
      "flagged at exactly lnU6(17), ln2 mixed token, shape/length " +
      "filters, no-candidate doc absent, guards") {
    val hi = "bcdefghijklmnopqr"        // 17 distinct chars → H = ln 17
    val lo = "aaaaaaaaaaaaaaaa"         // 16× 'a' → H = 0
    val mid = "aabbaabbaabbaabb"        // 8a 8b → H = ln 2
    val df = Seq(
      (1L, s"$lo $hi $mid zz short!!!!!!!!!!!!!!!"),
      (2L, "no secrets here at all")).toDF("doc_id", "text")
    val got = TextAnalysis.secretScan(df, "doc_id", "text",
        minLen = 16, maxLen = 256, thresholdU6 = 2600000L)
      .as[(Long, Long, Long, Option[String], Option[Long])]
      .collect().toSet
    val ln17 = math.round(math.log(17) * 1e6)  // 2833213
    val ln2 = math.round(math.log(16) * 1e6) -
      math.round(math.log(8) * 1e6)            // 693147
    assert(ln17 == 2833213L && ln2 == 693147L)
    // "short!!!!!!!!!!!!!!!" is 20 chars but '!' breaks the shape;
    // "zz" is under minLen; doc 2 has no candidate → absent.
    assert(got == Set((1L, 3L, 1L, Some(hi), Some(ln17))), s"got $got")
    intercept[IllegalArgumentException] {
      TextAnalysis.secretScan(df, "doc_id", "text", minLen = 1)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.secretScan(df, "doc_id", "text", thresholdU6 = 0L)
    }
  }

}
