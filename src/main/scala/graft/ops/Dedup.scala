package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Five families, each designed around its shuffle profile at 100 TB:
  *
  *  - exact: one hash-groupBy shuffle on a 16-byte digest (not the text).
  *  - MinHash+LSH: signatures are narrow per-row work; only the
  *    (band_id, band_hash) → candidate-pair join shuffles, and it
  *    shuffles keys not documents.
  *  - SimHash: narrow per-row signature; near-dup = same signature
  *    bucket (or Hamming-adjacent probes).
  *  - n-gram Jaccard: verification step on candidate pairs only — never
  *    the O(n²) cross join.
  *  - embedding cosine: blocked self-join (block key caps pair count).
  */
object Dedup {

  /** Exact dedup: keep the first (min `idCol`) row per text digest.
    *
    * Two-step shape chosen for its shuffle profile: the aggregation
    * shuffles only (digest, id) pairs — with map-side partial combine, so
    * per-partition duplicates collapse before the exchange — and the
    * left-semi join then re-reads the corpus narrowly (AQE broadcasts the
    * keeper set when it is small; otherwise rows shuffle once by digest,
    * un-sorted). The previous window formulation shuffled AND sorted full
    * rows including the text — the whole corpus through one exchange at
    * 100 TB. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keep = df
      .groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as("__keep_id"))
    df.join(keep,
      md5(col(textCol)) === col("__digest") && col(idCol) === col("__keep_id"),
      "left_semi")
  }

  /** The corpus's content-digest set — the 16-bytes-per-document state
    * that makes incremental admission cheap (see [[exactAgainst]]). */
  def digests(df: DataFrame, textCol: String = "text"): DataFrame =
    df.select(md5(col(textCol)).as("digest")).distinct()

  /** Incremental exact dedup: admit only new-batch rows that are neither
    * duplicated WITHIN the batch (first min-id occurrence wins, as in
    * [[exact]]) nor already present in the standing corpus, represented
    * by its [[digests]] set. This is the arriving-crawl-batch shape: the
    * standing 100 TB corpus never gets re-read — the batch anti-joins a
    * digest table that is 16 bytes per corpus document, and AQE
    * broadcasts it while it fits / shuffles both sides by digest once
    * it doesn't. */
  def exactAgainst(newDocs: DataFrame, knownDigests: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exact(newDocs, textCol, idCol)
      .join(knownDigests, md5(col(textCol)) === col("digest"), "left_anti")

  /** Rows that have at least one exact duplicate (audit view). */
  def exactDuplicateGroups(df: DataFrame, textCol: String = "text"): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
      .filter(col("n") > 1)

  /** Word k-shingles of a text column (the MinHash/Jaccard unit):
    * distinct space-joined k-grams of the lowercased whitespace tokens,
    * first-occurrence order; empty when the doc has fewer than k tokens.
    *
    * Compiled scalar UDF. The earlier expression form (`transform` +
    * `filter` + `array_distinct` over a `sequence`) never entered
    * whole-stage codegen — higher-order functions eval interpreted, per
    * element — and shingling dominated every MinHash/Jaccard query. */
  def shingles(textCol: Column, k: Int = 3): Column = shinglesUdf(k)(textCol)

  private[ops] def shinglesUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      val toks = (if (text == null) "" else text).trim
        .toLowerCase(java.util.Locale.ROOT).split("\\s+")
      if (toks.length < k) Seq.empty[String]
      else {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i + k <= toks.length) {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        import scala.jdk.CollectionConverters._
        seen.iterator().asScala.toSeq
      }
    }

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * the min over shingle hashes. Default hash is xxhash64 (Spark-native,
    * codegen'd); `hashFn` is pluggable so results can be reproduced by an
    * external oracle (e.g. md5-keyed). */
  def minHashSignature(shinglesCol: Column, numHashes: Int = 16,
      hashFn: (Int, Column) => Column = (seed, c) => xxhash64(lit(seed), c)): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(shinglesCol, s => hashFn(seed, s)))
    }: _*)

  /** md5-keyed MinHash signature as a compiled UDF.
    *
    * Semantically identical to `minHashSignature` with
    * `hashFn = md5("<seed>_" || shingle)` (hex-string min per seed), but
    * ~50× faster: `transform`/`array_min` are higher-order functions that
    * never enter whole-stage codegen, so the expression form pays
    * interpreter overhead per element × per seed. A deterministic scalar
    * UDF is the documented escape hatch for genuinely imperative per-row
    * loops (SURVEY.md §2.12). */
  def md5MinHashSignatureUdf(numHashes: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { sh: Seq[String] =>
      // Byte-level formulation of min(md5Hex(seed + "_" + shingle)):
      // hex strings compare identically to their unsigned digest bytes,
      // so track the min digest and hex-encode only the winner — and
      // encode each shingle's UTF-8 once, reused across all seeds. This
      // is ~10× less allocation than hex-per-hash + concat-per-seed
      // (GC pressure was the dominant cost of the signature pass).
      val md = java.security.MessageDigest.getInstance("MD5")
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val hex = "0123456789abcdef".toCharArray
      val shingleBytes = sh.iterator.map(_.getBytes(utf8)).toArray
      def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
        var i = 0
        while (i < 16) {
          val x = a(i) & 0xff; val y = b(i) & 0xff
          if (x != y) return x < y
          i += 1
        }
        false
      }
      (0 until numHashes).map { seed =>
        val prefix = s"${seed}_".getBytes(utf8)
        var min: Array[Byte] = null
        var i = 0
        while (i < shingleBytes.length) {
          md.reset()
          md.update(prefix)
          md.update(shingleBytes(i))
          val d = md.digest()
          if (min == null || unsignedLess(d, min)) min = d
          i += 1
        }
        if (min == null) null
        else {
          val out = new Array[Char](32)
          var j = 0
          while (j < 16) {
            out(2 * j) = hex((min(j) >> 4) & 0xf)
            out(2 * j + 1) = hex(min(j) & 0xf)
            j += 1
          }
          new String(out)
        }
      }
    }

  /** LSH banding: split the signature into `bands` equal bands; a pair
    * sharing any band's hash is a candidate. Emits
    * (idCol, band_id, band_hash) — the only thing that shuffles. */
  def lshBands(df: DataFrame, sigCol: String, bands: Int, idCol: String = "doc_id",
      bandHash: Column => Column = c => xxhash64(c),
      sigLen: Int = -1): DataFrame = {
    // avoid a data-probing action when the caller knows the length — a
    // first() here would force a full materialization of the upstream
    // exchange just to read one array size
    val len = if (sigLen > 0) sigLen
              else df.select(size(col(sigCol))).first().getInt(0)
    val rowsPerBand = len / bands
    df.select(col(idCol), posexplode(
        array((0 until bands).map { b =>
          bandHash(slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand)).cast("string")
        }: _*)).as(Seq("band_id", "band_hash")))
  }

  /** Candidate near-dup pairs from LSH buckets (id1 < id2, distinct). */
  def lshCandidates(bandsDf: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val a = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id1"))
    val b = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id2"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Fraction of agreeing MinHash components — the unbiased estimator of
    * Jaccard similarity from signatures alone. Compiled UDF (house
    * rule); rounded to 6 so a threshold filter is engine-portable. */
  val signatureAgreementUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Seq[String], b: Seq[String]) =>
      if (a == null || b == null || a.isEmpty || a.length != b.length) null
      else {
        var eq = 0; var i = 0
        while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
        java.lang.Double.valueOf(
          BigDecimal(eq.toDouble / a.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }

  /** Incremental NEAR-dup admission — the [[exactAgainst]] analog for
    * near duplicates: candidate pairs between a new batch and the
    * standing corpus via LSH banding, verified by SIGNATURE AGREEMENT
    * (estimated Jaccard) instead of exact shingle Jaccard. The corpus
    * keeps only its (id, signature) table — `numHashes` strings per
    * document, never shingles or text — so admitting a batch against
    * 100 TB reads a signature table, and the only cross-side shuffle is
    * the (band, hash) candidate join. Returns (new_id, old_id, agree)
    * pairs with agreement ≥ `minAgree`; anti-join the batch on new_id
    * to admit. */
  def minHashAgainst(newSigs: DataFrame, storedSigs: DataFrame,
      idCol: String = "doc_id", sigCol: String = "sig", bands: Int = 4,
      minAgree: Double = 0.8, numHashes: Int = -1): DataFrame = {
    val bandHash: Column => Column = c => md5(concat_ws("|", c))
    val bNew = lshBands(newSigs, sigCol, bands, idCol, bandHash, numHashes)
      .select(col(idCol).as("new_id"), col("band_id"), col("band_hash"))
    val bOld = lshBands(storedSigs, sigCol, bands, idCol, bandHash, numHashes)
      .select(col(idCol).as("old_id"), col("band_id"), col("band_hash"))
    bNew.join(bOld, Seq("band_id", "band_hash"))
      .select("new_id", "old_id").distinct()
      .join(newSigs.select(col(idCol).as("new_id"), col(sigCol).as("__sig_n")), "new_id")
      .join(storedSigs.select(col(idCol).as("old_id"), col(sigCol).as("__sig_o")), "old_id")
      .withColumn("agree", signatureAgreementUdf(col("__sig_n"), col("__sig_o")))
      .filter(col("agree") >= minAgree)
      .select("new_id", "old_id", "agree")
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band →
    * candidate pairs → exact Jaccard verification ≥ threshold. */
  def minHashNearDups(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 16, bands: Int = 4,
      shingleK: Int = 3, jaccardThreshold: Double = 0.8,
      signature: (Column, Int) => Column = (sh, n) => minHashSignature(sh, n),
      bandHash: Column => Column = c => xxhash64(c),
      persistShingles: Boolean = false): DataFrame = {
    // The shingle table feeds THREE plan branches (banding + both sides
    // of the verification self-join). A hash exchange with an explicit
    // partition count spreads the CPU-heavy/byte-light hashing (AQE would
    // coalesce the byte-small exchange to one partition) and lets
    // exchange reuse share one computation; `persistShingles` pins it in
    // the storage layer instead, for callers that run the plan once and
    // want the reuse guaranteed rather than best-effort. The count is
    // SIZE-DERIVED (≈1 MB of input text per task, capped at the
    // cluster's parallelism): a fixed defaultParallelism here pinned 32
    // near-empty tasks under every downstream stage of the persisted
    // signature table at bench scale while adding nothing at corpus
    // scale, where the cap is what binds.
    val p = Skew.sizedParallelism(df, bytesPerTask = 1L << 20)
    // cheap pre-filter on token count — filtering on size(shingles) would
    // push the whole shingle expression into the scan and eval it twice
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val sh0 = df.filter(size(toks) >= shingleK)
      .select(col(idCol), shingles(col(textCol), shingleK).as("sh"))
      .repartition(p, col(idCol))
    val sig0 = sh0.withColumn("sig", signature(col("sh"), numHashes))
      .repartition(p, col(idCol)) // one signature pass shared by both band-join sides
    // persist the sig table (it carries the shingles too): ALL four plan
    // consumers — two band-join sides, two verification-join sides — read
    // one materialization instead of relying on best-effort reuse.
    // Materialize EAGERLY: the four consumers include broadcast builds
    // that otherwise race the main job to compute the same cache
    // partitions — observed as multi-minute (~broadcastTimeout-shaped)
    // stalls when the broadcast thread and a concurrent job both block on
    // first materialization. One cheap action up front makes every
    // consumer a pure cache read.
    val sig = if (persistShingles) { val s = sig0.persist(); s.count(); s } else sig0
    val cands = lshCandidates(
      lshBands(sig, "sig", bands, idCol, bandHash, sigLen = numHashes), idCol)
    // shuffle-hash, NOT broadcast, for the verification sides: they carry
    // the full shingle arrays, so broadcasting them serializes the whole
    // (at scale: multi-TB) shingle corpus through the driver — the
    // planner only picked broadcast because the test corpus is tiny. The
    // hint pins the plan that survives 100×.
    val left = sig.select(col(idCol).as("id1"), col("sh").as("sh1")).hint("shuffle_hash")
    val right = sig.select(col(idCol).as("id2"), col("sh").as("sh2")).hint("shuffle_hash")
    cands.join(left, "id1").join(right, "id2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Per-band LSH efficiency audit — the measurement a pipeline runs
    * before choosing (numHashes, bands) at corpus scale: for every band,
    * how many buckets formed, how many candidate pairs its collisions
    * proposed, how many survived exact-Jaccard verification, and the
    * integer precision (1000·verified // candidates). A band whose
    * precision collapses is hashing too few rows (bucket soup → wasted
    * verify work); verified counts near zero across bands say the
    * threshold/banding curve is mis-tuned for the corpus. Same plan
    * shapes as [[minHashNearDups]] (gram-keyed shuffles, shingle arrays
    * only on the verify join); each distinct pair's Jaccard is computed
    * ONCE and joined back to the per-band candidate rows — within one
    * band a pair can collide at most once (one bucket per doc per
    * band), so per-band rows are already unique.
    *
    * @return (band_id, n_buckets, n_cand, n_verified, precision_pm),
    *         one row per band; precision_pm = 0 for a band with no
    *         candidates. */
  def lshBandAudit(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", numHashes: Int = 16, bands: Int = 4,
      shingleK: Int = 3, jaccardThreshold: Double = 0.8,
      signature: (Column, Int) => Column = (sh, n) => minHashSignature(sh, n),
      bandHash: Column => Column = c => xxhash64(c)): DataFrame = {
    // size-derived like minHashNearDups: same rationale, same clamp
    val p = Skew.sizedParallelism(df, bytesPerTask = 1L << 20)
    val toks = split(lower(trim(col(textCol))), "\\s+")
    // The signature table feeds three plan branches (banding + both
    // verify sides); the explicit hash exchange lets exchange REUSE
    // share one computation across them with NOTHING left in the
    // storage layer afterwards (an earlier persist() here leaked cached
    // partitions across repeated audits in a long-lived session — the
    // round-9 ADVICE item — and measured no faster than reuse).
    val sig = df.filter(size(toks) >= shingleK)
      .select(col(idCol), shingles(col(textCol), shingleK).as("sh"))
      .repartition(p, col(idCol))
      .withColumn("sig", signature(col("sh"), numHashes))
    val banded = lshBands(sig, "sig", bands, idCol, bandHash,
      sigLen = numHashes)
    val a = banded.select(col("band_id"), col("band_hash"), col(idCol).as("id1"))
    val b = banded.select(col("band_id"), col("band_hash"), col(idCol).as("id2"))
    val cand = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select("band_id", "id1", "id2")
    val left = sig.select(col(idCol).as("id1"), col("sh").as("sh1"))
      .hint("shuffle_hash")
    val right = sig.select(col(idCol).as("id2"), col("sh").as("sh2"))
      .hint("shuffle_hash")
    val verified = cand.select("id1", "id2").distinct()
      .join(left, "id1").join(right, "id2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("ok",
        when(col("inter").cast("double") /
          (size(col("sh1")) + size(col("sh2")) - col("inter"))
          >= jaccardThreshold, 1L).otherwise(0L))
      .select("id1", "id2", "ok")
    val perBand = cand.join(verified, Seq("id1", "id2"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n_cand"), sum("ok").as("n_verified"))
    val buckets = banded.groupBy("band_id")
      .agg(countDistinct(col("band_hash")).as("n_buckets"))
    buckets.join(perBand, Seq("band_id"), "left")
      .select(col("band_id").cast("long").as("band_id"),
        col("n_buckets"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_verified"), lit(0L)).as("n_verified"),
        when(coalesce(col("n_cand"), lit(0L)) === 0L, 0L)
          .otherwise(expr("n_verified * 1000 div n_cand")).cast("long")
          .as("precision_pm"))
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns PAIRS (from LSH/SimHash/exact matching) into dedup GROUPS:
    * every document in a component gets the component's min id as its
    * label, so "keep one per group" is a filter on `id == comp`.
    *
    * Alternating large-star / small-star rounds (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) over the
    * canonical (u < v) edge list:
    *
    *  - large-star: every node u computes m = min(N(u) ∪ {u}) and
    *    re-points each LARGER neighbor v > u at m — long tails collapse
    *    toward small ids without ever disconnecting anything.
    *  - small-star: edges orient toward their larger endpoint; each
    *    node u re-points its smaller neighbors (and itself) at
    *    m = min(N(u) ∪ {u}) — stars around local minima form.
    *
    * The round count is O(log n) on any topology and any id order: a
    * 1000-link path converges in ~10 rounds whether its ids grow along
    * it or are randomly permuted (min-label propagation needs O(path
    * length) rounds on the latter, pointer halving or not). Each star
    * is two grouped shuffles over an ids-only edge list (two longs
    * wide — at 100 TB the shuffles carry ids, never documents), and
    * the rounds run through [[Iterate.fixedPoint]].
    *
    * Convergence is exact and costs no job: the fixpoint is a forest of
    * stars rooted at their minimum, i.e. no node has two smaller
    * neighbors, or a smaller and a larger one. Large-star already
    * groups every node's neighborhood, so it counts both and emits
    * self-pairs (a, a) for each node that breaks the rule; small-star
    * ignores self-pairs, and the loop stops once a large-star output
    * (observed during its cut) holds none. Its input was then a star
    * forest, which large-star returns unchanged, so labels read off
    * directly.
    *
    * @param edges (id1, id2) pair table (undirected; duplicates and
    *              self-loops fine)
    * @return (id, comp) — comp = min id reachable from `id`
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // one cut reads `edges`: self-loops stay for the node set only
    val pairs = Iterate.cut(edges.select(least(col("id1"), col("id2")).as("u"),
      greatest(col("id1"), col("id2")).as("v")))
    val allNodes = pairs.select(col("u").as("id"))
      .unionByName(pairs.select(col("v").as("id"))).distinct()

    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("u").as("a"), col("v").as("b"))
        .unionByName(cur.select(col("v").as("a"), col("u").as("b")))
      val nbrs = sym.groupBy("a").agg(min("b").as("mn"),
          count(when(col("b") < col("a"), 1)).as("n_smaller"),
          count(when(col("b") > col("a"), 1)).as("n_larger"))
        .select(col("a"), least(col("a"), col("mn")).as("m"),
          (col("n_smaller") > 1 || (col("n_smaller") === 1 &&
            col("n_larger") > 0)).as("breaks"))
      // larger neighbors re-point at m; a node that breaks the star
      // rule turns each of its smaller-neighbor rows into a self-pair.
      // No distinct here: small-star's terminal distinct subsumes it,
      // saving one shuffle per round; duplicate multiplicity between
      // the stages is bounded by the (tiny) per-node dup factor
      sym.join(nbrs, "a")
        .filter(col("b") > col("a") || col("breaks"))
        .select(
          when(col("b") > col("a"), col("m")).otherwise(col("a")).as("u"),
          when(col("b") > col("a"), col("b")).otherwise(col("a")).as("v"))
    }

    def smallStar(cur: DataFrame): DataFrame = {
      // orient (a = larger endpoint, b = smaller); every b <= a — a
      // self-pair only proposes its own node as a group's minimum,
      // which every smaller neighbor beats and which is dropped alone
      val dir = cur.select(col("v").as("a"), col("u").as("b"))
      val mins = dir.groupBy("a").agg(min("b").as("m"))
      dir.join(mins, "a")
        .select(col("b").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("a").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    }

    // one alternation per round, with a cut between the stars: each
    // star references its input several times (sym union + mins join),
    // so composing them uncut multiplies recompute (measured 17 s vs
    // 9 s at sf0.1). Duplicated input pairs only inflate the first
    // neighbor counts, which can delay the stop but never cause it.
    val (stars, converged) = Iterate.fixedPoint(
        largeStar(pairs.filter(col("u") =!= col("v"))), maxIter,
        count(when(col("u") === col("v"), 1)))(
      ls => largeStar(Iterate.cut(smallStar(ls))),
      (_, next) => next.signal == Seq(0L))
    if (!converged)
      sys.error(s"connectedComponents: not converged after $maxIter " +
        "rounds — refusing to return partial labels")
    // the stars point non-root -> root, canonical order root < non-root:
    // labels read off; roots and isolated nodes map to themselves
    allNodes
      .join(stars.select(col("v").as("id"), col("u").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** SimHash signature (`bits` ≤ 64): per-token hash votes per bit; sign
    * of the vote sum sets the bit. Token hash is bit-identical to Spark's
    * `xxhash64(token)` (XXH64 over UTF-8 bytes, seed 42).
    *
    * Compiled scalar UDF, not `aggregate`/`filter` HOFs: higher-order
    * functions never enter whole-stage codegen and pay interpreter
    * overhead per element × per bit — the HOF form of this signature cost
    * 19 s at sf0.1; the UDF is one pass over the tokens. */
  def simHash(textCol: Column, bits: Int = 32): Column = simHashUdf(bits)(textCol)

  private[ops] def simHashUdf(bits: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      import org.apache.spark.unsafe.types.UTF8String
      val toks = (if (text == null) "" else text).trim
        .toLowerCase(java.util.Locale.ROOT).split("\\s+")
      val votes = new Array[Int](bits)
      toks.foreach { t =>
        val h = XXH64.hashUTF8String(UTF8String.fromString(t), 42L)
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < bits) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }

  /** 16-bit md5-nibble SimHash as a compiled UDF — the oracle-parity
    * variant (each bit votes on whether the j-th hex digit of
    * `md5(token)` is ≥ '8', i.e. the nibble's top bit). Semantically
    * identical to the DuckDB SQL in `SparkEntry.oracleSql("q28_simhash")`;
    * tokens split on a single space to match `string_split(text, ' ')`. */
  def md5SimHash16Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      val parts = (if (text == null) "" else text).split(" ", -1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hits = new Array[Int](16)
      parts.foreach { p =>
        val d = md.digest(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var j = 0
        while (j < 16) {
          // hex digit j is the high nibble of byte j/2 when j even, low when odd;
          // "≥ '8'" on the hex char ⇔ nibble value ≥ 8
          val nibble =
            if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xf else d(j >> 1) & 0xf
          if (nibble >= 8) hits(j) += 1
          j += 1
        }
      }
      val n = parts.length
      var sig = 0L
      var j = 0
      while (j < 16) { if (2 * hits(j) > n) sig |= (1L << j); j += 1 }
      sig
    }

  /** 48-bit md5-nibble SimHash (oracle-portable like the 16-bit variant,
    * but selective enough for banding to prune): bits 0-31 vote on the
    * 32 hex digits of `md5(token)`, bits 32-47 on the first 16 digits of
    * `md5("2" + token)`. 48 bits keeps every signature — and every
    * partial sum an engine computes while assembling it — inside a
    * signed 64-bit integer, so DuckDB's BIGINT arithmetic reproduces it
    * without overflow. */
  def md5SimHash48Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      val parts = (if (text == null) "" else text).split(" ", -1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hits = new Array[Int](48)
      parts.foreach { p =>
        val d1 = md.digest(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d2 = md.digest(("2" + p).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var j = 0
        while (j < 32) {
          val n1 = if ((j & 1) == 0) (d1(j >> 1) >> 4) & 0xf else d1(j >> 1) & 0xf
          if (n1 >= 8) hits(j) += 1
          j += 1
        }
        j = 0
        while (j < 16) {
          val n2 = if ((j & 1) == 0) (d2(j >> 1) >> 4) & 0xf else d2(j >> 1) & 0xf
          if (n2 >= 8) hits(32 + j) += 1
          j += 1
        }
      }
      val n = parts.length
      var sig = 0L
      var j = 0
      while (j < 48) { if (2 * hits(j) > n) sig |= (1L << j); j += 1 }
      sig
    }

  /** 63-bit md5-nibble SimHash (the full usable width of a signed
    * long): 32 majority-vote bits from md5(token) nibbles + 31 from
    * md5("2" + token). Same engine-portable construction as the 48-bit
    * form — an oracle can re-derive every bit from md5 hex — but 9-bit
    * bands at 7 bands (radius 6) carry 512 values each, 4× the
    * selectivity of the 48-bit form's ~7-bit bands. */
  def md5SimHash63Udf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      val parts = (if (text == null) "" else text).split(" ", -1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val hits = new Array[Int](63)
      parts.foreach { p =>
        val d1 = md.digest(p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val d2 = md.digest(("2" + p).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var j = 0
        while (j < 32) {
          val n1 = if ((j & 1) == 0) (d1(j >> 1) >> 4) & 0xf else d1(j >> 1) & 0xf
          if (n1 >= 8) hits(j) += 1
          j += 1
        }
        j = 0
        while (j < 31) {
          val n2 = if ((j & 1) == 0) (d2(j >> 1) >> 4) & 0xf else d2(j >> 1) & 0xf
          if (n2 >= 8) hits(32 + j) += 1
          j += 1
        }
      }
      val n = parts.length
      var sig = 0L
      var j = 0
      while (j < 63) { if (2 * hits(j) > n) sig |= (1L << j); j += 1 }
      sig
    }

  /** SimHash radius self-join: all id pairs whose signatures lie within
    * Hamming distance `maxDist`, found via byte banding — a pair is a
    * candidate iff it collides on at least one of the signature's bytes
    * (guaranteed complete for dist < #bands by pigeonhole; beyond that,
    * probabilistic recall — same contract the oracle reproduces exactly,
    * because the oracle mirrors the banding, not the ideal semantics).
    *
    * 100 TB shape: the self-join is an equi-join on (band#, byte value)
    * — never all-pairs — and the verification predicate is the codegen'd
    * [[graft.functions.GraftFunctions.hamming64]] (XOR + POPCNT per
    * candidate), so the verify stage stays in the whole-stage-codegen
    * span instead of boxing through a UDF.
    *
    * @param sigs   (id, sig) frame; `sigCol` is a long-encoded bit signature
    * @param sigBytes how many low bytes of the signature to band on
    */
  def simHashRadiusPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxDist: Int, sigBytes: Int = 2): DataFrame = {
    // Pigeonhole gate (round-6 review): byte-banding with bands ≤
    // maxDist can MISS pairs inside the advertised radius (all diffs
    // can land one per band) while its 256-value bands quadratically
    // over-generate candidates on skewed corpora. Refuse the shape
    // rather than silently under-recall; callers wanting probabilistic
    // banding use [[simHashRadiusPairsBanded]] explicitly.
    require(sigBytes >= maxDist + 1,
      s"simHashRadiusPairs: $sigBytes byte-bands cannot guarantee recall " +
        s"at radius $maxDist (needs bands >= ${maxDist + 1}); widen the " +
        "signature or call simHashRadiusPairsBanded for explicit banding")
    simHashRadiusPairsBanded(sigs, idCol, sigCol, maxDist,
      sigBits = 8 * sigBytes, bands = sigBytes)
  }

  /** General banding: split a `sigBits`-bit signature into `bands`
    * near-equal contiguous bit ranges and self-join on band collisions.
    *
    * The radius CONTRACT lives in the band count: with `bands ≥
    * maxDist + 1`, any two signatures within Hamming distance `maxDist`
    * differ in at most `maxDist` bands, so at least one band matches —
    * recall at the advertised radius is pigeonhole-COMPLETE, not
    * probabilistic. Fewer bands trade guaranteed recall for fewer
    * candidates (byte-banding via [[simHashRadiusPairs]] keeps that
    * legacy shape). The selectivity knob is bits-per-band: 10-bit bands
    * give 1024 values per band, so candidate volume within a band
    * bucket stays ~n²/1024 of the corpus-pair space — banding on wide
    * signatures (≥ 48 bits) is what makes the radius join scale-sane.
    */
  def simHashRadiusPairsBanded(sigs: DataFrame, idCol: String, sigCol: String,
      maxDist: Int, sigBits: Int, bands: Int): DataFrame = {
    // 64-bit signatures (image dHash/aHash) are allowed with bands >= 2:
    // every band is then <= 32 bits wide, so the (1L << width) - 1 mask
    // never overflows and arithmetic-shift sign-fill is masked away. A
    // single 64-bit band would need an unrepresentable 2^64-1 mask.
    require(bands >= 1 && bands <= sigBits && sigBits <= 64 &&
        (sigBits < 64 || bands >= 2),
      s"bands=$bands must be in [1, sigBits=$sigBits], sigBits <= 64 " +
        "(64-bit signatures need bands >= 2)")
    val layout = bandLayout(sigBits, bands)
    val base = sigs.select(col(idCol).as("id"), col(sigCol).cast("long").as("sig"))
    val banded = base.withColumn("band", explode(array(
        layout.zipWithIndex.map { case ((off, width), b) =>
          struct(lit(b).as("b"),
            shiftright(col("sig"), off).bitwiseAND(lit((1L << width) - 1)).as("v"))
        }: _*)))
      .select(col("id"), col("sig"), col("band.b").as("b"), col("band.v").as("v"))
    banded.as("a").join(banded.as("b"),
        col("a.b") === col("b.b") && col("a.v") === col("b.v") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        graft.functions.GraftFunctions
          .hamming64(col("a.sig"), col("b.sig")).as("dist"))
      // verify BEFORE the dedup: the codegen'd predicate runs inside the
      // join's output stage, so the distinct only shuffles matching
      // pairs, not every banding candidate
      .filter(col("dist") <= maxDist)
      .distinct() // a pair colliding on several bands is one candidate
  }

  /** Banded Hamming-radius join of a NEW batch's signatures against a
    * standing STORED (id, sig) table — [[simHashRadiusPairsBanded]]'s
    * cross-table form, and the media/SimHash member of the incremental-
    * admission family ([[exactAgainst]] exact, [[minHashAgainst]]
    * MinHash, [[prefixFilterAdmit]] exact-threshold): the corpus keeps
    * 8 bytes per item, admitting a batch against 100 TB of media reads
    * a signature table, and the only cross-side shuffle is the
    * (band, value) candidate join. Same pigeonhole contract: with
    * `bands ≥ maxDist + 1` recall at the radius is COMPLETE. Both
    * inputs use (`idCol`, `sigCol`). Returns (new_id, old_id, dist)
    * with dist ≤ maxDist; admission = the batch anti-joined on
    * new_id. */
  def simHashRadiusAgainst(newSigs: DataFrame, storedSigs: DataFrame,
      idCol: String, sigCol: String, maxDist: Int, sigBits: Int,
      bands: Int): DataFrame = {
    require(bands >= 1 && bands <= sigBits && sigBits <= 64 &&
        (sigBits < 64 || bands >= 2),
      s"bands=$bands must be in [1, sigBits=$sigBits], sigBits <= 64 " +
        "(64-bit signatures need bands >= 2)")
    val layout = bandLayout(sigBits, bands)
    def banded(df: DataFrame, side: String) = df
      .select(col(idCol).as(s"${side}_id"),
        col(sigCol).cast("long").as(s"${side}_sig"))
      .withColumn("band", explode(array(
        layout.zipWithIndex.map { case ((off, width), b) =>
          struct(lit(b).as("b"),
            shiftright(col(s"${side}_sig"), off)
              .bitwiseAND(lit((1L << width) - 1)).as("v"))
        }: _*)))
      .select(col(s"${side}_id"), col(s"${side}_sig"),
        col("band.b").as("b"), col("band.v").as("v"))
    banded(newSigs, "new").join(banded(storedSigs, "old"), Seq("b", "v"))
      .select(col("new_id"), col("old_id"),
        graft.functions.GraftFunctions
          .hamming64(col("new_sig"), col("old_sig")).as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** (bitOffset, width) per band: widths differ by at most one,
    * wider bands first, covering `sigBits` exactly. */
  private[ops] def bandLayout(sigBits: Int, bands: Int): Seq[(Int, Int)] = {
    val baseW = sigBits / bands
    val extra = sigBits % bands
    val widths = Seq.tabulate(bands)(i => if (i < extra) baseW + 1 else baseW)
    widths.scanLeft(0)(_ + _).zip(widths).map { case (off, w) => (off, w) }
  }

  /** n-gram Jaccard similarity between two token-array columns
    * (set semantics; integer arithmetic — deterministic). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a); val db = array_distinct(b)
    val inter = size(array_intersect(da, db))
    inter.cast("double") / (size(da) + size(db) - inter)
  }

  /** Embedding-cosine near-dup pairs: blocked self-join (same blockCol)
    * so the pair count stays bounded; exact cosine verification. */
  def embeddingNearDups(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", blockCol: String = "label",
      threshold: Double = 0.9): DataFrame = {
    import graft.functions.GraftFunctions.vecCosine
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, Seq("blk"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", round(vecCosine(col("v1"), col("v2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** End-to-end near-dup REMOVAL: given near-dup pairs (from
    * [[minHashNearDups]], [[simHashRadiusPairs]], ...), cluster them with
    * [[connectedComponents]] and keep exactly one document per cluster —
    * the minimum id (deterministic, engine-independent) — plus every
    * document that appears in no pair. This is the step the pair-mining
    * ops feed in a real curation run: "dedup the corpus" ends with a
    * filtered corpus, not a pair list.
    *
    * Scale shape: components shuffles only (id, id) pairs; the document
    * payload is touched once, by a left-anti join against the loser-id
    * set (never the winners — no payload ever rides the iterative part).
    */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // comp is the min id reachable from each node, so "loser" == any node
    // whose component label is a different (smaller) id.
    val losers = connectedComponents(pairs.select("id1", "id2"))
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[keepCanonical]] with a QUALITY rule instead of min-id: keep the
    * highest-`scoreCol` member of each near-dup cluster (ties → min id,
    * so the choice stays deterministic on any engine). This is the rule
    * real curation runs use — C4/RefinedWeb keep the LONGEST copy of a
    * near-duplicate, not the lowest-numbered one, because truncated or
    * boilerplate-stripped variants hash to nearby signatures but carry
    * less content.
    *
    * Scale shape identical to [[keepCanonical]]: the iterative part
    * (components) sees only (id, id) pairs; scores join in AFTER
    * clustering, on the cluster-node dimension (ids + one number — the
    * per-cluster rank window runs over component-sized frames, never
    * corpus rows); the payload is touched once by the final anti-join.
    * `scoreCol` is read from `docs` itself, so every clustered id has a
    * score by construction. */
  def keepBest(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs.select("id1", "id2"))
    val scored = cc.join(
      docs.select(col(idCol).as("id"), col(scoreCol).as("__q")), Seq("id"))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("__q").desc, col("id").asc)
    val losers = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Paragraph-level exact dedup (the C4/RefinedWeb intra-corpus step:
    * repeated boilerplate paragraphs are dropped everywhere but their
    * first occurrence). Explodes `textCol` on `sep`, drops blank
    * segments, and keeps the single globally-first occurrence of each
    * distinct paragraph — ordered by (id, position), so the survivor is
    * deterministic on any engine.
    *
    * Scale shape: one shuffle, partitioned by md5(paragraph) — the
    * dedup key — so each paragraph's occurrence list lands on one
    * reducer regardless of corpus size; a hot boilerplate paragraph is
    * one heavy key (bounded by its occurrence count, the thing this op
    * exists to remove). Returns (id, idx, para) of survivors.
    * `sep` is a Java regex (escape it for literal separators like "."). */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sep: String = "\n"): DataFrame = {
    val paras = docs
      .select(col(idCol), posexplode(split(col(textCol), sep)).as(Seq("idx", "para")))
      .withColumn("idx", col("idx").cast("long"))
      .filter(length(trim(col("para"))) > 0)
    val firstOccur = Window.partitionBy(md5(col("para").cast("binary")))
      .orderBy(col(idCol), col("idx"))
    paras
      .withColumn("rn", row_number().over(firstOccur))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Blocked fuzzy record linkage: match entities across two tables
    * whose names differ by typos/formatting (the classic
    * two-systems-one-customer problem). Candidate pairs come ONLY from
    * shared blocking keys — the domain-knowledge move that keeps
    * linkage off the n² cliff at scale — then `levenshtein` (unit edit
    * costs, identical across engines) verifies within `maxDist`.
    * Blocking trades recall for tractability exactly like LSH banding
    * does for near-dup: a typo IN the blocking key misses, which is
    * why real pipelines union several complementary block keys. */
  def fuzzyLinkage(a: DataFrame, b: DataFrame,
      blockA: Column, blockB: Column,
      nameA: String, nameB: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    a.withColumn("__blk", blockA)
      .join(b.withColumn("__blk", blockB), Seq("__blk"))
      .withColumn("dist", levenshtein(col(nameA), col(nameB)))
      .filter(col("dist") <= maxDist)
      .drop("__blk")
  }

  /** Jaro similarity (Jaro 1989): matches within a
    * floor(max(|a|,|b|)/2)−1 window, transpositions = misordered match
    * pairs / 2, similarity = mean of (m/|a|, m/|b|, (m−t)/m). Identical
    * strings (both empty included) are 1; no matches is 0. */
  private[graft] def jaroSim(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var matches = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var half = 0 // misordered matched pairs (t = half / 2)
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) half += 1
        k += 1
      }
      i += 1
    }
    (matches.toDouble / l1 + matches.toDouble / l2 +
      (matches - half / 2.0) / matches) / 3.0
  }

  /** Jaro–Winkler (Winkler 1990, the published reference semantics that
    * DuckDB's `jaro_winkler_similarity` also implements — verified on
    * the literature vectors, so q156 can oracle-gate it): the Jaro
    * score, boosted by `prefixWeight` per shared-prefix character (cap
    * 4) only when Jaro exceeds the 0.7 boost threshold. MARTHA/MARHTA
    * = 0.961111, DIXON/DICKSONX = 0.813333, DWAYNE/DUANE = 0.84. */
  private[graft] def jaroWinklerSim(s1: String, s2: String,
      prefixWeight: Double = 0.1, boostThreshold: Double = 0.7): Double = {
    val j = jaroSim(s1, s2)
    if (j <= boostThreshold) j
    else {
      var l = 0
      val cap = math.min(4, math.min(s1.length, s2.length))
      while (l < cap && s1.charAt(l) == s2.charAt(l)) l += 1
      j + l * prefixWeight * (1.0 - j)
    }
  }

  /** [[jaroWinklerSim]] as a column (compiled UDF; null-safe → null).
    * Cached at object init like the other compiled UDFs here, so call
    * sites share one function object instead of re-allocating per call. */
  private val jaroWinklerUdf = udf((x: String, y: String) =>
    if (x == null || y == null) null.asInstanceOf[java.lang.Double]
    else java.lang.Double.valueOf(jaroWinklerSim(x, y)))

  def jaroWinkler(a: Column, b: Column): Column = jaroWinklerUdf(a, b)

  /** [[fuzzyLinkage]] with Jaro–Winkler as the verify metric — the
    * second linkage metric beyond levenshtein (edit distance punishes a
    * long name's single typo as hard as a short name's; JW normalizes
    * by length and rewards agreeing prefixes, the record-linkage
    * standard). Same blocked-candidates shape: the block join fences
    * the n² pair space, JW verifies survivors, scores round to 6dp
    * before the threshold so the cut is engine-exact. */
  def fuzzyLinkageJaroWinkler(a: DataFrame, b: DataFrame,
      blockA: Column, blockB: Column,
      nameA: String, nameB: String, minSim: Double): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0, "minSim must be in [0, 1]")
    a.withColumn("__blk", blockA)
      .join(b.withColumn("__blk", blockB), Seq("__blk"))
      .withColumn("jw", round(jaroWinkler(col(nameA), col(nameB)), 6))
      .filter(col("jw") >= minSim)
      .drop("__blk")
  }

  /** SemDeDup-style semantic dedup over an embedding column: a k-means
    * coarse quantizer (the [[Similarity.IvfIndex]] fit) buckets the
    * corpus into clusters, then pairwise cosine runs ONLY within each
    * cluster and any row with an earlier (lower-id) near-duplicate —
    * cos ≥ threshold, rounded to 6 decimals before comparison — is
    * dropped. The anchor rule (compare against all earlier rows, not
    * survivors only) keeps the result a pure function of the pair set,
    * re-derivable by any engine from the assignment table — a greedy
    * survivor chain would be order-dependent and unauditable.
    *
    * Scale shape: the all-pairs work is fenced inside clusters, the
    * same cost bound the SemDeDup construction relies on — cluster
    * count grows with the corpus (LAION-scale runs use ~10^5 cells) so
    * cells stay bounded; the cluster-keyed self-join shuffles (id, vec)
    * once per side and the final anti-join is ids-only. Returns kept
    * rows as (idCol, centroid). */
  def semanticDedupAssigned(assigned: DataFrame, vecCol: String,
      idCol: String, threshold: Double): DataFrame = {
    import graft.functions.GraftFunctions.vecCosine
    val a = assigned.select(col("centroid"), col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = assigned.select(col("centroid"), col(idCol).as("id2"), col(vecCol).as("v2"))
    val losers = a.join(b, Seq("centroid"))
      .filter(col("id1") < col("id2"))
      .filter(round(vecCosine(col("v1"), col("v2")), 6) >= threshold)
      .select(col("id2").as(idCol)).distinct()
    assigned.join(losers, Seq(idCol), "left_anti")
      .select(col(idCol), col("centroid"))
  }

  /** Fit + assign + dedup in one call (the common path; use
    * [[semanticDedupAssigned]] directly to reuse an existing index or
    * dump the assignment for an external audit). */
  def semanticDedup(df: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", nClusters: Int = 16,
      threshold: Double = 0.95): DataFrame = {
    val assigned = new Similarity.IvfIndex(df, nClusters, vecCol, idCol)
      .assigned.select(col(idCol), col(vecCol), col("centroid"))
    semanticDedupAssigned(assigned, vecCol, idCol, threshold)
  }

  /** EXACT-threshold set-similarity self-join by prefix filtering
    * (Chaudhuri et al. 2006 / PPJoin's core pruning): every pair with
    * shingle-Jaccard ≥ tNum/tDen, no false negatives — the exact
    * counterpart to MinHash-LSH's probabilistic recall.
    *
    * Prefix-filter theorem: order each document's distinct k-shingles
    * by global rarity ((cnt, shingle) — a TOTAL order, so both engines
    * agree without a global row_number); if J(a,b) ≥ t then a and b
    * must share at least one of their first |d| − ⌈t·|d|⌉ + 1 shingles.
    * Candidates therefore come from a join on PREFIX shingles only —
    * rare ones, so candidate fan-out stays near the true-pair count —
    * and each candidate verifies with an exact integer test
    * (tDen·|a∩b| ≥ tNum·|a∪b|; the threshold is a rational, never a
    * float).
    *
    * Scale shape: shingle set + count join is two shuffles over the
    * (doc, shingle) stream; prefix selection is a PER-DOC window
    * (partitioned, never global); verification joins only candidate
    * pairs' shingle sets. Returns (id1, id2, inter, uni) with
    * id1 < id2.
    *
    * Documented boundary (like PdfText's JPX note): documents with fewer
    * than `shingleK` tokens have NO k-shingles and are invisible to this
    * join — two identical 4-token docs never pair at the default k=5.
    * Shingle-Jaccard is simply undefined below the shingle size; route
    * short docs through exact dedup ([[exact]] hashes the whole text)
    * or lower `shingleK` if sub-k docs matter. */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, tNum: Int = 3, tDen: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen not in (0,1]")
    val shs = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= shingleK)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(w) - $shingleK), i -> " +
          s"concat_ws(' ', slice(w, i + 1, $shingleK)))")).as("sh"))
      .distinct()
    val cnts = shs.groupBy("sh").agg(count(lit(1)).as("cnt"))
    val byDoc = Window.partitionBy("id")
    val ranked = shs.join(cnts, Seq("sh"))
      .withColumn("rk", row_number().over(byDoc.orderBy(asc("cnt"), asc("sh"))))
      .withColumn("n", count(lit(1)).over(byDoc))
    // prefix length L = n − ⌈t·n⌉ + 1, with ⌈tNum·n/tDen⌉ in integers
    val pref = ranked.filter(col("rk") <=
      col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
    val cand = pref.select(col("id").as("id1"), col("sh"))
      .join(pref.select(col("id").as("id2"), col("sh")), Seq("sh"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val sizes = shs.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(shs.select(col("id").as("id1"), col("sh")), Seq("id1"))
      .join(shs.select(col("id").as("id2"), col("sh")), Seq("id2", "sh"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id1"), col("n").as("na")), Seq("id1"))
      .join(sizes.select(col("id").as("id2"), col("n").as("nb")), Seq("id2"))
      .select(col("id1"), col("id2"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
  }

  /** Asymmetric CONTAINMENT join — excerpt/quotation detection:
    * DIRECTED pairs (id_small, id_big) where
    * |sh(a) ∩ sh(b)| ≥ (tNum/tDen)·|sh(a)| (set containment of a in b —
    * Broder's asymmetric cousin of Jaccard). A paragraph quoted inside
    * a long document has near-zero JACCARD — MinHash-LSH and the
    * symmetric [[prefixFilterJoin]] are structurally blind to it — but
    * containment ≈ 1; this is the q60-family decontamination gap for
    * excerpts and the boilerplate-inclusion sweep. Exact, no false
    * negatives: the prefix-filter theorem applies to the CONTAINED side
    * only (if C(a,b) ≥ t, a's first |a| − ⌈t·|a|⌉ + 1 rarity-ordered
    * shingles must hit sh(b)), while the containing side indexes ALL
    * its shingles (the q115 posting-list shape) — candidate fan-out is
    * prefix(a) ⋈ postings, verification an exact integer test. Returns
    * (id_small, id_big, inter, n_small, containment_pm), id_small ≠
    * id_big, both directions of a mutual pair reported independently.
    * Same sub-`shingleK` boundary as [[prefixFilterJoin]]. */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, tNum: Int = 4, tDen: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen not in (0,1]")
    val shs = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= shingleK)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(w) - $shingleK), i -> " +
          s"concat_ws(' ', slice(w, i + 1, $shingleK)))")).as("sh"))
      .distinct()
    val cnts = shs.groupBy("sh").agg(count(lit(1)).as("cnt"))
    val byDoc = Window.partitionBy("id")
    val pref = shs.join(cnts, Seq("sh"))
      .withColumn("rk", row_number().over(byDoc.orderBy(asc("cnt"), asc("sh"))))
      .withColumn("n", count(lit(1)).over(byDoc))
      .filter(col("rk") <=
        col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
    val cand = pref.select(col("id").as("id_small"), col("sh"))
      .join(shs.select(col("id").as("id_big"), col("sh")), Seq("sh"))
      .filter(col("id_small") =!= col("id_big"))
      .select("id_small", "id_big").distinct()
    val sizes = shs.groupBy("id").agg(count(lit(1)).as("n"))
    cand
      .join(shs.select(col("id").as("id_small"), col("sh")), Seq("id_small"))
      .join(shs.select(col("id").as("id_big"), col("sh")), Seq("id_big", "sh"))
      .groupBy("id_small", "id_big").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_small"), col("n").as("n_small")),
        Seq("id_small"))
      .filter(col("inter") * tDen >= col("n_small") * tNum)
      .select(col("id_small"), col("id_big"), col("inter"), col("n_small"),
        expr("inter * 1000 div n_small").as("containment_pm"))
  }

  /** Incremental admission flavor of [[prefixFilterJoin]] (the q91
    * stored-table pattern, exact-threshold edition): flag every NEW doc
    * whose shingle-Jaccard against some STORED doc reaches tNum/tDen.
    * Shingle rarity comes from the STORED corpus only — the frozen-stats
    * discipline of `IvfIndex.appendAssign` — with `(coalesce(cnt, 0),
    * shingle)` as the total order, so batch-only shingles rank rarest
    * and BOTH sides of every (new, stored) pair use the SAME order: the
    * prefix-filter completeness theorem needs exactly that consistency,
    * not fresh counts. Returns (new_id, old_id, inter, uni) matches;
    * admission = the batch anti-joined on new_id.
    *
    * Same sub-`shingleK` boundary as [[prefixFilterJoin]]: batch docs
    * under k tokens produce no shingles, so they never match and are
    * always admitted — pair with exact-hash admission ([[exactAgainst]])
    * for short docs. */
  def prefixFilterAdmit(batch: DataFrame, stored: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 5,
      tNum: Int = 3, tDen: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen not in (0,1]")
    def shingleSet(df: DataFrame) = df
      .select(col(idCol).as("id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= shingleK)
      .select(col("id"), explode(expr(
        s"transform(sequence(0, size(w) - $shingleK), i -> " +
          s"concat_ws(' ', slice(w, i + 1, $shingleK)))")).as("sh"))
      .distinct()
    val shNew = shingleSet(batch)
    val shOld = shingleSet(stored)
    val cnts = shOld.groupBy("sh").agg(count(lit(1)).as("cnt"))
    def prefix(shs: DataFrame) = {
      val byDoc = Window.partitionBy("id")
      shs.join(cnts, Seq("sh"), "left")
        .withColumn("c0", coalesce(col("cnt"), lit(0L)))
        .withColumn("rk", row_number().over(
          byDoc.orderBy(asc("c0"), asc("sh"))))
        .withColumn("n", count(lit(1)).over(byDoc))
        .filter(col("rk") <=
          col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
        .select("id", "sh")
    }
    val cand = prefix(shNew).select(col("id").as("new_id"), col("sh"))
      .join(prefix(shOld).select(col("id").as("old_id"), col("sh")), Seq("sh"))
      .select("new_id", "old_id").distinct()
    val inter = cand
      .join(shNew.select(col("id").as("new_id"), col("sh")), Seq("new_id"))
      .join(shOld.select(col("id").as("old_id"), col("sh")), Seq("old_id", "sh"))
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("inter"))
    val szNew = shNew.groupBy("id").agg(count(lit(1)).as("na"))
    val szOld = shOld.groupBy("id").agg(count(lit(1)).as("nb"))
    inter
      .join(szNew.select(col("id").as("new_id"), col("na")), Seq("new_id"))
      .join(szOld.select(col("id").as("old_id"), col("nb")), Seq("old_id"))
      .select(col("new_id"), col("old_id"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
  }

  /** LSH banding parameter sweep — "which (b, r) should minHashNearDups
    * run with": enumerate every banding of at most `totalHashes`
    * minhashes and evaluate the S-curve P(candidate) = 1 − (1 − s^r)^b
    * at the target similarity and at ±0.1 around it. The RECOMMENDED
    * row maximizes discrimination (the probability gap across the
    * threshold — a steep S-curve passes near-dups and starves the
    * verifier of junk), ties to fewer bands then longer rows. One
    * micro-rounding per (b, r, point) — the fixed-point log
    * discipline applied to pow; the table is (Σ divisors)-sized,
    * trivially broadcastable, and the q199 band-efficiency audit
    * measures afterwards what this predicts before.
    *
    * Returns (b, r, p_at_ppm, p_lo_ppm, p_hi_ppm, gap_ppm,
    * recommended). */
  def lshParamSweep(spark: org.apache.spark.sql.SparkSession,
      totalHashes: Int, tPpm: Long): DataFrame = {
    require(totalHashes >= 1, s"totalHashes must be >= 1")
    require(tPpm >= 100000L && tPpm <= 900000L,
      s"tPpm must leave room for the +/-0.1 probes, got $tPpm")
    val h = totalHashes.toLong
    val pairs = spark.range(1, h + 1).select(col("id").as("b"))
      .crossJoin(spark.range(1, h + 1).select(col("id").as("r")))
      .filter(col("b") * col("r") <= h)
    def pAt(s: Column): Column =
      round((lit(1.0) - pow(lit(1.0) -
        pow(s, col("r").cast("double")), col("b").cast("double")))
        * 1000000, 0).cast("long")
    val t = tPpm.toDouble / 1000000.0
    val scored = pairs
      .withColumn("p_at_ppm", pAt(lit(t)))
      .withColumn("p_lo_ppm", pAt(lit(t - 0.1)))
      .withColumn("p_hi_ppm", pAt(lit(t + 0.1)))
      .withColumn("gap_ppm", col("p_hi_ppm") - col("p_lo_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("gap_ppm"), col("b"), col("r"))
    scored
      .withColumn("recommended",
        (row_number().over(w) === 1).cast("long"))
      .select("b", "r", "p_at_ppm", "p_lo_ppm", "p_hi_ppm", "gap_ppm",
        "recommended")
  }

  /** TF-IDF cosine similarity join with df-pruned candidate
    * generation (the Bayardo/WWW'07 all-pairs family, lexical form) —
    * the sparse sibling between [[prefixFilterJoin]]'s set Jaccard and
    * the embedding cosine: weighted lexical similarity that rewards
    * rare shared vocabulary. The scale move is CANDIDATES FROM RARE
    * TOKENS ONLY: a pair enters scoring iff it shares a token with
    * df ∈ [2, maxDf] (posting lists of common tokens never pair —
    * the df² blow-up that kills naive all-pairs), but the verified
    * dot then covers ALL shared tokens of the candidate pair, so
    * scores are exact for every surfaced pair (recall boundary: pairs
    * sharing only common tokens are out by design — document maxDf
    * accordingly). Weights w = tf · round(ln(N/df)·10⁶) stay integer;
    * the dot is an integer sum; only the final cosine divides by the
    * float norms and rounds to 6dp (the q26 convention).
    *
    * Scale shape: token counts on the (doc, token) dimension,
    * candidates from rare-token posting-list self-joins (df-bounded),
    * verification = candidate ⋈ weight tables keyed by (doc, token) —
    * pair-bounded, never corpus². Returns the top `k` pairs
    * (id1, id2, dot_w, cos) by cosine (ties id1, id2) via
    * TakeOrderedAndProject. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxDf: Long = 20L,
      k: Int = 20): DataFrame = {
    require(maxDf >= 2L && k >= 1, s"bad maxDf/k: $maxDf/$k")
    val toks = Iterate.cut(docs.select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("id", "tok").agg(count(lit(1)).as("tf")))
    val dft = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val nRow = docs.agg(count(lit(1)).as("n"))
    val w = Iterate.cut(toks.join(dft, "tok").crossJoin(broadcast(nRow))
      .withColumn("w", col("tf") * round(log(
        col("n").cast("double") / col("df")) * 1000000, 0).cast("long"))
      .select("id", "tok", "w"))
    val nrm = w.groupBy("id")
      .agg(sqrt(sum(col("w") * col("w")).cast("double")).as("nrm"))
    val rare = dft.filter(col("df") >= 2 && col("df") <= maxDf)
      .select("tok")
    val postings = toks.join(rare, "tok").select("tok", "id")
    val cand = Iterate.cut(postings.alias("a").join(postings.alias("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2")).distinct())
    val dots = cand
      .join(w.select(col("id").as("id1"), col("tok"),
        col("w").as("w1")), Seq("id1"))
      .join(w.select(col("id").as("id2"), col("tok"),
        col("w").as("w2")), Seq("id2", "tok"))
      .groupBy("id1", "id2").agg(sum(col("w1") * col("w2")).as("dot_w"))
    dots
      .join(nrm.select(col("id").as("id1"), col("nrm").as("n1")), "id1")
      .join(nrm.select(col("id").as("id2"), col("nrm").as("n2")), "id2")
      .withColumn("cos",
        round(col("dot_w").cast("double") / (col("n1") * col("n2")), 6))
      .orderBy(desc("cos"), col("id1"), col("id2"))
      .limit(k)
      .select("id1", "id2", "dot_w", "cos")
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD 1995) —
    * the third blocking strategy of the linkage tier: hash blocks
    * ([[fuzzyLinkage]]) split near-boundary matches, phonetic blocks
    * ([[soundex4]]) only see names; sorting by a fuzzy KEY and pairing
    * every record with its `window−1` successors catches whatever
    * lands nearby under the sort — the classic merge/purge move, at a
    * guaranteed (window−1)·n candidate budget. Ranks come from
    * [[graft.ops.Layout.globalRowNumber]] (two-pass range ranking —
    * never a single-partition window), and pairs from window−1 SHIFTED
    * equi-joins on the rank (the skip-gram/textRank linear-stream
    * move — never a rank-range self-join). Ties in the key order by
    * id, so the pairing is a pure function of the table. Returns
    * (id1, id2, key1, key2) with id2 exactly 1..window−1 positions
    * after id1. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      keyCol: String, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val ranked = Iterate.cut(graft.ops.Layout.globalRowNumber(
        df.select(col(idCol).as("id"), col(keyCol).as("k")),
        Seq("k", "id"), 0)
      .select(col("id"), col("k"), col("rn")))
    val shifted = (1 until window).map { d =>
      ranked.select(col("id").as("id2"), col("k").as("k2"),
        (col("rn") - d).as("rn"))
    }.reduce(_ unionByName _)
    ranked.join(shifted, "rn")
      .select(col("id").as("id1"), col("id2"),
        col("k").as("key1"), col("k2").as("key2"))
  }

  /** Round half away from zero to a Long — the engine-portable tie
    * rule (DuckDB round(); Spark round(); NOT math.round, whose
    * floor(x+0.5) breaks on negative .5 ties). */
  private[ops] def roundAway(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(-x + 0.5).toLong

  /** Fellegi–Sunter probabilistic record linkage (JASA 1969) — the
    * principled upgrade over [[fuzzyLinkage]]'s single-field distance:
    * each compare field carries an agreement weight log(m/u) and a
    * disagreement weight log((1−m)/(1−u)), a pair's score is the sum,
    * and the u-probabilities (chance agreement) are ESTIMATED FROM THE
    * DATA as Σ n_v²/N² per field (the value-frequency method — rare
    * values agreeing is strong evidence, frequent ones weak).
    * m is supplied (ppm): without labeled pairs the EM fit has no
    * deterministic replay, and a fixed high m is the standard
    * first-pass configuration. Exact discipline: u clamps to
    * [1, 999999] ppm (degenerate all-distinct / constant fields stay
    * finite), weights micro-round ONCE from the ppm ratio (micro-log10
    * rule), pair scores are pure integer sums.
    *
    * Scale shape: u estimation is one value-dimension aggregate per
    * field; the F fitted weights are a BOUNDED driver read (F = a
    * handful of fields — the documented IVF-fit-style contract) folded
    * back as codegen literals; candidate pairs come only from the
    * BLOCK self-join (never all-pairs — pick blockCols with bounded
    * block sizes, the fuzzyLinkage rule). The classic three-way
    * decision rule: score ≥ upperU6 → "link", ≥ lowerU6 → "possible"
    * (clerical review), below lowerU6 dropped entirely. Returns
    * (id1, id2, n_agree, score_u6, decision); comparisons are
    * null-safe (two nulls agree), block keys with nulls never pair
    * (SQL join semantics). */
  def fellegiSunterPairs(df: DataFrame, idCol: String,
      blockCols: Seq[String], compareCols: Seq[String],
      mPpm: Long = 950000L, upperU6: Long = 1L,
      lowerU6: Long = Long.MinValue): DataFrame = {
    require(blockCols.nonEmpty, "need at least one blocking column")
    require(compareCols.nonEmpty, "need at least one compare column")
    require(mPpm >= 1L && mPpm <= 999999L, s"mPpm out of (0,1): $mPpm")
    require(lowerU6 <= upperU6, s"lowerU6 $lowerU6 > upperU6 $upperU6")
    val weights = compareCols.map { f =>
      val r = df.groupBy(col(f)).agg(count(lit(1)).as("nv"))
        .agg(sum(col("nv") * col("nv")).as("s2"), sum("nv").as("n"))
        .first()
      val s2 = r.getLong(0)
      val n = r.getLong(1)
      val u = math.max(1L, math.min(999999L, s2 * 1000000L / (n * n)))
      val wa = roundAway(math.log10(mPpm.toDouble / u) * 1e6)
      val wd = roundAway(
        math.log10((1000000L - mPpm).toDouble / (1000000L - u)) * 1e6)
      (f, wa, wd)
    }
    val cols = (idCol +: (blockCols ++ compareCols)).distinct
    val base = df.select(cols.map(col): _*)
    val joinCond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
    val score = weights.map { case (f, wa, wd) =>
      when(col(s"a.$f") <=> col(s"b.$f"), lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    val agree = weights.map { case (f, _, _) =>
      when(col(s"a.$f") <=> col(s"b.$f"), lit(1L)).otherwise(lit(0L))
    }.reduce(_ + _)
    base.alias("a").join(base.alias("b"), joinCond)
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        agree.as("n_agree"), score.as("score_u6"))
      .filter(col("score_u6") >= lowerU6)
      .withColumn("decision",
        when(col("score_u6") >= upperU6, lit("link"))
          .otherwise(lit("possible")))
  }

  /** Simplified American Soundex (Russell 1918 family), the phonetic
    * BLOCKING key for record linkage — [[fuzzyLinkage]]'s length-key
    * blocks miss sound-alike misspellings ("smith"/"smyth"); a soundex
    * block catches them without an all-pairs pass. Vowel-rule variant:
    * H and W code to 0 like vowels and so BREAK runs rather than being
    * transparent (the common simplified implementation; the archival
    * h/w rule needs stateful scanning no relational engine replays
    * cheaply — deviation documented). Pipeline: uppercase, strip
    * non-letters, digit-code all letters, collapse adjacent equal
    * digits, drop the lead position, strip zeros, first letter + 3
    * digits zero-padded. Pure column expression — stays inside
    * whole-stage codegen, no UDF. Strings with no letters → null. */
  def soundex4(c: Column): Column = {
    val clean = upper(regexp_replace(c, "[^A-Za-z]", ""))
    val codes = translate(clean, "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
      "01230120022455012623010202")
    val collapsed = regexp_replace(codes, "(.)\\1+", "$1")
    val digits = regexp_replace(substring(collapsed, 2, 1000), "0", "")
    when(length(clean) === 0, lit(null).cast("string"))
      .otherwise(concat(substring(clean, 1, 1),
        rpad(substring(digits, 1, 3), 3, "0")))
  }
}
