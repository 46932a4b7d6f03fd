package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, GraphOps, TextAnalysis}
import graft.perfbench.Main.{Args, Report, median}

/** The `curate` workload: the q180-style training-data chain over a
  * generated corpus with planted copies, foreign-language, low-quality
  * and repetitive documents and citation edges, run as whole passes:
  *
  * normalize → exact dedup → language id → quality + repetition →
  * MinHash near-dups → keep-best → PageRank over citations → kept set
  * written to parquet. */
object Curate {

  /** Base documents; planted copies add a tenth on top. */
  val BaseDocs = 400
  val LangPerClass = 150

  /** What one pass kept, and the persisted frames of its stages. */
  final case class Pass(kept: Seq[Long], exact: DataFrame, lang: DataFrame,
      gates: DataFrame, pairs: DataFrame, nearKept: DataFrame, edges: Long,
      frames: Seq[DataFrame])

  /** One full pass; each stage is materialized inside its own span so
    * stage times and attributed Spark work separate cleanly. */
  def pass(spark: SparkSession, input: DataFrame, training: DataFrame,
      out: String, rec: Trace.Recorder, req: Long): Pass = {
    var frames = Vector.empty[DataFrame]
    def stage[A](name: String)(f: => A): A = rec.span(s"curate.$name", req)(f)
    def keep(df: DataFrame): DataFrame = {
      val p = df.persist(); p.count(); frames :+= p; p
    }
    val normed = stage("normalize")(keep(input.select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("norm_text"))))
    val dd = stage("exact")(keep(Dedup.exact(normed, "norm_text", "doc_id")))
    val lang = stage("langid") {
      val profile = TextAnalysis.langIdTrain(training, buckets = 1024)
      keep(TextAnalysis.langIdClassify(
          dd.select(col("doc_id"), col("norm_text").as("text")), profile,
          buckets = 1024)
        .select("doc_id", "pred_lang"))
    }
    val gates = stage("quality") {
      val q = Curation.linearQualityScore(dd, "doc_id", "norm_text",
          Curation.QualityWeights(words = 2, chars = 1, exclaim = -50,
            digits = -10, bias = -500))
        .select(col("doc_id"), col("logit"))
      val rep = TextAnalysis.topBigramStats(dd, "doc_id", "norm_text")
      keep(q.join(rep, Seq("doc_id"), "left")
        .select(col("doc_id"), (col("logit") >= 0 &&
          coalesce(col("top_cnt"), lit(1L)) * 10 <=
            coalesce(col("n_pairs"), lit(0L))).as("gate_ok")))
    }
    val ndInput = dd.select(col("doc_id"), col("norm_text").as("text"),
      length(col("norm_text")).cast("long").as("qlen"))
    val pairs = stage("minhash")(keep(Dedup.minHashNearDups(ndInput,
      numHashes = 16, bands = 4, jaccardThreshold = 0.8,
      signature = (sh, n) => Dedup.md5MinHashSignatureUdf(n)(sh),
      bandHash = c => md5(concat_ws("|", c)), persistShingles = true)))
    val nearKept = stage("keep")(keep(
      Dedup.keepBest(ndInput, "doc_id", "qlen", pairs).select("doc_id")))
    val (ranks, nEdges) = stage("authority") {
      val edges = keep(input.select(col("doc_id").as("src"),
          explode(regexp_extract_all(col("text"),
            lit("Opinion No\\. (\\d+)"), lit(1))).as("dst"))
        .select(col("src"), col("dst").cast("long").as("dst")).distinct())
      (keep(GraphOps.pageRankFixedPoint(edges, iters = 5)), edges.count())
    }
    val kept = stage("materialize") {
      val k = nearKept
        .join(lang.filter(col("pred_lang") === "en"), "doc_id")
        .join(gates.filter(col("gate_ok")), "doc_id")
        .join(ranks.select(col("id").as("doc_id"), col("rank")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("rank"), lit(0L)).as("authority"))
      k.write.mode("overwrite").parquet(out)
      spark.read.parquet(out).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    }
    Pass(kept, dd, lang, gates, pairs, nearKept, nEdges, frames)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  def digest(ids: Seq[Long]): String = Gen.digest(ids.map(i => Gen.Doc(i, "")))

  def run(spark: SparkSession, a: Args, report: Report, sessionS: Double): Unit = {
    import spark.implicits._
    val (docs, man) = Gen.curateCorpus(a.seed, BaseDocs)
    val src = s"${a.work}/curate_src"
    Serving.writeDocs(spark, docs, s"$src/documents.parquet", "overwrite")
    Gen.langTraining(a.seed, LangPerClass).toDF("lang", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$src/langid.parquet")

    // set-up: register the inputs (schema read + one count each)
    val t0 = System.nanoTime()
    val input = spark.read.parquet(s"$src/documents.parquet")
    val training = spark.read.parquet(s"$src/langid.parquet")
    input.createOrReplaceTempView("curate_input")
    training.createOrReplaceTempView("curate_langid")
    val nInput = input.count()
    training.count()
    report.put("setup_s", sessionS + (System.nanoTime() - t0) / 1e9, "s")
    report.put("curate.input_docs", nInput.toDouble, "count")

    val out = s"${a.work}/curate_kept"
    val sc = spark.sparkContext
    val untraced = new Trace.Recorder(None)
    def timedPass(rec: Trace.Recorder, req: Long, prev: Option[Pass]): (Pass, Double) = {
      prev.foreach(_.frames.foreach(_.unpersist(true)))
      val t = System.nanoTime()
      val p = try pass(spark, input, training, out, rec, req)
        catch { case e: Throwable => report.op(ok = false); throw e }
      report.op(ok = true)
      (p, (System.nanoTime() - t) / 1e9)
    }

    val (last, digests) = if (!a.trace) {
      // whole passes until the time is up (at least one)
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      var walls = Vector.empty[Double]
      var digests = Vector.empty[String]
      var last: Option[Pass] = None
      while (last.isEmpty || System.nanoTime() < deadline) {
        val (p, w) = timedPass(untraced, walls.size + 1L, last)
        walls :+= w; digests :+= digest(p.kept); last = Some(p)
      }
      report.put("cached_mb", Main.cachedMb(spark), "MB")
      report.put("curate.passes", walls.size.toDouble, "count")
      report.put("curate_pass_p50_ms", median(walls) * 1e3, "ms")
      report.put("curate_docs_per_s", nInput / median(walls), "docs/s")
      (last.get, digests)
    } else {
      // a cold pass first, so the untraced baseline and the traced pass
      // both run warm
      val (p0, _) = timedPass(untraced, 1L, None)
      val (p1, w1) = timedPass(untraced, 2L, Some(p0))
      val listener = new Trace.Listener
      val rec = new Trace.Recorder(Some(sc))
      sc.addSparkListener(listener)
      val (p2, w2) = timedPass(rec, 3L, Some(p1))
      org.apache.spark.PerfbenchBus.drain(sc)
      report.put("trace.overhead_ratio", w2 / w1, "ratio")
      layerMetrics(spark, report, rec, listener, ndProbe(spark, input),
        p2.pairs.count(), w2)
      Trace.writeSpans(rec.spans, listener, s"${a.work}/trace-curate-${a.seed}.jsonl")
      (p2, Seq(p0, p1, p2).map(p => digest(p.kept)))
    }
    checks(report, a, man, docs, last, digests, nInput)
  }

  /** Quality metrics and output checks of the last pass. */
  def checks(report: Report, a: Args, man: Gen.Manifest, docs: Seq[Gen.Doc],
      p: Pass, digests: Seq[String], nInput: Long): Unit = {
    val exactKept = ids(p.exact)
    val nearKept = ids(p.nearKept)
    val gateOk = ids(p.gates.filter(col("gate_ok")))
    val langOf = p.lang.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val copies = man.exactCopies.keys ++ man.nearCopies.keys
    val removed = man.exactCopies.keys.count(c => !exactKept(c)) +
      man.nearCopies.count { case (c, o) => !(nearKept(c) && nearKept(o)) }
    report.put("curate_dup_recall", removed.toDouble / copies.size, "ratio")
    val unplanted = docs.map(_.docId).filterNot(man.planted)
    val falseDrop = unplanted.count(d => !exactKept(d) || !nearKept(d))
    report.put("curate_false_drop", falseDrop.toDouble / unplanted.size, "ratio")
    report.put("curate.kept_docs", p.kept.size.toDouble, "count")
    report.put("curate.verified_pairs", p.pairs.count().toDouble, "count")

    report.check(man.exactCopies.keys.forall(c => !exactKept(c)),
      "every planted exact copy is removed by exact dedup")
    report.check(man.nonEnglish.forall(d => langOf.get(d).exists(_ != "en")),
      "every planted non-English document is classified non-English")
    report.check(man.lowQuality.forall(d => !gateOk(d)) &&
      man.repetitive.forall(d => !gateOk(d)),
      "every planted low-quality or repetitive document fails its gate")
    report.check(p.edges == man.edges.distinct.size,
      s"extracted citation edges (${p.edges}) equal the planted ${man.edges.distinct.size}")
    report.check(digests.distinct.size == 1,
      s"kept-id digest identical across the ${digests.size} passes of this run")
    // across runs of one seed: compare with the digest an earlier run kept
    val state = java.nio.file.Paths.get(a.work).getParent.resolveSibling("digests")
    java.nio.file.Files.createDirectories(state)
    val f = state.resolve(s"curate-${a.seed}-${Gen.digest(docs).take(16)}.txt")
    if (java.nio.file.Files.exists(f)) {
      val before = new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim
      report.check(before == digests.head,
        "kept-id digest identical to the earlier run of this seed")
    } else java.nio.file.Files.write(f, digests.head.getBytes("UTF-8"))
  }

  /** LSH candidate count over the same signatures the chain uses: the
    * work the verification join does before the Jaccard filter. */
  def ndProbe(spark: SparkSession, input: DataFrame): Long = {
    val normed = input.select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("text"))
    val dd = Dedup.exact(normed, "text", "doc_id")
    val sig = dd.filter(size(split(lower(trim(col("text"))), "\\s+")) >= 3)
      .select(col("doc_id"), Dedup.md5MinHashSignatureUdf(16)(
        Dedup.shingles(col("text"), 3)).as("sig"))
    Dedup.lshCandidates(Dedup.lshBands(sig, "sig", 4, "doc_id",
      c => md5(concat_ws("|", c)), sigLen = 16)).count()
  }

  def layerMetrics(spark: SparkSession, report: Report, rec: Trace.Recorder,
      l: Trace.Listener, candidates: Long, verified: Long, wallS: Double): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val spans = rec.spans.filter(_.req == 3L)
    def stageWork(name: String) = spans.find(_.name == s"curate.$name")
      .map(s => (s, l.work(Trace.subtree(rec.spans, s.id)))).get
    Seq("exact", "langid", "quality", "minhash", "keep", "authority").foreach { n =>
      report.put(s"curate.${n}_s", stageWork(n)._1.dur / 1e9, "s")
    }
    val (_, mh) = stageWork("minhash")
    report.put("curate.minhash_tasks", mh.tasks, "count")
    report.put("curate.minhash_task_skew", mh.taskSkew, "ratio")
    report.put("curate.minhash_shuffle_bytes", mh.shuffleRead + mh.shuffleWrite, "B")
    report.put("curate.keep_jobs", stageWork("keep")._2.jobs, "count")
    report.put("curate.authority_jobs", stageWork("authority")._2.jobs, "count")
    val all = l.work(spans.map(_.id))
    report.put("curate.jobs_per_pass", all.jobs, "count")
    report.put("curate.stages_per_pass", all.stages, "count")
    report.put("curate.tasks_per_pass", all.tasks, "count")
    report.put("curate.spill_bytes", all.spill, "B")
    report.put("curate.in_job_ms", all.inJobMs.toDouble, "ms")
    report.put("curate.driver_ms", wallS * 1e3 - all.inJobMs, "ms")
    report.put("curate.exec_cpu_ms", all.cpuNs / 1e6, "ms")
    report.put("curate.shuffle_bytes_per_pass", all.shuffleRead + all.shuffleWrite, "B")
    report.put("curate.lsh_candidates", candidates.toDouble, "count")
    report.put("curate.candidate_precision",
      verified.toDouble / math.max(1L, candidates), "ratio")
    Serving.sparkTotals(report, all, wallS * 1e3)
  }
}
