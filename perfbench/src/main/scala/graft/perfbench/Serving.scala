package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.IndexWriter
import graft.ingest.ChunkPipeline
import graft.search.HybridSearch
import graft.serve.{HttpApi, Serve, ServeMain}
import graft.perfbench.Main.{Args, Report, median, ms, quantile}

/** The `search` workload: two closed-loop `/search` clients over an
  * engine cold-built from a generated opinion corpus. Its traced run
  * adds the cold build's Spark work, per-request attribution, branch
  * probes and one admission. */
object Serving {

  /** Requests each client sends in the timed phase: 0.2 per second of
    * the run (2 at 10 s). A count rather than a deadline, so every run
    * sends the same mode sequence and no request is cut off or admitted
    * at a time edge. */
  def requestsPerClient(seconds: Int): Int = math.max(2, math.round(seconds * 0.2f))

  /** Opinions in the base corpus (about 700 chunks). */
  val BaseDocs = 80
  /** Opinions in the one admission batch of the traced run. */
  val PerBatch = 6
  val K = 5

  // ---- requests -----------------------------------------------------

  /** One `/search` request: `text` is the query or phrase, `terms` the
    * ordered terms of a `near` request. */
  final case class Req(mode: String, text: String, terms: Seq[String])

  val Modes: Seq[String] = Seq("hybrid", "ivf", "hnsw", "int8", "maxsim",
    "phrase", "near")
  val AnnModes = Set("ivf", "hnsw", "int8")

  private val mapper = new ObjectMapper()

  def body(r: Req): String = {
    val o = mapper.createObjectNode()
    r.mode match {
      case "phrase" => o.put("phrase", r.text)
      case "near" =>
        val a = o.putArray("near"); r.terms.foreach(a.add)
        o.put("max_span", 6)
      case m =>
        o.put("query", r.text)
        m match {
          case "ivf" => o.put("ann", "ivf")
          case "hnsw" => o.put("ann", "hnsw")
          case "int8" => o.put("ann", "ivf"); o.put("rerank", "int8")
          case "maxsim" => o.put("rerank", "maxsim")
          case _ => ()
        }
    }
    o.put("limit", K)
    mapper.writeValueAsString(o)
  }

  /** Query, phrase and proximity pools drawn from the corpus, and a
    * Zipf draw over each, so popular entries repeat. */
  final class Pools(seed: Long, docs: Seq[Gen.Doc]) {
    val queries: Vector[String] = Gen.queryPool(seed, docs, 200)
    private val prng = new Gen.Rng(seed ^ 0x5eedL)
    val phrases: Vector[String] =
      Vector.fill(60)(Gen.phraseFrom(prng, docs.toVector))
    private val zq = new Gen.Zipf(queries.size, 1.0)
    private val zp = new Gen.Zipf(phrases.size, 1.0)
    def draw(rng: Gen.Rng, mode: String): Req = mode match {
      case "phrase" => Req(mode, phrases(zp.draw(rng)), Nil)
      case "near" =>
        val t = phrases(zp.draw(rng)).split(" ")
        Req(mode, s"${t.head} ${t.last}", Seq(t.head, t.last))
      case m => Req(m, queries(zq.draw(rng)), Nil)
    }
    /** The endless request stream of one client: modes follow [[Cycle]]
      * (client 1 starts 8 steps in), queries are Zipf draws, and an ANN
      * request re-asks the client's previous hybrid query (a user
      * retrying with a faster mode), which also makes its recall
      * measurable from the run's own replies. `pass` selects an
      * independent draw of queries. */
    def stream(client: Int, pass: Int = 0): Iterator[Req] = {
      val rng = new Gen.Rng(seed * 7919 + client + 1000L * pass)
      var lastHybrid: Option[String] = None
      Iterator.from(client * 8).map { i =>
        val m = Cycle(i % Cycle.size)
        val r = lastHybrid.filter(_ => AnnModes(m))
          .map(q => Req(m, q, Nil)).getOrElse(draw(rng, m))
        if (m == "hybrid") lastHybrid = Some(r.text)
        r
      }
    }
  }

  /** The mode mix as a fixed cycle: 50% hybrid, 10% each of ivf, hnsw,
    * int8 and maxsim, 5% each of phrase and near. With two requests per
    * client, a run's steps are hybrid ‖ hybrid, then int8 ‖ phrase:
    * phrase is the fastest, so the run's median is the mean of the
    * middle two of hybrid, hybrid and int8 (which run at about the same
    * speed), never an edge between a fast and a slow mode. */
  val Cycle: Vector[String] = Vector("hybrid", "int8", "hybrid", "hnsw",
    "hybrid", "ivf", "hybrid", "near", "hybrid", "phrase", "hybrid",
    "maxsim", "hybrid", "ivf", "hybrid", "hnsw", "hybrid", "int8",
    "hybrid", "maxsim")

  // ---- transport ----------------------------------------------------

  final case class Reply(status: Int, ids: Seq[String], scores: Seq[Double],
      latNs: Long)

  final class Client(val port: Int) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def send(r: Req): Reply = {
      val req = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/search"))
        .POST(HttpRequest.BodyPublishers.ofString(body(r))).build()
      val t0 = System.nanoTime()
      val resp = try Some(http.send(req, HttpResponse.BodyHandlers.ofString()))
        catch { case scala.util.control.NonFatal(_) => None }
      val lat = System.nanoTime() - t0
      resp match {
        case Some(x) if x.statusCode() == 200 =>
          val res = mapper.readTree(x.body()).get("results").elements().asScala.toSeq
          Reply(200, res.map(_.get("id").asText()), res.map(_.get("score").asDouble()), lat)
        case Some(x) => Reply(x.statusCode(), Nil, Nil, lat)
        case None => Reply(-1, Nil, Nil, lat)
      }
    }
  }

  /** The same request as a direct `Serve` call on the calling thread. */
  def direct(e: HttpApi.Engine, r: Req): Serve.QueryResponse = r.mode match {
    case "hybrid" => Serve.query(e.index, e.docStats, e.corpusSize,
      e.avgDocLen, r.text, k = K, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)
    case "ivf" => Serve.queryAnn(e.index, e.ivf.get, e.docStats,
      e.corpusSize, e.avgDocLen, r.text, k = K, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)
    case "hnsw" => Serve.queryHnsw(e.index, e.hnsw.get, e.docStats,
      e.corpusSize, e.avgDocLen, r.text, k = K, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)
    case "int8" => Serve.queryAnnQuantized(e.index, e.ivf.get, e.docStats,
      e.corpusSize, e.avgDocLen, r.text, k = K, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)
    case "maxsim" => Serve.queryReranked(e.index, e.docStats, e.corpusSize,
      e.avgDocLen, r.text, k = K, postings = e.postings,
      termBounds = e.termBounds, blockBounds = e.blockBounds)
    case "phrase" => Serve.queryPhrase(e.index, e.docStats, r.text, K,
      e.posPostings, e.posStore)
    case "near" => Serve.queryProximity(e.index, e.docStats, r.terms, 6, K,
      e.posPostings, e.posStore)
  }

  // ---- corpus and engine ---------------------------------------------

  def writeDocs(spark: SparkSession, docs: Seq[Gen.Doc], path: String,
      mode: String): Unit = {
    import spark.implicits._
    docs.map(d => (d.docId, d.text)).toDF("doc_id", "text")
      .coalesce(1).write.mode(mode).parquet(path)
  }

  /** Lock-step closed loop: `clients` threads each send `perClient`
    * requests, the next one when the previous reply arrived, and all
    * threads start each step together, so every run overlaps the same
    * requests with each other. */
  def closedLoop(clients: Int, perClient: Int, port: Int,
      streams: Int => Iterator[Req]): Seq[(Req, Reply)] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Req, Reply)]()
    val step = new java.util.concurrent.CyclicBarrier(clients)
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val cl = new Client(port)
        streams(c).take(perClient).foreach { r =>
          step.await()
          out.add((r, cl.send(r)))
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Latency metrics of an untraced closed loop. */
  def latencyMetrics(report: Report, samples: Seq[(Req, Reply)],
      elapsedS: Double): Unit = {
    samples.foreach { case (_, rep) => report.op(rep.status == 200) }
    val lat = samples.map(s => ms(s._2.latNs))
    report.put("search.requests", samples.size.toDouble, "count")
    report.put("search_p50_ms", median(lat), "ms")
    report.put("search_p90_ms", quantile(lat, 0.9), "ms")
    report.put("search_rps", samples.size / elapsedS, "req/s")
    Modes.foreach { m =>
      val l = samples.filter(_._1.mode == m).map(s => ms(s._2.latNs))
      if (l.nonEmpty) report.put(s"search.http.${m}_ms", median(l), "ms")
    }
    report.put("search.repeat_share", repeatShare(samples.map(_._1)), "ratio")
  }

  /** Share of requests whose query text was already sent before, in
    * any mode: the work a session-level top-k cache could reuse. */
  def repeatShare(reqs: Seq[Req]): Double = {
    val seen = scala.collection.mutable.Set[String]()
    reqs.count(r => !seen.add(r.text)).toDouble / reqs.size
  }

  /** Mean overlap of each ANN-mode reply with the hybrid reply to the
    * same query in the same run (the hybrid reply is the exact top-k,
    * which [[checkExact]] verifies); NaN when no such pair was sent. */
  def annRecall(samples: Seq[(Req, Reply)]): Double = {
    val exact = samples.collect { case (r, rep) if r.mode == "hybrid" &&
      rep.status == 200 => r.text -> rep.ids.toSet }.toMap
    val overlaps = samples.collect { case (r, rep) if AnnModes(r.mode) &&
        rep.status == 200 && exact.get(r.text).exists(_.nonEmpty) =>
      rep.ids.count(exact(r.text)).toDouble / exact(r.text).size
    }
    if (overlaps.isEmpty) Double.NaN else overlaps.sum / overlaps.size
  }

  /** The exact hybrid top-k as `HybridSearch.search` plans it. */
  def exactTopK(e: HttpApi.Engine, q: String): Seq[(String, Double)] =
    HybridSearch.search(e.index, e.docStats, e.corpusSize, e.avgDocLen, q,
        HybridSearch.Config(k = K, postings = e.postings,
          termBounds = e.termBounds, blockBounds = e.blockBounds))
      .select("id", "rrf_score").collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1)))

  /** The first exact-mode HTTP reply of the run equals the direct
    * `HybridSearch.search` plan for its query: same ids in the same
    * order, same scores. */
  def checkExact(report: Report, e: HttpApi.Engine,
      samples: Seq[(Req, Reply)]): Unit =
    samples.find(s => s._1.mode == "hybrid" && s._2.status == 200).foreach {
      case (r, http) =>
        val rows = exactTopK(e, r.text)
        report.check(rows.nonEmpty && http.ids == rows.map(_._1) &&
          http.scores == rows.map(_._2),
          s"http hybrid results equal HybridSearch.search for '${r.text}'")
    }

  def timedS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // ---- workload: search ---------------------------------------------

  def search(spark: SparkSession, a: Args, report: Report, sessionS: Double): Unit = {
    val docs = Gen.opinions(a.seed, BaseDocs)
    val src = s"${a.work}/search_src"
    val storeRoot = s"${a.work}/search_store"
    writeDocs(spark, docs, s"$src/documents.parquet", "overwrite")
    val pools = new Pools(a.seed, docs)
    val sc = spark.sparkContext
    val listener = new Trace.Listener
    val rec = new Trace.Recorder(Some(sc))
    if (a.trace) sc.addSparkListener(listener)

    val (engine, buildS) = rec.span("setup.build")(timedS(
      ServeMain.buildEngine(spark, src, warm = false, storeRoot = storeRoot)))
    report.put("setup_s", sessionS + buildS, "s")
    report.put("setup.build_s", buildS, "s")
    report.put("index.chunks", engine.corpusSize.toDouble, "count")
    val server = HttpApi.start(engine, 0)
    try {
      val cl = new Client(server.port)
      if (!a.trace) {
        // warm-up: the same two steps with other queries, so class
        // loading, codegen and most JIT of every timed plan are paid
        // before timing (a cold request runs ~2.5x slower, and one
        // warm-up step left the timed median spread over ~23%)
        closedLoop(2, 2, server.port, pools.stream(_, pass = 1))
        val t0 = System.nanoTime()
        val samples = closedLoop(2, requestsPerClient(a.seconds),
          server.port, pools.stream(_))
        val elapsed = (System.nanoTime() - t0) / 1e9
        report.put("cached_mb", Main.cachedMb(spark), "MB")
        latencyMetrics(report, samples, elapsed)
        report.put("ann_recall", annRecall(samples), "ratio")
        checkExact(report, engine, samples)
      } else {
        cl.send(Req("hybrid", pools.queries(0), Nil))
        org.apache.spark.PerfbenchBus.drain(sc)
        val build = listener.work(Trace.subtree(rec.spans,
          rec.spans.find(_.name == "setup.build").get.id))
        report.put("setup.jobs", build.jobs, "count")
        report.put("setup.stages", build.stages, "count")
        report.put("setup.tasks", build.tasks, "count")
        report.put("setup.in_job_s", build.inJobMs / 1e3, "s")
        tracedRequests(spark, engine, cl, pools, report, listener, rec)
        admissionProbe(spark, a, src, storeRoot, report, listener, rec)
        org.apache.spark.PerfbenchBus.drain(sc)
        val spans = rec.spans
        sparkTotals(report, listener.total,
          ms(spans.map(_.end).max - spans.map(_.start).min))
        Trace.writeSpans(spans, listener, s"${a.work}/trace-search-${a.seed}.jsonl")
      }
    } finally server.stop()
  }

  /** The traced request pass over one request of every mode plus a
    * second hybrid, split over two lock-step client threads: each request
    * goes over HTTP in a span, then as a direct `Serve` call in a span on
    * the same thread, so its Spark work is attributed exactly. The first
    * hybrid request is also sent untraced then traced beforehand (the
    * overhead baseline) and gets plan, embed and branch probes. */
  def tracedRequests(spark: SparkSession, e: HttpApi.Engine, cl: Client,
      pools: Pools, report: Report, listener: Trace.Listener,
      rec: Trace.Recorder): Unit = {
    val rng = new Gen.Rng(pools.queries.size.toLong * 31)
    val list = (Modes :+ "hybrid").map(m => pools.draw(rng, m)).toVector
    val sc = spark.sparkContext
    // overhead baseline, before the pass: the first hybrid request
    // untraced (listener detached, no span), then traced
    val base = list.find(_.mode == "hybrid").get
    sc.removeSparkListener(listener)
    val untraced = try cl.send(base).latNs finally sc.addSparkListener(listener)
    val traced = rec.span("serve.http.baseline")(cl.send(base)).latNs
    report.put("trace.overhead_ratio", traced.toDouble / untraced, "ratio")
    // the pass: two lock-step client threads split the list, as in the
    // untimed workload; each request goes over HTTP, then direct
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Req, Long, Long)]()
    val step = new java.util.concurrent.CyclicBarrier(2)
    val threads = (0 until 2).map { c =>
      val t = new Thread(() => {
        val own = new Client(cl.port)
        list.indices.filter(_ % 2 == c).foreach { i =>
          val r = list(i)
          val req = i + 1L
          step.await()
          val http = rec.span("serve.http", req)(own.send(r))
          val (resp, directS) = rec.span(s"search.direct.${r.mode}", req)(
            timedS(direct(e, r)))
          report.op(http.status == 200)
          report.check(http.ids == resp.results.map(_.id),
            s"traced ${r.mode} request: http and direct results agree")
          out.add((r, http.latNs, (directS * 1e9).toLong))
        }
      }, s"perfbench-traced-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val pairs = out.asScala.toSeq
    val prefetch = K * HybridSearch.Config().prefetchMultiplier
    val probes = Seq(base).map { r =>
      val cfg = HybridSearch.Config(k = K, postings = e.postings,
        termBounds = e.termBounds, blockBounds = e.blockBounds)
      val (_, planS) = rec.span("search.plan")(timedS(HybridSearch.search(
        e.index, e.docStats, e.corpusSize, e.avgDocLen, r.text, cfg)))
      val (qv, embedS) = rec.span("embed.query")(timedS(
        graft.embed.HashingEmbedder.default.embedQuery(r.text)))
      val (_, denseS) = rec.span("search.dense")(timedS(
        HybridSearch.denseTopK(e.index, qv, prefetch).collect()))
      val (_, sparseS) = rec.span("search.sparse")(timedS(
        HybridSearch.bm25TopKBlockMax(e.postings.get, e.docStats,
          e.blockBounds.get, e.corpusSize, e.avgDocLen,
          graft.text.Bm25.tokenize(r.text), prefetch).collect()))
      (planS, embedS, denseS, sparseS)
    }
    org.apache.spark.PerfbenchBus.drain(sc)
    val spans = rec.spans
    val directSpans = spans.filter(_.name.startsWith("search.direct."))
    val w = directSpans.map(s => listener.work(Trace.subtree(spans, s.id)))
    val n = directSpans.size.toDouble
    report.put("search.jobs_per_req", w.map(_.jobs).sum / n, "count")
    report.put("search.stages_per_req", w.map(_.stages).sum / n, "count")
    report.put("search.tasks_per_req", w.map(_.tasks).sum / n, "count")
    report.put("search.in_job_ms", median(w.map(_.inJobMs.toDouble)), "ms")
    report.put("search.driver_ms", median(directSpans.zip(w).map { case (s, x) =>
      ms(s.dur) - x.inJobMs }), "ms")
    report.put("search.exec_cpu_ms", w.map(_.cpuNs).sum / 1e6 / n, "ms")
    report.put("search.shuffle_bytes_per_req",
      w.map(x => x.shuffleRead + x.shuffleWrite).sum / n, "B")
    report.put("serve.direct_p50_ms", median(pairs.map(p => ms(p._3))), "ms")
    report.put("serve.transport_ms", median(pairs.map(p => ms(p._2 - p._3))), "ms")
    Modes.foreach { m =>
      val l = directSpans.filter(_.name == s"search.direct.$m").map(s => ms(s.dur))
      report.put(s"search.mode.${m}_ms", median(l), "ms")
    }
    report.put("search.plan_ms", median(probes.map(_._1 * 1e3)), "ms")
    report.put("embed.query_us", median(probes.map(_._2 * 1e6)), "us")
    report.put("search.dense_ms", median(probes.map(_._3 * 1e3)), "ms")
    report.put("search.sparse_ms", median(probes.map(_._4 * 1e3)), "ms")
    report.put("search.repeat_share", repeatShare(list), "ratio")
  }

  /** One admission, traced: a batch of new opinions lands in the source
    * table and `ServeMain.admitDelta` admits it. Checks that the batch's
    * probe phrase is then served, and that the store's df stats and
    * `(n, avgdl, sum_len)` equal what a cold build computes over the
    * final corpus (the same `chunkPoints` → `docFrequencies` and token
    * sums `buildEngine` runs). */
  def admissionProbe(spark: SparkSession, a: Args, src: String,
      storeRoot: String, report: Report, listener: Trace.Listener,
      rec: Trace.Recorder): Unit = {
    val batch = Gen.batches(a.seed, 1, PerBatch, BaseDocs.toLong).head
    val tag = src.replaceAll("[^A-Za-z0-9]", "_")
    val store = java.nio.file.Paths.get(s"$storeRoot/graft_serve_store_$tag")
    val index = java.nio.file.Paths.get(s"$storeRoot/graft_serve_index_$tag")
    val bytes0 = Main.treeBytes(store) + Main.treeBytes(index)
    writeDocs(spark, batch.docs, s"$src/documents.parquet", "append")
    val (e, admitS) = rec.span("index.admit")(timedS(
      ServeMain.admitDelta(spark, src, storeRoot = storeRoot)))
    report.op(ok = true)
    val (_, reopenS) = rec.span("index.reopen")(timedS(
      ServeMain.buildEngine(spark, src, warm = true, storeRoot = storeRoot)))
    val bytes1 = Main.treeBytes(store) + Main.treeBytes(index)
    val found = Serve.queryPhrase(e.index, e.docStats, batch.probePhrase, K,
      e.posPostings, e.posStore).results.map(_.id)
    report.check(found.contains(graft.text.Uuid5(s"${batch.probeId}_0")),
      "the admitted batch's probe document is found by phrase search")

    val pts = ChunkPipeline.chunkPoints(spark,
        spark.read.parquet(s"$src/documents.parquet"))
      .select("id", "doc_id", "chunk_text", "dense_vec", "tokens")
    val cold = IndexWriter.docFrequencies(pts)
    val stored = spark.read.parquet(s"$store/stats").select(cold.columns.map(col): _*)
    report.check(stored.exceptAll(cold).isEmpty && cold.exceptAll(stored).isEmpty,
      "admitted df stats equal a cold build's over the final corpus")
    val agg = pts.agg(count(lit(1)), sum(size(col("tokens")))).first()
    val params = spark.read.parquet(s"$store/params").first()
    val (n, sumLen) = (agg.getLong(0), agg.getLong(1))
    report.check(params.getAs[Long]("n") == n &&
      params.getAs[Long]("sum_len") == sumLen &&
      params.getAs[Double]("avgdl") == sumLen.toDouble / n,
      "admitted (n, avgdl, sum_len) equal a cold build's")

    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val adm = rec.spans.find(_.name == "index.admit").get
    val w = listener.work(Trace.subtree(rec.spans, adm.id))
    report.put("index.admit_s", admitS, "s")
    report.put("index.admit_jobs", w.jobs, "count")
    report.put("index.admit_stages", w.stages, "count")
    report.put("index.admit_tasks", w.tasks, "count")
    report.put("index.admit_shuffle_bytes", w.shuffleRead + w.shuffleWrite, "B")
    report.put("index.reopen_s", reopenS, "s")
    report.put("ingest.chunks_per_doc",
      pts.filter(col("doc_id") >= BaseDocs).count().toDouble / batch.docs.size,
      "count")
    report.put("index.write_bytes_per_doc", (bytes1 - bytes0).toDouble / batch.docs.size, "B")
    report.put("index.store_files", Main.treeFiles(store) + Main.treeFiles(index), "count")
  }

  /** Runtime totals over everything the listener saw. */
  def sparkTotals(report: Report, tot: Trace.Work, wallMs: Double): Unit = {
    val inJob = tot.inJobMs
    report.put("spark.jobs", tot.jobs, "count")
    report.put("spark.stages", tot.stages, "count")
    report.put("spark.tasks", tot.tasks, "count")
    report.put("spark.in_job_s", inJob / 1e3, "s")
    report.put("spark.driver_gap_s", (wallMs - inJob) / 1e3, "s")
    report.put("spark.executor_run_s", tot.runMs / 1e3, "s")
    report.put("spark.executor_cpu_s", tot.cpuNs / 1e9, "s")
    report.put("spark.gc_s", tot.gcMs / 1e3, "s")
    report.put("spark.shuffle_read_bytes", tot.shuffleRead, "B")
    report.put("spark.shuffle_write_bytes", tot.shuffleWrite, "B")
    report.put("spark.spill_bytes", tot.spill, "B")
    report.put("spark.task_skew", tot.taskSkew, "ratio")
  }
}
