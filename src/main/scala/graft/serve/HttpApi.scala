package graft.serve

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.search.HybridSearch
import graft.sources.PdfText

/** §2.14 — the LIVE serving surface: the reference's Flask routes
  * (`/root/reference/chatbot/app.py:378-719`) stood up on the JDK's
  * built-in `com.sun.net.httpserver.HttpServer` — zero dependencies
  * beyond the Spark classpath (jackson ships with Spark). The route
  * logic itself lives in [[Serve]]; this layer is transport only:
  * JSON envelopes, status codes, and chunked `text/event-stream` for
  * the summarize stream.
  *
  * Routes (method-checked, 405 on mismatch, 404 otherwise):
  *  - `GET  /health`                 → app.py:384-405
  *  - `POST /query`                  → app.py:408-464
  *  - `POST /search`                 → app.py:467-522 (same engine call
  *                                     — the reference's quirk Q6)
  *  - `GET  /collection/info`        → app.py:525-543
  *  - `POST /case/fetch`             → app.py:546-613 (PDF via the
  *                                     injected byte fetcher + PdfText)
  *  - `POST /case/summarize-stream`  → app.py:616-719 (SSE)
  */
object HttpApi {

  /** Everything a request needs, prepared once at startup: the index
    * frame and BM25 stats (per-request work is then only the top-k
    * scan — the q54 "prebuilt" latency regime), plus the two
    * out-of-engine boundaries (summarizer, byte fetcher) as injectable
    * slots with honest defaults. */
  final case class Engine(
      spark: SparkSession,
      index: DataFrame,
      docStats: DataFrame,
      corpusSize: Long,
      avgDocLen: Double,
      indexPath: String,
      summarizer: Serve.Summarizer = new Serve.UnavailableSummarizer,
      fetchBytes: String => Array[Byte] = HttpApi.liveFetchBytes,
      defaultK: Int = 3,
      // optional prebuilt ANN indexes over the chunk index's dense_vec:
      // when present, requests may opt into an ANN-served dense branch
      // with "ann": true | "ivf" ("n_probe" tunes the recall/cost
      // dial) or "ann": "hnsw" ("ef"/"hops" are the graph-walk dials)
      ivf: Option[graft.ops.Similarity.IvfIndex] = None,
      hnsw: Option[graft.search.HybridSearch.HnswServing] = None,
      // optional prebuilt inverted index (IndexWriter.postings): when
      // present every sparse branch is a term-keyed postings lookup
      // instead of a corpus token scan (identical scores)
      postings: Option[org.apache.spark.sql.DataFrame] = None,
      // optional MaxScore bound stats (IndexWriter.termBounds): with
      // postings present, candidate generation prunes to essential
      // terms (identical scores — the Turtle & Flood serving posture)
      termBounds: Option[org.apache.spark.sql.DataFrame] = None,
      // optional block-max bound stats (IndexWriter.blockBounds):
      // with postings present, candidate generation skips whole
      // hash blocks (identical scores)
      blockBounds: Option[org.apache.spark.sql.DataFrame] = None,
      // optional positional inverted index
      // (IndexWriter.positionalPostings): when present, /search serves
      // a "phrase": "..." request mode — consecutive-token matching by
      // position intersection, never a text rescan
      posPostings: Option[org.apache.spark.sql.DataFrame] = None,
      // alternative to posPostings: the root of a streamed postings
      // store (IndexWriter.streamPostings with positional = true) —
      // each phrase request then reads ONLY its terms' buckets
      // (IndexWriter.readPositionsForTerms, the q375 pruned-read
      // discipline)
      posStore: Option[String] = None)

  /** Default `/case/fetch` byte fetcher: a real GET (the reference
    * downloads arbitrary slip-opinion URLs, `app.py:580-583`). With no
    * egress this raises, which the route surfaces as the reference's
    * `Failed to fetch PDF` 500 — inject a stub to test offline. */
  def liveFetchBytes: String => Array[Byte] = { url =>
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL).build()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(60)).GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }

  final class Server private[HttpApi] (http: HttpServer) {
    /** The actually-bound port (useful with port=0 ephemeral binds). */
    def port: Int = http.getAddress.getPort
    def stop(): Unit = http.stop(0)
  }

  private val mapper = new ObjectMapper()

  /** Bind and start. `port = 0` picks an ephemeral free port. */
  def start(engine: Engine, port: Int = 0): Server = {
    val http = HttpServer.create(new InetSocketAddress(port), 0)
    http.createContext("/health", handler("GET") { (_, _) =>
      val h = Serve.healthCached(engine.corpusSize, {
        // one existence RPC against whatever filesystem backs the
        // index path — O(1), unlike the footer read this replaced
        val p = new org.apache.hadoop.fs.Path(engine.indexPath)
        p.getFileSystem(engine.spark.sparkContext.hadoopConfiguration)
          .exists(p)
      }, engine.summarizer)
      (200, obj(
        "status" -> h.status,
        "collection_exists" -> h.collectionExists,
        "points_count" -> h.pointsCount,
        "summarizer_available" -> h.summarizerAvailable))
    })
    http.createContext("/query", handler("POST") { (body, _) =>
      serve(engine, parseSearch(engine, body, queryField = "question"))
    })
    http.createContext("/search", handler("POST") { (body, _) =>
      serve(engine, parseSearch(engine, body, queryField = "query"))
    })
    http.createContext("/search/batch", handler("POST") { (body, _) =>
      serve(engine, parseBatch(engine, body))
    })
    http.createContext("/collection/info", handler("GET") { (_, _) =>
      val info = Serve.collectionInfo(engine.index)
      (200, obj(
        "points_count" -> info.pointsCount,
        "vectors_count" -> info.vectorsCount,
        "status" -> info.status))
    })
    http.createContext("/case/fetch", handler("POST") { (body, _) =>
      field(body, "download_url") match {
        case None => (400, err("Missing 'download_url' field in request body"))
        case Some(url) =>
          try {
            val fullText = PdfText.pages(engine.fetchBytes(url)).mkString("\n") + "\n"
            (200, obj(
              "case_name" -> field(body, "case_name").getOrElse("Unknown Case"),
              "full_text" -> fullText,
              "chunk_text" -> field(body, "chunk_text").getOrElse(""),
              "success" -> true,
              "text_length" -> fullText.length))
          } catch {
            case NonFatal(e) => (500, obj(
              "error" -> s"Failed to fetch PDF: ${Option(e.getMessage).getOrElse(e.toString)}",
              "success" -> false))
          }
      }
    })
    http.createContext("/case/summarize-stream", sseHandler(engine))
    http.createContext("/", handler("GET") { (_, _) => (404, err("not found")) })
    // daemon threads: the server must never pin the JVM open
    http.setExecutor(Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })
    http.start()
    new Server(http)
  }

  // ---- /query + /search + /search/batch --------------------------------
  // /query and /search are the same engine call (reference quirk Q6);
  // /search/batch has no reference analog — the q154 batched plan
  // exposed at the transport layer: N queries, ONE Spark job set.

  /** A request body parsed once and resolved against the engine's
    * loaded artifacts: the one [[Serve]] call it makes ([[run]]) and
    * the `search_type` it reports ([[searchType]]). `batch` routes come
    * from /search/batch and answer one entry per text. */
  private sealed trait Route { def batch: Boolean }
  private final case class Hybrid(texts: Seq[String], k: Int,
      threshold: Double, dense: HybridSearch.Dense, rerank: Serve.Rerank,
      batch: Boolean) extends Route
  /** "phrase" on /search, "phrases" on /search/batch: positional-index
    * phrase matching — a lexical contract ("these tokens,
    * consecutively"), not a ranked hybrid query, so it short-circuits
    * the hybrid option surface. */
  private final case class Phrase(texts: Seq[String], k: Int, batch: Boolean)
      extends Route
  /** "near" on /search: terms in order within `maxSpan` tokens over the
    * positional index. */
  private final case class Near(terms: Seq[String], maxSpan: Int, k: Int)
      extends Route { def batch = false }

  private def run(engine: Engine, route: Route): Seq[Serve.QueryResponse] = {
    import engine._
    route match {
      case Hybrid(qs, k, threshold, _, rerank, true) => Serve.queryBatch(index,
        docStats, corpusSize, avgDocLen, qs, k, threshold, postings,
        termBounds, blockBounds, rerank)
      case Hybrid(qs, k, threshold, dense, rerank, false) => Seq(Serve.query(
        index, docStats, corpusSize, avgDocLen, qs.head, k, threshold,
        postings, termBounds, blockBounds, dense, rerank))
      case Phrase(ps, k, true) => Serve.queryPhraseBatch(index, ps, k,
        posPostings, posStore)
      case Phrase(ps, k, false) => Seq(Serve.queryPhrase(index, docStats,
        ps.head, k, posPostings, posStore))
      case Near(terms, span, k) => Seq(Serve.queryProximity(index, docStats,
        terms, span, k, posPostings, posStore))
    }
  }

  /** The `search_type` a route reports; a hybrid route's is its dense
    * route, else its rerank pass. */
  private def searchType(route: Route): String = route match {
    case _: Phrase => "phrase"
    case _: Near => "proximity"
    case h: Hybrid => (h.dense, h.rerank) match {
      case (_: HybridSearch.Dense.Int8, _) => "hybrid_rrf_ivf_int8"
      case (_: HybridSearch.Dense.Ivf, _) => "hybrid_rrf_ivf"
      case (_: HybridSearch.Dense.Hnsw, _) => "hybrid_rrf_hnsw"
      case (_, _: Serve.Rerank.MaxSim) => "hybrid_rrf_maxsim"
      case (_, _: Serve.Rerank.Mmr) => "hybrid_rrf_mmr"
      case _ => "hybrid_rrf"
    }
  }

  /** The per-hit JSON objects of a [[Serve.QueryResponse]]. */
  private def resultsJson(resp: Serve.QueryResponse): Seq[String] =
    resp.results.map(r => obj(
      "id" -> r.id, "score" -> r.score, "case_name" -> r.caseName,
      "court" -> r.court, "date_filed" -> r.dateFiled,
      "judges" -> r.judges, "snippet" -> r.snippet))

  /** Run a parsed request and render its envelope: the response itself
    * on /search and /query, one entry per text on /search/batch (whose
    * responses share one plan and so one processing time). */
  private def serve(engine: Engine, parsed: Either[String, Route]): (Int, String) =
    parsed match {
      case Left(msg) => (400, err(msg))
      case Right(route) =>
        val resps = run(engine, route)
        val sec = resps.headOption.map(_.processingTimeSec).getOrElse(0.0)
        val typed = s""""search_type":"${searchType(route)}","processing_time":$sec,"""
        def entry(resp: Serve.QueryResponse, middle: String) =
          s"""{"query":${str(resp.question)},"results":[${resultsJson(resp).mkString(",")}],""" +
            s"""$middle"documents_found":${resp.results.size}}"""
        (200, if (!route.batch) entry(resps.head, typed)
          else s"""{"responses":[${resps.map(entry(_, "")).mkString(",")}],""" +
            s"""$typed"queries_count":${resps.size}}""")
    }

  /** Parse a /search or /query body; checks fire in a fixed order and
    * the first failure is the 400 message. */
  private def parseSearch(engine: Engine, body: Option[JsonNode],
      queryField: String): Either[String, Route] = {
    val onSearch = queryField == "query"
    (if (onSearch) field(body, "phrase") else None,
        if (onSearch) stringArrayField(body, "near") else None) match {
      case (Some(p), _) => for {
        k <- limit(body, "limit", engine)
        _ <- positional(engine, "phrase")
      } yield Phrase(Seq(p), k, batch = false)
      case (_, Some(terms)) =>
        // default span: just-fits
        val span = intField(body, "max_span").getOrElse(math.max(terms.length - 1, 0))
        for {
          k <- limit(body, "limit", engine)
          _ <- positional(engine, "near")
          _ <- check(terms.nonEmpty, "'near' must be a non-empty array of terms")
          _ <- check(span >= terms.length - 1,
            s"max_span $span cannot fit ${terms.length} ordered terms")
        } yield Near(terms, span, k)
      case _ => for {
        q <- field(body, queryField)
          .toRight(s"Missing '$queryField' field in request body")
        k <- limit(body, if (onSearch) "limit" else "max_results", engine)
        threshold <- scoreThreshold(body)
        route <- parseHybrid(engine, body, q, k, threshold)
      } yield route
    }
  }

  /** The hybrid option surface of /search and /query:
    *  - "diversify": true runs q164's MMR pass over the hybrid
    *    candidates ("mmr_lambda" tunes the relevance/diversity mix);
    *  - "ann": true | "ivf" serves the dense branch from the engine's
    *    prebuilt IVF index (q203's path; "n_probe" is the dial);
    *    "ann": "hnsw" walks the prebuilt HNSW graph (q215's path;
    *    "ef"/"hops" are the dials);
    *  - "rerank": "maxsim" reranks the hybrid prefetch by ColBERT-style
    *    late interaction (q364's path); "rerank": "int8" serves the IVF
    *    dense branch from quantized codes (q370's path — requires
    *    "ann": "ivf"; "rerank_n" is the q374 dial). */
  private def parseHybrid(engine: Engine, body: Option[JsonNode], q: String,
      k: Int, threshold: Double): Either[String, Route] = {
    val diversify = boolField(body, "diversify").getOrElse(false)
    val lambda = doubleField(body, "mmr_lambda").getOrElse(0.7)
    val rerankN = intField(body, "rerank_n").getOrElse(50)
    val annMode: Either[String, Option[String]] = body.flatMap(b => Option(b.get("ann"))).filter(!_.isNull) match {
      case None => Right(None)
      case Some(n) if n.isBoolean => Right(if (n.asBoolean()) Some("ivf") else None)
      case Some(n) if n.isTextual && (n.asText() == "ivf" ||
          n.asText() == "hnsw") => Right(Some(n.asText()))
      case Some(n) if n.isTextual =>
        Left(s"unknown ann mode '${n.asText()}' (use true, \"ivf\" or \"hnsw\")")
      case Some(_) => Left("'ann' must be a boolean or \"ivf\"/\"hnsw\"")
    }
    val rerankMode: Either[String, Option[String]] = body.flatMap(b => Option(b.get("rerank"))).filter(!_.isNull) match {
      case None => Right(None)
      case Some(n) if n.isTextual && (n.asText() == "maxsim" ||
          n.asText() == "int8") => Right(Some(n.asText()))
      case Some(n) if n.isTextual =>
        Left(s"unknown rerank mode '${n.asText()}' (use \"maxsim\" or \"int8\")")
      case Some(_) => Left("'rerank' must be \"maxsim\" or \"int8\"")
    }
    for {
      _ <- check(lambda >= 0.0 && lambda <= 1.0,
        s"mmr_lambda $lambda out of range [0, 1]")
      ann <- annMode
      rerank <- rerankMode
      maxsim = rerank.contains("maxsim")
      int8 = rerank.contains("int8")
      _ <- check(ann.isEmpty || !diversify,
        "ann and diversify cannot combine on one request")
      _ <- check(!maxsim || (ann.isEmpty && !diversify),
        "\"rerank\": \"maxsim\" reranks the plain hybrid prefetch; it " +
          "cannot combine with ann or diversify")
      _ <- check(!int8 || ann.contains("ivf"), "\"rerank\": \"int8\" is " +
        "the quantized IVF serve; it requires \"ann\": \"ivf\"")
      _ <- check(!int8 || rerankN >= 1, s"rerank_n $rerankN must be >= 1")
      dense <- ann match {
        case None => Right[String, HybridSearch.Dense](HybridSearch.Dense.Exact)
        case Some("ivf") =>
          val nProbe = intField(body, "n_probe").getOrElse(4)
          for {
            ivf <- engine.ivf.toRight("this engine was built without an " +
              "IVF index; start it with an IvfIndex to serve \"ann\": \"ivf\"")
            _ <- check(nProbe >= 1, s"n_probe $nProbe must be >= 1")
          } yield
            if (int8) HybridSearch.Dense.Int8(ivf, nProbe, rerankN)
            else HybridSearch.Dense.Ivf(ivf, nProbe)
        case Some(_) =>
          val ef = intField(body, "ef").getOrElse(16)
          val hops = intField(body, "hops").getOrElse(3)
          for {
            hs <- engine.hnsw.toRight("this engine was built without an " +
              "HNSW index; start it with an HnswServing to serve \"ann\": \"hnsw\"")
            _ <- check(ef >= 1 && hops >= 1, s"ef $ef and hops $hops must be >= 1")
          } yield HybridSearch.Dense.Hnsw(hs, ef, hops)
      }
    } yield Hybrid(Seq(q), k, threshold, dense,
      if (maxsim) Serve.Rerank.MaxSim()
      else if (diversify) Serve.Rerank.Mmr(lambda)
      else Serve.Rerank.NoRerank, batch = false)
  }

  /** Requests above this fan-out get a loud 400 instead of an unbounded
    * broadcast query table; callers chunk. 256 queries × 5k prefetch
    * rows is still a small frame, so the cap is generous. */
  private val maxBatch = 256

  /** Parse a /search/batch body: "phrases" runs N phrase lookups through
    * ONE positional-index plan (the q375 batched shape), "queries" N
    * hybrid queries through one plan — with "rerank": "maxsim", the
    * whole batch's prefetch AND its MaxSim rescoring each run as ONE
    * plan (searchAll + maxsimRerankAll). */
  private def parseBatch(engine: Engine, body: Option[JsonNode]): Either[String, Route] = {
    def sized(name: String, xs: Seq[String]) = for {
      _ <- check(xs.nonEmpty, s"'$name' must be non-empty")
      _ <- check(xs.size <= maxBatch,
        s"'$name' exceeds the batch cap of $maxBatch; chunk the request")
    } yield xs
    stringArrayField(body, "phrases") match {
      case Some(ps) => for {
        k <- limit(body, "limit", engine)
        _ <- sized("phrases", ps)
        _ <- positional(engine, "phrases")
      } yield Phrase(ps, k, batch = true)
      case None =>
        val rerank = body.flatMap(b => Option(b.get("rerank")))
          .filter(!_.isNull).map(_.asText())
        for {
          qs <- stringArrayField(body, "queries")
            .toRight("Missing 'queries' array in request body")
          _ <- sized("queries", qs)
          k <- limit(body, "limit", engine)
          threshold <- scoreThreshold(body)
          _ <- check(rerank.forall(_ == "maxsim"), s"unknown batch rerank " +
            s"mode '${rerank.get}' (the batch endpoint serves \"maxsim\")")
        } yield Hybrid(qs, k, threshold, HybridSearch.Dense.Exact,
          if (rerank.nonEmpty) Serve.Rerank.MaxSim() else Serve.Rerank.NoRerank,
          batch = true)
    }
  }

  private def check(ok: Boolean, msg: => String): Either[String, Unit] =
    if (ok) Right(()) else Left(msg)

  /** The result count: `name` when given, else the engine default. A
    * count below 1 is a 400 here rather than a Spark error later. */
  private def limit(body: Option[JsonNode], name: String,
      engine: Engine): Either[String, Int] = {
    val k = intField(body, name).getOrElse(engine.defaultK)
    check(k >= 1, s"$name $k must be >= 1").map(_ => k)
  }

  /** "score_threshold" applies to the RRF-fused score. A deliberate
    * deviation from the reference (which forwards the store-native
    * default 0.4): against RRF scores that value silently empties every
    * result set, so a value above the RRF ceiling is rejected loudly. */
  private def scoreThreshold(body: Option[JsonNode]): Either[String, Double] = {
    val threshold = doubleField(body, "score_threshold").getOrElse(0.0)
    val ceiling = HybridSearch.Config().maxRrfScore
    check(threshold <= ceiling, s"score_threshold $threshold exceeds the " +
      f"maximum RRF score $ceiling%.6f; RRF thresholds are in (0, 2/(rrfK+1)]")
      .map(_ => threshold)
  }

  private def positional(engine: Engine, mode: String): Either[String, Unit] =
    check(engine.posPostings.nonEmpty || engine.posStore.nonEmpty,
      "this engine was built without a positional index; start it with " +
        s"""posPostings or posStore to serve "$mode"""")

  // ---- SSE (app.py:616-719) -------------------------------------------

  private def sseHandler(engine: Engine): HttpHandler = new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        if (ex.getRequestMethod != "POST") { respond(ex, 405, err("method not allowed")) }
        else {
          val body = parseBody(ex)
          field(body, "full_text") match {
            case None =>
              respond(ex, 400, err("Missing 'full_text' field in request body"))
            case Some(_) if engine.summarizer.isInstanceOf[Serve.UnavailableSummarizer] =>
              // reference returns 503 when no LLM is configured (app.py:716)
              respond(ex, 503, err("Summarizer not available. Configure an LLM client."))
            case Some(fullText) =>
              val caseName = field(body, "case_name").getOrElse("Unknown Case")
              val question = field(body, "user_question").getOrElse("")
              val chunk = field(body, "chunk_text").getOrElse("").take(500)
              // reference truncates to ~3000 tokens (app.py:625-627)
              val truncated =
                if (fullText.length > 12000)
                  fullText.take(12000) + "\n\n[Document truncated due to length...]"
                else fullText
              val context =
                s"Case Name: $caseName\n\nUser's Question: $question\n\n" +
                  s"Relevant Passage from Search:\n$chunk\n\nFull Case Text:\n$truncated"
              val headers = ex.getResponseHeaders
              headers.set("Content-Type", Serve.Sse.contentType)
              Serve.Sse.headers.foreach { case (k, v) => headers.set(k, v) }
              ex.sendResponseHeaders(200, 0) // chunked
              val out: OutputStream = ex.getResponseBody
              Serve.Sse.stream(engine.summarizer.summarizeStream(context, 500))
                .foreach { frame => out.write(frame.getBytes(UTF_8)); out.flush() }
              out.close()
          }
        }
      } catch {
        case NonFatal(e) =>
          try respond(ex, 500, err(Option(e.getMessage).getOrElse(e.toString)))
          catch { case NonFatal(_) => () } // headers already sent mid-stream
      } finally ex.close()
  }

  // ---- plumbing -------------------------------------------------------

  private def handler(method: String)(
      f: (Option[JsonNode], HttpExchange) => (Int, String)): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          if (ex.getRequestMethod != method)
            respond(ex, 405, err("method not allowed"))
          else {
            val (code, json) = f(parseBody(ex), ex)
            respond(ex, code, json)
          }
        } catch {
          case NonFatal(e) =>
            try respond(ex, 500, err(Option(e.getMessage).getOrElse(e.toString)))
            catch { case NonFatal(_) => () }
        } finally ex.close()
    }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val out = ex.getResponseBody
    out.write(bytes)
    out.close()
  }

  private def parseBody(ex: HttpExchange): Option[JsonNode] = {
    val bytes = ex.getRequestBody.readAllBytes()
    if (bytes.isEmpty) None
    else try Some(mapper.readTree(bytes)) catch { case NonFatal(_) => None }
  }

  private def field(body: Option[JsonNode], name: String): Option[String] =
    body.flatMap(b => Option(b.get(name))).filter(!_.isNull).map(_.asText())

  /** A JSON array of strings; None if absent or not an array (numbers
    * etc. inside the array are text-coerced, matching [[field]]). */
  private def stringArrayField(body: Option[JsonNode],
      name: String): Option[Seq[String]] =
    body.flatMap(b => Option(b.get(name))).filter(_.isArray).map { arr =>
      (0 until arr.size()).map(i => arr.get(i).asText())
    }

  private def intField(body: Option[JsonNode], name: String): Option[Int] =
    body.flatMap(b => Option(b.get(name))).filter(_.isNumber).map(_.asInt())

  private def doubleField(body: Option[JsonNode], name: String): Option[Double] =
    body.flatMap(b => Option(b.get(name))).filter(_.isNumber).map(_.asDouble())

  private def boolField(body: Option[JsonNode], name: String): Option[Boolean] =
    body.flatMap(b => Option(b.get(name))).filter(_.isBoolean).map(_.asBoolean())

  private def str(s: String): String = mapper.writeValueAsString(s)

  /** Tiny ordered-JSON-object builder over jackson-escaped scalars. */
  private def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      val jv = v match {
        case s: String => str(s)
        case b: Boolean => b.toString
        case n: Long => n.toString
        case n: Int => n.toString
        case d: Double => d.toString
        case other => str(String.valueOf(other))
      }
      s"${str(k)}:$jv"
    }.mkString("{", ",", "}")

  private def err(msg: String): String = obj("error" -> msg)
}
