package graft.serve

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.{Embedder, HashingEmbedder}
import graft.search.HybridSearch
import graft.text.Bm25

/** §2.14 — the serving layer: request/response envelopes mirroring the
  * reference's Flask API (`/root/reference/chatbot/app.py`), with the
  * engine doing all retrieval work and the LLM calls stubbed behind a
  * trait (L1-L3 are out-of-engine by design; the reference itself
  * degrades gracefully without an API key, `app.py:70-80`).
  *
  * This is intentionally thin: envelopes are case classes, the "routes"
  * are functions. Any HTTP framework can wrap them; none ships here.
  */
object Serve {

  // ---- envelopes (mirroring app.py:452-458, 510-516, 384-405) ---------

  final case class SearchResult(
      id: String, score: Double, caseName: String, court: String,
      dateFiled: String, judges: String, snippet: String)

  final case class QueryResponse(
      question: String, results: Seq[SearchResult], processingTimeSec: Double)

  final case class HealthResponse(
      status: String, collectionExists: Boolean, pointsCount: Long,
      summarizerAvailable: Boolean)

  final case class CollectionInfo(pointsCount: Long, vectorsCount: Long, status: String)

  /** L1/L2 boundary — graceful degradation default (L3). */
  trait Summarizer extends Serializable {
    def summarize(context: String, maxWords: Int): String
    /** Streaming form: token/chunk iterator. Default chunks the batch
      * summary word-by-word; a real LLM impl yields provider deltas. */
    def summarizeStream(context: String, maxWords: Int): Iterator[String] =
      summarize(context, maxWords).split("(?<= )").iterator
  }
  final class UnavailableSummarizer extends Summarizer {
    def summarize(context: String, maxWords: Int): String =
      "Summary unavailable: no LLM configured. Showing retrieved sources only."
  }

  /** ST4 — the server-sent-events envelope for the streaming summarize
    * endpoint (reference `app.py:679-713`): each content chunk framed as
    * `data: <chunk>\n\n`, a terminal `data: [DONE]\n\n`, and mid-stream
    * failures surfaced as `data: [ERROR] <msg>\n\n` — plus the response
    * headers the reference sets. Transport-agnostic: any HTTP layer can
    * drain the iterator into a chunked `text/event-stream` response. */
  object Sse {
    val contentType: String = "text/event-stream"
    val headers: Map[String, String] =
      Map("Cache-Control" -> "no-cache", "X-Accel-Buffering" -> "no")

    def frame(chunk: String): String = s"data: $chunk\n\n"
    val done: String = "data: [DONE]\n\n"
    def error(msg: String): String = s"data: [ERROR] $msg\n\n"

    /** Wrap a (lazy, possibly failing) token iterator in the envelope:
      * frames, then [DONE]; an exception ends the stream with [ERROR]
      * instead of propagating (the reference's generator does the same). */
    def stream(tokens: Iterator[String]): Iterator[String] = new Iterator[String] {
      private var finished = false
      def hasNext: Boolean = !finished
      def next(): String = {
        if (finished) throw new NoSuchElementException("SSE stream drained")
        try {
          if (tokens.hasNext) frame(tokens.next())
          else { finished = true; done }
        } catch {
          case scala.util.control.NonFatal(e) =>
            finished = true
            error(Option(e.getMessage).getOrElse(e.toString))
        }
      }
    }
  }

  /** P9 — project raw hit rows to the 8-field API shape with defaults
    * for missing payload keys (reference `app.py:345-358`). */
  def sourcesProjection(hits: DataFrame, scoreCol: String = "rrf_score"): DataFrame =
    hits.select(
      col("id"),
      round(col(scoreCol), 6).as("score"),
      coalesce(col("case_name"), lit("Unknown Case")).as("caseName"),
      upper(coalesce(col("court"), lit(""))).as("court"),           // F14
      coalesce(col("date_filed"), lit("")).as("dateFiled"),
      coalesce(col("judges"), lit("")).as("judges"),
      when(length(col("chunk_text")) > 200,
        concat(substring(col("chunk_text"), 1, 200), lit("...")))   // T6
        .otherwise(col("chunk_text")).as("snippet"))

  /** F15 — render top-k hits into the numbered context block fed to the
    * summarizer (reference `app.py:193-229`: "Document i" sections with
    * 500-char previews). */
  def formatContext(hits: DataFrame, scoreCol: String = "rrf_score"): String = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(desc(scoreCol), col("id"))
    val blocks = hits
      .withColumn("rank", row_number().over(w))                      // W1
      .withColumn("preview",
        when(length(col("chunk_text")) > 500,
          concat(substring(col("chunk_text"), 1, 500), lit("...")))
          .otherwise(col("chunk_text")))
      .select(format_string("Document %d (score %.4f):%n%s",
        col("rank"), round(col(scoreCol), 6), col("preview")).as("block"),
        col("rank"))
      .orderBy("rank")
      .select("block")
    blocks.collect().map(_.getString(0)).mkString("\n\n")
  }

  /** The ordering pass that runs over the hybrid prefetch before the
    * top k are returned. Every pass keeps each row's ORIGINAL RRF score
    * — only order and membership change, so the API's score scale is
    * the same on every route. `candMultiplier · k` is the prefetch the
    * pass chooses from. */
  sealed trait Rerank { def candMultiplier: Int }
  object Rerank {
    /** The hybrid top k as fused. */
    case object NoRerank extends Rerank { val candMultiplier = 1 }

    /** ColBERT-style late interaction
      * ([[graft.search.LateInteraction.maxsimRerank]]): only the
      * request-scale prefetch is rescored by per-token MaxSim, so the
      * token-level embedding work never touches the corpus. */
    final case class MaxSim(candMultiplier: Int = 3) extends Rerank

    /** MMR diversification (q164's operator at the serving layer): the
      * shared greedy loop ([[graft.ops.Similarity.mmrSelect]]) picks k
      * candidates maximizing λ·rel − (1−λ)·max-cosine-to-selected over
      * their dense vectors. RRF scores are max-normalized into (0, 1]
      * first so λ blends comparable scales (raw RRF tops out at
      * 2/(rrfK+1) ≈ 0.03 — unscaled it would be drowned by the cosine
      * penalty at any λ). */
    final case class Mmr(lambda: Double = 0.7, candMultiplier: Int = 3)
        extends Rerank
  }

  /** POST /query | /search — the reference's two identical endpoints
    * (quirk Q6) collapse to one function. `dense` picks the route that
    * serves the dense prefetch ([[HybridSearch.Dense]]: exact scan,
    * IVF, int8 IVF or HNSW), `rerank` the ordering pass over the
    * prefetch; `embedder` embeds the query for both. Payload columns
    * present on the index (`case_name`, `court`, `date_filed`,
    * `judges` — e.g. from the IngestMain pipeline) hydrate the
    * response; absent ones take the reference's defaults
    * (`app.py:345-358`). */
  def query(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, question: String, k: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None,
      dense: HybridSearch.Dense = HybridSearch.Dense.Exact,
      rerank: Rerank = Rerank.NoRerank,
      embedder: Embedder = HashingEmbedder.default): QueryResponse = {
    val t0 = System.nanoTime()
    val hits = HybridSearch.search(index, docStats, corpusSize, avgDocLen,
      question, HybridSearch.Config(k = k * rerank.candMultiplier,
        rrfScoreThreshold = rrfScoreThreshold, postings = postings,
        termBounds = termBounds, blockBounds = blockBounds, dense = dense),
      embedder)
    val results = rerank match {
      case Rerank.NoRerank => hydrate(hits)
      case Rerank.MaxSim(_) =>
        val qTerms = Bm25.tokenize(question).distinct.filter(_.nonEmpty)
        if (qTerms.isEmpty) hydrate(hits.limit(k))
        else {
          val (rows, toResult) = collectHits(hits)
          if (rows.isEmpty) Nil
          else {
            val byId = rows.map(r => r.getAs[String]("id") -> r).toMap
            graft.search.LateInteraction.maxsimRerank(hits, qTerms, embedder, k)
              .select("id").collect().toSeq
              .map(r => toResult(byId(r.getString(0))))
          }
        }
      case Rerank.Mmr(lambda, _) =>
        val (rows, toResult) = collectHits(hits, extra = Seq("dense_vec"))
        if (rows.isEmpty) Nil
        else {
          val maxRrf = rows.map(_.getAs[Double]("rrf_score")).max
          val cands = rows.toSeq.map { r =>
            (r.getAs[String]("id"), r.getAs[Double]("rrf_score") / maxRrf,
              Option(r.getAs[scala.collection.Seq[Float]]("dense_vec"))
                .map(_.toArray).getOrElse(Array.empty[Float]))
          }
          val byId = rows.map(r => r.getAs[String]("id") -> r).toMap
          graft.ops.Similarity.mmrSelect(cands, k, lambda)
            .map { case (id, _, _, _) => toResult(byId(id)) }
        }
    }
    QueryResponse(question, results, secondsSince(t0))                  // F13
  }

  // The benchmark in perfbench/ calls the four forwarders below by name,
  // so they stay; each is [[query]] on one dense route or rerank pass
  // with its default dials. New callers pass `dense`/`rerank` instead.

  def queryAnn(index: DataFrame, ivf: graft.ops.Similarity.IvfIndex,
      docStats: DataFrame, corpusSize: Long, avgDocLen: Double,
      question: String, k: Int = 3, rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): QueryResponse =
    query(index, docStats, corpusSize, avgDocLen, question, k,
      rrfScoreThreshold, postings, termBounds, blockBounds,
      dense = HybridSearch.Dense.Ivf(ivf))

  def queryHnsw(index: DataFrame, hs: HybridSearch.HnswServing,
      docStats: DataFrame, corpusSize: Long, avgDocLen: Double,
      question: String, k: Int = 3, rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): QueryResponse =
    query(index, docStats, corpusSize, avgDocLen, question, k,
      rrfScoreThreshold, postings, termBounds, blockBounds,
      dense = HybridSearch.Dense.Hnsw(hs))

  def queryAnnQuantized(index: DataFrame,
      ivf: graft.ops.Similarity.IvfIndex, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, question: String, k: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): QueryResponse =
    query(index, docStats, corpusSize, avgDocLen, question, k,
      rrfScoreThreshold, postings, termBounds, blockBounds,
      dense = HybridSearch.Dense.Int8(ivf))

  def queryReranked(index: DataFrame, docStats: DataFrame,
      corpusSize: Long, avgDocLen: Double, question: String, k: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None): QueryResponse =
    query(index, docStats, corpusSize, avgDocLen, question, k,
      rrfScoreThreshold, postings, termBounds, blockBounds,
      rerank = Rerank.MaxSim())

  /** PHRASE search served from the positional inverted index
    * ([[HybridSearch.phraseMatches]]) — consecutive-token matching as
    * position intersection, never a text rescan. Documents rank by
    * OCCURRENCE COUNT (ties → id); the API `score` field carries that
    * count. `posPostings` is either an in-memory positional table or,
    * when `store` is supplied, the bucket-pruned per-request read
    * ([[graft.index.IndexWriter.readPositionsForTerms]]) — the q375
    * discipline: the phrase's terms map to their term buckets and the
    * scan touches only those directories. */
  def queryPhrase(index: DataFrame, docStats: DataFrame, phrase: String,
      k: Int = 3, posPostings: Option[DataFrame] = None,
      store: Option[String] = None): QueryResponse = {
    val terms = Bm25.tokenize(phrase).filter(_.nonEmpty)
    queryPositional(index, phrase, terms, k, posPostings, store,
      "queryPhrase")(HybridSearch.phraseMatches(_, docStats, terms))
  }

  /** ORDERED-PROXIMITY search served from the positional index
    * ([[HybridSearch.proximityMatches]]) — [[queryPhrase]]'s sibling
    * for "these terms, in order, within `maxSpan` tokens". Documents
    * rank by matching-span count (ties → id); same in-memory-frame or
    * bucket-pruned-store read discipline. */
  def queryProximity(index: DataFrame, docStats: DataFrame,
      terms: Seq[String], maxSpan: Int, k: Int = 3,
      posPostings: Option[DataFrame] = None,
      store: Option[String] = None): QueryResponse =
    queryPositional(index, terms.mkString(" "), terms, k, posPostings,
      store, "queryProximity")(
      HybridSearch.proximityMatches(_, docStats, terms, maxSpan))

  /** The lexical epilogue [[queryPhrase]] and [[queryProximity]] share:
    * `matches` rows (one per occurrence) count per document, the top k
    * by count (ties → id) hydrate from the index. */
  private def queryPositional(index: DataFrame, label: String,
      terms: Seq[String], k: Int, posPostings: Option[DataFrame],
      store: Option[String], caller: String)(
      matches: DataFrame => DataFrame): QueryResponse = {
    val read = positionReader(index, posPostings, store, caller)
    val t0 = System.nanoTime()
    val hits = matches(read(terms))
      .groupBy("id").agg(count(lit(1)).cast("double").as("rrf_score"))
      .orderBy(desc("rrf_score"), col("id"))
      .limit(k)
      .join(index, Seq("id"), "left")
      .orderBy(desc("rrf_score"), col("id"))
    QueryResponse(label, hydrate(hits), secondsSince(t0))
  }

  /** How a lexical request reads positional postings for its terms:
    * the in-memory frame, or only those terms' buckets of the store. */
  private def positionReader(index: DataFrame, posPostings: Option[DataFrame],
      store: Option[String], caller: String): Seq[String] => DataFrame = {
    require(posPostings.nonEmpty || store.nonEmpty,
      s"$caller needs a positional postings frame or a store path")
    store match {
      case Some(path) => graft.index.IndexWriter
        .readPositionsForTerms(index.sparkSession, path, _)
      case None => _ => posPostings.get
    }
  }

  private val payloadCols = Seq("case_name", "court", "date_filed", "judges")

  /** Collect the hit rows a response needs — `lead` columns, then id,
    * rrf_score, chunk_text, any `extra` columns and the payload columns
    * present on `hits` — with the row → API result mapping for them
    * (payload defaults from reference `app.py:345-358`). ONE definition
    * for every query path, so hydration cannot drift between modes. */
  private def collectHits(hits: DataFrame, lead: Seq[String] = Nil,
      extra: Seq[String] = Nil): (Array[Row], Row => SearchResult) = {
    val present = hits.columns.toSet
    val rows = hits.select((lead ++ Seq("id", "rrf_score", "chunk_text") ++
      extra ++ payloadCols.filter(present)).map(col): _*).collect()
    def toResult(r: Row): SearchResult = {
      def opt(c: String, default: String): String =
        if (present(c)) Option(r.getAs[String](c)).getOrElse(default) else default
      val text = Option(r.getAs[String]("chunk_text")).getOrElse("")
      SearchResult(
        id = r.getAs[String]("id"),
        score = r.getAs[Double]("rrf_score"),
        caseName = opt("case_name", "Unknown Case"),
        court = opt("court", "").toUpperCase(java.util.Locale.ROOT),   // F14
        dateFiled = opt("date_filed", ""),
        judges = opt("judges", ""),
        snippet = if (text.length > 200) text.take(200) + "..." else text)
    }
    (rows, toResult)
  }

  /** [[collectHits]] mapped to results in the order `hits` delivers. */
  private def hydrate(hits: DataFrame): Seq[SearchResult] = {
    val (rows, toResult) = collectHits(hits)
    rows.toSeq.map(toResult)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Split the collected (query_id, …) rows of a batched plan back into
    * one response per text; `pick` orders one query's rows. Every
    * response carries the SHARED wall-clock (one plan ran; attributing
    * slices per query would be fiction). */
  private def perQuery(texts: Seq[String], hits: DataFrame, t0: Long)(
      pick: (Long, Seq[Row]) => Seq[Row]): Seq[QueryResponse] = {
    val (rows, toResult) = collectHits(hits, lead = Seq("query_id"))
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    val sec = secondsSince(t0)                                          // F13
    texts.zipWithIndex.map { case (q, i) =>
      val mine = byQuery.getOrElse(i.toLong, Array.empty[Row]).toSeq
      QueryResponse(q, pick(i.toLong, mine).map(toResult), sec)
    }
  }

  /** POST /search/batch — N questions through ONE Spark plan
    * ([[HybridSearch.searchAll]], the q154-verified shape) instead of N
    * sequential [[query]] calls. The corpus is scanned and scored once
    * for the whole batch (queries broadcast; one shuffle keyed by
    * query_id), so serving cost stops scaling with batch size. Result
    * rows collect in one action — bounded at k × questions. With
    * [[Rerank.MaxSim]] the whole batch's MaxSim rescoring is one more
    * plan ([[graft.search.LateInteraction.maxsimRerankAll]] — candidate
    * tokens fan out to each query's OWN terms only); a query whose text
    * yields no tokens falls back to its hybrid top-k. Per-question
    * results equal [[query]]'s (HttpApiSpec asserts the round-trip). */
  def queryBatch(index: DataFrame, docStats: DataFrame, corpusSize: Long,
      avgDocLen: Double, questions: Seq[String], k: Int = 3,
      rrfScoreThreshold: Double = 0.0,
      postings: Option[DataFrame] = None,
      termBounds: Option[DataFrame] = None,
      blockBounds: Option[DataFrame] = None,
      rerank: Rerank = Rerank.NoRerank,
      embedder: Embedder = HashingEmbedder.default): Seq[QueryResponse] = {
    require(!rerank.isInstanceOf[Rerank.Mmr],
      "queryBatch serves the NoRerank and MaxSim passes")
    if (questions.isEmpty) return Nil
    val t0 = System.nanoTime()
    val spark = index.sparkSession
    import spark.implicits._
    val qdf = questions.zipWithIndex
      .map { case (q, i) => (i.toLong, q) }.toDF("query_id", "query")
    val hits = HybridSearch.searchAll(index, docStats, corpusSize, avgDocLen,
      qdf, HybridSearch.Config(k = k * rerank.candMultiplier,
        rrfScoreThreshold = rrfScoreThreshold, postings = postings,
        termBounds = termBounds, blockBounds = blockBounds),
      embedder = embedder)
    if (rerank == Rerank.NoRerank)
      // searchAll orders (query_id, rrf_score desc, id); groupBy on the
      // collected array preserves that encounter order within each group
      return perQuery(questions, hits, t0)((_, mine) => mine)
    val prefetched = hits.localCheckpoint()
    val qTerms = questions.zipWithIndex
      .map { case (q, i) =>
        (i.toLong, Bm25.tokenize(q).distinct.filter(_.nonEmpty)) }
      .toDF("query_id", "terms")
    val order = graft.search.LateInteraction.maxsimRerankAll(
        prefetched, qTerms, embedder, k)
      .select("query_id", "id")
      .as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    perQuery(questions, prefetched, t0) { (i, mine) =>
      val byId = mine.map(r => r.getAs[String]("id") -> r).toMap
      order.get(i).filter(_.nonEmpty)
        // tokenless query (or no scored candidates): hybrid top-k order
        .getOrElse(mine.map(_.getAs[String]("id")).take(k))
        .flatMap(byId.get)
    }
  }

  /** BATCHED [[queryPhrase]] — N phrases through ONE plan
    * ([[HybridSearch.phraseMatchesAll]], the q375 slot-count shape):
    * the positional store is read once for the union of all phrases'
    * vocabularies (bucket-pruned when `store` is supplied), every
    * occurrence keys by (query_id, id, start), and per-phrase doc
    * rankings cut through bounded heaps. Per-phrase results equal
    * [[queryPhrase]] (HttpApiSpec asserts the round-trip). */
  def queryPhraseBatch(index: DataFrame, phrases: Seq[String], k: Int = 3,
      posPostings: Option[DataFrame] = None,
      store: Option[String] = None): Seq[QueryResponse] = {
    val read = positionReader(index, posPostings, store, "queryPhraseBatch")
    if (phrases.isEmpty) return Nil
    val t0 = System.nanoTime()
    val spark = index.sparkSession
    import spark.implicits._
    val slots = phrases.zipWithIndex.flatMap { case (p, qi) =>
      Bm25.tokenize(p).filter(_.nonEmpty).zipWithIndex
        .map { case (t, s) => (qi.toLong, s, t) }
    }
    if (slots.isEmpty)
      return phrases.map(p => QueryResponse(p, Seq.empty, secondsSince(t0)))
    val qSlots = slots.toDF("query_id", "slot", "term")
    val ranked = graft.plans.TopK.perKey(
      HybridSearch.phraseMatchesAll(read(slots.map(_._3).distinct), qSlots)
        .groupBy("query_id", "id")
        .agg(count(lit(1)).cast("double").as("rrf_score")),
      Seq("query_id"), Seq(("rrf_score", false), ("id", true)), k)
    perQuery(phrases, ranked.join(index, Seq("id"), "left"), t0)((_, mine) =>
      mine.sortBy(r => (-r.getAs[Double]("rrf_score"), r.getAs[String]("id"))))
  }

  /** O(1) health from a count cached at engine build (round-6 review:
    * re-reading the index parquet footer per probe makes health O(index
    * files) under probe storms; the serving engine already counted the
    * corpus once when it loaded). `indexAlive` is a CHEAP liveness
    * probe — a single filesystem-existence RPC, not a footer read — so
    * the endpoint still degrades when the index vanishes out from under
    * a running server (a hardcoded "healthy" would keep a dead instance
    * in rotation). The path-probing [[health]] below stays for
    * standalone/missing-index diagnosis. */
  def healthCached(points: Long, indexAlive: => Boolean,
      summarizer: Summarizer = new UnavailableSummarizer): HealthResponse = {
    val alive = try indexAlive catch { case _: Exception => false }
    if (alive)
      HealthResponse("healthy", collectionExists = true, points,
        summarizerAvailable = !summarizer.isInstanceOf[UnavailableSummarizer])
    else HealthResponse("degraded", collectionExists = false, 0L,
      summarizerAvailable = false)
  }

  /** GET /health + /collection/info — A6 collection stats. */
  def health(spark: SparkSession, indexPath: String,
      summarizer: Summarizer = new UnavailableSummarizer): HealthResponse =
    try {
      val n = spark.read.parquet(indexPath).count()
      HealthResponse("healthy", collectionExists = true, n,
        summarizerAvailable = !summarizer.isInstanceOf[UnavailableSummarizer])
    } catch {
      case _: Exception =>
        HealthResponse("degraded", collectionExists = false, 0L,
          summarizerAvailable = false)
    }

  def collectionInfo(index: DataFrame): CollectionInfo = {
    val n = index.count()
    CollectionInfo(n, n, "green")
  }
}
