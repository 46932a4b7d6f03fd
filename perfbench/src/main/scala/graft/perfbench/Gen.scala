package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Every workload input — the opinion corpus,
  * the admission batches, the query pool and the curation corpus — is a
  * pure function of `(seed, sizes)`: the same arguments give the same
  * rows and the same [[digest]], so a run is reproducible from its seed
  * alone and the program under test receives nothing but these rows. */
object Gen {

  final case class Doc(docId: Long, text: String)

  /** One admission batch; `probeId`'s text holds `probePhrase`, a token
    * sequence that occurs in no other document. */
  final case class Batch(docs: Seq[Doc], probeId: Long, probePhrase: String)

  /** What the curation corpus planted. Copies map copy id → original id;
    * `edges` are (citing, cited) ids written into the texts. */
  final case class Manifest(exactCopies: Map[Long, Long],
      nearCopies: Map[Long, Long], nonEnglish: Set[Long],
      lowQuality: Set[Long], repetitive: Set[Long],
      edges: Seq[(Long, Long)]) {
    def planted: Set[Long] = exactCopies.keySet ++ nearCopies.keySet ++
      exactCopies.values ++ nearCopies.values ++ nonEnglish ++
      lowQuality ++ repetitive
  }

  // ---- vocabulary ---------------------------------------------------

  private val legalWords = Vector(
    "court", "appeal", "appellant", "appellee", "plaintiff", "defendant",
    "judgment", "motion", "summary", "dismiss", "district", "circuit",
    "evidence", "testimony", "witness", "jury", "verdict", "trial",
    "statute", "statutory", "constitutional", "amendment", "due",
    "process", "claim", "claims", "contract", "breach", "damages",
    "liability", "negligence", "duty", "standard", "review", "de",
    "novo", "abuse", "discretion", "remand", "affirm", "reverse",
    "vacate", "opinion", "dissent", "concur", "majority", "record",
    "brief", "argument", "counsel", "petition", "certiorari", "habeas",
    "corpus", "sentence", "conviction", "indictment", "search",
    "seizure", "warrant", "probable", "cause", "fourth", "fifth",
    "sixth", "first", "speech", "religion", "equal", "protection",
    "immunity", "qualified", "officer", "agency", "regulation",
    "administrative", "deference", "jurisdiction", "venue", "standing",
    "injury", "remedy", "injunction", "relief", "declaratory", "class",
    "action", "settlement", "arbitration", "clause", "employer",
    "employee", "discrimination", "retaliation", "title", "copyright",
    "patent", "infringement", "trademark", "antitrust", "securities",
    "fraud", "bankruptcy", "debtor", "creditor", "tax", "property",
    "easement", "lease", "tenant", "landlord", "insurance", "policy",
    "coverage", "exclusion", "the", "of", "and", "to", "in", "that",
    "a", "is", "was", "for", "on", "with", "by", "as", "not", "which",
    "under", "this", "its", "from", "be", "because", "we", "held",
    "hold", "conclude", "find", "found", "argues", "contends", "reasonable",
    "material", "fact", "genuine", "issue", "law", "federal", "state",
    "rule", "procedure", "civil", "criminal", "section", "provision",
    "plain", "meaning", "text", "history", "purpose", "precedent",
    "binding", "persuasive", "error", "harmless", "plain", "prejudice")

  private val surnames = Vector(
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller",
    "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson", "Martin",
    "Lee", "Perez", "Thompson", "White", "Harris", "Sanchez", "Clark",
    "Ramirez", "Lewis", "Robinson", "Walker", "Young", "Allen", "King",
    "Wright", "Scott", "Torres", "Nguyen", "Hill", "Flores", "Green",
    "Adams", "Nelson", "Baker", "Hall", "Rivera", "Campbell", "Mitchell",
    "Carter", "Roberts")

  private val entities = Vector("Corp.", "Inc.", "LLC", "Co.", "Bank",
    "County", "City of", "Board of Education", "Department of Labor",
    "Insurance Co.", "Holdings", "Railway")

  private val courts = Vector("First", "Second", "Third", "Fourth", "Fifth",
    "Sixth", "Seventh", "Eighth", "Ninth", "Tenth", "Eleventh", "D.C.")

  private val reporters = Vector("F.3d", "F.4th", "U.S.", "S. Ct.", "F. Supp. 3d")

  private val syllables = Vector("ka", "lo", "mer", "tin", "sa", "ver",
    "pol", "den", "ra", "qui", "stor", "bel", "am", "vok", "pre", "lus",
    "gan", "tor", "mi", "zel")

  /** Pseudo-legal vocabulary: the real words first, then seeded
    * syllable compounds, so term frequencies follow a long tail. */
  private def vocabulary(rng: Rng, size: Int): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String](legalWords: _*)
    while (seen.size < size) {
      val n = 2 + rng.int(3)
      seen += (0 until n).map(_ => syllables(rng.int(syllables.size))).mkString
    }
    seen.toVector
  }

  private val spanishWords = Vector("el", "la", "de", "que", "y", "en",
    "los", "del", "se", "las", "por", "un", "para", "con", "una", "su",
    "tribunal", "demanda", "sentencia", "recurso", "derecho", "ley",
    "juez", "parte", "prueba", "contrato", "daños", "artículo", "sobre",
    "fue", "como", "pero", "está", "según", "cuando", "también", "hecho",
    "apelación", "audiencia", "responsabilidad", "acción", "autos")

  private val germanWords = Vector("der", "die", "das", "und", "nicht",
    "ist", "von", "mit", "dem", "den", "auf", "für", "ein", "eine", "zu",
    "gericht", "urteil", "klage", "recht", "gesetz", "vertrag", "schaden",
    "beklagte", "kläger", "berufung", "verfahren", "beweis", "haftung",
    "wurde", "auch", "nach", "bei", "über", "durch", "sowie", "gemäß")

  /** Zipf-like rank draw over `n` items (P(rank r) ∝ 1/(r+1)^s). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (0 until n).map(r => 1.0 / math.pow(r + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(rng: Rng): Int = {
      val u = rng.double()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** SplitMix64: a fixed, documented generator, so inputs do not depend
    * on any library's RNG implementation. */
  final class Rng(seed: Long) {
    private var s = seed
    def long(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def int(n: Int): Int = java.lang.Long.remainderUnsigned(long(), n.toLong).toInt
    def double(): Double = (long() >>> 11).toDouble / (1L << 53).toDouble
    def gaussian(): Double = {
      val u1 = math.max(double(), 1e-12)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * double())
    }
    def chance(p: Double): Boolean = double() < p
    def pick[A](xs: IndexedSeq[A]): A = xs(int(xs.size))
  }

  private def stream(seed: Long, name: String): Rng =
    new Rng(seed * 0x100000001B3L ^ name.hashCode.toLong)

  // ---- opinion corpus (serving workloads) ----------------------------

  private final class Writer(rng: Rng, vocab: Vector[String]) {
    private val zipf = new Zipf(vocab.size, 1.05)
    def word(): String = vocab(zipf.draw(rng))
    def party(): String =
      if (rng.chance(0.5)) rng.pick(surnames)
      else s"${rng.pick(surnames)} ${rng.pick(entities)}"
    def caseName(): String = s"${party()} v. ${party()}"
    def citation(): String =
      s"${caseName()}, ${1 + rng.int(999)} ${rng.pick(reporters)} " +
        s"${1 + rng.int(1500)} (${rng.pick(courts)} Cir. ${1950 + rng.int(75)})"
    def statute(): String =
      s"${1 + rng.int(50)} U.S.C. § ${100 + rng.int(9000)}"
    def sentence(): String = {
      val n = 8 + rng.int(18)
      val ws = Array.fill(n)(word())
      ws(0) = ws(0).capitalize
      val body = ws.mkString(" ")
      rng.int(10) match {
        case 0 => s"$body. See ${citation()}."
        case 1 => s"$body under ${statute()}."
        case _ => s"$body."
      }
    }
    def paragraph(): String = Seq.fill(3 + rng.int(5))(sentence()).mkString(" ")
  }

  /** `n` opinion-length documents with ids `firstId ..`: lognormal
    * lengths clamped to 2–40 KB with a fixed 9 KB mean, a caption (court, parties, judges),
    * sentence paragraphs with citations and statutes, and about one in
    * five wrapped in HTML with character entities. */
  def opinions(seed: Long, n: Int, firstId: Long = 0L): Seq[Doc] = {
    val rng = stream(seed, s"opinions-$firstId")
    val w = new Writer(rng, vocabulary(stream(seed, "vocab"), 2500))
    // lognormal lengths, rescaled so the corpus totals 9 KB per document
    val raw = Seq.fill(n)(math.exp(0.75 * rng.gaussian()))
    val targets = raw.map(x => math.min(40000, math.max(2000,
      (x * 9000 * n / raw.sum).toInt)))
    (0 until n).map { i =>
      val target = targets(i)
      val judges = Seq.fill(3)(rng.pick(surnames)).distinct
      val sb = new StringBuilder
      sb ++= s"UNITED STATES COURT OF APPEALS FOR THE ${rng.pick(courts).toUpperCase} CIRCUIT\n\n"
      sb ++= s"${w.caseName()}\n\nNo. ${10 + rng.int(89)}-${1000 + rng.int(8999)}\n\n"
      sb ++= s"Before ${judges.mkString(", ")}, Circuit Judges.\n\n"
      sb ++= s"${judges.head}, Circuit Judge:\n\n"
      while (sb.length < target) { sb ++= w.paragraph(); sb ++= "\n\n" }
      val text = sb.toString.trim
      val html = rng.chance(0.2)
      Doc(firstId + i, if (!html) text else
        text.split("\n\n").map(p =>
          "<p>" + p.replace("§", "&sect;").replace(" & ", " &amp; ") + "</p>")
          .mkString("<html><body>\n", "\n", "\n</body></html>"))
    }
  }

  /** Admission batches of `perBatch` new opinions each, ids after
    * `firstId`. Each batch's first document is its probe: it carries a
    * phrase of made-up tokens that no other document contains. */
  def batches(seed: Long, nBatches: Int, perBatch: Int, firstId: Long): Seq[Batch] =
    (0 until nBatches).map { b =>
      val start = firstId + b.toLong * perBatch
      val docs = opinions(seed, perBatch, start)
      val tag = java.lang.Long.toString(math.abs(seed) * 131 + b, 36)
      val phrase = s"zqprobe$tag batchmark$b admitted"
      val probe = docs.head
      // at the head, so the phrase lands in the first full-size chunk
      Batch(docs.updated(0,
        probe.copy(text = s"The record notes $phrase today.\n\n${probe.text}")),
        probe.docId, phrase)
    }

  /** A query pool of `size` entries drawn from `docs`: four in five are
    * spans of 3–7 consecutive words, the rest are caption case names. */
  def queryPool(seed: Long, docs: Seq[Doc], size: Int): Vector[String] = {
    val rng = stream(seed, "queries")
    val captions = docs.map(_.text.replaceAll("<[^>]+>", "")).map { t =>
      t.linesIterator.find(_.contains(" v. ")).getOrElse("")
    }.filter(_.nonEmpty).toVector
    Vector.fill(size) {
      if (rng.chance(0.2) && captions.nonEmpty) rng.pick(captions)
      else {
        val words = graft.text.Bm25.tokenize(
          rng.pick(docs.toVector).text.replaceAll("<[^>]+>", " ")).toVector
        val len = 3 + rng.int(5)
        val at = rng.int(math.max(1, words.size - len))
        words.slice(at, at + len).mkString(" ")
      }
    }
  }

  /** A phrase of three consecutive tokens taken from one of `docs`. */
  def phraseFrom(rng: Rng, docs: IndexedSeq[Doc]): String = {
    val words = graft.text.Bm25.tokenize(
      rng.pick(docs).text.replaceAll("<[^>]+>", " ")).toVector
    val at = rng.int(math.max(1, words.size - 3))
    words.slice(at, at + 3).mkString(" ")
  }

  // ---- curation corpus ----------------------------------------------

  /** A training corpus of `n` base documents (400–3000 chars) plus the
    * planted items the curation chain must catch, in this id order:
    * base docs `0 ..< n` (with non-English, low-quality and repetitive
    * ones among them, and citations "Opinion No. <id>" to earlier base
    * docs), then exact copies, then near copies (a few words changed,
    * or an appendix). Returns the documents and the manifest. */
  def curateCorpus(seed: Long, n: Int): (Seq[Doc], Manifest) = {
    val rng = stream(seed, "curate")
    val w = new Writer(rng, vocabulary(stream(seed, "vocab"), 2500))
    val nonEn = scala.collection.mutable.Set[Long]()
    val lowQ = scala.collection.mutable.Set[Long]()
    val rep = scala.collection.mutable.Set[Long]()
    val edges = ArrayBuffer[(Long, Long)]()
    val base = (0 until n).map { i =>
      val id = i.toLong
      val target = 400 + rng.int(2600)
      val sb = new StringBuilder
      rng.int(100) match {
        case r if r < 5 =>
          nonEn += id
          val ws = if (r < 3) spanishWords else germanWords
          while (sb.length < target) {
            val s = Seq.fill(8 + rng.int(12))(rng.pick(ws)).mkString(" ")
            sb ++= s.capitalize; sb ++= ". "
          }
        case r if r < 8 =>
          lowQ += id
          while (sb.length < target) {
            sb ++= s"${rng.int(100000)} ${rng.int(1000)}!!! ${w.word()} ${rng.int(99)}!! "
          }
        case r if r < 11 =>
          rep += id
          val s = Seq.fill(3 + rng.int(4))(w.word()).mkString(" ")
          while (sb.length < target) { sb ++= s; sb ++= " " }
        case _ =>
          while (sb.length < target) {
            sb ++= w.sentence(); sb ++= " "
            if (i > 10 && rng.chance(0.08)) {
              val dst = rng.int(i).toLong
              edges += ((id, dst))
              sb ++= s"See Opinion No. $dst. "
            }
          }
      }
      Doc(id, sb.toString.trim)
    }
    val clean = base.filterNot(d =>
      nonEn(d.docId) || lowQ(d.docId) || rep(d.docId)).toVector
    val nExact = n / 20
    val nNear = n / 20
    val citesOf = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val exact = (0 until nExact).map { j =>
      val o = rng.pick(clean)
      (Doc(n.toLong + j, o.text), o.docId)
    }
    val near = (0 until nNear).map { j =>
      // originals long enough that the edit keeps 3-shingle Jaccard
      // well above the 0.8 verification threshold
      var o = rng.pick(clean)
      while (o.text.length < 1200) o = rng.pick(clean)
      val ws = o.text.split(" ")
      val text =
        if (rng.chance(0.5)) {
          // edits touch plain lower-case words only, never a citation
          val edited = ws.clone()
          val plain = ws.indices.filter(i => ws(i).forall(_.isLower))
          (0 until math.max(1, ws.length / 100)).foreach { _ =>
            edited(plain(rng.int(plain.size))) = w.word()
          }
          edited.mkString(" ")
        } else o.text + " Appendix: " + w.sentence()
      (Doc(n.toLong + nExact + j, text), o.docId)
    }
    val docs = base ++ exact.map(_._1) ++ near.map(_._1)
    // copies repeat their original's citations
    (exact ++ near).foreach { case (d, o) =>
      citesOf.getOrElse(o, Nil).foreach(dst => edges += ((d.docId, dst)))
    }
    (docs, Manifest(exact.map { case (d, o) => d.docId -> o }.toMap,
      near.map { case (d, o) => d.docId -> o }.toMap,
      nonEn.toSet, lowQ.toSet, rep.toSet, edges.toSeq))
  }

  /** Labelled language-id training slice ("en", "es", "de"), generated
    * from its own stream so it never overlaps the corpus. */
  def langTraining(seed: Long, perLang: Int): Seq[(String, String)] = {
    val rng = stream(seed, "langid")
    val w = new Writer(rng, vocabulary(stream(seed, "vocab"), 2500))
    def words(ws: Vector[String]) =
      Seq.fill(60)(rng.pick(ws)).mkString(" ")
    (0 until perLang).flatMap { _ =>
      Seq("en" -> Seq.fill(4)(w.sentence()).mkString(" "),
        "es" -> words(spanishWords), "de" -> words(germanWords))
    }
  }

  // ---- digest -------------------------------------------------------

  /** SHA-256 over a canonical serialization of documents: equal digests
    * mean byte-identical inputs. */
  def digest(docs: Seq[Doc]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach { d =>
      md.update(java.lang.Long.toString(d.docId).getBytes(UTF_8))
      md.update(0.toByte)
      md.update(d.text.getBytes(UTF_8))
      md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
