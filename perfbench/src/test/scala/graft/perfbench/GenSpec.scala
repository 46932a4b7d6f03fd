package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def all(seed: Long): Seq[Gen.Doc] = {
    val (curate, _) = Gen.curateCorpus(seed, 300)
    Gen.opinions(seed, 12) ++ Gen.batches(seed, 2, 3, 12).flatMap(_.docs) ++
      curate ++ Gen.langTraining(seed, 5).zipWithIndex.map { case ((l, t), i) =>
        Gen.Doc(i.toLong, l + t)
      }
  }

  test("the same seed gives byte-identical inputs") {
    assert(Gen.digest(all(7)) == Gen.digest(all(7)))
    assert(Gen.queryPool(7, Gen.opinions(7, 12), 50) ==
      Gen.queryPool(7, Gen.opinions(7, 12), 50))
    assert(Gen.curateCorpus(7, 300)._2 == Gen.curateCorpus(7, 300)._2)
  }

  test("a different seed gives different inputs") {
    assert(Gen.digest(all(7)) != Gen.digest(all(8)))
    assert(Gen.digest(Gen.opinions(7, 12)) != Gen.digest(Gen.opinions(8, 12)))
    assert(Gen.queryPool(7, Gen.opinions(7, 12), 50) !=
      Gen.queryPool(8, Gen.opinions(8, 12), 50))
  }

  test("opinions are opinion-length, some in HTML") {
    val docs = Gen.opinions(3, 40)
    assert(docs.map(_.docId) == (0L until 40L))
    assert(docs.forall(d => d.text.length >= 2000 && d.text.length <= 48000))
    assert(docs.exists(_.text.startsWith("<html>")))
    assert(docs.exists(_.text.contains(" v. ")))
  }

  test("each batch probe phrase occurs in its probe document only") {
    val base = Gen.opinions(5, 12)
    val batches = Gen.batches(5, 3, 4, 12)
    assert(batches.flatMap(_.docs).map(_.docId) == (12L until 24L))
    val every = base ++ batches.flatMap(_.docs)
    batches.foreach { b =>
      val holders = every.filter(d => graft.text.Bm25.tokenize(d.text)
        .mkString(" ").contains(b.probePhrase))
      assert(holders.map(_.docId) == Seq(b.probeId))
    }
  }

  test("the manifest counts match the curation corpus") {
    val n = 400
    val (docs, m) = Gen.curateCorpus(11, n)
    val byId = docs.map(d => d.docId -> d.text).toMap
    assert(docs.size == n + m.exactCopies.size + m.nearCopies.size)
    assert(m.exactCopies.size == n / 20 && m.nearCopies.size == n / 20)
    m.exactCopies.foreach { case (c, o) =>
      assert(c >= n && o < n && byId(c) == byId(o))
    }
    m.nearCopies.foreach { case (c, o) =>
      assert(c >= n && o < n && byId(c) != byId(o))
      val (a, b) = (byId(c).split(" ").toSet, byId(o).split(" ").toSet)
      assert((a intersect b).size.toDouble / (a union b).size > 0.7)
    }
    val planted = m.nonEnglish ++ m.lowQuality ++ m.repetitive
    assert(planted.nonEmpty && planted.forall(_ < n))
    assert(m.nonEnglish.intersect(m.lowQuality).isEmpty)
    val cite = "Opinion No\\. (\\d+)".r
    val found = docs.flatMap(d =>
      cite.findAllMatchIn(d.text).map(x => (d.docId, x.group(1).toLong)))
    assert(found.sorted == m.edges.sorted)
    assert(m.edges.forall { case (s, d) => byId.contains(s) && d < n })
  }
}
