package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import Check._

class CheckSpec extends AnyFunSuite {

  private val m = new Gen.Mixture(11, 8, 4, 0.6)
  private val data = Gen.corpus(m, 11, 300)
  private val qs = Gen.queries(m, data, 11, stream = 1, count = 4, firstQid = 100L)
  private val qmap = qs.map(q => (q.qid, q.vec)).toMap
  private val truth = qs.map(q => (q.qid, exactTopK(q.vec, data.ids, data.vecs, 5))).toMap
  private val vecOf: Long => Seq[Array[Float]] = id => Seq(data.vecs(id.toInt))

  /** A correct exact answer built from the brute-force truth. */
  private val good: Seq[Hit] = truth.toSeq.flatMap { case (qid, top) =>
    top.zipWithIndex.map { case ((id, s), r) => Hit(qid, id, s, r + 1L) }
  }

  test("brute-force top-k is the best k of a full sort") {
    val q = qs.head.vec
    val sorted = data.ids.indices.map(i => (data.ids(i), round6(cosine(q, data.vecs(i)))))
      .sortBy { case (id, s) => (-s, id) }.take(5)
    assert(exactTopK(q, data.ids, data.vecs, 5).toSeq == sorted)
  }

  test("a correct answer passes every probe check") {
    assert(probeShape(good, qmap, 5, atMostK = false, vecOf).isEmpty)
    assert(exactMatch(good, truth).isEmpty)
    assert(recall(good, truth) == 1.0)
  }

  test("a swapped id is rejected") {
    val outsider = data.ids.find(id => !truth(100L).exists(_._1 == id)).get
    val swapped = good.map(h => if (h.qid == 100L && h.rank == 1L) h.copy(vecId = outsider) else h)
    assert(probeShape(swapped, qmap, 5, atMostK = false, vecOf).nonEmpty)
    val rescored = good.map(h => if (h.qid == 100L && h.rank == 5L)
      h.copy(vecId = outsider, score = round6(cosine(qmap(100L), data.vecs(outsider.toInt)))) else h)
    assert(exactMatch(rescored, truth).nonEmpty)
    assert(recall(rescored, truth) < 1.0)
  }

  test("a dropped row is rejected") {
    val dropped = good.filterNot(h => h.qid == 101L && h.rank == 5L)
    assert(probeShape(dropped, qmap, 5, atMostK = false, vecOf).nonEmpty)
    assert(exactMatch(dropped, truth).nonEmpty)
  }

  test("a stale version is rejected unless the index contract allows it") {
    val id = truth(102L).head._1
    val old = m.draw(Gen.rng(1, 1), data.labels(id.toInt))
    val staleHits = good.map(h => if (h.qid == 102L && h.vecId == id)
      h.copy(score = round6(cosine(qmap(102L), old))) else h)
    assert(probeShape(staleHits, qmap, 5, atMostK = true, vecOf).nonEmpty)
    val allowed: Long => Seq[Array[Float]] = i => if (i == id) Seq(data.vecs(i.toInt), old) else vecOf(i)
    assert(probeShape(staleHits, qmap, 5, atMostK = true, allowed).forall(!_.contains(s"id $id score")))
  }

  test("read-your-writes wants the written id at rank 1 with score 1.0") {
    val written = Map(100L -> truth(100L).head._1)
    val exactCopy = Seq(Hit(100L, written(100L), 1.0, 1L))
    assert(readYourWrites(exactCopy, written).isEmpty)
    assert(readYourWrites(Seq(Hit(100L, written(100L) + 1, 1.0, 1L)), written).nonEmpty)
    assert(readYourWrites(Seq(Hit(100L, written(100L), 0.98, 1L)), written).nonEmpty)
    assert(readYourWrites(Nil, written).nonEmpty)
  }

  test("curation invariants catch repeats, planted copies and kept duplicates") {
    val cleaned = Map(1L -> "a b", 2L -> "c d", 3L -> "a b", 4L -> "e f")
    val copyOf = Map(3L -> 1L)
    assert(curation(Seq(1L, 2L, 4L), cleaned.get, copyOf).isEmpty)
    assert(curation(Seq(1L, 2L, 2L), cleaned.get, copyOf).nonEmpty)
    assert(curation(Seq(1L, 1000002L), cleaned.get, copyOf).nonEmpty)
    assert(curation(Seq(1L, 3L), cleaned.get, copyOf).nonEmpty)
    assert(curation(Nil, cleaned.get, copyOf).nonEmpty)
  }

  test("stream verdicts must match ground truth and the one-call classification") {
    val union = Map(
      10L -> Verdict(10L, "exact_dup", 1L), 11L -> Verdict(11L, "near_dup", 2L), 12L -> Verdict(12L, "new", -1L))
    val exactOf = Map(10L -> 1L); val novel = Set(12L)
    val ok = union.values.toSeq
    assert(streamVerdicts(ok, exactOf, novel, union).isEmpty)
    val wrong = ok.map(v => if (v.docId == 11L) v.copy(disposition = "new", matched = -1L) else v)
    assert(streamVerdicts(wrong, exactOf, novel, union).nonEmpty)
    val wrongExact = ok.map(v => if (v.docId == 10L) v.copy(matched = 3L) else v)
    assert(streamVerdicts(wrongExact, exactOf, novel, union).nonEmpty)
    assert(streamVerdicts(ok.drop(1), exactOf, novel, union).nonEmpty)
    assert(streamVerdicts(ok :+ ok.head, exactOf, novel, union).nonEmpty)
  }
}
