package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def vectorsDigest(seed: Long): String = {
    val m = new Gen.Mixture(seed, 16, 8, 0.6)
    val data = Gen.corpus(m, seed, 500)
    val qs = Gen.queries(m, data, seed, stream = 3, count = 40, firstQid = 0L)
    val live = scala.collection.mutable.HashMap.empty[Long, Int]
    data.ids.indices.foreach(i => live(data.ids(i)) = data.labels(i))
    val up = Gen.upsertBatch(m, seed, 1, 100, 500L, live)
    Gen.digest(Iterator(data.ids, data.labels, data.vecs, qs.toSeq, up.ids, up.labels, up.vecs, up.moved.toSeq.sorted))
  }

  private def docsDigest(seed: Long): String = {
    val c = Gen.documents(seed, 400)
    val s = Gen.stream(seed, 300, 3, 50)
    Gen.digest(Iterator(c.docs.toSeq, c.copyOf.toSeq.sorted, s.store.toSeq, s.batches.toSeq.map(_.toSeq),
      s.exactOf.toSeq.sorted, s.novel.toSeq.sorted))
  }

  test("the same seed gives identical inputs and ground truth") {
    assert(vectorsDigest(7) == vectorsDigest(7))
    assert(docsDigest(7) == docsDigest(7))
  }

  test("different seeds give different inputs") {
    assert(vectorsDigest(7) != vectorsDigest(8))
    assert(docsDigest(7) != docsDigest(8))
  }

  test("an upsert batch is 80% new ids and 20% re-upserts, a quarter of them moved") {
    val m = new Gen.Mixture(1, 16, 8, 0.6)
    val data = Gen.corpus(m, 1, 500)
    val live = scala.collection.mutable.HashMap.empty[Long, Int]
    data.ids.indices.foreach(i => live(data.ids(i)) = data.labels(i))
    val up = Gen.upsertBatch(m, 1, 1, 100, 500L, live)
    assert(up.ids.distinct.length == 100)
    assert(up.ids.count(_ >= 500L) == 80)
    assert(up.moved.size == 5)
    assert(up.moved.forall(id => up.labels(up.ids.indexOf(id)) != live(id)))
  }

  test("stream batches mix exact re-sends, near copies and novel documents") {
    val s = Gen.stream(3, 300, 4, 100)
    val ids = s.batches.flatten.map(_.docId)
    assert(ids.distinct.length == 400)
    assert(s.exactOf.size + s.nearPlanted.size + s.novel.size == 400)
    assert(s.exactOf.size > 40 && s.nearPlanted.size > 40 && s.novel.size > 180)
    val storeText = s.store.map(d => (d.docId, d.text)).toMap
    val byId = s.batches.flatten.map(d => (d.docId, d.text)).toMap
    assert(s.exactOf.forall { case (id, store) => storeText(store) == byId(id) })
  }

  test("documents plant exact copies and held-out quotes") {
    val c = Gen.documents(5, 1000)
    val text = c.docs.map(d => (d.docId, d.text)).toMap
    assert(c.copyOf.nonEmpty && c.contaminated.nonEmpty && c.nearDupDocs.nonEmpty)
    assert(c.copyOf.forall { case (copy, src) => text(copy) == text(src) })
    assert(c.docs.forall(d => d.text.length <= 600 && d.text.nonEmpty))
  }
}
