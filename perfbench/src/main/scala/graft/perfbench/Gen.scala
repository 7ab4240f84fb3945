package graft.perfbench

import java.util.SplittableRandom

/** Seeded input generator for every workload. Everything the benchmark feeds
  * graft is derived from (seed, stream) pairs here, so one seed always gives
  * byte-identical inputs and ground truth; [[digest]] fingerprints them.
  */
object Gen {

  /** An independent random stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL)

  // ---------------------------------------------------------------- vectors

  final case class Vectors(ids: Array[Long], labels: Array[Int], vecs: Array[Array[Float]]) {
    def size: Int = ids.length
  }

  /** A Gaussian mixture: `clusters` centres drawn N(0, 1) per dimension,
    * points scattered around them with per-dimension deviation `spread`.
    */
  final class Mixture(seed: Long, val dim: Int, val clusters: Int, val spread: Double) {
    val centres: Array[Array[Double]] = {
      val r = rng(seed, 1)
      Array.fill(clusters, dim)(r.nextGaussian())
    }
    def draw(r: SplittableRandom, cluster: Int, scale: Double = 1.0): Array[Float] = {
      val c = centres(cluster)
      Array.tabulate(dim)(j => (c(j) + spread * scale * r.nextGaussian()).toFloat)
    }
  }

  def corpus(m: Mixture, seed: Long, n: Int): Vectors = {
    val r = rng(seed, 2)
    val labels = Array.fill(n)(r.nextInt(m.clusters))
    Vectors(Array.tabulate(n)(_.toLong), labels, labels.map(l => m.draw(r, l)))
  }

  /** Cumulative Zipf(s) weights over `n` ranks. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def zipf(r: SplittableRandom, cdf: Array[Double]): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  final case class Query(qid: Long, label: Int, vec: Array[Float])

  /** `count` queries with clusters drawn Zipf(1.1): even ones perturb a
    * corpus point of that cluster, odd ones are fresh draws from it.
    */
  def queries(m: Mixture, data: Vectors, seed: Long, stream: Long, count: Int, firstQid: Long): Array[Query] = {
    val r = rng(seed, 100 + stream)
    val cdf = zipfCdf(m.clusters, 1.1)
    val byCluster = data.labels.indices.groupBy(i => data.labels(i)).map { case (k, v) => (k, v.toArray) }
    Array.tabulate(count) { i =>
      val c = zipf(r, cdf)
      val members = byCluster.getOrElse(c, Array.empty[Int])
      val v =
        if (i % 2 == 0 && members.nonEmpty) {
          val base = data.vecs(members(r.nextInt(members.length)))
          base.map(x => (x + 0.05 * m.spread * r.nextGaussian()).toFloat)
        } else m.draw(r, c)
      Query(firstQid + i, c, v)
    }
  }

  /** One append batch: `n` rows, 80% new ids and 20% re-upserts of ids
    * already live; a quarter of the re-upserts move to another cluster.
    */
  final case class Upsert(ids: Array[Long], labels: Array[Int], vecs: Array[Array[Float]], moved: Set[Long])

  def upsertBatch(m: Mixture, seed: Long, cycle: Int, n: Int, nextId: Long,
                  live: scala.collection.Map[Long, Int]): Upsert = {
    val r = rng(seed, 10000 + cycle)
    val liveIds = live.keys.toArray.sorted
    val nReup = n / 5
    val reup = {
      val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (picked.size < nReup) picked += liveIds(r.nextInt(liveIds.length))
      picked.toArray
    }
    val ids = Array.tabulate(n)(i => if (i < nReup) reup(i) else nextId + (i - nReup))
    var moved = Set.empty[Long]
    val labels = Array.tabulate(n) { i =>
      if (i < nReup && i % 4 == 0) {
        moved += ids(i)
        (live(ids(i)) + 1 + r.nextInt(m.clusters - 1)) % m.clusters
      } else if (i < nReup) live(ids(i))
      else r.nextInt(m.clusters)
    }
    Upsert(ids, labels, labels.map(l => m.draw(r, l)), moved)
  }

  // -------------------------------------------------------------- documents

  final case class Doc(docId: Long, lang: String, text: String)

  private val Langs = Array("en", "de", "fr")

  /** A seeded vocabulary of `n` pronounceable words; `salt` gives a
    * disjoint vocabulary (every word carries the salt's letter).
    */
  def vocabulary(seed: Long, salt: Int, n: Int): Array[String] = {
    val r = rng(seed, 200 + salt)
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val marker = "qwxy".charAt(salt % 4)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + r.nextInt(3)
      val sb = new StringBuilder
      sb.append(marker)
      for (_ <- 0 until syl) sb.append(cons.charAt(r.nextInt(cons.length))).append(vow.charAt(r.nextInt(vow.length)))
      seen += sb.toString
    }
    seen.toArray
  }

  private def sentence(r: SplittableRandom, vocab: Array[String]): String =
    Array.fill(6 + r.nextInt(9))(vocab(r.nextInt(vocab.length))).mkString(" ")

  /** A document of 40–600 characters: sentences joined by ". ". */
  private def docText(r: SplittableRandom, vocab: Array[String]): String = {
    val target = 40 + r.nextInt(561)
    val sb = new StringBuilder(sentence(r, vocab))
    while (sb.length < target) sb.append(". ").append(sentence(r, vocab))
    sb.toString.take(600).trim
  }

  final case class Corpus(docs: Array[Doc], copyOf: Map[Long, Long], nearDupDocs: Set[Long],
                          contaminated: Set[Long])

  /** The curation corpus. Beside ordinary documents it plants: exact copies
    * (5%, `copyOf` maps copy → source), documents that reuse a sentence of
    * an earlier one with one word changed (10%), and documents quoting a
    * 10-word run of a held-out document (`doc_id % 97 == 0`, the slice the
    * pipeline decontaminates against).
    */
  def documents(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 300)
    val vocab = vocabulary(seed, 0, 4000)
    val docs = new Array[Doc](n)
    var copyOf = Map.empty[Long, Long]
    var near = Set.empty[Long]
    var contaminated = Set.empty[Long]
    for (i <- 0 until n) {
      val id = i.toLong
      val lang = Langs(r.nextInt(Langs.length))
      val roll = r.nextInt(100)
      val text =
        if (i > 200 && roll < 5) {
          val src = docs(r.nextInt(i)); copyOf += id -> src.docId; src.text
        } else if (i > 200 && roll < 15) {
          val src = docs(r.nextInt(i)).text.split("\\. ")
          val s = src(r.nextInt(src.length)).split(" ")
          s(r.nextInt(s.length)) = vocab(r.nextInt(vocab.length))
          near += id
          (s.mkString(" ") + ". " + docText(r, vocab)).take(600).trim
        } else if (i > 200 && roll < 18) {
          val held = docs((r.nextInt(i / 97) * 97)).text.split(" ")
          contaminated += id
          if (held.length >= 10) {
            val at = r.nextInt(held.length - 9)
            (held.slice(at, at + 10).mkString(" ") + ". " + docText(r, vocab)).take(600).trim
          } else docText(r, vocab)
        } else docText(r, vocab)
      docs(i) = Doc(id, lang, text)
    }
    Corpus(docs, copyOf, near, contaminated)
  }

  final case class Stream(store: Array[Doc], batches: Array[Array[Doc]],
                          exactOf: Map[Long, Long], novel: Set[Long], nearPlanted: Set[Long])

  /** A document store plus `nBatches` arriving batches of `batchSize`: 20%
    * exact re-sends of store documents, 20% store documents with a short
    * sentence appended, and 60% novel documents from a disjoint vocabulary.
    * `exactOf` gives each re-send's expected `matched_store_id` (the lowest
    * store id carrying that text).
    */
  def stream(seed: Long, storeSize: Int, nBatches: Int, batchSize: Int): Stream = {
    val r = rng(seed, 400)
    val vocab = vocabulary(seed, 1, 4000)
    val fresh = vocabulary(seed, 2, 4000)
    val store = Array.tabulate(storeSize)(i => Doc(i.toLong, Langs(r.nextInt(3)), docText(r, vocab)))
    val firstIdOf = store.groupBy(_.text).map { case (t, ds) => (t, ds.map(_.docId).min) }
    var exactOf = Map.empty[Long, Long]
    var novel = Set.empty[Long]
    var nearPlanted = Set.empty[Long]
    val batches = Array.tabulate(nBatches) { b =>
      Array.tabulate(batchSize) { j =>
        val id = 10000000L + b.toLong * batchSize + j
        val roll = r.nextInt(10)
        val src = store(r.nextInt(storeSize))
        if (roll < 2) { exactOf += id -> firstIdOf(src.text); Doc(id, src.lang, src.text) }
        else if (roll < 4) { nearPlanted += id; Doc(id, src.lang, src.text + ". " + sentence(r, vocab).split(" ").take(4).mkString(" ")) }
        else { novel += id; Doc(id, Langs(r.nextInt(3)), docText(r, fresh)) }
      }
    }
    Stream(store, batches, exactOf, novel, nearPlanted)
  }

  // ----------------------------------------------------------------- digest

  /** SHA-256 over a canonical byte rendering of generated values. */
  def digest(parts: Iterator[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(x: Any): Unit = x match {
      case v: Long   => buf.clear(); buf.putLong(v); md.update(buf.array())
      case v: Int    => put(v.toLong)
      case v: Float  => put(java.lang.Float.floatToIntBits(v).toLong)
      case v: String => put(v.length.toLong); md.update(v.getBytes("UTF-8"))
      case v: Array[Float] => put(v.length.toLong); v.foreach(put)
      case v: Array[_] => put(v.length.toLong); v.foreach(put)
      case v: Product => v.productIterator.foreach(put)
      case v: Iterable[_] => put(v.size.toLong); v.foreach(put)
      case other => put(other.toString)
    }
    parts.foreach(put)
    md.digest().map("%02x".format(_)).mkString
  }
}
