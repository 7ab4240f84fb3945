package graft.perfbench

/** Output checkers. Each returns the problems it found; an empty list means
  * the output is correct. They run on the driver, outside the timed phase,
  * and use nothing from graft: the ground truth is brute force.
  */
object Check {

  /** Score tolerance: graft rounds scores to 6 decimal places. */
  val Tol = 2e-6

  final case class Hit(qid: Long, vecId: Long, score: Double, rank: Long)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** Exact top-k by brute force: (id, score) by score desc, id asc. */
  def exactTopK(q: Array[Float], ids: Array[Long], vecs: Array[Array[Float]], k: Int): Array[(Long, Double)] = {
    val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
      (a: (Long, Double), b: (Long, Double)) =>
        if (a._2 != b._2) java.lang.Double.compare(a._2, b._2) else java.lang.Long.compare(b._1, a._1))
    var i = 0
    while (i < ids.length) {
      heap.add((ids(i), round6(cosine(q, vecs(i)))))
      if (heap.size > k) heap.poll()
      i += 1
    }
    val out = new Array[(Long, Double)](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll(); j -= 1 }
    out
  }

  /** Row shape and score recomputation for one probe answer: every hit
    * belongs to an asked query, each query has ranks 1..n with n == k (or
    * n <= k when `atMostK`), no id twice, scores non-increasing, and each
    * score equals the cosine against the id's current vector. `vecOf`
    * returns the accepted vectors of an id (more than one only where the
    * index contract allows an older version to surface).
    */
  def probeShape(hits: Seq[Hit], queries: Map[Long, Array[Float]], k: Int, atMostK: Boolean,
                 vecOf: Long => Seq[Array[Float]]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    hits.filterNot(h => queries.contains(h.qid)).take(1)
      .foreach(h => problems += s"hit for unknown query ${h.qid}")
    val byQ = hits.groupBy(_.qid)
    for ((qid, qv) <- queries.toSeq.sortBy(_._1)) {
      val hs = byQ.getOrElse(qid, Nil).sortBy(_.rank)
      if (hs.isEmpty && !atMostK) problems += s"query $qid: no rows"
      if (!atMostK && hs.nonEmpty && hs.size != k) problems += s"query $qid: ${hs.size} rows, want $k"
      if (hs.size > k) problems += s"query $qid: ${hs.size} rows > k=$k"
      if (hs.map(_.rank) != (1 to hs.size).map(_.toLong)) problems += s"query $qid: ranks ${hs.map(_.rank)}"
      if (hs.map(_.vecId).distinct.size != hs.size) problems += s"query $qid: repeated id"
      if (hs.zip(hs.drop(1)).exists { case (a, b) => b.score > a.score + Tol })
        problems += s"query $qid: scores not descending"
      for (h <- hs) {
        val cands = vecOf(h.vecId)
        if (cands.isEmpty) problems += s"query $qid: unknown id ${h.vecId}"
        else if (!cands.exists(v => math.abs(round6(cosine(qv, v)) - h.score) <= Tol))
          problems += s"query $qid: id ${h.vecId} score ${h.score} does not match its vector"
      }
    }
    problems.result()
  }

  /** An exact top-k answer must carry the true top-k scores, rank by rank
    * (ids may differ only among tied scores, which the shape check pins).
    */
  def exactMatch(hits: Seq[Hit], truth: Map[Long, Array[(Long, Double)]]): Seq[String] = {
    val byQ = hits.groupBy(_.qid)
    truth.toSeq.sortBy(_._1).flatMap { case (qid, want) =>
      val got = byQ.getOrElse(qid, Nil).sortBy(_.rank).map(_.score)
      if (got.size != want.length) Some(s"query $qid: ${got.size} rows, exact top-k has ${want.length}")
      else got.zip(want).zipWithIndex.collectFirst {
        case ((g, (_, w)), r) if math.abs(g - w) > Tol => s"query $qid rank ${r + 1}: score $g, exact $w"
      }
    }
  }

  /** Mean recall of the returned ids against the exact top-k ids. */
  def recall(hits: Seq[Hit], truth: Map[Long, Array[(Long, Double)]]): Double = {
    val byQ = hits.groupBy(_.qid)
    val per = truth.toSeq.map { case (qid, want) =>
      val got = byQ.getOrElse(qid, Nil).map(_.vecId).toSet
      if (want.isEmpty) 1.0 else want.count(w => got.contains(w._1)).toDouble / want.length
    }
    if (per.isEmpty) 1.0 else per.sum / per.size
  }

  /** Read-your-writes: a query equal to a just-written vector returns that
    * id at rank 1 with score 1.0.
    */
  def readYourWrites(hits: Seq[Hit], written: Map[Long, Long]): Seq[String] = {
    val top = hits.filter(_.rank == 1).map(h => (h.qid, h)).toMap
    written.toSeq.sortBy(_._1).flatMap { case (qid, id) =>
      top.get(qid) match {
        case None => Some(s"query $qid: no rank-1 row for written id $id")
        case Some(h) if h.vecId != id || math.abs(h.score - 1.0) > Tol =>
          Some(s"query $qid: rank 1 is ${h.vecId} @ ${h.score}, want $id @ 1.0")
        case _ => None
      }
    }
  }

  /** Curation invariants over the pipeline's output ids: unique doc_id, no
    * two survivors with the same cleaned text, the pipeline's own planted
    * copies (doc_id >= 1000000) gone, and of each planted copy pair whose
    * cleaned texts are equal, at most one kept. `cleanedOf` gives the text
    * the pipeline sees after its own dirt planting and cleaning.
    */
  def curation(outIds: Seq[Long], cleanedOf: Long => Option[String], copyOf: Map[Long, Long]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (outIds.isEmpty) problems += "empty output"
    val dupIds = outIds.groupBy(identity).collect { case (id, v) if v.size > 1 => id }
    if (dupIds.nonEmpty) problems += s"repeated doc_id ${dupIds.toSeq.sorted.take(3)}"
    val planted = outIds.filter(_ >= 1000000L)
    if (planted.nonEmpty) problems += s"pipeline-planted copies survived: ${planted.take(3)}"
    val unknown = outIds.filter(id => id < 1000000L && cleanedOf(id).isEmpty)
    if (unknown.nonEmpty) problems += s"unknown doc_id ${unknown.take(3)}"
    val texts = outIds.flatMap(cleanedOf)
    if (texts.distinct.size != texts.size) problems += "two survivors share a cleaned text"
    val out = outIds.toSet
    val both = copyOf.filter { case (c, s) => out.contains(c) && out.contains(s) && cleanedOf(c) == cleanedOf(s) }
    if (both.nonEmpty) problems += s"copy and source both kept: ${both.take(3)}"
    problems.result()
  }

  final case class Verdict(docId: Long, disposition: String, matched: Long)

  /** Stream verdicts: every batch doc classified exactly once; re-sends are
    * `exact_dup` of the lowest store id with that text, novel documents are
    * `new`, and every verdict (near_dup included) equals the classification
    * of the union of all batches in one call.
    */
  def streamVerdicts(got: Seq[Verdict], exactOf: Map[Long, Long], novel: Set[Long],
                     union: Map[Long, Verdict]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val byId = got.groupBy(_.docId)
    val repeated = byId.collect { case (id, v) if v.size > 1 => id }
    if (repeated.nonEmpty) problems += s"doc classified more than once: ${repeated.toSeq.sorted.take(3)}"
    val missing = union.keySet -- byId.keySet
    if (missing.nonEmpty) problems += s"${missing.size} docs not classified, e.g. ${missing.toSeq.sorted.take(3)}"
    val extra = byId.keySet -- union.keySet
    if (extra.nonEmpty) problems += s"unexpected docs ${extra.toSeq.sorted.take(3)}"
    for ((id, vs) <- byId.toSeq.sortBy(_._1); v = vs.head) {
      exactOf.get(id) match {
        case Some(s) if v != Verdict(id, "exact_dup", s) => problems += s"doc $id: $v, want exact_dup of $s"
        case None if v.disposition == "exact_dup" => problems += s"doc $id: exact_dup of nothing"
        case _ =>
      }
      if (novel.contains(id) && v != Verdict(id, "new", -1L)) problems += s"doc $id: $v, want new"
      union.get(id).filter(_ != v).foreach(u => problems += s"doc $id: stream says $v, one call says $u")
    }
    problems.result()
  }
}
