package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._
import graft.streaming.EventStream

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String, val tracer: Tracer) {
  private var n = 0
  /** A fresh directory under the run's work directory. */
  def dir(name: String): String = { n += 1; s"$work/$name-$n" }
}

/** What the timed phase saw: latencies of the workload's operation, items
  * served, and every checked operation with its failures.
  */
final class Stats {
  val latencies = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var timedS = 0.0
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  val recall = mutable.ArrayBuffer.empty[Double]

  /** Count one checked operation. */
  def check(what: String, found: Seq[String]): Unit = {
    attempted += 1
    if (found.nonEmpty) { failed += 1; if (problems.size < 20) problems += s"$what: ${found.take(3).mkString("; ")}" }
  }
}

trait Workload {
  /** Generate inputs and write them where graft reads them (untimed). */
  def prepare(ctx: Ctx): Unit
  /** The program's set-up calls; timed, repeated, the last one kept. */
  def setup(ctx: Ctx): Unit
  /** Untimed cycles that warm the JIT and Spark's caches. */
  def warmup(ctx: Ctx, st: Stats): Unit
  /** One rotation through the workload's requests, closed loop; `timed`
    * rotations feed the end-to-end metrics.
    */
  def cycle(ctx: Ctx, i: Int, st: Stats, timed: Boolean): Unit
}

object Workloads {
  val Names: Seq[String] = Seq("ann", "text")

  def apply(name: String): Workload = name match {
    case "ann"  => new Ann
    case "text" => new Text
    case other => throw new IllegalArgumentException(s"unknown workload '$other'; one of ${Names.mkString(", ")}")
  }

  // ---------------------------------------------------------------- helpers

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  def vecFrame(spark: SparkSession, ids: Array[Long], labels: Array[Int], vecs: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(ids.indices.map(i =>
      Row(ids(i), labels(i), scala.collection.immutable.ArraySeq.unsafeWrapArray(vecs(i)))).asJava, VecSchema)

  val QuerySchema: StructType = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("qlabel", LongType, nullable = false)))

  def queryFrame(spark: SparkSession, qs: Seq[Gen.Query]): DataFrame =
    spark.createDataFrame(qs.map(q =>
      Row(q.qid, scala.collection.immutable.ArraySeq.unsafeWrapArray(q.vec), q.label.toLong)).asJava, QuerySchema)

  def hitsOf(df: DataFrame): Seq[Check.Hit] =
    df.select(col("qid"), col("vec_id"), col("score"), col("rank")).collect().toSeq.map(r =>
      Check.Hit(r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).doubleValue, r.getAs[Number](3).longValue))

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  def docFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(docs.map(d => Row(d.docId, d.lang, d.text)).asJava, DocSchema)

  /** Write each batch as one parquet file `dir/batch-NNN.parquet`, in one
    * Spark job, with strictly increasing mtimes: the file stream source
    * orders its files by them.
    */
  def writeBatchFiles(spark: SparkSession, batches: Seq[Seq[Gen.Doc]], dir: String): Unit = {
    val tmp = dir + ".tmp"
    val rows = batches.zipWithIndex.flatMap { case (b, j) => b.map(d => Row(d.docId, d.lang, d.text, j)) }
    spark.createDataFrame(rows.asJava, DocSchema.add("b", IntegerType))
      .repartition(col("b")).write.partitionBy("b").parquet(tmp)
    new java.io.File(dir).mkdirs()
    val t0 = System.currentTimeMillis() - 1000000L
    for (j <- batches.indices) {
      val part = new java.io.File(s"$tmp/b=$j").listFiles().filter(_.getName.endsWith(".parquet"))
      require(part.length == 1, s"batch $j was written as ${part.length} files")
      val f = new java.io.File(f"$dir/batch-$j%03d.parquet")
      java.nio.file.Files.move(part.head.toPath, f.toPath)
      f.setLastModified(t0 + j * 1000L)
    }
    deleteTree(new java.io.File(tmp))
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}


import Workloads._

// ------------------------------------------------------------------------ ann

/** The vector half. Set-up builds an IVF index with PQ codes and graphs over
  * a Gaussian-mixture corpus. Each rotation sends, one after another: seven
  * 16-query requests over that fresh index (never appended, so the probe's
  * last-writer-wins window is skipped), one bulk request, and on a copy of
  * the index that takes writes, an append, a read of what was just written,
  * and a maintenance pass.
  */
final class Ann extends Workload {
  val N = 4000; val Dim = 32; val Clusters = 16; val Spread = 0.6
  val K = 10; val SmallQ = 16; val BulkQ = 256
  val Batch = 500; val DebtRatio = 1.2
  val Small: Seq[String] = Seq("ivf.probe", "ivf.multiprobe", "ivf.filtered", "ivf.sql", "pq.probe",
    "graph.probe", "knn.exact")

  var mix: Gen.Mixture = _
  var data: Gen.Vectors = _
  var corpusPath: String = _
  var index: String = _
  var cb: Pq.Codebooks = _

  // the write index and what the benchmark knows it holds
  var writeIndex: String = _
  var centroids: Array[(Long, Array[Float])] = _
  val current = mutable.HashMap.empty[Long, Array[Float]]
  val label = mutable.HashMap.empty[Long, Int]
  /** Older versions a probe may still return: a re-upsert that moved to
    * another list leaves its old row in the old list until compaction.
    */
  val stale = mutable.HashMap.empty[Long, List[Array[Float]]]
  var nextId = 0L
  var appends = 0

  def prepare(ctx: Ctx): Unit = {
    mix = new Gen.Mixture(ctx.seed, Dim, Clusters, Spread)
    data = Gen.corpus(mix, ctx.seed, N)
    corpusPath = ctx.dir("corpus")
    vecFrame(ctx.spark, data.ids, data.labels, data.vecs).write.parquet(corpusPath)
  }

  def setup(ctx: Ctx): Unit = {
    val dir = ctx.dir("index")
    val spark = ctx.spark
    ctx.tracer.op("ivf.build")(IvfIndex.build(spark, spark.read.parquet(corpusPath), dir))
    cb = ctx.tracer.op("pq.build") {
      val c = Pq.train(spark, spark.read.parquet(corpusPath), m = 8, k = 16, seed = 42L)
      Pq.buildCodes(spark, dir, c); c
    }._1
    ctx.tracer.op("graph.build")(GraphAnn.buildGraphs(spark, dir, 8, 32))
    index = dir
  }

  def warmup(ctx: Ctx, st: Stats): Unit = {
    // the write index: a file copy of the fresh index's layout
    writeIndex = ctx.dir("write-index")
    for (part <- Seq("centroids", "points", "_meta.json"))
      copyTree(new java.io.File(s"$index/$part"), new java.io.File(s"$writeIndex/$part"))
    data.ids.indices.foreach { i => current(data.ids(i)) = data.vecs(i); label(data.ids(i)) = data.labels(i) }
    nextId = N.toLong
    centroids = ctx.spark.read.parquet(IvfIndex.centroidsPath(index)).collect().map(r =>
      (r.getAs[Number]("label").longValue, r.getSeq[Number](1).map(_.floatValue).toArray)).sortBy(_._1)
    probe(ctx, "ivf.probe", -1, st, timed = false)
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs(); src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else if (!src.getName.endsWith(".crc")) java.nio.file.Files.copy(src.toPath, dst.toPath)

  def cycle(ctx: Ctx, i: Int, st: Stats, timed: Boolean): Unit = {
    for ((kind, j) <- Small.zipWithIndex) probe(ctx, kind, i * 16 + j, st, timed)
    probe(ctx, "ivf.bulk", i * 16 + 15, st, timed)
    write(ctx, st, timed)
  }

  private def call(ctx: Ctx, kind: String, qdf: DataFrame): (Seq[Check.Hit], Double) = {
    val spark = ctx.spark
    ctx.tracer.lazyOp(kind) {
      kind match {
        case "ivf.probe"      => IvfIndex.probe(spark, index, qdf, k = K, nprobe = 1)
        case "ivf.multiprobe" => IvfIndex.probe(spark, index, qdf, k = K, nprobe = 4)
        case "ivf.bulk"       => IvfIndex.probe(spark, index, qdf, k = K, nprobe = 4)
        case "ivf.filtered"   => IvfIndex.probeFiltered(spark, index, qdf, k = K, nprobe = 1)
        case "ivf.sql"        => IvfIndex.probeSql(spark, index, qdf, k = K, nprobe = 1)
        case "pq.probe"       => Pq.probeCompressed(spark, index, cb, qdf, k = K, nprobe = 1, shortlist = 100)
        case "graph.probe"    => GraphAnn.probeGraph(spark, index, qdf, k = K, nprobe = 1, ef = 64)
        case "knn.exact"      => Knn.topK(qdf, spark.read.parquet(corpusPath), K)
      }
    }(hitsOf)
  }

  /** One read request against the fresh index, then its checks. */
  private def probe(ctx: Ctx, kind: String, stream: Int, st: Stats, timed: Boolean): Unit = {
    val bulk = kind == "ivf.bulk"
    val qs = Gen.queries(mix, data, ctx.seed, stream, count = if (bulk) BulkQ else SmallQ,
      firstQid = (stream + 1000).toLong * 10000)
    ctx.tracer.newRequest()
    val (hits, secs) = call(ctx, kind, queryFrame(ctx.spark, qs))
    if (timed) {
      st.timedS += secs; st.items += qs.size
      if (!bulk) st.latencies += secs
    }
    val filtered = kind == "ivf.filtered"
    val vecOf: Long => Seq[Array[Float]] = id => if (id >= 0 && id < N) Seq(data.vecs(id.toInt)) else Nil
    val shape = Check.probeShape(hits, qs.map(q => (q.qid, q.vec)).toMap, K, atMostK = filtered, vecOf)
    val labelOk = if (!filtered) Nil else {
      val want = qs.map(q => (q.qid, q.label)).toMap
      hits.filter(h => h.vecId >= 0 && h.vecId < N && data.labels(h.vecId.toInt) != want(h.qid)).take(1)
        .map(h => s"query ${h.qid}: id ${h.vecId} fails the label filter")
    }
    val truth = if (filtered) Map.empty[Long, Array[(Long, Double)]] else
      qs.take(32).map(q => (q.qid, Check.exactTopK(q.vec, data.ids, data.vecs, K))).toMap
    val exact = if (kind == "knn.exact") Check.exactMatch(hits, truth) else Nil
    st.check(kind, shape ++ labelOk ++ exact)
    if (!filtered && kind != "knn.exact") st.recall += Check.recall(hits.filter(h => truth.contains(h.qid)), truth)
  }

  private def listOf(v: Array[Float]): Long =
    centroids.maxBy { case (l, c) => (Check.round6(Check.cosine(v, c)), -l) }._1

  /** Append a batch to the write index, read it back, then maintain. */
  private def write(ctx: Ctx, st: Stats, timed: Boolean): Unit = {
    val spark = ctx.spark
    appends += 1
    val up = Gen.upsertBatch(mix, ctx.seed, appends, Batch, nextId, label)
    val df = vecFrame(spark, up.ids, up.labels, up.vecs)
    ctx.tracer.newRequest()
    val (_, appendS) = ctx.tracer.op("ivf.append")(IvfIndex.append(spark, df, writeIndex))
    up.ids.indices.foreach { j =>
      val id = up.ids(j)
      current.get(id).foreach { old =>
        if (listOf(old) != listOf(up.vecs(j))) stale(id) = old :: stale.getOrElse(id, Nil)
      }
      current(id) = up.vecs(j); label(id) = up.labels(j)
    }
    nextId += up.ids.count(_ >= nextId)

    // 8 of the vectors just written, 8 generated queries
    val written = (0 until 8).map(j => up.ids(j * (Batch / 8)))
    val qBase = (appends + 100000).toLong * 10000
    val qs = written.zipWithIndex.map { case (id, j) => Gen.Query(qBase + j, label(id), current(id)) } ++
      Gen.queries(mix, data, ctx.seed, stream = 50000 + appends, count = SmallQ - 8, firstQid = qBase + 8)
    val (hits, readS) = ctx.tracer.lazyOp("ivf.fresh_read")(
      IvfIndex.probe(spark, writeIndex, queryFrame(spark, qs), k = K, nprobe = 1))(hitsOf)
    val (rep, maintainS) = ctx.tracer.op("ivf.maintain")(IvfIndex.maintain(spark, writeIndex, debtRatio = DebtRatio))
    if (timed) {
      st.timedS += appendS + readS + maintainS; st.items += Batch + qs.size
      st.latencies += appendS; st.latencies += readS
    }
    val vecOf: Long => Seq[Array[Float]] = id => current.get(id).toSeq ++ stale.getOrElse(id, Nil)
    st.check("ivf.append+fresh_read",
      Check.probeShape(hits, qs.map(q => (q.qid, q.vec)).toMap, K, atMostK = false, vecOf) ++
        Check.readYourWrites(hits, written.zipWithIndex.map { case (id, j) => (qBase + j, id) }.toMap))
    if (rep.compacted) stale.clear()
    st.check("ivf.maintain",
      if (rep.livePoints == current.size.toLong) Nil
      else Seq(s"maintain saw ${rep.livePoints} live points, want ${current.size}"))
  }
}

// ----------------------------------------------------------------------- text

/** The training-data half. Each rotation runs the full curation pipeline
  * over a generated corpus, then a file stream of arriving document batches
  * (one file per micro-batch) classified against a store's dedup artifacts,
  * which set-up builds.
  */
final class Text extends Workload {
  val Docs = 1000
  val Store = 3000; val Batches = 5; val BatchSize = 180

  var corpus: Gen.Corpus = _
  var docsPath: String = _
  var cleanedOf: Map[Long, String] = _
  var firstDigest: Option[String] = None

  var gen: Gen.Stream = _
  var storePath: String = _
  var srcDir: String = _
  var artifacts: String = _
  var union: Map[Long, Check.Verdict] = _

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    corpus = Gen.documents(ctx.seed, Docs)
    // the pipeline plants dirt on doc_id % 3 == 0 (tabs and a "\u0007  tail  "
    // suffix) before cleaning; on generated text that cleans to text + " tail"
    cleanedOf = corpus.docs.map(d => (d.docId, if (d.docId % 3 == 0) d.text + " tail" else d.text)).toMap
    docsPath = ctx.dir("docs")
    docFrame(spark, corpus.docs.toSeq).write.parquet(docsPath)

    gen = Gen.stream(ctx.seed, Store, Batches, BatchSize)
    storePath = ctx.dir("store")
    docFrame(spark, gen.store.toSeq).write.parquet(storePath)
    srcDir = ctx.dir("batches")
    writeBatchFiles(spark, gen.batches.toSeq.map(_.toSeq), srcDir)
  }

  def setup(ctx: Ctx): Unit = {
    val dir = ctx.dir("artifacts")
    ctx.tracer.op("incremental.artifacts")(Incremental.buildStoreArtifacts(ctx.spark.read.parquet(storePath), dir))
    artifacts = dir
  }

  def warmup(ctx: Ctx, st: Stats): Unit = {
    // the reference verdicts: every batch doc classified in one call
    union = ctx.tracer.lazyOp("incremental.classify")(Incremental.incrementalDedupAgainstArtifacts(
      docFrame(ctx.spark, gen.batches.flatten.toSeq), artifacts))(_.collect())._1.toSeq.map { r =>
      val v = Check.Verdict(r.getAs[Number]("doc_id").longValue, r.getAs[String]("disposition"),
        r.getAs[Number]("matched_store_id").longValue)
      (v.docId, v)
    }.toMap
  }

  def cycle(ctx: Ctx, i: Int, st: Stats, timed: Boolean): Unit = {
    curate(ctx, st, timed)
    ctx.tracer.newRequest()
    val (verdicts, secs, prog) = runStream(ctx, srcDir)
    if (timed) {
      st.timedS += secs; st.items += verdicts.size
      st.latencies ++= prog.map(_.durationMs.get("triggerExecution").doubleValue / 1e3)
    }
    st.check("stream", Check.streamVerdicts(verdicts, gen.exactOf, gen.novel, union) ++
      (if (prog.size == Batches) Nil else Seq(s"${prog.size} micro-batches, want $Batches")))
  }

  private def runStream(ctx: Ctx, src: String): (Seq[Check.Verdict], Double, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    val spark = ctx.spark
    val out = ctx.dir("verdicts"); val ckpt = ctx.dir("checkpoint")
    val docs = spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1).parquet(src)
    val t0 = System.nanoTime()
    val q = EventStream.classifyAgainstStore(docs, artifacts, out, ckpt).start()
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    q.exception.foreach(e => throw e)
    val verdicts = spark.read.parquet(out).collect().toSeq.map(r =>
      Check.Verdict(r.getAs[Number]("doc_id").longValue, r.getAs[String]("disposition"),
        r.getAs[Number]("matched_store_id").longValue))
    (verdicts, secs, q.recentProgress.toSeq.filter(_.numInputRows > 0))
  }

  private def curate(ctx: Ctx, st: Stats, timed: Boolean): Unit = {
    val docs = ctx.spark.read.parquet(docsPath)
    ctx.tracer.newRequest()
    val (rows, secs) = ctx.tracer.lazyOp("curation.pipeline")(Curation.curationPipelineOf(docs))(_.collect())
    if (timed) { st.timedS += secs; st.items += Docs }
    val ids = rows.toSeq.map(_.getAs[Number]("doc_id").longValue)
    val digest = Gen.digest(rows.iterator.map(_.toSeq.mkString("|")))
    val same = firstDigest match {
      case Some(d) if d != digest => Seq("output digest differs from the first call's")
      case _ => firstDigest = Some(digest); Nil
    }
    st.check("curation.pipeline", Check.curation(ids, cleanedOf.get, corpus.copyOf) ++ same)
    if (ctx.tracer.traced) stages(ctx, docs)
  }

  /** The pipeline's stages, each through its public function on the
    * previous stage's materialized output (traced runs only).
    */
  private def stages(ctx: Ctx, docs: DataFrame): Unit = {
    val t = ctx.tracer
    val survivors = t.lazyOp("text.exact_dedup") {
      val cleaned = docs.select(col("doc_id"), col("lang"), Cleaning.cleanText(col("text")).as("text"))
      TextAnalysis.dedupSurvivorsOf(cleaned)
    }(_.localCheckpoint(true))._1
    val rebuilt = t.lazyOp("text.sentence_dedup")(TextAnalysis.fuzzySentenceDedupOf(survivors))(
      _.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("cleaned").as("text")).localCheckpoint(true))._1
    val bench = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"), lower(col("text")).as("text"))
    val corpusSide = rebuilt.filter(col("doc_id") % 97 =!= 0)
    val decon = t.lazyOp("text.decon")(TextAnalysis.decontaminateAgainst(
      corpusSide.select(col("doc_id"), lower(col("text")).as("text")), bench))(hits =>
      corpusSide.join(hits.filter(col("contaminated") === 1).select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(true))._1
    val sel = t.lazyOp("text.select")(TextAnalysis.percentileSelectOf(decon, TextAnalysis.SelectQuantile))(_.localCheckpoint(true))._1
    t.lazyOp("text.pack")(TextPipeline.packSequencesOf(
      decon.join(sel.select(col("doc_id")), Seq("doc_id"), "left_semi")))(_.collect())
  }
}
