package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** The corpus side of the engine: the durable-index lifecycle for both
  * index stacks, IVF (`Similarity`, paths) over a seeded Gaussian-mixture
  * vector corpus and the MinHash corpus index (`Dedup`, catalog tables)
  * over seeded documents split by
  * source the way the lifecycle queries split them. Per family: fit,
  * write 90%, append 10%, load in a `newSession()`; then a closed loop of
  * single-query probes against both; then delete and compact. A
  * traced run adds the oracle-gated corpus queries (`CorpusQueries`) over
  * the same documents, after the measured work, for the builder/action
  * split of the `queries` layer. */
object CorpusWorkload extends Workload {
  val Vectors = 6000
  val Dim = 64
  val Clusters = 16
  val QueryCount = 16
  val Docs = 800
  val K = 10
  val WarmupRounds = 4
  val MinHashThreshold = 0.8

  /** `tables` holds `documents.parquet` (the queries' table) and
    * `vectors.parquet`. */
  final case class Inputs(
      tables: String, vectors: String, documents: String,
      corpus: IndexedSeq[Array[Float]], queries: IndexedSeq[Array[Float]],
      docs: IndexedSeq[Gen.Doc])

  def sizes: Map[String, Any] = Map("queries" -> Metrics.Queries, "vectors" -> Vectors, "dim" -> Dim,
    "mixture_clusters" -> Clusters, "probe_queries" -> QueryCount, "documents" -> Docs)

  def prepare(run: Run, dir: String): Inputs = {
    val spark = run.spark
    val vecs = Gen.vectors(Vectors + QueryCount, Dim, Clusters, run.seed)
    import spark.implicits._
    vecs.take(Vectors).zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("id", "v").repartition(1).write.parquet(s"$dir/vectors.parquet")
    val docs = Gen.documents(Docs, run.seed + 1)
    Gen.writeDocuments(spark, docs, s"$dir/documents.parquet")
    Inputs(dir, s"$dir/vectors.parquet", s"$dir/documents.parquet",
      vecs.take(Vectors), vecs.drop(Vectors), docs)
  }

  /** One durable index family, driven only through its public verbs. */
  private abstract class Family(val name: String, val floor: Double) {
    def fitAndWrite(run: Run): Unit
    def append(): Unit
    def load(fresh: SparkSession): Unit
    /** The partial probe the loop times: result ids. */
    def probe(q: Int): Seq[Long]
    def delete(ids: DataFrame): Unit
    def compact(spark: SparkSession): Unit
    /** Rows the last [[load]] sees. */
    def liveCount(): Long
    /** Bytes of the live data the index holds, per live row. */
    def rowBytes: Double
    def storage: Seq[java.nio.file.Path]
  }

  /** Vector families share the corpus split and the query set. */
  private abstract class VectorFamily(n: String, f: Double, ctx: Ctx) extends Family(n, f) {
    val path = s"${ctx.run.dir}/idx/$n"
    def storage: Seq[java.nio.file.Path] = Seq(Paths.get(path))
    def rowBytes: Double = 8 + 4.0 * Dim
    /** Exhaustive probe (all lists / all buckets / rerank everything). */
    def fullProbe(qv: Array[Float]): Seq[(Long, Double)]
  }

  private final class Ctx(val run: Run, val in: Inputs) {
    val spark: SparkSession = run.spark
    val corpus: DataFrame = spark.read.parquet(in.vectors)
    val build: DataFrame = corpus.filter(pmod(col("id"), lit(10)) =!= 9)
    val delta: DataFrame = corpus.filter(pmod(col("id"), lit(10)) === 9)
    var fresh: SparkSession = _
    def freshCorpus: DataFrame = fresh.read.parquet(in.vectors)
    def query(q: Int): Array[Float] = in.queries(q % in.queries.size)
    def queryDf(s: SparkSession, qv: Array[Float]): DataFrame = {
      import s.implicits._
      Seq(Tuple1(qv.toSeq)).toDF("qv")
    }
  }

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
  private def idSims(df: DataFrame): Seq[(Long, Double)] =
    df.select("id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def families(ctx: Ctx, docs: DocsCtx): Seq[Family] = {
    val run = ctx.run
    val id = col("id")
    val v = col("v")
    val ivfLists = 16
    Seq(
      new VectorFamily("ivf", 0.5, ctx) {
        var cents: Array[Array[Float]] = _
        var lists: DataFrame = _
        def fitAndWrite(run: Run): Unit = {
          val (_, (c, indexed)) = run.step("operators.ivf.fit")(Similarity.ivfIndex(ctx.build, id, v, ivfLists))
          run.step("operators.ivf.write")(Similarity.writeIvfIndex(c, indexed, path))
        }
        def append(): Unit = Similarity.appendToIvfIndex(ctx.delta, id, v, path)
        def load(fresh: SparkSession): Unit = {
          val (c, l) = Similarity.loadIvfIndex(fresh, path); cents = c; lists = l
        }
        def probe(q: Int): Seq[Long] = ids(Similarity.ivfTopK(cents, lists, ctx.query(q), K, nProbe = 4))
        def fullProbe(qv: Array[Float]): Seq[(Long, Double)] =
          idSims(Similarity.ivfTopK(cents, lists, qv, K, nProbe = ivfLists))
        def delete(d: DataFrame): Unit = Similarity.deleteFromIvfIndex(d, id, path)
        def compact(s: SparkSession): Unit = Similarity.compactIvfIndex(s, path)
        def liveCount(): Long = lists.count()
      },
      new MinHashFamily(ctx, docs))
  }

  /** Documents split by source as the lifecycle queries split them:
    * `src0` is the probe shard, `src8`/`src12` arrive as the appended
    * shard, everything else is the initial build. `exactPairs` are the
    * probe shard's near-dup pairs, found exhaustively. */
  private final class DocsCtx(ctx: Ctx, val exactPairs: Set[(Long, Long)]) {
    val all: DataFrame = ctx.spark.read.parquet(ctx.in.documents)
    val shardSrc = Seq("src8", "src12")
    val build: DataFrame = all.filter(col("source") =!= "src0" && !col("source").isin(shardSrc: _*))
    val delta: DataFrame = all.filter(col("source").isin(shardSrc: _*))
    /** The single-document probes: the probe shard's documents that have
      * a near duplicate in the corpus. A probe that finds one runs more of
      * the verification than one that does not, and a seed decides how
      * many of the shard's documents do, so only one kind is timed. */
    val probes: IndexedSeq[(Long, String)] = {
      val shard = ctx.in.docs.filter(_.source == "src0")
      val hits = exactPairs.map(_._1)
      val found = shard.filter(d => hits(d.id))
      (if (found.nonEmpty) found else shard).map(d => (d.id, d.text))
    }
    val meanTextBytes: Double =
      ctx.in.docs.map(_.text.getBytes("UTF-8").length.toDouble).sum / ctx.in.docs.size
  }

  private final class MinHashFamily(ctx: Ctx, docs: DocsCtx) extends Family("minhash", 1.0) {
    // A plain SQL identifier, unique to this run.
    val prefix = "pb_" + ctx.run.trace.runId.replace("-", "").take(12) + "_mh"
    var loaded: Dedup.CorpusIndex = _
    val threshold = MinHashThreshold
    def fitAndWrite(run: Run): Unit = {
      val (_, built) = run.step("operators.minhash.fit")(
        Dedup.corpusIndex(docs.build, col("doc_id"), col("text")))
      run.step("operators.minhash.write")(Dedup.writeCorpusIndex(built, prefix))
      built.rel.unpersist(blocking = true); built.banded.unpersist(blocking = true)
    }
    def append(): Unit = Dedup.appendToCorpusIndex(docs.delta, col("doc_id"), col("text"), prefix)
    def load(fresh: SparkSession): Unit = loaded = Dedup.loadCorpusIndex(fresh, prefix)
    def probe(q: Int): Seq[Long] = {
      val s = ctx.fresh
      import s.implicits._
      val (docId, text) = docs.probes(q % docs.probes.size)
      nearDups(Seq((docId, text)).toDF("doc_id", "text")).map(_._2)
    }
    /** (new_id, corpus_id) pairs of `shard` against the loaded index. */
    def nearDups(shard: DataFrame): Seq[(Long, Long)] =
      Dedup.nearDupAgainstIndex(shard, col("doc_id"), col("text"), loaded, threshold,
        persistNewRel = false)
        .select("new_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def delete(d: DataFrame): Unit = Dedup.deleteFromCorpusIndex(d, col("id"), prefix)
    def compact(s: SparkSession): Unit = Dedup.compactCorpusIndex(s, prefix)
    def liveCount(): Long = loaded.rel.count()
    def rowBytes: Double = 8 + docs.meanTextBytes
    def storage: Seq[java.nio.file.Path] = {
      val wh = Paths.get(s"${ctx.run.dir}/warehouse")
      if (!Files.exists(wh)) Nil
      else Files.list(wh).iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSeq
    }
  }

  /** Exact top-k ids of query `q` by cosine, in plain Scala (ties by id). */
  private def exactTopK(in: Inputs, q: Int): Set[Long] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
      s
    }
    val qv = in.queries(q)
    val qn = math.sqrt(dot(qv, qv))
    in.corpus.indices.map(i => (-dot(in.corpus(i), qv) / (math.sqrt(dot(in.corpus(i), in.corpus(i))) * qn), i.toLong))
      .sorted.take(K).map(_._2).toSet
  }

  /** Every (probe-shard doc, corpus doc) pair whose word 3-gram Jaccard
    * reaches `threshold`, in plain Scala: the exhaustive answer the index
    * probe approximates. */
  private def exactNearDups(docs: Seq[Gen.Doc], threshold: Double): Set[(Long, Long)] = {
    def shingles(text: String): Set[String] = {
      val toks = text.trim.toLowerCase.split("\\s+")
      if (toks.length < 3) Set(toks.mkString(" ")) else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val (shard, corpus) = docs.map(d => (d.id, d.source, shingles(d.text))).partition(_._2 == "src0")
    (for {
      (a, _, sa) <- shard
      (b, _, sb) <- corpus
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= threshold
    } yield (a, b)).toSet
  }

  private def storageStats(paths: Seq[java.nio.file.Path]): (Long, Long) = {
    val files = paths.filter(Files.exists(_)).flatMap { p =>
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
    (files.size.toLong, files.map(Files.size(_)).sum)
  }

  def execute(run: Run, in: Inputs): Unit = {
    val ctx = new Ctx(run, in)
    val docs = new DocsCtx(ctx, exactNearDups(in.docs, MinHashThreshold))
    val fams = families(ctx, docs)
    val spark = run.spark

    // The batch, timed as the user pays it: the first pass after set-up.
    var batchS = 0.0
    // Build: fit, write 90%, append 10%, load in a fresh session.
    fams.foreach { f =>
      f.fitAndWrite(run)
      run.step(s"operators.${f.name}.append")(f.append())
    }
    ctx.fresh = spark.newSession()
    fams.foreach(f => run.step(s"operators.${f.name}.load")(f.load(ctx.fresh)))
    run.metric("retained_mb", run.retainedHeapMb(), "MB")
    run.note("indexes built and loaded")

    // Closed loop of single-query probes, one family after another, after
    // warm-up rounds that leave JIT and codegen warm.
    val results = fams.map(f => f.name -> mutable.Map[Int, Seq[Long]]()).toMap
    for (q <- 0 until WarmupRounds; f <- fams) run.op(s"operators.${f.name}.probe.warmup")(f.probe(q))
    run.note("probes warm")
    val t0 = System.nanoTime()
    var round = 0
    while (round < 3 || (System.nanoTime() - t0) / 1e9 < run.seconds) {
      fams.foreach { f =>
        val (_, r) = run.op(s"operators.${f.name}.probe")(f.probe(round))
        r.foreach(ids => results(f.name).getOrElseUpdate(round % QueryCount, ids))
      }
      round += 1
    }
    run.metric("op_s", fams.map(f => run.median(s"operators.${f.name}.probe")).sum, "s")
    run.note(s"probe loop done, $round rounds")

    // Recall of the partial probes against exact top-k (outside the loop).
    val vecFams = fams.collect { case v: VectorFamily => v }
    val exact: Map[Int, Set[Long]] = in.queries.indices.map(q => q -> exactTopK(in, q)).toMap
    vecFams.foreach { f =>
      val got = results(f.name)
      val recall = got.map { case (q, ids) => (ids.toSet & exact(q)).size.toDouble / K }.sum / got.size
      run.metric(s"operators.${f.name}.recall_at_10", recall, "ratio")
      run.check(s"operators.${f.name}.recall_floor", recall >= f.floor,
        f"recall@10 $recall%.3f below the family's floor ${f.floor}")
    }
    val mh = fams.collect { case m: MinHashFamily => m }.head
    val exactPairs = docs.exactPairs
    val shardDf = docs.all.filter(col("source") === "src0").select("doc_id", "text")
    val found = mh.nearDups(shardDf).toSet
    val mhRecall = if (exactPairs.isEmpty) 1.0 else (found & exactPairs).size.toDouble / exactPairs.size
    run.metric("operators.minhash.recall_at_10", mhRecall, "ratio")
    run.check("operators.minhash.recall_floor", mhRecall >= mh.floor,
      s"found ${(found & exactPairs).size} of ${exactPairs.size} near-dup pairs")
    run.check("operators.minhash.pairs_exact", found.subsetOf(exactPairs),
      s"${(found -- exactPairs).size} pairs the exhaustive join does not have")

    run.note("recall checked")
    // Delete, then compact. The deleted vectors include the exact top-k of
    // the first query, so a probe that resurrects one shows it.
    val q0 = in.queries.head
    val delVec: Set[Long] = exactTopK(in, 0) ++ (0L until Vectors.toLong by 97L)
    val delDocs: Set[Long] = exactPairs.map(_._2).take(exactPairs.size / 2 + 1) ++
      (0L until Docs.toLong by 41L).filter(i => i % 20 != 0)
    val (delVecDf, delDocDf) = {
      import spark.implicits._
      (delVec.toSeq.toDF("id"), delDocs.toSeq.toDF("id"))
    }
    val expectTop = idSims(Similarity.bruteForceTopK(
      ctx.corpus.filter(!col("id").isin(delVec.toSeq: _*)), col("id"), col("v"),
      ctx.queryDf(spark, q0), K))
    val docLive = in.docs.count(d => d.source != "src0" && !delDocs(d.id))

    /** Reload every index in a fresh session: no deleted id may come
      * back, and after compaction the full probe must equal brute force
      * over the survivors. */
    def verify(stage: String, full: Boolean): Unit = {
      ctx.fresh = spark.newSession()
      fams.foreach(_.load(ctx.fresh))
      vecFams.foreach { f =>
        val got = if (full) f.fullProbe(q0) else f.probe(0).map(id => (id, 0.0))
        if (full) run.check(s"operators.${f.name}.full_probe_exact", got == expectTop,
          s"full probe $got, brute force over survivors $expectTop")
        val back = got.map(_._1).toSet & delVec
        run.check(s"operators.${f.name}.no_deleted_after_$stage", back.isEmpty,
          s"deleted ids returned: $back")
      }
      val pairs = mh.nearDups(shardDf).toSet
      val expected = exactPairs.filterNot(p => delDocs(p._2))
      run.check(s"operators.minhash.pairs_after_$stage", pairs == expected,
        s"${(pairs -- expected).size} extra, ${(expected -- pairs).size} missing pairs")
    }

    fams.foreach { f =>
      run.step(s"operators.${f.name}.delete")(f.delete(if (f eq mh) delDocDf else delVecDf))
    }
    run.note("deleted")
    verify("delete", full = false)
    run.note("verified after delete")
    fams.foreach(f => run.step(s"operators.${f.name}.compact")(f.compact(spark)))
    run.note("compacted")
    verify("compact", full = true)
    run.note("verified after compact")

    var (indexBytes, liveBytes) = (0.0, 0.0)
    fams.foreach { f =>
      val live = f.liveCount()
      val expected = if (f eq mh) docLive else Vectors - delVec.size
      run.check(s"operators.${f.name}.live_count", live == expected,
        s"live rows $live after compaction, expected $expected")
      val (files, bytes) = storageStats(f.storage)
      run.metric(s"operators.${f.name}.files", files.toDouble, "count")
      run.metric(s"operators.${f.name}.bytes", bytes.toDouble, "bytes")
      indexBytes += bytes
      liveBytes += live * f.rowBytes
    }
    run.metric("operators.space_ratio", indexBytes / liveBytes, "ratio")

    val verbs = Seq("fit", "write", "append", "delete", "compact")
    fams.foreach { f =>
      (verbs ++ Seq("load")).foreach { v =>
        val ss = run.samples.filter(_.name == s"operators.${f.name}.$v")
        if (ss.nonEmpty) run.metric(s"operators.${f.name}.${v}_s", ss.map(_.seconds).sum, "s")
        if (v != "load") batchS += ss.map(_.seconds).sum
      }
      run.metric(s"operators.${f.name}.probe_s", run.median(s"operators.${f.name}.probe"), "s")
    }
    run.metric("batch_s", batchS, "s")
    if (run.traced) {
      CorpusQueries.pass(run, in.tables)
      CorpusQueries.layerMetrics(run)
      Expressions.probe(run)
    }
  }
}
