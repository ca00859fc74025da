package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** Durable index lifecycle — "build once, probe for weeks" as gated
  * code, not prose (the round-14 verdict's last documented-but-prose
  * 100 TB swap point):
  *
  *   - MinHash corpus index: [[Dedup.writeCorpusIndex]] lands the band
  *     and verification relations as BUCKETED tables;
  *     [[Dedup.loadCorpusIndex]] in a FRESH session must probe
  *     bit-equal to the same-session build, and the probe's candidate
  *     join must be exchange-free on the bucketed corpus side (the
  *     whole point of the layout: the nightly shard pays only its own
  *     shuffle, never a re-shuffle of the 100 TB index).
  *   - Index APPEND (round-16): [[Dedup.appendToCorpusIndex]] folds a
  *     new shard into the durable tables via `insertInto` (writes
  *     through the catalog bucket spec). Gates: append→reload→probe
  *     bit-equal to a FROM-SCRATCH rebuild on the unioned corpus, the
  *     exchange-free plan still green on the appended table, and
  *     straddling pairs (probe × old corpus AND probe × appended
  *     shard) both present — growth without the corpus-sized rebuild.
  *   - IVF ANN index: [[Similarity.writeIvfIndex]] lands posting lists
  *     in flat files sorted by list id, one contiguous list range per
  *     file; a reloaded [[Similarity.ivfTopK]] probe must be bit-equal to
  *     the same-session probe, its scan must push the `list IN (…)`
  *     filter down, and only the files whose list interval covers a
  *     probed list may return rows (pruning, not filtering).
  *
  * "Fresh session" is `spark.newSession()` — separate session state
  * (separate temp views, confs, cached plans) over the shared
  * metastore, the same isolation a next-day probe job has.
  *
  * Every fixture below is order-independent (shared `lazy val`s, built
  * by whichever test runs first — a `-z` single-test run still works)
  * and lands under per-run names/paths, so concurrent suite runs never
  * collide on a shared warehouse or /tmp. */
class IndexLifecycleSpec extends SparkSpec {

  private def tmpDir(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${name}_$runId"

  private def scansOf(p: SparkPlan): Seq[FileSourceScanExec] =
    p.collect { case f: FileSourceScanExec => f }

  /** Each data file directly under `dir` as ([min, max] of the integral
    * `column` over its row groups, row count), read from the footers,
    * sorted by min. A file without rows has the empty interval
    * (Long.MaxValue, Long.MinValue). */
  private def fileIntervals(dir: String, column: String): Seq[(Long, Long, Long)] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    d.getFileSystem(conf).listStatus(d).filter(_.getPath.getName.endsWith(".parquet"))
      .toSeq.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        val blocks = try r.getFooter.getBlocks.asScala.toSeq finally r.close()
        val stats = blocks.map(_.getColumns.asScala
          .find(_.getPath.toDotString == column).get.getStatistics)
        (stats.map(_.genericGetMin.asInstanceOf[Number].longValue).foldLeft(Long.MaxValue)(_ min _),
          stats.map(_.genericGetMax.asInstanceOf[Number].longValue).foldLeft(Long.MinValue)(_ max _),
          blocks.map(_.getRowCount).sum)
      }.sortBy(_._1)
  }

  /** For each of `stripes`, the number of files under `dir` whose
    * `column` interval covers it: the files a one-stripe probe opens. */
  private def filesPerStripe(dir: String, column: String, stripes: Seq[Long]): Map[Long, Int] = {
    val files = fileIntervals(dir, column)
    stripes.map(s => s -> files.count { case (lo, hi, _) => lo <= s && s <= hi }).toMap
  }

  /** The files of one write cover disjoint stripe intervals. */
  private def assertDisjoint(files: Seq[(Long, Long, Long)], column: String): Unit =
    files.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"$column intervals overlap: $files")
      case _ =>
    }

  /** The scan pushes a comparison on `column` (`In`, `EqualTo`) down to
    * the parquet reader, where footer and row-group statistics answer it. */
  private def pushesFilterOn(scan: FileSourceScanExec, column: String): Boolean =
    scan.metadata.get("PushedFilters").exists(_.contains(s"($column,"))

  /** The distinct values of `list` in the posting lists under `dir`. */
  private def listsIn(dir: String): Seq[Long] =
    spark.read.parquet(dir).select(col("list").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq

  /** The MAXIMAL subtree whose only data source is `table` — i.e. the
    * whole join side fed by that table's scan, up to (but not
    * including) the operator that merges it with anything else. An
    * exchange in here means the bucketed layout was ignored; an
    * exchange above it belongs to the other (shard) side and is
    * expected. */
  private def subtreeWithTable(p: SparkPlan, table: String): Option[SparkPlan] = {
    val candidates = p.collect {
      case n if {
        val scans = scansOf(n)
        val named = scans.flatMap(_.tableIdentifier.map(_.table))
        scans.nonEmpty && scans.size == named.size && named.forall(_ == table)
      } => n
    }
    if (candidates.isEmpty) None
    else Some(candidates.maxBy(_.collect { case x => x }.size))
  }

  /** Asserts the probe plan reads BOTH bucketed index relations with
    * zero exchange — the layout guarantee the lifecycle exists for.
    * Broadcast and AQE off so the no-exchange plan is genuinely the
    * bucket co-location, not a small-side shortcut (BucketedJoinSpec's
    * discipline); persistNewRel=false keeps the probe plan lazy so the
    * join is visible (the default path eagerly pins its result). */
  private def assertExchangeFreeProbe(prefix: String): Unit = {
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val loaded = Dedup.loadCorpusIndex(fresh, prefix)
    val probe = Dedup.nearDupAgainstIndex(
      Tables.documents(fresh, sf).filter(col("source") === "src0"),
      col("doc_id"), col("text"), loaded, threshold = 0.8,
      persistNewRel = false)
    val plan = probe.queryExecution.executedPlan
    val bandedSide = subtreeWithTable(plan, s"${prefix}_banded")
    assert(bandedSide.isDefined, s"banded table scan not found in:\n$plan")
    val exchanges = bandedSide.get.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.isEmpty,
      s"bucketed corpus side still shuffles:\n${bandedSide.get}")
    // The verification side is bucketed by id — that join must also
    // read the corpus relation exchange-free.
    val relSide = subtreeWithTable(plan, s"${prefix}_rel")
    assert(relSide.isDefined, s"rel table scan not found in:\n$plan")
    assert(relSide.get.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"bucketed rel side still shuffles:\n${relSide.get}")
  }

  private def probePairs(
      s: org.apache.spark.sql.SparkSession,
      index: Dedup.CorpusIndex): Seq[Row] =
    Dedup.nearDupAgainstIndex(
        Tables.documents(s, sf).filter(col("source") === "src0"),
        col("doc_id"), col("text"), index, threshold = 0.8)
      .orderBy("new_id", "corpus_id").collect().toSeq

  /** Write-once fixture: index on everything-but-src0, landed as
    * bucketed tables; `same` is the same-session build's probe. */
  private lazy val writtenIndex: (String, Seq[Row]) = {
    val prefix = s"graft_idx_lc_$runId"
    val corpus = Tables.documents(spark, sf).filter(col("source") =!= "src0")
    val built = Dedup.corpusIndex(corpus, col("doc_id"), col("text"))
    val same = probePairs(spark, built)
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    (prefix, same)
  }

  test("MinHash index: fresh-session reload probe ≡ same-session build probe, bit-equal") {
    val (prefix, same) = writtenIndex
    val fresh = spark.newSession()
    val loaded = Dedup.loadCorpusIndex(fresh, prefix)
    assert((loaded.n, loaded.k, loaded.bands) === ((3, 60, 20)),
      "meta must pin the build's shingle/signature scheme")
    val reload = probePairs(fresh, loaded)
    assert(same.nonEmpty, "fixture must produce near-dup pairs")
    assert(reload === same, "reloaded probe must be bit-equal to the build probe")
  }

  test("MinHash index: reloaded probe join is exchange-free on the bucketed corpus side") {
    assertExchangeFreeProbe(writtenIndex._1)
  }

  test("loadCorpusIndex: a wrong prefix fails with a message naming it") {
    val e = intercept[IllegalArgumentException] {
      Dedup.loadCorpusIndex(spark.newSession(), s"graft_no_such_$runId")
    }
    assert(e.getMessage.contains(s"graft_no_such_$runId"))
    val bad = intercept[IllegalArgumentException] {
      Dedup.loadCorpusIndex(spark, "bad-prefix; DROP TABLE x")
    }
    assert(bad.getMessage.contains("identifier"))
  }

  /** Append fixture. Old corpus = everything except src0/src8/src12;
    * appended shard = src8 ∪ src12. The src0 probe has true pairs in
    * BOTH halves (src2/src10/src11 old, src8/src12 appended — verified
    * against the exhaustive oracle at this sf), so the gates exercise
    * genuine straddling, not just old-corpus recall. `rebuilt` is the
    * from-scratch index on the unioned corpus — the expensive path the
    * append replaces, and its probe is the equivalence target. */
  private lazy val appendedIndex: (String, Seq[Row]) = {
    val prefix = s"graft_idx_ap_$runId"
    val docs = Tables.documents(spark, sf)
    val shardSrc = Seq("src8", "src12")
    val corpus0 = docs.filter(col("source") =!= "src0" &&
      !col("source").isInCollection(shardSrc))
    val shard = docs.filter(col("source").isInCollection(shardSrc))
    val built = Dedup.corpusIndex(corpus0, col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    Dedup.appendToCorpusIndex(shard, col("doc_id"), col("text"), prefix)
    val rebuilt = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
    val rebuildProbe = probePairs(spark, rebuilt)
    rebuilt.unpersist()
    (prefix, rebuildProbe)
  }

  test("append: reload→probe ≡ from-scratch rebuild probe on the unioned corpus, straddling pairs found") {
    val (prefix, rebuildProbe) = appendedIndex
    val fresh = spark.newSession()
    val loaded = Dedup.loadCorpusIndex(fresh, prefix)
    val appended = probePairs(fresh, loaded)
    assert(appended === rebuildProbe,
      "appended-index probe must be bit-equal to a from-scratch rebuild's")
    // Straddle: the probe must surface pairs against the OLD corpus and
    // against the APPENDED shard — i.e. the append really extended the
    // index rather than replacing or missing it.
    val srcOf = Tables.documents(fresh, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hitSrcs = appended.map(r => srcOf(r.getLong(1))).toSet
    assert(hitSrcs.exists(Set("src8", "src12")),
      s"no pair against the appended shard (hit sources: $hitSrcs)")
    assert(hitSrcs.exists(s => s != "src8" && s != "src12"),
      s"no pair against the original corpus (hit sources: $hitSrcs)")
  }

  test("append: probe join still exchange-free on the appended bucketed tables") {
    // insertInto writes THROUGH the catalog bucket spec, so the scan's
    // hash-distribution guarantee must survive the extra file per
    // bucket (only the per-file sort guarantee is lost, which the
    // probe join never relied on).
    assertExchangeFreeProbe(appendedIndex._1)
  }

  test("append: a prefix with no index fails with a message naming it") {
    val shard = Tables.documents(spark, sf).filter(col("source") === "src8")
    val e = intercept[IllegalArgumentException] {
      Dedup.appendToCorpusIndex(
        shard, col("doc_id"), col("text"), s"graft_no_idx_$runId")
    }
    assert(e.getMessage.contains(s"graft_no_idx_$runId"))
  }

  test("IVF index: write → fresh-session reload → probe ≡ build probe; probe scan partition-prunes to the probed lists") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    val same = Similarity.ivfTopK(centroids, indexed, qv, k = 10, nProbe = 3)
      .collect().toSeq
    val path = tmpDir("ivf_lc")
    Similarity.writeIvfIndex(centroids, indexed, path)

    val fresh = spark.newSession()
    // AQE off so the executed plan is walkable for the scan assertion
    // (AdaptiveSparkPlanExec hides its stages from SparkPlan.collect).
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val (cents2, indexed2) = Similarity.loadIvfIndex(fresh, path)
    assert(cents2.length === centroids.length)
    assert(cents2.zip(centroids).forall { case (a, b) => a.sameElements(b) },
      "reloaded centroids must be bit-equal, in list order")
    val probe = Similarity.ivfTopK(cents2, indexed2, qv, k = 10, nProbe = 3)
    assert(probe.collect().toSeq === same,
      "reloaded probe must be bit-equal to the build probe")
    // Stripe pruning: the write's files cover disjoint list intervals,
    // and the posting-list scan pushes the probe's `list IN (…)` down to
    // their statistics (unprobed lists' files return no rows).
    assertDisjoint(fileIntervals(s"$path/lists", "list"), "list")
    // The probe reads its lists on the driver (PointRead) with this
    // pushed filter; its Spark form is the same filter over the scan.
    val scan = scansOf(indexed2.filter(col("list").isin(0, 1, 2)).queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains(s"graft_ivf_lc_$runId")))
    assert(scan.isDefined, "posting-list scan not found")
    assert(pushesFilterOn(scan.get, "list"),
      s"probe filter was not pushed to the scan:\n${scan.get}")
  }

  test("IVF build is partition-invariant: different shuffle-partition counts and input layouts produce bit-identical centroids and assignments") {
    // The r16 regression class: Spark-ML KMeans centroids (k-means||
    // init + partial aggregation) change with the partition layout even
    // at a fixed seed, so the same build at SPARK_GRAFT_CPUS=8 vs 32
    // returned different centroids and flipped q191's partial-probe
    // recall. The deterministic Lloyd fit must not: two sessions with
    // different shuffle-partition counts, fed differently-partitioned
    // input, must build the SAME index — including through the
    // bounded-sample path (fitSampleRows < corpus), whose sample is the
    // smallest (xxhash64(id), id) values — hash-ordered, deterministic —
    // not a partitioning-sensitive Bernoulli draw.
    def build(parts: Int, shuffle: Int,
        fitRows: Long): (Array[Array[Float]], Seq[Row]) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", shuffle.toString)
      val e = Tables.embeddings(s, sf).filter(col("vec_id") =!= 0)
        .repartition(parts)
      val (c, idx) = Similarity.ivfIndex(e, col("vec_id"),
        col("embedding"), nLists = 8, fitSampleRows = fitRows)
      (c, idx.select(col("id"), col("list")).orderBy(col("id"))
        .collect().toSeq)
    }
    for (fitRows <- Seq(100000L, 50L)) {
      val (c1, a1) = build(parts = 3, shuffle = 5, fitRows)
      val (c2, a2) = build(parts = 17, shuffle = 32, fitRows)
      assert(c1.length === c2.length)
      assert(c1.zip(c2).forall { case (x, y) => x.sameElements(y) },
        s"centroids must be bit-identical across partition layouts (fitSampleRows=$fitRows)")
      assert(a1 === a2,
        s"assignments must be identical across partition layouts (fitSampleRows=$fitRows)")
    }
  }

  test("IVF/PQ load: a wrong path fails with a message naming it") {
    val missing = tmpDir("no_such_index")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(spark, missing)
    }
    assert(e1.getMessage.contains(missing))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.loadPqIndex(spark, missing)
    }
    assert(e2.getMessage.contains(missing))
  }

  test("projected column: land as parquet → fresh-session reload → prebuilt probe ≡ build probe") {
    // The fourth named in-session structure. Plain parquet IS the
    // layout (the probe is a full scan of outDim doubles — nothing to
    // prune by); the gate is that the reloaded (id, pv) frame feeds
    // projectedTopKPrebuilt bit-equal to the build session's.
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val projected = Similarity.randomProjection(
      corpus, col("vec_id"), col("embedding"), inDim = 64, outDim = 16)
    val same = Similarity.projectedTopKPrebuilt(
        corpus, col("vec_id"), col("embedding"), projected, query,
        inDim = 64, outDim = 16, shortlist = 50, k = 10)
      .collect().toSeq
    val path = tmpDir("rp_lc")
    projected.write.mode("overwrite").parquet(path)

    val fresh = spark.newSession()
    val reloaded = fresh.read.parquet(path)
    val emb2 = Tables.embeddings(fresh, sf)
    val probe = Similarity.projectedTopKPrebuilt(
        emb2.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        reloaded, emb2.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv")),
        inDim = 64, outDim = 16, shortlist = 50, k = 10)
      .collect().toSeq
    assert(probe === same,
      "reloaded projected-column probe must be bit-equal to the build probe")
  }

  test("PQ index: write → fresh-session reload → probe ≡ build probe, codebooks bit-equal") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val (cbs, encoded) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 2)
    val same = Similarity.pqTopK(cbs, encoded, corpus,
      col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)
      .collect().toSeq
    val path = tmpDir("pq_lc")
    Similarity.writePqIndex(cbs, encoded, path)

    val fresh = spark.newSession()
    val (cbs2, encoded2) = Similarity.loadPqIndex(fresh, path)
    assert(cbs2.map(p => (p._1, p._2)) == cbs.sortBy(p => (p._1, p._2)).map(p => (p._1, p._2)))
    val byKey = cbs.map(p => (p._1, p._2) -> p._3).toMap
    assert(cbs2.forall { case (j, cl, c) => c.sameElements(byKey((j, cl))) },
      "codebook doubles must round-trip parquet bit-exact")
    val probe = Similarity.pqTopK(cbs2, encoded2,
      Tables.embeddings(fresh, sf).filter(col("vec_id") =!= 0),
      col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)
    assert(probe.collect().toSeq === same,
      "reloaded PQ probe must be bit-equal to the build probe")
  }

  test("IVF append: full probe over the appended index ≡ exact brute force on the union; partial probe ≡ frozen-centroid assignment of the union; scan still partition-prunes") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) =!= 3)
    val shard = emb.filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) === 3)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val (centroids, indexed) = Similarity.ivfIndex(
      old, col("vec_id"), col("embedding"), nLists = 8)
    val path = tmpDir("ivf_append")
    Similarity.writeIvfIndex(centroids, indexed, path)
    Similarity.appendToIvfIndex(shard, col("vec_id"), col("embedding"), path)

    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val (cents, lists) = Similarity.loadIvfIndex(fresh, path)
    // Growth really happened: the reloaded lists hold old AND shard ids.
    val ids = lists.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids.exists(_ % 5 == 3) && ids.exists(_ % 5 != 3),
      "appended lists must contain both the old corpus and the shard")
    // Full probe (every list) is assignment-invariant: it must
    // reproduce exact brute force over the UNION — gating that every
    // appended vector is in the index and scored bit-identically.
    val union2 = Tables.embeddings(fresh, sf).filter(col("vec_id") =!= 0)
    val q2 = Tables.embeddings(fresh, sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(
      union2, col("vec_id"), col("embedding"), q2, k = 10).collect().toSeq
    val full = Similarity.ivfTopK(cents, lists, qv, k = 10, nProbe = 8)
      .collect().toSeq
    assert(full === exact,
      "full probe over the appended index must equal exact brute force on the union")
    // Partial probe: bit-equal to the same probe over the union
    // assigned with the SAME frozen centroids — one assignment
    // definition (ivfAssign) on both sides, so the gate pins that
    // append places each shard vector exactly where a bulk
    // frozen-centroid assignment would.
    val bulk = Similarity.ivfAssign(
      union2, col("vec_id"), col("embedding"), cents)
    val partialAppended = Similarity
      .ivfTopK(cents, lists, qv, k = 10, nProbe = 3).collect().toSeq
    val partialBulk = Similarity
      .ivfTopK(cents, bulk, qv, k = 10, nProbe = 3).collect().toSeq
    assert(partialAppended === partialBulk,
      "partial probe over appended lists must equal the frozen-centroid bulk assignment's")
    // The layout guarantee survives the append: the probe scan still
    // pushes the `list IN (…)` filter over the (now two-files-per-stripe)
    // posting lists.
    // (The probe reads its lists on the driver, PointRead, with this
    // pushed filter; its Spark form is the same filter over the scan.)
    val probe = lists.filter(col("list").isin(0, 1, 2))
    val scan = scansOf(probe.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(
        _.toString.contains(s"graft_ivf_append_$runId")))
    assert(scan.isDefined, "posting-list scan not found")
    assert(pushesFilterOn(scan.get, "list"),
      s"probe filter was not pushed to the scan:\n${scan.get}")
  }

  test("PQ append: reload probe ≡ frozen-codebook encode of the union, bit-equal") {
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) =!= 3)
    val shard = emb.filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) === 3)
    val union = emb.filter(col("vec_id") =!= 0)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val (cbs, encoded) = Similarity.pqIndex(
      old, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 2)
    val path = tmpDir("pq_append")
    Similarity.writePqIndex(cbs, encoded, path)
    Similarity.appendToPqIndex(shard, col("vec_id"), col("embedding"), path)

    // Equivalence target: encode the WHOLE union against the same
    // frozen codebooks in one pass (what a bulk build-time encode
    // would have produced) and probe it — pqEncode is the ONE shared
    // encode definition, so appended codes must be byte-identical.
    val bulkProbe = Similarity.pqTopK(cbs,
        Similarity.pqEncode(union, col("vec_id"), col("embedding"), cbs),
        union, col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)
      .collect().toSeq

    val fresh = spark.newSession()
    val (cbs2, codes2) = Similarity.loadPqIndex(fresh, path)
    val union2 = Tables.embeddings(fresh, sf).filter(col("vec_id") =!= 0)
    val probe = Similarity.pqTopK(cbs2, codes2, union2,
      col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)
      .collect().toSeq
    assert(probe === bulkProbe,
      "appended PQ probe must equal the frozen-codebook bulk encode's probe")
    // Growth really happened: the code table holds old AND shard ids.
    val ids = codes2.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids.exists(_ % 5 == 3) && ids.exists(_ % 5 != 3),
      "appended code table must contain both the old corpus and the shard")
  }

  test("IVF batch probe: 1-query batch ≡ per-query ivfTopK; multi-query partial probe keeps the recall floor; reloaded scan partition-prunes") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    val path = tmpDir("ivf_batch")
    Similarity.writeIvfIndex(centroids, indexed, path)

    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val (cents, lists) = Similarity.loadIvfIndex(fresh, path)
    val emb2 = Tables.embeddings(fresh, sf)
    val q0 = emb2.filter(col("vec_id") === 0)
    val qv = q0.select(col("embedding")).collect().head
      .getSeq[Float](0).toArray
    // A batch of one must reproduce the per-query driver form exactly —
    // same probe-list selection (cosine order, list tie-break), same
    // candidate scoring. (Query 0 is not in the corpus, so the batch
    // form's self-exclusion is a no-op here.)
    val single = Similarity.ivfTopK(cents, lists, qv, k = 10, nProbe = 3)
      .collect().toSeq
    val batch1 = Similarity.ivfTopKBatch(cents, lists,
        q0, col("vec_id"), col("embedding"), k = 10, nProbe = 3)
      .orderBy(asc("rank")).select(col("id"), col("sim"))
      .collect().toSeq
    assert(batch1 === single,
      "a 1-query batch must be bit-equal to the per-query ivfTopK probe")
    // Multi-query composition gate: a batch of 5 must equal the 5
    // one-query batches run separately — batching changes the PLAN
    // (one join, shared probed-stripe filter), never any query's
    // answer. (Partial-probe recall QUALITY is fixture-dependent —
    // the absolute contract lives in q78/q192's oracle gates; what
    // the batch form must guarantee is non-contamination.)
    val queries = emb2.filter(col("vec_id") < 5)
    val batch5 = Similarity.ivfTopKBatch(cents, lists,
        queries, col("vec_id"), col("embedding"), k = 10, nProbe = 3)
      .orderBy(asc("query_id"), asc("rank")).collect().toSeq
    val singly = (0L until 5L).flatMap { qid =>
      Similarity.ivfTopKBatch(cents, lists,
          queries.filter(col("vec_id") === qid),
          col("vec_id"), col("embedding"), k = 10, nProbe = 3)
        .orderBy(asc("rank")).collect().toSeq
    }
    assert(batch5 === singly,
      "a 5-query batch must equal the 5 one-query batches run separately")
    // The static probed-lists filter must be pushed into the reloaded
    // scan — the batch probe reads only the probed stripes' files.
    val probe = Similarity.ivfTopKBatch(cents, lists,
      q0, col("vec_id"), col("embedding"), k = 10, nProbe = 3)
    val scan = scansOf(probe.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(
        _.toString.contains(s"graft_ivf_batch_$runId")))
    assert(scan.isDefined, "posting-list scan not found")
    assert(pushesFilterOn(scan.get, "list"),
      s"probed-lists filter was not pushed to the scan:\n${scan.get}")
  }

  test("corpus-index delete: probe ≡ rebuilt-on-survivors; bucketed side still exchange-free through the tombstone anti-join; compaction erases physically, probe unchanged") {
    val prefix = s"graft_idx_del_$runId"
    val docs = Tables.documents(spark, sf)
    val delSrc = Seq("src8", "src12")
    val built = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    val delIds = docs.filter(col("source").isInCollection(delSrc))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // Non-vacuous: before the delete, the probe surfaces pairs against
    // the soon-to-be-deleted docs (the fixture straddles — q190's).
    val before = probePairs(spark, Dedup.loadCorpusIndex(spark, prefix))
    assert(before.exists(r => delIds(r.getLong(1))),
      "fixture must have probe pairs against the to-be-deleted docs")
    Dedup.deleteFromCorpusIndex(
      docs.filter(col("source").isInCollection(delSrc))
        .select(col("doc_id")),
      col("doc_id"), prefix)
    // Equivalence target: an index REBUILT on the surviving corpus.
    val rebuilt = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src0" &&
        !col("source").isInCollection(delSrc)),
      col("doc_id"), col("text"))
    val want = probePairs(spark, rebuilt)
    rebuilt.unpersist()
    val fresh = spark.newSession()
    val got = probePairs(fresh, Dedup.loadCorpusIndex(fresh, prefix))
    assert(got === want,
      "post-delete probe must equal the rebuilt-on-survivors probe")
    assert(got !== before, "the delete must have changed the probe")
    // The logical delete must not cost the layout: the bucketed corpus
    // relations still reach the probe join with ZERO exchange — the
    // tombstone anti-join broadcasts above the pruned scan.
    val fresh2 = spark.newSession()
    fresh2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    fresh2.conf.set("spark.sql.adaptive.enabled", "false")
    val probe = Dedup.nearDupAgainstIndex(
      Tables.documents(fresh2, sf).filter(col("source") === "src0"),
      col("doc_id"), col("text"), Dedup.loadCorpusIndex(fresh2, prefix),
      threshold = 0.8, persistNewRel = false)
    val plan = probe.queryExecution.executedPlan
    val tombstoneDir = new org.apache.hadoop.fs.Path(
      s"${Dedup.corpusIndexRoot(spark, prefix)}/tombstones").toUri.getPath
    for (t <- Seq(s"${prefix}_banded", s"${prefix}_rel")) {
      // Offending = an exchange whose ONLY sources are the bucketed
      // table and its tombstones — i.e. the bucketed side shuffled
      // BEFORE merging with the shard (exchanges above that merge
      // belong to the shard side and are expected, the
      // subtreeWithTable discipline). The tombstones are a directory
      // scan with no table name: matched by location.
      def ok(scan: FileSourceScanExec): Boolean =
        scan.tableIdentifier.exists(_.table == t) ||
          scan.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(tombstoneDir))
      val offending = plan.collect {
        case e: ShuffleExchangeExec if {
          val scans = scansOf(e)
          scans.exists(_.tableIdentifier.exists(_.table == t)) && scans.forall(ok)
        } => e
      }
      assert(offending.isEmpty,
        s"bucketed side of $t shuffles through the tombstone anti-join:\n$plan")
    }
    // Physical erasure: compaction rewrites both tables without the
    // tombstoned rows, drops the tombstones, and the probe is bit-equal.
    Dedup.compactCorpusIndex(spark, prefix)
    // The bucket layout is derived from the catalog, never re-laid on a
    // default: this index was written with 4 buckets and must stay 4.
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_banded"))
      .bucketSpec
    assert(spec.map(_.numBuckets) === Some(4),
      s"compaction must preserve the existing bucket count, got $spec")
    // Compaction re-seeds an EMPTY tombstones relation (loads always
    // anti-join; nothing left to hide).
    assert(spark.read.parquet(s"${Dedup.corpusIndexRoot(spark, prefix)}/tombstones").isEmpty,
      "compaction must leave an empty tombstones relation")
    val fresh3 = spark.newSession()
    val got2 = probePairs(fresh3, Dedup.loadCorpusIndex(fresh3, prefix))
    assert(got2 === want, "compacted probe must equal the tombstoned probe")
    val relIds = spark.table(s"${prefix}_rel").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(relIds.intersect(delIds).isEmpty,
      "compaction must physically remove the deleted docs' index rows")
  }

  /** `rows` as a driver-resident shard: `toDF` over local rows, so the
    * probe's optimized plan is a LocalRelation and it reads by key. */
  private def localShard(
      s: org.apache.spark.sql.SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def docRows(s: org.apache.spark.sql.SparkSession, sources: String*): Seq[(Long, String)] =
    Tables.documents(s, sf).filter(col("source").isInCollection(sources))
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private def sortedPairs(rows: Seq[Row]): Seq[(Long, Long, Double)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted

  test("MinHash point probe ≡ the join on the same documents, as a local and as a parquet shard: fresh load, append, a delete that tombstones a true near-duplicate, compaction") {
    val prefix = s"graft_idx_pt_$runId"
    val docs = Tables.documents(spark, sf)
    val shardSrc = Seq("src8", "src12")
    val built = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src0" && !col("source").isInCollection(shardSrc)),
      col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    val probeDocs = docRows(spark, "src0")
    /** Both paths against a fresh load; the join's pairs. */
    def agree(stage: String): Seq[(Long, Long, Double)] = {
      val fresh = spark.newSession()
      val idx = Dedup.loadCorpusIndex(fresh, prefix)
      def probe(shard: DataFrame): DataFrame =
        Dedup.nearDupAgainstIndex(shard, col("doc_id"), col("text"), idx, threshold = 0.8)
      val joined = sortedPairs(probe(Tables.documents(fresh, sf)
        .filter(col("source") === "src0").select(col("doc_id"), col("text"))).collect())
      val point = probe(localShard(fresh, probeDocs))
      assert(isLocal(point), s"$stage: a local shard must take the point path")
      assert(sortedPairs(point.collect()) === joined,
        s"$stage: the whole shard's point probe must equal the join")
      // One document at a time — the interactive probe's shape: every
      // document with a pair, and two without.
      val withPairs = joined.map(_._1).toSet
      val one = probeDocs.filter(d => withPairs(d._1)) ++
        probeDocs.filterNot(d => withPairs(d._1)).take(2)
      assert(sortedPairs(one.flatMap(d => probe(localShard(fresh, Seq(d))).collect())) ===
        joined, s"$stage: one-document point probes must equal the join")
      joined
    }
    val atWrite = agree("fresh load")
    assert(atWrite.nonEmpty, "fixture must produce near-dup pairs")
    Dedup.appendToCorpusIndex(docs.filter(col("source").isInCollection(shardSrc)),
      col("doc_id"), col("text"), prefix)
    val appendedIds = docRows(spark, shardSrc: _*).map(_._1).toSet
    val afterAppend = agree("after append")
    assert(afterAppend.exists(p => appendedIds(p._2)),
      "the appended shard must contribute pairs")
    val victim = afterAppend.find(p => appendedIds(p._2)).get._2
    Dedup.deleteFromCorpusIndex(localShard(spark, Seq((victim, ""))),
      col("doc_id"), prefix)
    val afterDelete = agree("after delete")
    assert(!afterDelete.exists(_._2 == victim), "the deleted near-duplicate must be gone")
    assert(afterDelete === afterAppend.filterNot(_._2 == victim))
    Dedup.compactCorpusIndex(spark, prefix)
    assert(agree("after compaction") === afterDelete)
  }

  test("MinHash point probe: a local shard above the key bound takes the join, with the same pairs") {
    val (prefix, _) = writtenIndex
    val fresh = spark.newSession()
    val idx = Dedup.loadCorpusIndex(fresh, prefix)
    // 75 documents × 20 bands = 1500 band keys, past the 1024-key bound.
    val srcs = Seq("src0", "src1", "src2")
    val big = Dedup.nearDupAgainstIndex(localShard(fresh, docRows(fresh, srcs: _*)),
      col("doc_id"), col("text"), idx, threshold = 0.8, persistNewRel = false)
    assert(!isLocal(big) && big.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.nonEmpty,
      s"an over-bound shard must take the join:\n${big.queryExecution.optimizedPlan}")
    val parquet = Dedup.nearDupAgainstIndex(
      Tables.documents(fresh, sf).filter(col("source").isInCollection(srcs)),
      col("doc_id"), col("text"), idx, threshold = 0.8)
    val got = sortedPairs(big.collect())
    assert(got.nonEmpty && got === sortedPairs(parquet.collect()))
  }

  test("tombstones are read at load, on both stacks: a handle loaded before a delete still returns the deleted id, a load after it does not") {
    // MinHash corpus index (catalog tables).
    val prefix = s"graft_idx_snap_$runId"
    val built = Dedup.corpusIndex(
      Tables.documents(spark, sf).filter(col("source") =!= "src0"),
      col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    val shard = docRows(spark, "src0")
    def corpusIds(idx: Dedup.CorpusIndex): Set[Long] =
      Dedup.nearDupAgainstIndex(localShard(spark, shard), col("doc_id"), col("text"),
        idx, threshold = 0.8).collect().map(_.getLong(1)).toSet
    val before = Dedup.loadCorpusIndex(spark.newSession(), prefix)
    val victim = corpusIds(before).min
    Dedup.deleteFromCorpusIndex(localShard(spark, Seq((victim, ""))), col("doc_id"), prefix)
    assert(corpusIds(before).contains(victim),
      "a corpus handle loaded before the delete keeps the tombstones of its load")
    assert(!corpusIds(Dedup.loadCorpusIndex(spark.newSession(), prefix)).contains(victim),
      "a corpus load after the delete must not return the deleted id")
    // IVF index (paths).
    val emb = Tables.embeddings(spark, sf)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val (centroids, indexed) = Similarity.ivfIndex(
      emb.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"), nLists = 8)
    val path = tmpDir("ivf_snap")
    Similarity.writeIvfIndex(centroids, indexed, path)
    def topIds(h: (Array[Array[Float]], DataFrame)): Seq[Long] =
      Similarity.ivfTopK(h._1, h._2, qv, k = 10, nProbe = 3).collect().map(_.getLong(0)).toSeq
    val ivfBefore = Similarity.loadIvfIndex(spark.newSession(), path)
    val top = topIds(ivfBefore).head
    Similarity.deleteFromIvfIndex(localShard(spark, Seq((top, ""))), col("doc_id"), path)
    assert(topIds(ivfBefore).contains(top),
      "an IVF handle loaded before the delete keeps the tombstones of its load")
    assert(!topIds(Similarity.loadIvfIndex(spark.newSession(), path)).contains(top),
      "an IVF load after the delete must not return the deleted id")
  }

  test("IVF delete + compact: tombstoned vectors vanish from every probe form; compaction is probe-bit-equal, physically erases, and resets stripe file counts") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val survivors = corpus.filter(pmod(col("vec_id"), lit(5)) =!= 3)
    val deleted = corpus.filter(pmod(col("vec_id"), lit(5)) === 3)
    val qv = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    // Build on 8/10 of the corpus and fold the rest in as two nightly
    // appends, so the compaction below has REAL accretion to undo (the
    // clustered build/append writers already keep one file per stripe
    // per write — accretion is per-append now, which is the point).
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus.filter(pmod(col("vec_id"), lit(10)) < 8),
      col("vec_id"), col("embedding"), nLists = 8)
    val path = tmpDir("ivf_del")
    Similarity.writeIvfIndex(centroids, indexed, path)
    for (night <- Seq(8, 9))
      Similarity.appendToIvfIndex(
        corpus.filter(pmod(col("vec_id"), lit(10)) === night),
        col("vec_id"), col("embedding"), path)
    Similarity.deleteFromIvfIndex(
      deleted.select(col("vec_id")), col("vec_id"), path)

    val fresh = spark.newSession()
    val (cents, lists) = Similarity.loadIvfIndex(fresh, path)
    // Full probe ≡ exact brute force on the SURVIVORS (assignment-
    // invariant — gates that deleted ids are invisible and nothing
    // else moved).
    val s2 = Tables.embeddings(fresh, sf).filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) =!= 3)
    val q2 = Tables.embeddings(fresh, sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val exact = Similarity.bruteForceTopK(
      s2, col("vec_id"), col("embedding"), q2, k = 10).collect().toSeq
    val full = Similarity.ivfTopK(cents, lists, qv, k = 10, nProbe = 8)
      .collect().toSeq
    assert(full === exact,
      "post-delete full probe must equal brute force on the survivors")
    // Partial probe ≡ the same probe over a frozen-centroid assignment
    // of the survivors (delete is an index op; centroids never move).
    val bulk = Similarity.ivfAssign(s2, col("vec_id"), col("embedding"), cents)
    val partial = Similarity.ivfTopK(cents, lists, qv, k = 10, nProbe = 3)
      .collect().toSeq
    val partialBulk = Similarity.ivfTopK(cents, bulk, qv, k = 10, nProbe = 3)
      .collect().toSeq
    assert(partial === partialBulk,
      "post-delete partial probe must equal the survivors' frozen-centroid probe")
    // The batch form routes through the same load — spot the contract.
    val batch = Similarity.ivfTopKBatch(cents, lists,
        q2.withColumn("vec_id", lit(0L)), col("vec_id"), col("qv"),
        k = 10, nProbe = 8)
      .orderBy(asc("rank")).select(col("id"), col("sim")).collect().toSeq
    assert(batch === exact, "batch probe must see the same post-delete index")

    // Compaction: probe bit-equal, tombstones gone, deleted ids
    // physically out of the files, one file per surviving stripe.
    val filesBefore = fileIntervals(s"$path/lists", "list").size
    Similarity.compactIvfIndex(fresh, path)
    // Compaction re-seeds an EMPTY tombstone relation (always present,
    // so loads anti-join unconditionally; nothing left to hide).
    assert(fresh.read.parquet(s"$path/tombstones").isEmpty,
      "compaction must leave an empty tombstone relation")
    val filesAfter = filesPerStripe(s"$path/lists", "list", listsIn(s"$path/lists"))
    assert(filesAfter.values.forall(_ == 1),
      s"each surviving stripe must come back as ONE file, got $filesAfter")
    assertDisjoint(fileIntervals(s"$path/lists", "list"), "list")
    assert(filesBefore > fileIntervals(s"$path/lists", "list").size,
      "compaction must reduce the total file count")
    val fresh4 = spark.newSession()
    val (cents4, lists4) = Similarity.loadIvfIndex(fresh4, path)
    assert(cents4.zip(cents).forall { case (a, b) => a.sameElements(b) })
    assert(Similarity.ivfTopK(cents4, lists4, qv, k = 10, nProbe = 3)
      .collect().toSeq === partial,
      "compacted probe must be bit-equal to the tombstoned probe")
    val delIds = deleted.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val fileIds = fresh4.read.parquet(s"$path/lists").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(fileIds.intersect(delIds).isEmpty,
      "compaction must physically remove the deleted vectors")
  }

  test("LSH + PQ delete/compact: the same two-phase contract on the other structures") {
    val nBits = 8
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val deleted = corpus.filter(pmod(col("vec_id"), lit(5)) === 3)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qv = q.collect().head.getSeq[Float](0).toArray
    val s2 = corpus.filter(pmod(col("vec_id"), lit(5)) =!= 3)

    // LSH: full-ball probe over the tombstoned index ≡ the filter form
    // over the survivors; compact → bit-equal, physically erased.
    val lshPath = tmpDir("lsh_del")
    Similarity.writeLshIndex(
      corpus, col("vec_id"), col("embedding"), nBits, lshPath)
    Similarity.deleteFromLshIndex(
      deleted.select(col("vec_id")), col("vec_id"), lshPath)
    val (nb, buckets) = Similarity.loadLshIndex(spark, lshPath)
    val wantLsh = Similarity.lshTopK(
      Similarity.bucketize(s2, col("vec_id"), col("embedding"), nBits),
      q, k = 10, nBits = nBits, probeHamming = nBits).collect().toSeq
    assert(Similarity.lshTopK(buckets, q, k = 10, nBits = nb,
      probeHamming = nb).collect().toSeq === wantLsh,
      "post-delete LSH full-ball probe must equal the survivors'")
    Similarity.compactLshIndex(spark, lshPath)
    assert(spark.read.parquet(s"$lshPath/tombstones").isEmpty)
    val (nb2, buckets2) = Similarity.loadLshIndex(spark, lshPath)
    assert(nb2 === nBits)
    assert(Similarity.lshTopK(buckets2, q, k = 10, nBits = nb2,
      probeHamming = nb2).collect().toSeq === wantLsh)
    val lshIds = buckets2.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(lshIds.forall(_ % 5 != 3),
      "LSH compaction must physically remove the deleted vectors")

    // PQ: post-delete ADC probe ≡ the survivors' encode under the same
    // frozen codebooks; compact → bit-equal, physically erased.
    val (cbs, encoded) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 2)
    val pqPath = tmpDir("pq_del")
    Similarity.writePqIndex(cbs, encoded, pqPath)
    Similarity.deleteFromPqIndex(
      deleted.select(col("vec_id")), col("vec_id"), pqPath)
    val (cbs2, codes2) = Similarity.loadPqIndex(spark, pqPath)
    val wantPq = Similarity.pqTopK(cbs,
        Similarity.pqEncode(s2, col("vec_id"), col("embedding"), cbs),
        s2, col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)
      .collect().toSeq
    assert(Similarity.pqTopK(cbs2, codes2, s2,
      col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)
      .collect().toSeq === wantPq,
      "post-delete PQ probe must equal the survivors' frozen-codebook probe")
    Similarity.compactPqIndex(spark, pqPath)
    assert(spark.read.parquet(s"$pqPath/tombstones").isEmpty)
    val (cbs3, codes3) = Similarity.loadPqIndex(spark, pqPath)
    assert(Similarity.pqTopK(cbs3, codes3, s2,
      col("vec_id"), col("embedding"), qv, k = 10, rerankN = 100)
      .collect().toSeq === wantPq)
    val pqIds = codes3.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(pqIds.forall(_ % 5 != 3),
      "PQ compaction must physically remove the deleted vectors")
  }

  test("LSH index: write → append → reload; pruned Hamming-ball probe ≡ filter form, ball pushes down to the sorted flat scan") {
    val nBits = 8
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) =!= 3)
    val shard = emb.filter(col("vec_id") =!= 0 &&
      pmod(col("vec_id"), lit(5)) === 3)
    val path = tmpDir("lsh_lc")
    Similarity.writeLshIndex(
      old, col("vec_id"), col("embedding"), nBits, path)
    Similarity.appendToLshIndex(shard, col("vec_id"), col("embedding"), path)

    // Flat layout: data files live DIRECTLY under buckets/ (no
    // bucket= partition directories), bounded by the write fan-out —
    // build + append together stay within 2× the core count here.
    val bdir = new org.apache.hadoop.fs.Path(s"$path/buckets")
    val bfs = bdir.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = bfs.listStatus(bdir)
    assert(!entries.exists(_.isDirectory),
      "flat LSH layout must not create bucket= partition directories")
    val dataFiles = entries.count(s => s.isFile &&
      s.getPath.getName.endsWith(".parquet"))
    assert(dataFiles > 0 &&
      dataFiles <= 2 * spark.sparkContext.defaultParallelism,
      s"flat LSH layout wrote $dataFiles files — expected ≤ 2× fan-out")

    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val (nb, loaded) = Similarity.loadLshIndex(fresh, path)
    assert(nb === nBits, "meta must pin the build's nBits")
    // Growth really happened: buckets hold old AND shard ids.
    val ids = loaded.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids.exists(_ % 5 == 3) && ids.exists(_ % 5 != 3),
      "appended buckets must contain both the old corpus and the shard")
    // lshTopK enumerates a ball of at most 4096 buckets into a pushed
    // `bucket IN (ball)` filter and scans past that; either way it must
    // be bit-equal to an inline Hamming filter with exact top-k.
    val q = Tables.embeddings(fresh, sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    def inlineHamming(bucketed: DataFrame, bits: Int, h: Int): Seq[Row] =
      bucketed.crossJoin(q.withColumn("qbucket",
          graft.functions.VectorFunctions.hyperplaneBucket(col("qv"), bits)))
        .filter(bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= h)
        .withColumn("sim", round(
          graft.functions.VectorFunctions.cosine(col("v"), col("qv")), 4))
        .orderBy(desc("sim"), asc("id")).limit(10).select(col("id"), col("sim"))
        .collect().toSeq
    val pruned = Similarity.lshTopK(
      loaded, q, k = 10, nBits = nb, probeHamming = 2)
    assert(pruned.collect().toSeq === inlineHamming(loaded, nb, 2),
      "pruned Hamming-ball probe must equal the bit_count filter form")
    // The full ball (probeHamming ≥ nBits) is every bucket: the probe
    // scans, with no `bucket IN (…)` filter, and still equals the inline
    // filter.
    val full = Similarity.lshTopK(loaded, q, k = 10, nBits = nb, probeHamming = nb)
    assert(full.collect().toSeq === inlineHamming(loaded, nb, nb),
      "full-ball probe must equal the bit_count filter form")
    assert(!scansOf(full.queryExecution.executedPlan)
      .exists(_.metadata.get("PushedFilters").exists(_.contains("In(bucket"))),
      "a full-ball probe must not enumerate the bucket space")
    // And the ball must reach the SCAN as a pushed-down predicate —
    // the flat layout is sorted by bucket (writeLshBuckets), so the
    // pushed filter prunes at the parquet row-group stats instead of
    // directory names; never a post-scan-only filter over the whole
    // bucketed corpus.
    val scan = scansOf(pruned.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(
        _.toString.contains(s"graft_lsh_lc_$runId")))
    assert(scan.isDefined, "bucketed scan not found")
    assert(scan.get.dataFilters.exists(
      _.references.exists(_.name == "bucket")),
      s"Hamming ball did not reach the scan's data filters:\n${scan.get}")
    assert(scan.get.metadata.get("PushedFilters").exists(_.contains("bucket")),
      s"Hamming ball was not pushed down to parquet:\n${scan.get}")
    // Each side of the cap at 16 bits: a Hamming-4 ball (2,517 buckets)
    // is pushed down, a Hamming-5 one (6,885) is not enumerated at all.
    val path16 = tmpDir("lsh_lc16")
    Similarity.writeLshIndex(
      old, col("vec_id"), col("embedding"), nBits = 16, path16)
    val (nb16, loaded16) = Similarity.loadLshIndex(fresh, path16)
    for ((h, ball) <- Seq(4 -> true, 5 -> false)) {
      val probe = Similarity.lshTopK(loaded16, q, k = 10, nBits = nb16, probeHamming = h)
      assert(probe.collect().toSeq === inlineHamming(loaded16, nb16, h),
        s"Hamming-$h probe must equal the bit_count filter form")
      val pushed = scansOf(probe.queryExecution.executedPlan)
        .exists(_.metadata.get("PushedFilters").exists(_.contains("In(bucket")))
      assert(pushed === ball, s"Hamming-$h ball pushed down: $pushed")
    }
    // A meta/banding divergence is now impossible by construction (the
    // writer bands the raw vectors itself with the nBits it pins); what
    // remains rejectable is an nBits outside HyperplaneBucket64's
    // domain — pinning it would make every later probe/append throw.
    val bad = intercept[IllegalArgumentException] {
      Similarity.writeLshIndex(
        old, col("vec_id"), col("embedding"), nBits = 33, tmpDir("lsh_bad"))
    }
    assert(bad.getMessage.contains("[1, 32]"))
  }

  test("LSH write: one file per write task, and the files' bucket intervals (from the footers) do not overlap") {
    val nBits = 8
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val tasks = spark.sparkContext.defaultParallelism
    // The input populates every task's range ⌊bucket·T / 2^nBits⌋, so
    // every task has rows to write.
    val ranges = Similarity.bucketize(emb, col("vec_id"), col("embedding"), nBits)
      .select(floor(col("bucket") * tasks / (1 << nBits)).as("r"))
      .distinct().count()
    assert(ranges >= tasks, s"fixture populates $ranges of $tasks ranges")
    val path = tmpDir("lsh_files")
    Similarity.writeLshIndex(emb, col("vec_id"), col("embedding"), nBits, path)
    val intervals = fileIntervals(s"$path/buckets", "bucket")
    assert(intervals.size === tasks, s"expected one file per write task ($tasks), got ${intervals.size}")
    assertDisjoint(intervals, "bucket")
  }

  test("IVF flat layout: a probe of 1 list and of nProbe lists reads rows only from the files whose list interval covers them") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val (centroids, indexed) = Similarity.ivfIndex(
      emb, col("vec_id"), col("embedding"), nLists = 8)
    val path = tmpDir("ivf_prune")
    Similarity.writeIvfIndex(centroids, indexed, path)
    val files = fileIntervals(s"$path/lists", "list")
    assertDisjoint(files, "list")
    val present = listsIn(s"$path/lists").sorted
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val (_, lists) = Similarity.loadIvfIndex(fresh, path)
    val total = files.map(_._3).sum
    for (probed <- Seq(Seq(present(present.size / 2)),
        Seq(present.head, present(present.size / 2), present.last))) {
      val probe = lists.filter(col("list").isin(probed.map(_.toInt): _*))
      val rows = probe.collect()
      assert(rows.map(_.getAs[Int]("list").toLong).toSet === probed.toSet)
      val scan = scansOf(probe.queryExecution.executedPlan).head
      assert(pushesFilterOn(scan, "list"), s"probe filter was not pushed:\n$scan")
      val covering = files.filter { case (lo, hi, _) => probed.exists(p => lo <= p && p <= hi) }
      val read = scan.metrics("numOutputRows").value
      assert(read === covering.map(_._3).sum,
        s"a probe of lists $probed read $read rows; the ${covering.size} of " +
          s"${files.size} files covering them hold ${covering.map(_._3).sum}")
      assert(read < total, s"a probe of lists $probed read every row ($total)")
      info(s"lists $probed: ${covering.size} of ${files.size} files, $read of $total rows read")
    }
  }

  test("the live-id guard names up to 5 clashing ids, and ends with \", …\" at 5") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val (centroids, indexed) = Similarity.ivfIndex(
      emb, col("vec_id"), col("embedding"), nLists = 4)
    val path = tmpDir("ivf_clash")
    Similarity.writeIvfIndex(centroids, indexed, path)
    val live = "LIVE id\\(s\\) ([0-9, ]+?)(, …)? already in".r
    def named(shard: DataFrame): (Seq[Long], Boolean) = {
      val e = intercept[IllegalArgumentException](
        Similarity.appendToIvfIndex(shard, col("vec_id"), col("embedding"), path))
      val m = live.findFirstMatchIn(e.getMessage).getOrElse(fail(e.getMessage))
      (m.group(1).split(", ").map(_.toLong).toSeq, m.group(2) != null)
    }
    val (few, fewEllipsis) = named(emb.filter(col("vec_id") <= 3))
    assert(few.sorted === Seq(1L, 2L, 3L) && !fewEllipsis,
      s"3 clashing ids must all be named, without an ellipsis: $few")
    val (many, manyEllipsis) = named(emb.filter(col("vec_id") <= 40))
    assert(many.size === 5 && many.distinct.size === 5 && manyEllipsis,
      s"40 clashing ids must be cut to 5 named ids and an ellipsis: $many")
    assert(many.forall(id => id >= 1 && id <= 40))
  }

  test("compactCorpusIndex leaves the meta table's files untouched") {
    val prefix = s"graft_idx_meta_$runId"
    val docs = Tables.documents(spark, sf)
    val built = Dedup.corpusIndex(docs, col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    Dedup.deleteFromCorpusIndex(docs.limit(3).select(col("doc_id")), col("doc_id"), prefix)
    val loc = new java.net.URI(s"${Dedup.corpusIndexRoot(spark, prefix)}/meta")
    def metaFiles(): Map[String, Long] =
      new java.io.File(loc).listFiles().map(f => f.getName -> f.lastModified).toMap
    val before = metaFiles()
    assert(before.keys.exists(_.endsWith(".parquet")), s"no meta data file: $before")
    Dedup.compactCorpusIndex(spark, prefix)
    assert(metaFiles() === before, "compaction must not rewrite the meta table")
    val loaded = Dedup.loadCorpusIndex(spark.newSession(), prefix)
    assert((loaded.n, loaded.k, loaded.bands) === (built.n, built.k, built.bands))
  }

  test("verb budgets: IVF and MinHash write/append/delete/compact job counts; write + append leaves 2 files per IVF stripe and at most 2 per MinHash bucket") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val (centroids, indexed) = Similarity.ivfIndex(
      emb.filter(pmod(col("vec_id"), lit(5)) =!= 3),
      col("vec_id"), col("embedding"), nLists = 4)
    indexed.count() // the fit's own jobs stay out of the write's count
    val shard = emb.filter(pmod(col("vec_id"), lit(5)) === 3)
    val path = tmpDir("ivf_budget")
    val jobs = scala.collection.mutable.LinkedHashMap[String, Int]()
    jobs("ivf.write") = JobCount(spark)(Similarity.writeIvfIndex(centroids, indexed, path))._2
    jobs("ivf.append") = JobCount(spark)(
      Similarity.appendToIvfIndex(shard, col("vec_id"), col("embedding"), path))._2
    // Every stripe the append touched is covered by the write's file and
    // the append's; the others only by the write's.
    val touched = Similarity.ivfAssign(shard, col("vec_id"), col("embedding"), centroids)
      .select(col("list")).distinct().collect().map(_.getInt(0).toLong).toSeq
    val stripes = filesPerStripe(s"$path/lists", "list", 0L until 4L)
    assert(touched.size === 4, s"the shard must touch every list, touched $touched")
    assert(stripes.values.forall(_ == 2),
      s"write + append must leave 2 files per IVF stripe, got $stripes")
    jobs("ivf.delete") = JobCount(spark)(Similarity.deleteFromIvfIndex(
      shard.filter(pmod(col("vec_id"), lit(2)) === 0).select(col("vec_id")),
      col("vec_id"), path))._2
    jobs("ivf.compact") = JobCount(spark)(Similarity.compactIvfIndex(spark, path))._2

    val prefix = s"graft_idx_budget_$runId"
    val docs = Tables.documents(spark, sf)
    val built = Dedup.corpusIndex(
      docs.filter(!col("source").isin("src0", "src8")), col("doc_id"), col("text"))
    built.banded.count(); built.rel.count()
    jobs("minhash.write") = JobCount(spark)(Dedup.writeCorpusIndex(built, prefix, buckets = 8))._2
    built.unpersist()
    val docShard = docs.filter(col("source") === "src8")
    jobs("minhash.append") = JobCount(spark)(
      Dedup.appendToCorpusIndex(docShard, col("doc_id"), col("text"), prefix))._2
    for (t <- Seq("banded", "rel")) {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_$t")).location
      val perBucket = new java.io.File(loc).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
        .flatMap(n => "_(\\d{5})\\.".r.findFirstMatchIn(n).map(_.group(1)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(perBucket.nonEmpty && perBucket.values.forall(_ <= 2),
        s"write + append must leave at most 2 files per $t bucket, got $perBucket")
    }
    jobs("minhash.delete") = JobCount(spark)(Dedup.deleteFromCorpusIndex(
      docShard.limit(3).select(col("doc_id")), col("doc_id"), prefix))._2
    jobs("minhash.compact") = JobCount(spark)(Dedup.compactCorpusIndex(spark, prefix))._2
    // Budgets at the measured counts (4 cores); a parameter table is
    // read on the driver and the tombstone seed is written there, so no
    // verb spends a job on either. The MinHash delete's second job is
    // its input's own `limit` exchange; its compaction pins nothing (it
    // reads the original files until the swap), and no compaction spends
    // a job on its all-deleted refusal (footer row counts of the copies).
    val budget = Map(
      "ivf.write" -> 4, "ivf.append" -> 7, "ivf.delete" -> 1, "ivf.compact" -> 2,
      "minhash.write" -> 5, "minhash.append" -> 8, "minhash.delete" -> 2,
      "minhash.compact" -> 4)
    info(s"measured $jobs")
    assert(budget.forall { case (verb, n) => jobs(verb) <= n },
      s"job budget exceeded: measured $jobs, budget $budget")
  }

  test("verb budgets: LSH, PQ and IVF+PQ write/append/delete/compact job counts") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val old = emb.filter(pmod(col("vec_id"), lit(5)) =!= 3)
    val shard = emb.filter(pmod(col("vec_id"), lit(5)) === 3)
    val deleted = shard.filter(pmod(col("vec_id"), lit(2)) === 0).select(col("vec_id"))
    val jobs = scala.collection.mutable.LinkedHashMap[String, Int]()
    def lifecycle(family: String)(
        write: => Unit, append: => Unit, delete: => Unit, compact: => Unit): Unit = {
      jobs(s"$family.write") = JobCount(spark)(write)._2
      jobs(s"$family.append") = JobCount(spark)(append)._2
      jobs(s"$family.delete") = JobCount(spark)(delete)._2
      jobs(s"$family.compact") = JobCount(spark)(compact)._2
    }

    val lshPath = tmpDir("lsh_budget")
    lifecycle("lsh")(
      Similarity.writeLshIndex(old, col("vec_id"), col("embedding"), 8, lshPath),
      Similarity.appendToLshIndex(shard, col("vec_id"), col("embedding"), lshPath),
      Similarity.deleteFromLshIndex(deleted, col("vec_id"), lshPath),
      Similarity.compactLshIndex(spark, lshPath))

    val (cbs, encoded) = Similarity.pqIndex(
      old, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 1)
    val pqPath = tmpDir("pq_budget")
    lifecycle("pq")(
      Similarity.writePqIndex(cbs, encoded, pqPath),
      Similarity.appendToPqIndex(shard, col("vec_id"), col("embedding"), pqPath),
      Similarity.deleteFromPqIndex(deleted, col("vec_id"), pqPath),
      Similarity.compactPqIndex(spark, pqPath))

    val (centroids, _) = Similarity.ivfIndex(
      old, col("vec_id"), col("embedding"), nLists = 4)
    val icbs = Similarity.ivfPqFitCodebooks(
      old, col("vec_id"), col("embedding"), centroids, m = 16, ksub = 16, iters = 1)
    val ivfPqPath = tmpDir("ivfpq_budget")
    lifecycle("ivfpq")(
      Similarity.writeIvfPqIndex(centroids, icbs, Similarity.ivfPqEncode(
        old, col("vec_id"), col("embedding"), centroids, icbs), ivfPqPath),
      Similarity.appendToIvfPqIndex(shard, col("vec_id"), col("embedding"), ivfPqPath),
      Similarity.deleteFromIvfPqIndex(deleted, col("vec_id"), ivfPqPath),
      Similarity.compactIvfPqIndex(spark, ivfPqPath))
    // Budgets at the measured counts (4 cores).
    val budget = Map(
      "lsh.write" -> 4, "lsh.append" -> 7, "lsh.delete" -> 1, "lsh.compact" -> 2,
      "pq.write" -> 3, "pq.append" -> 4, "pq.delete" -> 1, "pq.compact" -> 2,
      "ivfpq.write" -> 6, "ivfpq.append" -> 7, "ivfpq.delete" -> 1, "ivfpq.compact" -> 2)
    info(s"measured $jobs")
    assert(budget.forall { case (verb, n) => jobs(verb) <= n },
      s"job budget exceeded: measured $jobs, budget $budget")
  }

  test("parameter tables are read on the driver: loads start no Spark job, and an empty meta table still fails readably") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val (centroids, indexed) = Similarity.ivfIndex(
      emb, col("vec_id"), col("embedding"), nLists = 4)
    val ivfPath = tmpDir("ivf_params")
    Similarity.writeIvfIndex(centroids, indexed, ivfPath)
    val ((cents, _), ivfJobs) = JobCount(spark)(Similarity.loadIvfIndex(spark, ivfPath))
    assert(ivfJobs === 0, s"an IVF load ran $ivfJobs jobs")
    assert(cents.length === centroids.length &&
      cents.zip(centroids).forall { case (a, b) => a.sameElements(b) },
      "centroids must come back bit-equal, in list order")

    val prefix = s"graft_idx_params_$runId"
    val built = Dedup.corpusIndex(Tables.documents(spark, sf), col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    val (loaded, corpusJobs) = JobCount(spark)(Dedup.loadCorpusIndex(spark, prefix))
    assert(corpusJobs === 0, s"a corpus-index load ran $corpusJobs jobs")
    assert((loaded.n, loaded.k, loaded.bands) === (built.n, built.k, built.bands))
    spark.createDataFrame(java.util.List.of[Row](), spark.read.parquet(
        s"${Dedup.corpusIndexRoot(spark, prefix)}/meta").schema)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${Dedup.corpusIndexRoot(spark, prefix)}/meta")
    val e = intercept[IllegalArgumentException](Dedup.loadCorpusIndex(spark, prefix))
    assert(e.getMessage.contains("EMPTY meta table"), e.getMessage)

    val lshPath = tmpDir("lsh_params")
    Similarity.writeLshIndex(emb, col("vec_id"), col("embedding"), 8, lshPath)
    val ((nBits, _), lshJobs) = JobCount(spark)(Similarity.loadLshIndex(spark, lshPath))
    assert(lshJobs === 0 && nBits === 8, s"an LSH load ran $lshJobs jobs")

    val (cbs, encoded) = Similarity.pqIndex(
      emb, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 1)
    val pqPath = tmpDir("pq_params")
    Similarity.writePqIndex(cbs, encoded, pqPath)
    val ((pqCbs, _), pqJobs) = JobCount(spark)(Similarity.loadPqIndex(spark, pqPath))
    assert(pqJobs === 0, s"a PQ load ran $pqJobs jobs")
    assert(pqCbs.map(c => (c._1, c._2, c._3.toSeq)) === cbs.map(c => (c._1, c._2, c._3.toSeq)),
      "codebooks must come back bit-equal, in (j, cl) order")

    val icbs = Similarity.ivfPqFitCodebooks(
      emb, col("vec_id"), col("embedding"), centroids, m = 16, ksub = 16, iters = 1)
    val ivfPqPath = tmpDir("ivfpq_params")
    Similarity.writeIvfPqIndex(centroids, icbs, Similarity.ivfPqEncode(
      emb, col("vec_id"), col("embedding"), centroids, icbs), ivfPqPath)
    val ((_, ivfPqCbs, _), ivfPqJobs) =
      JobCount(spark)(Similarity.loadIvfPqIndex(spark, ivfPqPath))
    assert(ivfPqJobs === 0, s"an IVF+PQ load ran $ivfPqJobs jobs")
    assert(ivfPqCbs.encoding === icbs.encoding)

    import spark.implicits._
    Seq.empty[Int].toDF("n_bits").write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$lshPath/meta")
    val e2 = intercept[IllegalArgumentException](Similarity.loadLshIndex(spark, lshPath))
    assert(e2.getMessage.contains("EMPTY meta table"), e2.getMessage)
  }

  test("IVF+PQ composed index: write → append → reload probe ≡ exact; pruned scan reads CODES not vectors; delete/compact lifecycle; re-ingest guarded") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val old = corpus.filter(pmod(col("vec_id"), lit(5)) =!= 3)
    val shard = corpus.filter(pmod(col("vec_id"), lit(5)) === 3)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qv = q.collect().head.getSeq[Float](0).toArray
    // Frozen artifacts fit on the BUILD corpus (q196's composition).
    val (centroids, _) = Similarity.ivfIndex(
      old, col("vec_id"), col("embedding"), nLists = 8)
    val cbs = Similarity.ivfPqFitCodebooks(
      old, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1)
    val path = tmpDir("ivfpq_lc")
    Similarity.writeIvfPqIndex(centroids, cbs,
      Similarity.ivfPqEncode(
        old, col("vec_id"), col("embedding"), centroids, cbs), path)
    Similarity.appendToIvfPqIndex(
      shard, col("vec_id"), col("embedding"), path)

    val fresh = spark.newSession()
    // AQE off so the executed plan is walkable for the scan assertion
    // (AdaptiveSparkPlanExec hides its stages from SparkPlan.collect).
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val emb2 = Tables.embeddings(fresh, sf)
    val corpus2 = emb2.filter(col("vec_id") =!= 0)
    val (cents, cbs2, codes) = Similarity.loadIvfPqIndex(fresh, path)
    assert(cents.zip(centroids).forall { case (a, b) => a.sameElements(b) },
      "reloaded centroids must be bit-equal")
    assert(cbs2.encoding == cbs.encoding,
      "reloaded artifact must carry the meta-pinned encoding")
    assert(cbs2.codebooks.size == cbs.codebooks.size &&
      cbs2.codebooks.zip(cbs.codebooks).forall {
        case ((j1, c1, a1), (j2, c2, a2)) =>
          j1 == j2 && c1 == c2 && a1.sameElements(a2) },
      "reloaded codebooks must be bit-equal")
    // Composed completeness gate: all lists + corpus-sized rerank ≡
    // exact brute force over the appended union.
    val exact = Similarity.bruteForceTopK(
      corpus2, col("vec_id"), col("embedding"), q, k = 10).collect().toSeq
    val full = Similarity.ivfPqTopK(cents, cbs2, codes, corpus2,
      col("vec_id"), col("embedding"), qv, k = 10, nProbe = 8,
      rerankN = 1 << 20).collect().toSeq
    assert(full === exact,
      "all-lists + corpus-rerank composed probe must equal brute force")
    // The bytes-per-probe gate: the pruned stripe scan reads (id,
    // codes) ONLY — never a float vector column — and the probe filter
    // is pushed to the scan. Asserted on the JOIN-form probe
    // (rerankN past RerankIsinMax keeps the shortlist subtree in the
    // final plan); the parameter-sized form collects the shortlist
    // eagerly, so its code scan runs as its own bounded job and the
    // returned frame carries only the id-IN rerank.
    val joinForm = Similarity.ivfPqTopK(cents, cbs2, codes, corpus2,
      col("vec_id"), col("embedding"), qv, k = 10, nProbe = 3,
      rerankN = 100000)
    val scan = scansOf(joinForm.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(
        _.toString.contains(s"graft_ivfpq_lc_$runId")))
    assert(scan.isDefined, "composed code scan not found")
    assert(pushesFilterOn(scan.get, "list"),
      s"probe filter was not pushed to the scan:\n${scan.get}")
    // `list` is a data column of the flat layout (the pushed filter's
    // column); no float vector column is read.
    assert(scan.get.requiredSchema.fieldNames.toSet === Set("id", "codes", "list"),
      s"the pruned scan must read codes, not vectors — got " +
        s"${scan.get.requiredSchema.fieldNames.mkString(", ")}")
    // The parameter-sized rerank fetches by a PUSHED id filter — and
    // both fetch forms are bit-equal (the same shortlist row set).
    val isinForm = Similarity.ivfPqTopK(cents, cbs2, codes, corpus2,
      col("vec_id"), col("embedding"), qv, k = 10, nProbe = 3,
      rerankN = 50)
    // The pushed filter names the SOURCE column (vec_id here — the
    // "id" alias is the projection above the scan).
    val isinScan = scansOf(isinForm.queryExecution.executedPlan)
      .find(_.metadata.get("PushedFilters").exists(_.contains("In(vec_id")))
    assert(isinScan.isDefined,
      "the parameter-sized rerank must push the id list into the scan:\n" +
        isinForm.queryExecution.executedPlan)
    // Fetch-form equality (join ≡ isin at the SAME shortlist) is gated
    // in the batch-probe test: the batch rerank keeps the join form
    // while the single-query probe collects + pushes, and the two must
    // produce identical rows at rerankN = 50.
    // Delete: probe ≡ the same probe over an index built on the
    // SURVIVORS with the same frozen artifacts.
    val deleted = corpus2.filter(pmod(col("vec_id"), lit(10)) === 2)
    val survivors = corpus2.filter(pmod(col("vec_id"), lit(10)) =!= 2)
    Similarity.deleteFromIvfPqIndex(
      deleted.select(col("vec_id")), col("vec_id"), path)
    val fresh2 = spark.newSession()
    val (_, _, codes2) = Similarity.loadIvfPqIndex(fresh2, path)
    val wantSurv = Similarity.ivfPqTopK(cents, cbs2,
      Similarity.ivfPqEncode(
        survivors, col("vec_id"), col("embedding"), cents, cbs2),
      survivors, col("vec_id"), col("embedding"), qv,
      k = 10, nProbe = 8, rerankN = 1 << 20).collect().toSeq
    val gotSurv = Similarity.ivfPqTopK(cents, cbs2, codes2, survivors,
      col("vec_id"), col("embedding"), qv, k = 10, nProbe = 8,
      rerankN = 1 << 20).collect().toSeq
    assert(gotSurv === wantSurv,
      "post-delete composed probe must equal the rebuilt-on-survivors probe")
    // Re-ingest guard names the composed compaction verb.
    val eR = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(
        deleted, col("vec_id"), col("embedding"), path)
    }
    assert(eR.getMessage.contains("compactIvfPqIndex"))
    // Compact: probe bit-equal, tombstones reset, physical erasure,
    // one file per surviving stripe.
    Similarity.compactIvfPqIndex(fresh2, path)
    assert(fresh2.read.parquet(s"$path/tombstones").isEmpty)
    val fresh3 = spark.newSession()
    val (cents3, cbs3, codes3) = Similarity.loadIvfPqIndex(fresh3, path)
    assert(cents3.zip(cents).forall { case (a, b) => a.sameElements(b) })
    assert(Similarity.ivfPqTopK(cents3, cbs3, codes3, survivors,
      col("vec_id"), col("embedding"), qv, k = 10, nProbe = 8,
      rerankN = 1 << 20).collect().toSeq === wantSurv,
      "compacted composed probe must be bit-equal to the tombstoned probe")
    val delIds = deleted.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val fileIds = fresh3.read.parquet(s"$path/lists").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(fileIds.intersect(delIds).isEmpty,
      "compaction must physically remove the deleted codes")
    val stripeFiles = filesPerStripe(s"$path/lists", "list", listsIn(s"$path/lists"))
    assert(stripeFiles.values.forall(_ == 1),
      s"each surviving stripe must come back as ONE file, got $stripeFiles")
    assertDisjoint(fileIntervals(s"$path/lists", "list"), "list")
  }

  test("IVF+PQ batch probe: full probe + corpus rerank ≡ exhaustive batch KNN; 1-query finite-rerank batch ≡ single-query probe; pruned scan reads codes") {
    val emb = Tables.embeddings(spark, sf)
    val (centroids, _) = Similarity.ivfIndex(
      emb, col("vec_id"), col("embedding"), nLists = 8)
    val cbs = Similarity.ivfPqFitCodebooks(
      emb, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1)
    val path = tmpDir("ivfpq_batch")
    Similarity.writeIvfPqIndex(centroids, cbs,
      Similarity.ivfPqEncode(
        emb, col("vec_id"), col("embedding"), centroids, cbs), path)
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.adaptive.enabled", "false")
    val emb2 = Tables.embeddings(fresh, sf)
    val (cents, cbs2, codes) = Similarity.loadIvfPqIndex(fresh, path)
    val n = emb2.count().toInt
    // Composed completeness: every list probed + every row reranked ≡
    // the exhaustive batch KNN, row for row (q197's oracle contract).
    val batch = Similarity.ivfPqTopKBatch(cents, cbs2, codes,
      emb2, col("vec_id"), col("embedding"),
      emb2.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 5, nProbe = 8, rerankN = n)
    val want = Similarity.bruteForceTopKBatch(
      emb2, col("vec_id"), col("embedding"),
      emb2.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")),
      col("qid"), col("qv"), k = 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(asc("query_id"), asc("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    assert(rows(batch) === rows(want),
      "full-probe corpus-rerank batch must equal exhaustive batch KNN")
    // ADC bit-mirror: at a FINITE rerank the shortlist membership is
    // decided by the batch ADC expression — a 1-query batch must pick
    // the same survivors (and thus the same final rows) as the
    // single-query driver-LUT probe.
    val qv = emb2.filter(col("vec_id") === 0)
      .select(col("embedding")).collect().head.getSeq[Float](0).toArray
    val one = Similarity.ivfPqTopKBatch(cents, cbs2, codes,
        emb2.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        emb2.filter(col("vec_id") === 0), col("vec_id"), col("embedding"),
        k = 10, nProbe = 3, rerankN = 50)
      .select(col("id"), col("sim")).orderBy(asc("rank"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val single = Similarity.ivfPqTopK(cents, cbs2,
        codes.filter(col("id") =!= 0),
        emb2.filter(col("vec_id") =!= 0), col("vec_id"), col("embedding"),
        qv, k = 10, nProbe = 3, rerankN = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(one === single,
      "1-query batch at finite rerank must equal the single-query probe")
    // The scale levers: probe filter pushed to the scan, scan schema is
    // (id, codes) — one long per probed row.
    val scan = scansOf(batch.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(
        _.toString.contains(s"graft_ivfpq_batch_$runId")))
    assert(scan.isDefined, "composed code scan not found")
    assert(pushesFilterOn(scan.get, "list"),
      s"batch probe filter was not pushed to the scan:\n${scan.get}")
    assert(scan.get.requiredSchema.fieldNames.toSet === Set("id", "codes", "list"),
      "the batch probe must read codes (and the list column it prunes by), not vectors")
  }

  test("re-ingesting a tombstoned id fails readably on every append path; compaction makes it legal and the rows visible again") {
    // The churn workflow (delete by mistake, re-add): before the guard,
    // the append landed rows that every load anti-joined away — the id
    // silently vanished until a compaction. Now the append names the
    // fix, and after compaction the re-ingest round-trips.
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val churn = corpus.filter(pmod(col("vec_id"), lit(5)) === 3)
    val churnIds = churn.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet

    // IVF: full delete → append(fails) → compact → append(ok) cycle.
    val ivfPath = tmpDir("ivf_reingest")
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    Similarity.writeIvfIndex(centroids, indexed, ivfPath)
    Similarity.deleteFromIvfIndex(
      churn.select(col("vec_id")), col("vec_id"), ivfPath)
    val e1 = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(
        churn, col("vec_id"), col("embedding"), ivfPath)
    }
    assert(e1.getMessage.contains("compactIvfIndex"),
      s"the error must name the compaction verb, got: ${e1.getMessage}")
    // The refused append mutated nothing: the loaded index still hides
    // the churn ids and holds no duplicate rows.
    val (_, lists1) = Similarity.loadIvfIndex(spark.newSession(), ivfPath)
    val ids1 = lists1.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids1.intersect(churnIds).isEmpty,
      "refused append must not surface tombstoned ids")
    Similarity.compactIvfIndex(spark, ivfPath)
    Similarity.appendToIvfIndex(
      churn, col("vec_id"), col("embedding"), ivfPath)
    val (_, lists2) = Similarity.loadIvfIndex(spark.newSession(), ivfPath)
    val ids2 = lists2.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(churnIds.subsetOf(ids2),
      "post-compaction re-ingest must be visible on the next load")

    // LSH + PQ: the same guard fires with the family's verb named.
    val lshPath = tmpDir("lsh_reingest")
    Similarity.writeLshIndex(
      corpus, col("vec_id"), col("embedding"), nBits = 8, lshPath)
    Similarity.deleteFromLshIndex(
      churn.select(col("vec_id")), col("vec_id"), lshPath)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.appendToLshIndex(
        churn, col("vec_id"), col("embedding"), lshPath)
    }
    assert(e2.getMessage.contains("compactLshIndex"))
    val (cbs, encoded) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 1)
    val pqPath = tmpDir("pq_reingest")
    Similarity.writePqIndex(cbs, encoded, pqPath)
    Similarity.deleteFromPqIndex(
      churn.select(col("vec_id")), col("vec_id"), pqPath)
    val e3 = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(
        churn, col("vec_id"), col("embedding"), pqPath)
    }
    assert(e3.getMessage.contains("compactPqIndex"))

    // Corpus index: same cycle through the catalog-table family.
    val prefix = s"graft_idx_reingest_$runId"
    val docs = Tables.documents(spark, sf)
    val churnDocs = docs.filter(col("source") === "src8")
    val churnDocIds = churnDocs.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val built = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    Dedup.deleteFromCorpusIndex(
      churnDocs.select(col("doc_id")), col("doc_id"), prefix)
    val e4 = intercept[IllegalArgumentException] {
      Dedup.appendToCorpusIndex(
        churnDocs, col("doc_id"), col("text"), prefix)
    }
    assert(e4.getMessage.contains("compactCorpusIndex"),
      s"the error must name the compaction verb, got: ${e4.getMessage}")
    Dedup.compactCorpusIndex(spark, prefix)
    Dedup.appendToCorpusIndex(churnDocs, col("doc_id"), col("text"), prefix)
    val reIds = Dedup.loadCorpusIndex(spark.newSession(), prefix)
      .rel.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(churnDocIds.subsetOf(reIds),
      "post-compaction re-ingest must be visible to a fresh load")
  }

  test("indexHealth + compactIfNeeded: the measured knee becomes policy — below it a no-op, past it the family's compact fires") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val path = tmpDir("ivf_health")
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus.filter(pmod(col("vec_id"), lit(10)) < 8),
      col("vec_id"), col("embedding"), nLists = 8)
    Similarity.writeIvfIndex(centroids, indexed, path)
    for (night <- Seq(8, 9))
      Similarity.appendToIvfIndex(
        corpus.filter(pmod(col("vec_id"), lit(10)) === night),
        col("vec_id"), col("embedding"), path)
    val h = Similarity.indexHealth(spark, path).collect().head
    assert(h.getAs[String]("kind") === "ivf")
    assert(h.getAs[Int]("max_files_per_stripe") >= 2,
      "two nightly appends must show as accreted stripe files")
    assert(h.getAs[Boolean]("tombstone_broadcast_ok"))
    assert(!h.getAs[Boolean]("needs_compaction"),
      "2 files/stripe is far below the measured 64-file knee")
    // Below the knee: a no-op — returns false, layout untouched.
    val filesBefore = fileIntervals(s"$path/lists", "list")
    assert(h.getAs[Int]("n_data_files") === filesBefore.size)
    assert(h.getAs[Int]("max_files_per_stripe") ===
      filesPerStripe(s"$path/lists", "list", 0L until 8L).values.max,
      "max_files_per_stripe must count the files one stripe's probe opens")
    assert(!Similarity.compactIfNeeded(spark, path))
    val filesAfterNoop = fileIntervals(s"$path/lists", "list")
    assert(filesAfterNoop === filesBefore, "below-knee call must not rewrite")
    // Past the knee (knob tightened to the accreted state): fires the
    // IVF compact, resets to one file per stripe, and the health row
    // goes green even at the tight knob.
    assert(Similarity.compactIfNeeded(spark, path, maxFilesPerStripe = 1))
    val h2 = Similarity.indexHealth(spark, path, maxFilesPerStripe = 1)
      .collect().head
    assert(h2.getAs[Int]("max_files_per_stripe") === 1)
    assert(!h2.getAs[Boolean]("needs_compaction"))
    // Tombstone-volume trigger: a delete stream trips the bytes knob.
    Similarity.deleteFromIvfIndex(
      corpus.filter(pmod(col("vec_id"), lit(10)) === 9)
        .select(col("vec_id")), col("vec_id"), path)
    assert(Similarity.compactIfNeeded(spark, path, maxTombstoneBytes = 1L))
    assert(spark.read.parquet(s"$path/tombstones").isEmpty,
      "the fired compaction must have erased the tombstones")
    // Family detection: a wrong path fails readably.
    val e = intercept[IllegalArgumentException] {
      Similarity.indexHealth(spark, tmpDir("nonexistent"))
    }
    assert(e.getMessage.contains("IvfPq/Ivf/Lsh/Pq"))

    // Corpus-table analogue.
    val prefix = s"graft_idx_health_$runId"
    val docs = Tables.documents(spark, sf)
    val built = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src0" && col("source") =!= "src8"),
      col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    Dedup.appendToCorpusIndex(
      docs.filter(col("source") === "src8"), col("doc_id"), col("text"),
      prefix)
    val ch = Dedup.corpusIndexHealth(spark, prefix).collect().head
    assert(ch.getAs[Int]("n_buckets") === 4)
    assert(ch.getAs[Int]("max_files_per_bucket") >= 2,
      "the append must show as accreted bucket files")
    assert(!ch.getAs[Boolean]("needs_compaction"))
    assert(!Dedup.compactCorpusIndexIfNeeded(spark, prefix))
    assert(Dedup.compactCorpusIndexIfNeeded(spark, prefix,
      maxFilesPerBucket = 1))
    val ch2 = Dedup.corpusIndexHealth(spark, prefix, maxFilesPerBucket = 1)
      .collect().head
    assert(ch2.getAs[Int]("max_files_per_bucket") === 1)
    assert(!ch2.getAs[Boolean]("needs_compaction"))
  }

  test("a delete issued AFTER a compaction still hides its id — the snapshot-scoped erase keeps the tombstone relation live") {
    // Compaction must erase exactly the tombstone files it snapshotted
    // (the lost-delete-race discipline): afterwards the relation is
    // empty but APPENDABLE and loads still anti-join it, so the delete
    // lifecycle keeps working across arbitrarily many compactions.
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val delA = corpus.filter(pmod(col("vec_id"), lit(10)) === 1)
    val delB = corpus.filter(pmod(col("vec_id"), lit(10)) === 2)
    val path = tmpDir("ivf_postcompact_del")
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    Similarity.writeIvfIndex(centroids, indexed, path)
    Similarity.deleteFromIvfIndex(
      delA.select(col("vec_id")), col("vec_id"), path)
    Similarity.compactIvfIndex(spark, path)
    Similarity.deleteFromIvfIndex(
      delB.select(col("vec_id")), col("vec_id"), path)
    val fresh = spark.newSession()
    val (_, lists) = Similarity.loadIvfIndex(fresh, path)
    val ids = lists.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ids.forall(i => i % 10 != 1), "compacted-away ids stay gone")
    assert(ids.forall(i => i % 10 != 2),
      "a post-compaction delete must be visible on the next load")
    val tombIds = fresh.read.parquet(s"$path/tombstones")
      .collect().map(_.getLong(0)).toSet
    assert(tombIds.nonEmpty && tombIds.forall(_ % 10 == 2),
      "the tombstone relation must hold exactly the post-compaction batch")
  }

  test("re-appending a LIVE id fails readably on every append path; a disjoint append still lands") {
    // The retried-partial-append workflow: SaveMode.Append is not
    // atomic, so re-running an interrupted nightly append re-lands
    // rows the first attempt committed — before the guard, probes then
    // returned the id twice with every gate green. Each family's
    // append must reject the retry naming the recovery, mutate
    // NOTHING, and still accept a genuinely new shard afterwards.
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val old = corpus.filter(pmod(col("vec_id"), lit(5)) < 3)
    val shard = corpus.filter(pmod(col("vec_id"), lit(5)) === 3)
    val shard2 = corpus.filter(pmod(col("vec_id"), lit(5)) === 4)

    def expectDup(f: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("duplicate LIVE id"),
        s"the error must name the live-duplicate contract, got: " +
          s"${e.getMessage}")
    }

    // IVF.
    val ivfPath = tmpDir("ivf_dup")
    val (centroids, indexed) = Similarity.ivfIndex(
      old, col("vec_id"), col("embedding"), nLists = 8)
    Similarity.writeIvfIndex(centroids, indexed, ivfPath)
    Similarity.appendToIvfIndex(
      shard, col("vec_id"), col("embedding"), ivfPath)
    val preRows = spark.read.parquet(s"$ivfPath/lists").count()
    expectDup(Similarity.appendToIvfIndex(
      shard, col("vec_id"), col("embedding"), ivfPath))
    assert(spark.read.parquet(s"$ivfPath/lists").count() === preRows,
      "the refused retry must not have landed rows")
    Similarity.appendToIvfIndex(
      shard2, col("vec_id"), col("embedding"), ivfPath)
    val ids = spark.read.parquet(s"$ivfPath/lists")
      .groupBy(col("id")).count().filter(col("count") > 1).count()
    assert(ids === 0, "no id may appear twice after the guarded appends")

    // Composed IVF+PQ.
    val pqPath = tmpDir("ivfpq_dup")
    val cbs = Similarity.ivfPqFitCodebooks(
      old, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1)
    Similarity.writeIvfPqIndex(centroids, cbs,
      Similarity.ivfPqEncode(
        old, col("vec_id"), col("embedding"), centroids, cbs), pqPath)
    Similarity.appendToIvfPqIndex(
      shard, col("vec_id"), col("embedding"), pqPath)
    expectDup(Similarity.appendToIvfPqIndex(
      shard, col("vec_id"), col("embedding"), pqPath))
    Similarity.appendToIvfPqIndex(
      shard2, col("vec_id"), col("embedding"), pqPath)

    // LSH.
    val lshPath = tmpDir("lsh_dup")
    Similarity.writeLshIndex(
      old, col("vec_id"), col("embedding"), nBits = 8, lshPath)
    Similarity.appendToLshIndex(
      shard, col("vec_id"), col("embedding"), lshPath)
    expectDup(Similarity.appendToLshIndex(
      shard, col("vec_id"), col("embedding"), lshPath))
    Similarity.appendToLshIndex(
      shard2, col("vec_id"), col("embedding"), lshPath)

    // Flat PQ (unpartitioned code table — the column-pruned guard).
    val flatPath = tmpDir("pqflat_dup")
    val (fcbs, fenc) = Similarity.pqIndex(
      old, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 1)
    Similarity.writePqIndex(fcbs, fenc, flatPath)
    Similarity.appendToPqIndex(
      shard, col("vec_id"), col("embedding"), flatPath)
    expectDup(Similarity.appendToPqIndex(
      shard, col("vec_id"), col("embedding"), flatPath))
    Similarity.appendToPqIndex(
      shard2, col("vec_id"), col("embedding"), flatPath)

    // Corpus index (catalog-table family).
    val prefix = s"graft_idx_dup_$runId"
    val docs = Tables.documents(spark, sf)
    val built = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src0" && col("source") =!= "src8"),
      col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    val docShard = docs.filter(col("source") === "src8")
    Dedup.appendToCorpusIndex(docShard, col("doc_id"), col("text"), prefix)
    expectDup(Dedup.appendToCorpusIndex(
      docShard, col("doc_id"), col("text"), prefix))
    Dedup.appendToCorpusIndex(
      docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
      prefix)
  }

  test("an interrupted write*Index (completion marker missing) fails every later verb readably; a finished rebuild restores it") {
    // The marker is cleared first and created last, so a crash
    // anywhere inside the write leaves a path every verb refuses with
    // a must-rebuild message — including the previously-silent window
    // (data writes complete, tombstone seed not reached: stale
    // tombstones would hide new rows on every load).
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val path = tmpDir("ivf_marker")
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    Similarity.writeIvfIndex(centroids, indexed, path)
    // Loads work while the marker stands.
    Similarity.loadIvfIndex(spark.newSession(), path)
    // Simulate the crash window: marker gone, directories intact.
    assert(new java.io.File(s"$path/_GRAFT_INDEX_COMPLETE").delete())
    val eLoad = intercept[IllegalArgumentException] {
      Similarity.loadIvfIndex(spark.newSession(), path)
    }
    assert(eLoad.getMessage.contains("INCOMPLETE") &&
      eLoad.getMessage.contains("rebuild"),
      s"an incomplete index must fail toward a rebuild: ${eLoad.getMessage}")
    val eAppend = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(
        corpus, col("vec_id"), col("embedding"), path)
    }
    assert(eAppend.getMessage.contains("INCOMPLETE"))
    // A finished rebuild restores the marker and the index loads again.
    Similarity.writeIvfIndex(centroids, indexed, path)
    val (_, lists) = Similarity.loadIvfIndex(spark.newSession(), path)
    assert(lists.count() > 0)
  }

  // Every durable-index family as one table, for the tests that run one
  // scenario on each: (family, its index name for a tag, that index's
  // directory, its data directories, write, copy an index to a new
  // name, load, append, delete the ids of a frame's `id` column,
  // compact). A path family's index name is its directory and a copy is
  // a copy of the tree; the corpus index's name is its table prefix and
  // a copy is a second write (its tables are in the catalog). Fitted on
  // first use.
  private case class Family(name: String, index: String => String, dir: String => String,
      data: Seq[String], write: String => Unit, copy: (String, String) => Unit,
      load: String => DataFrame, append: String => Unit,
      delete: (DataFrame, String) => Unit, compact: String => Unit)

  private lazy val families: Seq[Family] = {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val old = emb.filter(pmod(col("vec_id"), lit(5)) =!= 3)
    val shard = emb.filter(pmod(col("vec_id"), lit(5)) === 3)
    val (centroids, indexed) = Similarity.ivfIndex(
      old, col("vec_id"), col("embedding"), nLists = 4)
    val (pqCbs, pqCodes) = Similarity.pqIndex(
      old, col("vec_id"), col("embedding"), m = 16, ksub = 16, iters = 1)
    val icbs = Similarity.ivfPqFitCodebooks(
      old, col("vec_id"), col("embedding"), centroids, m = 16, ksub = 16, iters = 1)
    val docs = Tables.documents(spark, sf)
    val corpus = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src8"), col("doc_id"), col("text"))
    def pathFamily(name: String, data: String, write: String => Unit,
        load: String => DataFrame, append: String => Unit,
        delete: (DataFrame, String) => Unit, compact: String => Unit): Family =
      Family(name, tag => tmpDir(s"${tag}_$name"), identity, Seq(data), write,
        (from, to) => copyTree(new java.io.File(from), new java.io.File(to)), load, append,
        delete, compact)
    Seq(
      pathFamily("ivf", "lists", Similarity.writeIvfIndex(centroids, indexed, _),
        p => Similarity.loadIvfIndex(spark, p)._2,
        Similarity.appendToIvfIndex(shard, col("vec_id"), col("embedding"), _),
        Similarity.deleteFromIvfIndex(_, col("id"), _),
        Similarity.compactIvfIndex(spark, _)),
      pathFamily("lsh", "buckets",
        Similarity.writeLshIndex(old, col("vec_id"), col("embedding"), 8, _),
        p => Similarity.loadLshIndex(spark, p)._2,
        Similarity.appendToLshIndex(shard, col("vec_id"), col("embedding"), _),
        Similarity.deleteFromLshIndex(_, col("id"), _),
        Similarity.compactLshIndex(spark, _)),
      pathFamily("pq", "codes", Similarity.writePqIndex(pqCbs, pqCodes, _),
        p => Similarity.loadPqIndex(spark, p)._2,
        Similarity.appendToPqIndex(shard, col("vec_id"), col("embedding"), _),
        Similarity.deleteFromPqIndex(_, col("id"), _),
        Similarity.compactPqIndex(spark, _)),
      pathFamily("ivfpq", "lists", Similarity.writeIvfPqIndex(centroids, icbs,
          Similarity.ivfPqEncode(old, col("vec_id"), col("embedding"), centroids, icbs), _),
        p => Similarity.loadIvfPqIndex(spark, p)._3,
        Similarity.appendToIvfPqIndex(shard, col("vec_id"), col("embedding"), _),
        Similarity.deleteFromIvfPqIndex(_, col("id"), _),
        Similarity.compactIvfPqIndex(spark, _)),
      // Both relations in one frame: each verification row with its
      // sorted band hashes.
      Family("corpus", tag => s"graft_${tag}_corpus_$runId",
        p => new java.net.URI(Dedup.corpusIndexRoot(spark, p)).getPath, Seq("rel", "banded"),
        Dedup.writeCorpusIndex(corpus, _, buckets = 4),
        (_, to) => Dedup.writeCorpusIndex(corpus, to, buckets = 4),
        p => {
          val idx = Dedup.loadCorpusIndex(spark, p)
          idx.rel.join(idx.banded.groupBy(col("id"))
            .agg(sort_array(collect_list(col("bh"))).as("bhs")), Seq("id"), "left")
        },
        Dedup.appendToCorpusIndex(docs.filter(col("source") === "src8"),
          col("doc_id"), col("text"), _),
        Dedup.deleteFromCorpusIndex(_, col("id"), _),
        Dedup.compactCorpusIndex(spark, _)))
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit =
    org.apache.commons.io.FileUtils.copyDirectory(from, to)

  test("crash states: every interrupted verb's leftovers make the next load, delete, append and compact fail naming the state or match a clean twin bit for bit, on all four path families") {
    def parquetIn(dir: String): java.io.File =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    // A file a task of a dead job left under the committer's `_temporary`
    // in `dir`: an attempt's file (the task did not commit) or a
    // committed task's, which the next append-mode job would commit too.
    // The uuid in the name is a new one, the bucket id (if any) kept.
    def pendingTask(from: java.io.File, dir: String, committed: Boolean): Unit = {
      val task = if (committed) "0/task_202610190000_0001_m_000000"
        else "0/_temporary/attempt_202610190000_0001_m_000000_0"
      val name = from.getName.replaceFirst(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
        java.util.UUID.randomUUID.toString)
      org.apache.commons.io.FileUtils.copyFile(from,
        new java.io.File(s"$dir/_temporary/$task/$name"))
    }
    // Each state as the interrupted verb leaves it, made with file
    // operations only (`pending`: a parquet file of live ids); `None`
    // when the next verbs must run as on a clean index, else the words
    // their error must contain.
    type State = (String, String => Unit, Option[Seq[String]])
    def states(f: Family, pending: java.io.File): Seq[State] = Seq[State](
      ("write without its completion marker",
        (p: String) => assert(new java.io.File(s"$p/_GRAFT_INDEX_COMPLETE").delete()),
        Some(Seq("INCOMPLETE", "rebuild"))),
      ("a half-written tombstone batch",
        (p: String) => pendingTask(pending, s"$p/tombstones", committed = false), None),
      ("a delete whose task committed but whose job did not",
        (p: String) => pendingTask(pending, s"$p/tombstones", committed = true), None),
      ("an append whose task committed but whose job did not",
        (p: String) => f.data.foreach(d =>
          pendingTask(parquetIn(s"$p/$d"), s"$p/$d", committed = true)), None)) ++
      f.data.flatMap(d => Seq[State](
        (s"a compaction stopped before its first rename of $d",
          (p: String) => copyTree(new java.io.File(s"$p/$d"), new java.io.File(s"$p/${d}__compact")),
          None),
        (s"a compaction stopped between its two renames of $d",
          (p: String) => assert(new java.io.File(s"$p/$d")
            .renameTo(new java.io.File(s"$p/${d}__pre_compact"))),
          Some(Seq("interrupted", "__pre_compact")))))

    def rows(df: DataFrame): Seq[Row] = df.orderBy(col("id")).collect().toSeq
    for (f <- families) {
      val base = f.index("crash")
      f.write(base)
      val deleted = f.load(base).select(col("id")).filter(pmod(col("id"), lit(7)) === 1)
      // The clean twin's rows after each verb: load, delete, append, compact.
      val steps: Seq[(String, String => Unit)] = Seq("load" -> (_ => ()),
        "delete" -> (f.delete(deleted, _)), "append" -> f.append, "compact" -> f.compact)
      def run(p: String): Seq[Either[String, Seq[Row]]] = steps.map { case (_, verb) =>
        try { verb(p); Right(rows(f.load(p))) }
        catch { case e: IllegalArgumentException => Left(e.getMessage) }
      }
      // Live ids, a third of them: applying them would move every load.
      val pending = tmpDir(s"crash_pending_${f.name}")
      f.load(base).select(col("id")).filter(pmod(col("id"), lit(3)) === 0)
        .coalesce(1).write.parquet(pending)
      f.copy(base, s"${base}_twin")
      val want = run(s"${base}_twin")
      assert(want.forall(_.isRight), s"${f.name}: the clean twin must run every verb: $want")
      for (((state, make, fails), i) <- states(f, parquetIn(pending)).zipWithIndex) {
        val p = s"${base}_state$i"
        f.copy(base, p)
        make(f.dir(p))
        run(p).zip(steps).zip(want).foreach { case ((got, (verb, _)), clean) =>
          fails match {
            case Some(words) =>
              assert(got.left.exists(m => words.forall(m.contains)),
                s"${f.name} $verb after $state must fail naming it ($words), got $got")
            case None =>
              assert(got === clean,
                s"${f.name} $verb after $state must match the clean twin")
          }
        }
      }
    }
  }

  for (name <- Seq("ivf", "ivfpq", "lsh", "pq", "corpus"))
    test(s"compacting an all-tombstoned index refuses loudly and mutates nothing: $name") {
      // An empty survivor set would swap in a data directory with no rows
      // and brick the index once its original is gone: the refusal must
      // come before the first rename, leave every file of the index as it
      // was (the refused index stays loadable) and no `<data>__compact`
      // copy behind.
      val f = families.find(_.name == name).get
      val p = f.index("all_del")
      f.write(p)
      val ids = f.load(p).select(col("id")).collect().map(_.getLong(0)).toSeq
      f.delete(spark.createDataFrame(ids.map(Tuple1(_))).toDF("id"), p)
      def files(): Map[String, Long] = {
        val root = new java.io.File(f.dir(p))
        org.apache.commons.io.FileUtils.listFiles(root, null, true).asScala
          .map(x => root.toPath.relativize(x.toPath).toString -> x.length).toMap
      }
      val before = files()
      val e = intercept[IllegalArgumentException](f.compact(p))
      assert(e.getMessage.contains("EMPTY the index"), e.getMessage)
      assert(files() === before, "a refused compaction must leave every file as it was")
      assert(f.data.forall(d => !new java.io.File(s"${f.dir(p)}/${d}__compact").exists),
        "a refused compaction must remove its copies")
      assert(f.load(p).isEmpty, "all rows are tombstoned: logically empty, physically intact")
    }

  test("ONE policy verb for every family: indexHealth + compactIfNeeded dispatch on a corpus-index table prefix") {
    // A nightly job appends to whatever index it owns — vector stripes
    // or text buckets — and calls the same guard; the corpus family
    // must route through the shared knee constants.
    val prefix = s"graft_idx_unified_$runId"
    val docs = Tables.documents(spark, sf)
    val built = Dedup.corpusIndex(
      docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    Dedup.appendToCorpusIndex(
      docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
      prefix)
    // The UNIFIED verbs, called with the PREFIX, reach the corpus
    // layout: the health frame is corpusIndexHealth's schema, and the
    // policy guard fires the corpus compaction at a tightened knob.
    val h = Similarity.indexHealth(spark, prefix).collect().head
    assert(h.getAs[Int]("n_buckets") === 4,
      "prefix dispatch must return the corpus-family health frame")
    assert(h.getAs[Int]("max_files_per_bucket") >= 2)
    assert(!Similarity.compactIfNeeded(spark, prefix),
      "below the knee the unified guard is a no-op on the corpus family")
    assert(Similarity.compactIfNeeded(spark, prefix,
      maxFilesPerStripe = 1),
      "past the knee the unified guard must fire compactCorpusIndex")
    val h2 = Similarity.indexHealth(spark, prefix, maxFilesPerStripe = 1)
      .collect().head
    assert(h2.getAs[Int]("max_files_per_bucket") === 1 &&
      !h2.getAs[Boolean]("needs_compaction"),
      "the fired corpus compaction must reset the bucket file counts")
  }

  test("composed encoding is measured, pinned and honored: auto picks by quantization error; a forced-residual index round-trips and its probes stay exact/bit-mirrored") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qv = q.collect().head.getSeq[Float](0).toArray
    val (centroids, _) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    // On the near-isotropic test embeddings residuals are LONGER than
    // the unit vectors (the centroids capture little direction), so
    // the measured-MSE auto mode must pick raw — agreeing with the
    // raw default the recall sweeps fixed (ResidualGainSweep).
    val auto = Similarity.ivfPqFitCodebooks(
      corpus, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1, encoding = "auto")
    assert(auto.encoding === "raw",
      "auto must pick raw on the isotropic test embeddings")
    val default = Similarity.ivfPqFitCodebooks(
      corpus, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1)
    assert(default.encoding === "raw",
      "the default convention is raw — the measured IP-ranking winner")
    // Forced residual: the IVFADC convention end to end. Completeness
    // is encoding-blind by construction (every row scanned + reranked
    // exactly), and the per-list offset must make cross-list ADC
    // scores comparable in BOTH probe forms identically.
    val res = Similarity.ivfPqFitCodebooks(
      corpus, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1, encoding = "residual")
    assert(res.encoding === "residual")
    val path = tmpDir("ivfpq_residual")
    Similarity.writeIvfPqIndex(centroids, res,
      Similarity.ivfPqEncode(
        corpus, col("vec_id"), col("embedding"), centroids, res), path)
    val fresh = spark.newSession()
    val (cents, cbs2, codes) = Similarity.loadIvfPqIndex(fresh, path)
    assert(cbs2.encoding === "residual",
      "the meta table must round-trip the residual convention")
    val corpus2 = Tables.embeddings(fresh, sf).filter(col("vec_id") =!= 0)
    val exact = Similarity.bruteForceTopK(
      corpus2, col("vec_id"), col("embedding"), q, k = 10).collect().toSeq
    val full = Similarity.ivfPqTopK(cents, cbs2, codes, corpus2,
      col("vec_id"), col("embedding"), qv, k = 10, nProbe = 8,
      rerankN = 1 << 20).collect().toSeq
    assert(full === exact,
      "residual composed completeness gate: full probe must equal exact")
    // Offset bit-mirror: a 1-query batch at FINITE rerank must pick the
    // same shortlist (thus the same rows) as the single-query
    // driver-LUT + offset-map probe.
    val one = Similarity.ivfPqTopKBatch(cents, cbs2, codes,
        corpus2, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") === 0), col("vec_id"), col("embedding"),
        k = 10, nProbe = 3, rerankN = 50)
      .select(col("id"), col("sim")).orderBy(asc("rank"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val single = Similarity.ivfPqTopK(cents, cbs2,
        codes.filter(col("id") =!= 0), corpus2,
        col("vec_id"), col("embedding"),
        qv, k = 10, nProbe = 3, rerankN = 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(one === single,
      "residual 1-query batch must bit-mirror the single-query probe")
    // A residual-encoded shard appends under the pinned convention and
    // the appended index still degenerates to exact at full settings.
    val extra = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        col("embedding"))
    Similarity.appendToIvfPqIndex(
      extra, col("vec_id"), col("embedding"), path)
    val fresh2 = spark.newSession()
    val (c3, cb3, codes3) = Similarity.loadIvfPqIndex(fresh2, path)
    val union = corpus2.select(col("vec_id"), col("embedding"))
      .unionAll(extra)
    val exactU = Similarity.bruteForceTopK(
      union, col("vec_id"), col("embedding"), q, k = 10).collect().toSeq
    val fullU = Similarity.ivfPqTopK(c3, cb3, codes3, union,
      col("vec_id"), col("embedding"), qv, k = 10, nProbe = 8,
      rerankN = 1 << 20).collect().toSeq
    assert(fullU === exactU,
      "post-append residual probe must still equal exact at full settings")
  }

  test("bounded PQ fit sample: above-corpus bound is bit-identical; a small sample still yields a complete index whose full-rerank probe is exact") {
    // ivfIndex's fitSampleRows discipline extended to the PQ fits: the
    // codebook ESTIMATE trains on the hash-ordered bounded sample (the
    // 100 TB per-iteration bound), the encode covers every vector.
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val n = corpus.count()
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val qv = q.collect().head.getSeq[Float](0).toArray
    // Above the corpus size the sample is the whole corpus — codebooks
    // and codes bit-identical to the unsampled fit.
    val (cbsAll, encAll) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16,
      iters = 1, fitSampleRows = 0L)
    val (cbsBig, encBig) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16,
      iters = 1, fitSampleRows = n * 10)
    assert(cbsAll.size == cbsBig.size &&
      cbsAll.zip(cbsBig).forall { case ((j1, c1, a1), (j2, c2, a2)) =>
        j1 == j2 && c1 == c2 && a1.sameElements(a2) },
      "an above-corpus sample bound must not change the fit")
    assert(encAll.orderBy(col("id")).collect().toSeq ===
      encBig.orderBy(col("id")).collect().toSeq)
    // A small sample: fewer rows trained on, but every row ENCODED and
    // the completeness gate (corpus-sized rerank ≡ exact) is fit-blind.
    val (cbsS, encS) = Similarity.pqIndex(
      corpus, col("vec_id"), col("embedding"), m = 16, ksub = 16,
      iters = 1, fitSampleRows = 64L)
    assert(encS.count() === n, "the encode pass must cover every vector")
    val exact = Similarity.bruteForceTopK(
      corpus, col("vec_id"), col("embedding"), q, k = 10).collect().toSeq
    val full = Similarity.pqTopK(cbsS, encS, corpus,
      col("vec_id"), col("embedding"), qv, k = 10,
      rerankN = math.min(n, Int.MaxValue.toLong).toInt)
      .collect().toSeq
    assert(full === exact,
      "sample-fit PQ at corpus-sized rerank must still equal exact")
    // Same contract through the composed fit verb.
    val (centroids, _) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    val cbsC = Similarity.ivfPqFitCodebooks(
      corpus, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1, fitSampleRows = 64L)
    val encC = Similarity.ivfPqEncode(
      corpus, col("vec_id"), col("embedding"), centroids, cbsC)
    assert(encC.count() === n)
    val fullC = Similarity.ivfPqTopK(centroids, cbsC, encC, corpus,
      col("vec_id"), col("embedding"), qv, k = 10, nProbe = 8,
      rerankN = 1 << 20).collect().toSeq
    assert(fullC === exact,
      "sample-fit composed probe at full settings must equal exact")
  }
}
