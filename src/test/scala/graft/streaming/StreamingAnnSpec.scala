package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity
import graft.sources.Tables

class StreamingAnnSpec extends SparkSpec {

  test("streaming ANN probe over a RELOADED durable IVF index: stream ≡ batch, zero streaming state") {
    // The production shape end to end: last week's build job wrote the
    // IVF index; the resident vector-ingest daemon holds only a
    // loadIvfIndex handle and probes each arriving embedding batch.
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 10)
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    val root = tempDir("streamann")
    Similarity.writeIvfIndex(centroids, indexed, s"$root/idx")

    val fresh = spark.newSession()
    val (cents, lists) = Similarity.loadIvfIndex(fresh, s"$root/idx")
    // Two "arriving" query batches (vectors the corpus excludes).
    val emb2 = Tables.embeddings(fresh, sf)
    val inDir = s"$root/in"
    emb2.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).write.parquet(inDir)
    val schema = fresh.read.parquet(inDir).schema
    def run(): Unit = {
      val q = StreamingAnn.start(fresh, inDir, schema,
        col("vec_id"), col("embedding"), cents, lists,
        k = 5, nProbe = 3,
        outDir = s"$root/out", checkpointDir = s"$root/ck")
      try {
        q.awaitTermination()
        assert(q.lastProgress == null ||
          q.lastProgress.stateOperators.isEmpty,
          "foreachBatch ANN probe must keep no streaming state")
      } finally q.stop()
    }
    run()
    emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .write.mode("append").parquet(inDir)
    run()

    val got = fresh.read.parquet(s"$root/out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val batch = Similarity.ivfTopKBatch(cents, lists,
        emb2.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
        k = 5, nProbe = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got === batch, "stream output must equal the batch operator's")
    assert(got.map(_._1) === (0L until 10L).toSet,
      "every arriving query must get its neighbor rows")
    assert(got.forall(r => r._2 >= 10L),
      "neighbors come from the indexed corpus only")
  }

  test("refreshing daemon: ONE running query picks up appendToIvfIndex growth at the next batch boundary, no restart") {
    // The in-place-refresh half of the resident story: batch 1 probes
    // the index as built; the nightly shard is appended WHILE THE QUERY
    // RUNS; batch 2 must probe the grown index — the handle is
    // re-resolved at the batch boundary, never a daemon restart.
    import org.apache.spark.sql.streaming.Trigger
    val emb = Tables.embeddings(spark, sf)
    val old = emb.filter(col("vec_id") >= 10 &&
      pmod(col("vec_id"), lit(5)) =!= 3)
    val shard = emb.filter(col("vec_id") >= 10 &&
      pmod(col("vec_id"), lit(5)) === 3)
    val root = tempDir("streamann_refresh")
    val (centroids, indexed) = Similarity.ivfIndex(
      old, col("vec_id"), col("embedding"), nLists = 8)
    Similarity.writeIvfIndex(centroids, indexed, s"$root/idx")

    val fresh = spark.newSession()
    val emb2 = Tables.embeddings(fresh, sf)
    // Pre-append handle, resolved BEFORE the append: its file index is
    // frozen at creation (exactly the staleness startRefreshing exists
    // to escape), so it is the honest "index as batch 1 saw it".
    val (cents, preLists) = Similarity.loadIvfIndex(fresh, s"$root/idx")
    val inDir = s"$root/in"
    emb2.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).write.parquet(inDir)
    val schema = fresh.read.parquet(inDir).schema
    val q = StreamingAnn.startRefreshing(fresh, inDir, schema,
      col("vec_id"), col("embedding"), s"$root/idx", k = 5, nProbe = 8,
      outDir = s"$root/out", checkpointDir = s"$root/ck",
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable() // batch 1: pre-append index
      Similarity.appendToIvfIndex(
        shard, col("vec_id"), col("embedding"), s"$root/idx")
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .write.mode("append").parquet(inDir)
      q.processAllAvailable() // batch 2: post-append, same running query
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val got = rows(fresh.read.parquet(s"$root/out"))
    val (_, grownLists) = Similarity.loadIvfIndex(fresh, s"$root/idx")
    val expectBatch1 = rows(Similarity.ivfTopKBatch(cents, preLists,
      emb2.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 5, nProbe = 8))
    val expectBatch2 = rows(Similarity.ivfTopKBatch(cents, grownLists,
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 5, nProbe = 8))
    assert(got === (expectBatch1 ++ expectBatch2),
      "batch 1 must probe the pre-append index, batch 2 the grown one")
    // Non-vacuous: the appended shard actually changed batch 2's answer
    // (the full probe sees every appended vector).
    val preAppendBatch2 = rows(Similarity.ivfTopKBatch(cents, preLists,
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 5, nProbe = 8))
    assert(expectBatch2 !== preAppendBatch2,
      "fixture must make the append visible in batch 2's neighbors")
  }

  test("refreshing daemon: a deleteFromIvfIndex mid-stream is visible at the next batch boundary — RTBF without restart") {
    // The delete analogue of the append test above (the RTBF-meets-
    // streaming story): the resident daemon holds no index state
    // across batches — startRefreshing re-resolves the handle, and
    // loadIvfIndex anti-joins the tombstones — so a deletion issued
    // WHILE THE QUERY RUNS must drop out of the next batch's
    // neighbors, with no restart and no compaction.
    import org.apache.spark.sql.streaming.Trigger
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 10)
    val doomed = corpus.filter(pmod(col("vec_id"), lit(5)) === 3)
    val root = tempDir("streamann_delete")
    val (centroids, indexed) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    Similarity.writeIvfIndex(centroids, indexed, s"$root/idx")

    val fresh = spark.newSession()
    val emb2 = Tables.embeddings(fresh, sf)
    val (cents, preLists) = Similarity.loadIvfIndex(fresh, s"$root/idx")
    val inDir = s"$root/in"
    emb2.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).write.parquet(inDir)
    val schema = fresh.read.parquet(inDir).schema
    val q = StreamingAnn.startRefreshing(fresh, inDir, schema,
      col("vec_id"), col("embedding"), s"$root/idx", k = 5, nProbe = 8,
      outDir = s"$root/out", checkpointDir = s"$root/ck",
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable() // batch 1: pre-delete index
      Similarity.deleteFromIvfIndex(
        doomed.select(col("vec_id")), col("vec_id"), s"$root/idx")
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .write.mode("append").parquet(inDir)
      q.processAllAvailable() // batch 2: post-delete, same running query
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val got = rows(fresh.read.parquet(s"$root/out"))
    val (_, postLists) = Similarity.loadIvfIndex(fresh, s"$root/idx")
    val expectBatch1 = rows(Similarity.ivfTopKBatch(cents, preLists,
      emb2.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 5, nProbe = 8))
    val expectBatch2 = rows(Similarity.ivfTopKBatch(cents, postLists,
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 5, nProbe = 8))
    assert(got === (expectBatch1 ++ expectBatch2),
      "batch 1 must probe the pre-delete index, batch 2 the tombstoned one")
    val doomedIds = doomed.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val batch2Got = got -- expectBatch1
    assert(batch2Got.forall(r => !doomedIds(r._2)),
      "no batch-2 neighbor may be a tombstoned id")
    // Non-vacuous: the delete actually changed batch 2's answer (the
    // pre-delete index would have returned a doomed neighbor).
    val preDeleteBatch2 = rows(Similarity.ivfTopKBatch(cents, preLists,
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 5, nProbe = 8))
    assert(preDeleteBatch2.exists(r => doomedIds(r._2)),
      "fixture must make the delete visible in batch 2's neighbors")
    assert(expectBatch2 !== preDeleteBatch2)
  }

  test("composed IVF+PQ refreshing daemon: append AND delete land at the next batch boundary; stream ≡ batch over the code stripes") {
    // The resident daemon at minimum probe bytes: batch 1 probes the
    // index as built; a nightly shard APPENDS and an RTBF batch
    // DELETES while the query runs; batch 2 must probe the mutated
    // code stripes — handle re-resolved per batch, no restart.
    import org.apache.spark.sql.streaming.Trigger
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 10)
    val old = corpus.filter(pmod(col("vec_id"), lit(5)) =!= 3)
    val shard = corpus.filter(pmod(col("vec_id"), lit(5)) === 3)
    val doomed = old.filter(pmod(col("vec_id"), lit(7)) === 2)
    val root = tempDir("streamann_pq")
    val (centroids, _) = Similarity.ivfIndex(
      old, col("vec_id"), col("embedding"), nLists = 8)
    val cbs = Similarity.ivfPqFitCodebooks(
      old, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1)
    Similarity.writeIvfPqIndex(centroids, cbs,
      Similarity.ivfPqEncode(
        old, col("vec_id"), col("embedding"), centroids, cbs),
      s"$root/idx")

    val fresh = spark.newSession()
    val emb2 = Tables.embeddings(fresh, sf)
    val corpus2 = emb2.filter(col("vec_id") >= 10)
    val (cents, cbs2, preCodes) = Similarity.loadIvfPqIndex(
      fresh, s"$root/idx")
    val inDir = s"$root/in"
    emb2.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).write.parquet(inDir)
    val schema = fresh.read.parquet(inDir).schema
    val q = StreamingAnn.startRefreshingPq(fresh, inDir, schema,
      col("vec_id"), col("embedding"), s"$root/idx",
      s => Tables.embeddings(s, sf).filter(col("vec_id") >= 10),
      col("vec_id"), col("embedding"),
      k = 5, nProbe = 8, rerankN = 50,
      outDir = s"$root/out", checkpointDir = s"$root/ck",
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable() // batch 1: the index as built
      Similarity.appendToIvfPqIndex(
        shard, col("vec_id"), col("embedding"), s"$root/idx")
      Similarity.deleteFromIvfPqIndex(
        doomed.select(col("vec_id")), col("vec_id"), s"$root/idx")
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .write.mode("append").parquet(inDir)
      q.processAllAvailable() // batch 2: post-append, post-delete
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val got = rows(fresh.read.parquet(s"$root/out"))
    val (_, _, postCodes) = Similarity.loadIvfPqIndex(fresh, s"$root/idx")
    val expectBatch1 = rows(Similarity.ivfPqTopKBatch(cents, cbs2,
      preCodes, corpus2, col("vec_id"), col("embedding"),
      emb2.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
      k = 5, nProbe = 8, rerankN = 50))
    val expectBatch2 = rows(Similarity.ivfPqTopKBatch(cents, cbs2,
      postCodes, corpus2, col("vec_id"), col("embedding"),
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 5, nProbe = 8, rerankN = 50))
    assert(got === (expectBatch1 ++ expectBatch2),
      "batch 1 must probe the built index, batch 2 the mutated one")
    val doomedIds = doomed.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val shardIds = shard.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val batch2Got = got.filter(r => r._1 >= 5 && r._1 < 10)
    assert(batch2Got.forall(r => !doomedIds(r._2)),
      "no batch-2 neighbor may be a tombstoned id")
    // Non-vacuous both ways: the appended shard surfaces in batch 2,
    // and the pre-mutation index would have answered differently.
    assert(batch2Got.exists(r => shardIds(r._2)),
      "fixture must surface appended vectors in batch 2's neighbors")
    val preMutBatch2 = rows(Similarity.ivfPqTopKBatch(cents, cbs2,
      preCodes, corpus2, col("vec_id"), col("embedding"),
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 5, nProbe = 8, rerankN = 50))
    assert(expectBatch2 !== preMutBatch2,
      "fixture must make the mutations visible in batch 2's neighbors")
  }

  test("compactIfNeeded fires under a RUNNING composed daemon between batches: the next batch returns the post-compaction answer, no restart, no rename-window error") {
    // The operational seam the nightly job creates: `appendTo…;
    // compactIfNeeded(…)` WILL eventually fire while the resident
    // daemon is up. Safe ordering (the documented contract): the swap
    // lands BETWEEN batches, the daemon re-resolves the handle at the
    // next tick, and the batch reads the compacted (survivor) layout —
    // no FileNotFound from swapInPlace's rename window, no restart.
    import org.apache.spark.sql.streaming.Trigger
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 10)
    val doomed = corpus.filter(pmod(col("vec_id"), lit(5)) === 3)
    val root = tempDir("streamann_compact")
    val (centroids, _) = Similarity.ivfIndex(
      corpus, col("vec_id"), col("embedding"), nLists = 8)
    val cbs = Similarity.ivfPqFitCodebooks(
      corpus, col("vec_id"), col("embedding"), centroids,
      m = 16, ksub = 16, iters = 1)
    Similarity.writeIvfPqIndex(centroids, cbs,
      Similarity.ivfPqEncode(
        corpus, col("vec_id"), col("embedding"), centroids, cbs),
      s"$root/idx")

    val fresh = spark.newSession()
    val emb2 = Tables.embeddings(fresh, sf)
    val (cents, cbs2, _) = Similarity.loadIvfPqIndex(fresh, s"$root/idx")
    val inDir = s"$root/in"
    emb2.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).write.parquet(inDir)
    val schema = fresh.read.parquet(inDir).schema
    val q = StreamingAnn.startRefreshingPq(fresh, inDir, schema,
      col("vec_id"), col("embedding"), s"$root/idx",
      s => Tables.embeddings(s, sf).filter(col("vec_id") >= 10),
      col("vec_id"), col("embedding"),
      k = 5, nProbe = 8, rerankN = 50,
      outDir = s"$root/out", checkpointDir = s"$root/ck",
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      q.processAllAvailable() // batch 1: the index as built
      // Delete a slice, then let the POLICY verb fire the compaction
      // between batches (tightened tombstone knob = past the knee).
      Similarity.deleteFromIvfPqIndex(
        doomed.select(col("vec_id")), col("vec_id"), s"$root/idx")
      assert(Similarity.compactIfNeeded(fresh, s"$root/idx",
        maxTombstoneBytes = 1L),
        "the policy guard must fire the composed compaction mid-stream")
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
        .write.mode("append").parquet(inDir)
      q.processAllAvailable() // batch 2: post-compaction, same query
      assert(q.exception.isEmpty,
        s"the daemon must survive the between-batch swap: ${q.exception}")
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val got = rows(fresh.read.parquet(s"$root/out"))
    val (_, _, postCodes) = Similarity.loadIvfPqIndex(fresh, s"$root/idx")
    val corpus2 = emb2.filter(col("vec_id") >= 10)
    val expectBatch2 = rows(Similarity.ivfPqTopKBatch(cents, cbs2,
      postCodes, corpus2, col("vec_id"), col("embedding"),
      emb2.filter(col("vec_id") >= 5 && col("vec_id") < 10),
      col("vec_id"), col("embedding"), k = 5, nProbe = 8, rerankN = 50))
    val batch2Got = got.filter(r => r._1 >= 5 && r._1 < 10)
    assert(batch2Got === expectBatch2,
      "batch 2 must equal the batch operator over the compacted index")
    val doomedIds = doomed.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    assert(batch2Got.forall(r => !doomedIds(r._2)),
      "no post-compaction neighbor may be a compacted-away id")
    // Non-vacuous: physical erasure happened (no tombstones left, the
    // doomed codes gone from the stripes) and the pre-compaction index
    // would have answered differently.
    assert(fresh.read.parquet(s"$root/idx/tombstones").isEmpty)
    val fileIds = fresh.read.parquet(s"$root/idx/lists").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(fileIds.intersect(doomedIds).isEmpty,
      "compaction under the daemon must physically erase the codes")
  }
}
