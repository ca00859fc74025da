package graft.tools

import java.nio.file.{FileSystemException, Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, SpecScratch}
import graft.sources.Tables

/** Standing scale fixture + sweep (round-12 verdict stretch #9): the
  * per-family K-replication harnesses (FunnelSweep, Q87Sweep, R12*Sweep;
  * retired, see BASELINE.md "Retired reproducers") generalized into ONE
  * tool that
  *
  *   1. materializes a deterministic K× replica of a base directory's
  *      documents/embeddings/events tables (sf0.1 by default) ONCE per
  *      (base dir, K, fixture version), cached at
  *      `/tmp/graft_scale/v<version>_k<K>_<base dir tag>` ([[fixtureDir]];
  *      later runs reuse the parquet; `rm -rf /tmp/graft_scale` frees
  *      it). A run builds under a unique sibling and publishes it with
  *      an atomic rename, so two runs of the same K never share a
  *      half-written fixture, and
  *   2. runs the round's most expensive SparkEntry queries against it,
  *      printing the BASELINE.md section verbatim (the base column
  *      measured on the pristine base directory through the same
  *      harness).
  *
  * Replication is honest per table:
  *   - documents: doc_id shifted per replica; ONE replica-distinct
  *     token appended to the text so exact/canonical dedup stages see
  *     K× distinct docs (pure duplication would let a dedup stage drop
  *     (K−1)/K of the corpus and under-measure every later stage) while
  *     token volume stays within one token per doc;
  *   - embeddings: vec_id shifted; a deterministic ±5e-4 per-component
  *     perturbation breaks exact vector ties so ANN recall contracts
  *     rank distinct neighbors instead of K-way rounded-score ties
  *     (probe vec_id 0 exists only in replica 0);
  *   - events: user_id/event_id shifted per replica — user count and
  *     event volume scale K× with per-user profiles unchanged
  *     (FunnelSweep's device).
  *
  * Timing: warmup + min-of-2 cold-cache noop-sink passes per query —
  * graft.Bench's methodology, so the K=1 column is comparable to the
  * committed bench pair.
  *
  * Run: sbt "Test/runMain graft.tools.ScaleFixture [--base DIR] [K] [query...]"
  * (default base the sf0.1 tables of TESTDATA.md, K=16 over the ten most expensive
  * replicable queries).
  */
object ScaleFixture {
  private val Version = 1 // bump to invalidate cached fixtures
  private val DefaultBase = "/root/testdata/sf0.1"
  private val ReadyMarker = "_GRAFT_FIXTURE_READY"

  /** The cache directory of the K× replica of `baseDir`; the DuckDB half
    * (`tools/duckdb_scale_sweep.py`) derives the same path. */
  def fixtureDir(baseDir: String, k: Int): String = {
    val tag = baseDir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
    s"/tmp/graft_scale/v${Version}_k${k}_$tag"
  }
  private val DefaultQueries = Seq(
    "q120_curation_pipeline", "q129_curation_funnel", "q89_pq_recall",
    "q185_eval_quality_lr", "q121_subword_encode",
    "q187_subword_encode_join", "q78_ivf_recall",
    "q79_lsh_recall", "q182_train_quality_lr", "q137_ppl_buckets",
    "q94_fertility", "q110_collocations", "q83_bigram_lm",
    "q186_hard_negatives_ann",
    // round-15 additions: the native q62 kernel's standing row, and the
    // durable-lifecycle composition (build + bucketed write + fresh
    // reload + probe; the probe-only steady state is Bench's
    // q189_reload_probe row).
    "q62_repetition", "q189_index_reload_probe",
    // round-16 additions: the lifecycle GROWTH rows (MinHash append via
    // bucket-spec insertInto; IVF append via frozen-centroid partition
    // append) and the many-queries BATCH probe — all composed
    // build+write(+append)+reload+probe classes.
    "q190_index_append_probe", "q191_ivf_append_probe",
    "q192_ivf_batch_probe", "q193_lsh_reload_probe",
    // round-17 additions: RTBF through the durable index (build +
    // write + tombstone delete + reload + probe) and hard-negative
    // mining through the durable IVF index (build + write + reload +
    // exhaustive exact side + two shortlist-reranks).
    "q194_index_delete_probe", "q195_hard_negatives_ann_ivf",
    // round-18 additions: the composed IVF+PQ family — single probe
    // through write(4/5)+append(1/5)+reload, many-queries batch probe,
    // and mining through the code stripes (all composed
    // fits+write+reload+exact-side classes).
    "q196_ivfpq_reload_probe", "q197_ivfpq_batch_probe",
    "q198_hard_negatives_ann_pq")

  def main(argv: Array[String]): Unit = {
    val (baseDir, args) = argv.toSeq match {
      case "--base" +: dir +: rest => (dir, rest)
      case rest => (DefaultBase, rest)
    }
    val k = args.headOption.map(_.toInt).getOrElse(16)
    require(k >= 1, "K must be >= 1")
    // The r13/r14 K=64 convention, made code: q79's contract includes a
    // declared-QUADRATIC exact pair baseline, so a default K=64 run
    // would spend ~an hour on one excluded-by-convention row. Explicit
    // requests still run it.
    val defaults =
      if (k >= 64) DefaultQueries.filterNot(_ == "q79_lsh_recall")
      else DefaultQueries
    val names =
      if (args.length > 1) args.drop(1).toSeq else defaults
    if (k >= 64 && args.length <= 1)
      System.err.println(
        "[scalefixture] q79_lsh_recall excluded at K>=64 (declared-quadratic exact baseline)")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local()
    val dir = fixtureDir(baseDir, k)

    if (Files.exists(Paths.get(dir, ReadyMarker)))
      System.err.println(s"[scalefixture] reusing fixture $dir")
    else {
      val building = s"$dir.building-${java.util.UUID.randomUUID}"
      try {
        materialize(spark, baseDir, k, building)
        Files.createFile(Paths.get(building, ReadyMarker))
        Files.move(Paths.get(building), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
        System.err.println(s"[scalefixture] materialized K=$k under $dir")
      } catch {
        // Another run published the same fixture first (renaming onto a
        // non-empty directory fails as a plain FileSystemException): reuse it.
        case _: FileSystemException if Files.exists(Paths.get(dir, ReadyMarker)) =>
          System.err.println(s"[scalefixture] reusing fixture $dir")
      } finally SpecScratch.deleteTree(new java.io.File(building))
    }

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(f: => Unit): Double = {
      f
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }

    println(s"| query | ${Paths.get(baseDir).getFileName} s | K=$k s | ratio |")
    println("|---|---|---|---|")
    names.foreach { n =>
      val q = SparkEntry.queries(n)
      val t1 = timed(noop(q(spark, baseDir)))
      val tk = timed(noop(q(spark, dir)))
      println(f"| $n | $t1%.2f | $tk%.2f | ${tk / t1}%.1f× |")
    }
    println(f"(K=$k ⇒ ${k}× docs/vectors/users; linear-in-volume ⇒ " +
      f"ratio ≈ $k, flat job floor pulls it below)")
    spark.stop()
  }

  /** Writes the K× replica of `baseDir`'s three tables under `dir`. */
  private def materialize(
      spark: org.apache.spark.sql.SparkSession, baseDir: String, k: Int,
      dir: String): Unit = {
    val docs = Tables.documents(spark, baseDir)
    val emb = Tables.embeddings(spark, baseDir)
    val ev = Tables.events(spark, baseDir)
    val docShift = 10000000L
    (0 until k).map { r =>
      docs.select(
        (col("doc_id") + lit(r * docShift)).as("doc_id"),
        // one appended replica-distinct token defeats exact dedup
        concat(coalesce(col("text"), lit("")), lit(s" grepl$r")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    (0 until k).map { r =>
      emb.select(
        (col("vec_id") + lit(r * docShift)).as("vec_id"),
        (if (r == 0) col("embedding")
         else transform(col("embedding"), (x, j) =>
           (x + ((pmod(col("vec_id") * 31 + j * 7 + lit(r), lit(11)) - 5)
             .cast("float") * lit(1e-4f))).cast("float")))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    (0 until k).map { r =>
      ev.select(
        (col("event_id") + lit(r * docShift)).as("event_id"), col("ts"),
        (col("user_id") + lit(r * docShift)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
  }
}
