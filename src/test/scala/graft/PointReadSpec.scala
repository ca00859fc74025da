package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{Dedup, PointRead, Similarity}

/** [[PointRead]] returns the rows `df.collect()` returns, read on the
  * driver, or `None`; every case below compares the two on the same
  * frame. */
class PointReadSpec extends SparkSpec {
  import spark.implicits._

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** The driver read of `df`, required to apply. */
  private def read(df: DataFrame): Seq[Row] = {
    val got = PointRead.collect(df)
    assert(got.isDefined, s"expected a driver read of\n${df.queryExecution.optimizedPlan}")
    got.get.toSeq
  }

  private lazy val corpusPrefix = {
    val prefix = s"graft_pointread_$runId"
    val docs = graft.sources.Tables.documents(spark, sf).select("doc_id", "text")
    val built = Dedup.corpusIndex(docs, col("doc_id"), col("text"))
    Dedup.writeCorpusIndex(built, prefix, buckets = 4)
    built.unpersist()
    Dedup.deleteFromCorpusIndex(docs.select("doc_id").orderBy("doc_id").limit(5),
      col("doc_id"), prefix)
    prefix
  }

  test("a loaded corpus index's _banded and _rel read by key equal collect, tombstones, missing keys and one-bucket keys included") {
    val idx = Dedup.loadCorpusIndex(spark.newSession(), corpusPrefix)
    val bucketOf = pmod(hash(col("bh")), lit(4))
    val keys = idx.banded.select(col("bh"), bucketOf.as("b")).distinct()
      .orderBy("bh").limit(40).as[(Long, Int)].collect().toSeq
    val absent = Iterator.from(1).map(_.toLong).find(k => !keys.exists(_._1 == k)).get
    val oneBucket = keys.filter(_._2 == keys.head._2).map(_._1)
    for ((name, ks) <- Seq("mixed keys and a key with no row" -> (keys.map(_._1) :+ absent),
        "keys of one bucket" -> oneBucket)) {
      val df = idx.banded.filter(col("bh").isin(ks: _*)).select("id", "n_sh", "bh")
      val expected = df.collect().toSeq
      assert(expected.nonEmpty, name)
      assert(sorted(read(df)) === sorted(expected), name)
    }
    // Candidate ids: live, tombstoned (the 5 lowest) and absent.
    val ids = graft.sources.Tables.documents(spark, sf).select("doc_id").orderBy("doc_id")
      .limit(12).as[Long].collect().toSeq :+ Long.MaxValue
    val rel = idx.rel.filter(col("id").isin(ids: _*)).select("id", "hs", "n_sh")
    val expected = rel.collect().toSeq
    assert(expected.nonEmpty && expected.size < ids.size - 5)
    assert(sorted(read(rel)) === sorted(expected))
  }

  test("a loaded flat IVF index under list IN (…) with ivfTopK's ordered top-k equals collect, ties broken by id") {
    // Four identical vectors tie on sim; k = 3 cuts through the tie.
    val tie = Array(0.6f, 0.8f, 0.0f)
    val corpus = ((1L to 4L).map(_ -> tie) ++ (5L to 40L).map(i =>
        i -> Array((i % 7).toFloat, (i % 5).toFloat - 2f, (i % 3).toFloat)))
      .toDF("id", "vec")
    val path = tempDir("pointread_ivf")
    val (centroids, indexed) = Similarity.ivfIndex(corpus, col("id"), col("vec"), nLists = 4)
    Similarity.writeIvfIndex(centroids, indexed, path)
    Similarity.deleteFromIvfIndex(Seq(1L, 9L).toDF("id"), col("id"), path)
    val (_, lists) = Similarity.loadIvfIndex(spark.newSession(), path)
    val qv = typedLit(tie.toSeq)
    def topK(listIds: Seq[Int], k: Int): DataFrame =
      lists.filter(col("list").isin(listIds: _*))
        .withColumn("sim", round(VectorFunctions.dot(col("v"), qv) /
          (sqrt(VectorFunctions.normSq(col("v"))) * sqrt(VectorFunctions.normSq(qv))), 4))
        .orderBy(desc("sim"), asc("id")).limit(k).select("id", "sim")
    val all = topK(0 until 4, 3)
    val expected = all.collect().toSeq
    assert(expected.map(_.getLong(0)) === Seq(2L, 3L, 4L), "the tie resolves by id")
    assert(read(all) === expected)
    val some = topK(Seq(1, 3), 5)
    assert(read(some) === some.collect().toSeq)
  }

  test("an empty result reads as no rows") {
    val idx = Dedup.loadCorpusIndex(spark.newSession(), corpusPrefix)
    val none = idx.rel.filter(col("id").isin(-1L, -2L)).select("id", "hs")
    assert(none.collect().isEmpty)
    assert(read(none).isEmpty)
  }

  test("other plans are not read on the driver") {
    val dir = tempDir("pointread_shapes")
    val rows = (1 to 20).map(i => (i.toLong, i % 3, s"r$i")).toDF("id", "p", "s")
    rows.write.partitionBy("p").parquet(s"$dir/partitioned")
    rows.write.json(s"$dir/json")
    rows.write.parquet(s"$dir/plain")
    val plain = spark.read.parquet(s"$dir/plain")
    assert(read(plain.filter(col("id") > 3)).size === 17)
    val others = Seq(
      "a partitioned relation" -> spark.read.parquet(s"$dir/partitioned").filter(col("id") > 3),
      "a non-parquet source" -> spark.read.json(s"$dir/json").filter(col("id") > 3),
      "a nondeterministic filter" -> plain.filter(rand(7) < 0.5),
      "an in-memory frame" -> rows.filter(col("id") > 3),
      "a persisted frame" -> plain.persist().filter(col("id") > 3),
      "an aggregate" -> plain.groupBy("p").count())
    for ((name, df) <- others) assert(PointRead.collect(df).isEmpty, name)
    plain.unpersist()
  }

  test("a read past the cap is left to Spark, decided from the listed sizes alone") {
    assert(PointRead.admits(Seq(PointRead.MaxBytes)))
    assert(!PointRead.admits(Seq(PointRead.MaxBytes + 1)))
    assert(!PointRead.admits(Seq.fill(3)(PointRead.MaxBytes / 2)))
    assert(PointRead.admits(Nil))
  }

  test("ivfTopK over an in-memory index or past the cap runs its Spark plan") {
    val dim = 64
    val qv = Array.tabulate(dim)(i => (i % 5).toFloat - 2f)
    val centroids = Array.tabulate(4, dim)((l, i) => ((l + i) % 3).toFloat)
    // Random floats do not compress: a quarter more 64-d rows than the
    // cap holds lands past it.
    val dir = s"${tempDir("pointread_big")}/data"
    spark.range(PointRead.MaxBytes / (4 * dim) * 5 / 4).select(col("id"), pmod(col("id"), lit(4)).cast("int").as("list"),
        transform(sequence(lit(1), lit(dim)), i => (rand(3) + i).cast("float")).as("v"))
      .write.parquet(dir)
    val bytes = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).toSeq
    assert(!PointRead.admits(bytes), s"fixture of ${bytes.sum} bytes is within the cap")
    val inMemory = spark.read.parquet(dir).limit(500).persist()
    for ((name, indexed, scan) <- Seq(
        ("past the cap", spark.read.parquet(dir), "FileScan parquet"),
        ("in memory", inMemory, "InMemoryTableScan"))) {
      val ((rows, jobs), plans) = ExecutedPlans(spark)(JobCount(spark)(
        Similarity.ivfTopK(centroids, indexed, qv, k = 10, nProbe = 2).collect()))
      assert(rows.length === 10, name)
      assert(jobs >= 1, name)
      assert(plans.exists(p => p.contains("TakeOrderedAndProject") && p.contains(scan)),
        s"$name: ${plans.mkString("\n")}")
    }
    inMemory.unpersist()
  }
}
