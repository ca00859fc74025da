package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.CorpusStats

/** Stream ≡ batch for the tokenizer-coverage drift screen: the memory
  * snapshot's report must equal q188's batch arithmetic
  * (langTokens → vocabCoverageCounts → oovRates, ONE shared
  * definition) on exactly the rows drained so far — after the first
  * shard AND after a second drain over an appended shard (the running
  * counts accumulate, complete mode recomputes the report). */
class StreamingVocabCoverageSpec extends SparkSpec {
  import spark.implicits._

  // Fixed reference vocabulary — FROZEN, the drift premise.
  private val vocabWords = Seq("the", "cat", "sat")

  // Shard 1: en fully covered but for one token; de has higher OOV.
  private val shard1 = Seq(
    (1L, "en", "the cat sat"),
    (2L, "en", "the cat sat down"),
    (3L, "de", "der hund sat"))
  // Shard 2: drift — new en docs carry mostly OOV tokens; a new lang
  // appears; a blank doc contributes zero tokens.
  private val shard2 = Seq(
    (4L, "en", "quantum blockchain the synergy"),
    (5L, "fr", "le chat sat"),
    (6L, "en", "   "))

  private def batchReport(rows: Seq[(Long, String, String)]): Seq[String] = {
    val vocab = vocabWords.toDF("w")
    CorpusStats.oovRates(
        CorpusStats.vocabCoverageCounts(
          CorpusStats.langTokens(
            rows.toDF("doc_id", "lang", "text"), col("lang"), col("text")),
          vocab))
      .collect().map(_.toString).toSeq
  }

  private def drain(inDir: String, name: String): Unit = {
    val schema = spark.read.parquet(inDir).schema
    val q = StreamingVocabCoverage.start(spark, inDir, schema,
      col("lang"), col("text"), vocabWords.toDF("w"), name)
    try {
      q.awaitTermination()
    } finally q.stop()
  }

  test("stream ≡ batch on q188's coverage arithmetic, across two drains") {
    val root = tempDir("streamvocab")
    val inDir = s"$root/in"
    shard1.toDF("doc_id", "lang", "text").write.parquet(inDir)
    drain(inDir, "vocab_cov_t1")
    val got1 = StreamingVocabCoverage.screen(spark, "vocab_cov_t1")
      .collect().map(_.toString).toSeq
    assert(got1 == batchReport(shard1),
      s"after shard 1: stream=$got1 batch=${batchReport(shard1)}")

    shard2.toDF("doc_id", "lang", "text")
      .write.mode("append").parquet(inDir)
    drain(inDir, "vocab_cov_t2")
    val got2 = StreamingVocabCoverage.screen(spark, "vocab_cov_t2")
      .collect().map(_.toString).toSeq
    val want2 = batchReport(shard1 ++ shard2)
    assert(got2 == want2, s"after shard 2: stream=$got2 batch=$want2")
    // The drift signal is visible: en's OOV rate rose after shard 2.
    def oovOf(rep: Seq[String], lang: String): Double = {
      val r = rep.find(_.startsWith(s"[$lang,")).get
      r.stripSuffix("]").split(",").last.toDouble
    }
    assert(oovOf(got2, "en") > oovOf(got1, "en"),
      "appended OOV-heavy en docs must raise en's running OOV rate")
  }
}
