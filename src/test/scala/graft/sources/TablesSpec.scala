package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Pins `Tables.events` against every physical `ts` encoding the driver's
  * testdata writer has shipped (the round-8 regression: a writer change from
  * TIMESTAMP(NANOS) to plain micros-NTZ silently broke every `unix_micros`
  * consumer). Three encodings, one contract: the loader always yields a
  * micro-precision `TimestampType` column with identical instants.
  *
  *  - nanos-as-long: Spark cannot write parquet TIMESTAMP(NANOS), but with
  *    spark.sql.legacy.parquet.nanosAsLong the reader surfaces it as a plain
  *    Long column — physically indistinguishable from an INT64 column at the
  *    schema level the loader branches on, so a Long `ts` fixture exercises
  *    the exact branch and its div-1000 arithmetic.
  *  - micros-NTZ: written via TIMESTAMP_NTZ, which Spark 4 re-infers as NTZ
  *    on read (inferTimestampNTZ default on) — the current testdata shape.
  *  - micros-UTC: plain TimestampType round-trip, the pass-through branch.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val microsUtc = Seq(
    (1L, 1700000000000000L), // 2023-11-14T22:13:20Z
    (2L, 1700000123456789L))

  private def writeDir(): String =
    tempDir("tables_spec")

  test("events loader normalizes all three ts encodings to identical TimestampType instants") {
    // nanos-as-long fixture: Long nanos column named ts
    val nanosDir = writeDir()
    microsUtc.map { case (id, us) => (id, us * 1000L) }
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")

    // micros-NTZ fixture: TIMESTAMP_NTZ column (current testdata shape)
    val ntzDir = writeDir()
    microsUtc.toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

    // micros-UTC fixture: plain TimestampType
    val utcDir = writeDir()
    microsUtc.toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").as("ts"))
      .write.mode("overwrite").parquet(s"$utcDir/events.parquet")

    // sanity: the NTZ fixture really reads back as NTZ (the regression's trigger)
    assert(spark.read.parquet(s"$ntzDir/events.parquet").schema("ts").dataType == TimestampNTZType)

    val results = Seq(nanosDir, ntzDir, utcDir).map { dir =>
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType, s"loader must yield TimestampType for $dir")
      // the exact call the q45/q49/q56 family makes — must analyze and run
      df.select($"event_id", unix_micros($"ts").as("us"))
        .orderBy($"event_id").as[(Long, Long)].collect().toSeq
    }

    val expected = microsUtc
    results.foreach(r => assert(r == expected, "instants must be identical across encodings"))
  }

  test("a dataset rewritten at the same path is loaded with its new schema, not a cached one") {
    val dir = writeDir()
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.load(spark, dir, "documents").columns.toSeq === Seq("doc_id", "text"))
    // Regenerated in place: a column added and one retyped.
    Seq((1, "a", 7L)).toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val again = Tables.load(spark, dir, "documents")
    assert(again.columns.toSeq === Seq("doc_id", "text", "n_chars"))
    assert(again.schema("doc_id").dataType == org.apache.spark.sql.types.IntegerType)
    assert(again.as[(Int, String, Long)].collect().toSeq === Seq((1, "a", 7L)))
  }
}
