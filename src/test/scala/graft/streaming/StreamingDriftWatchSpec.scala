package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Funnel

class StreamingDriftWatchSpec extends SparkSpec {
  import spark.implicits._

  private def day(d: Int, n: Int): Seq[(String, Timestamp)] =
    (0 until n).map(i =>
      ("x", Timestamp.valueOf(f"2024-04-$d%02d 00:00:" + f"${i % 60}%02d")))

  // Shard 1: four steady days. Shard 2: a fifth, tripled day — the
  // screen over the union must flag it, and stream ≡ batch must hold
  // row for row (one shared ewmaScreenDaily definition).
  private val shard1 = day(1, 10) ++ day(2, 10) ++ day(3, 10) ++ day(4, 10)
  private val shard2 = day(5, 30)

  test("streaming EWMA screen equals the batch screen; the jump day flags") {
    val root = tempDir("streamdrift")
    val inDir = s"$root/in"
    shard1.toDF("k", "ts").write.parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    def drain(name: String): Unit = {
      val q = StreamingDriftWatch.start(spark, inDir, schema,
        col("k"), col("ts"), name)
      try q.awaitTermination() finally q.stop()
    }
    def streamRows(name: String) =
      StreamingDriftWatch.screen(spark, name, decay = 0.5, span = 3,
          hSigma = 1.0)
        .collect().map(r => (r.getDate(1).toString, r.getLong(2),
          r.getDouble(4), r.getBoolean(6))).toSet
    def batchRows(rows: Seq[(String, Timestamp)]) =
      Funnel.ewmaScreen(rows.toDF("k", "ts"), col("k"), col("ts"),
          decay = 0.5, span = 3, hSigma = 1.0)
        .collect().map(r => (r.getDate(1).toString, r.getLong(2),
          r.getDouble(4), r.getBoolean(6))).toSet

    drain("drift1")
    assert(streamRows("drift1") == batchRows(shard1))

    shard2.toDF("k", "ts").write.mode("append").parquet(inDir)
    drain("drift2")
    val after2 = streamRows("drift2")
    assert(after2 == batchRows(shard1 ++ shard2))
    // only the tripled day is flagged
    assert(after2.count(_._4) == 1)
    assert(after2.find(_._4).get._1 == "2024-04-05")
  }
}
