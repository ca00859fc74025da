package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class SnapshotRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def snapshot(id: Int, scale: Long) = Seq(
    ("Queens", 10L * scale, id), ("Queens", 5L * scale, id),
    ("Brooklyn", 7L * scale, id))
    .toDF("borough", "volume", "snapshot_id")

  test("complete-mode stream aggregate equals batch aggregate (H69)") {
    val dir = tempDir("snapstream")
    snapshot(1, 1).drop("snapshot_id")
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = SnapshotRefresh.aggregateStream(spark, dir, schema,
      "snap_agg", Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      val got = spark.table("snap_agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("Queens" -> 15L, "Brooklyn" -> 7L))
      // a second full snapshot arrives; complete mode recomputes the world
      snapshot(1, 2).drop("snapshot_id").write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got2 = spark.table("snap_agg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got2 == Map("Queens" -> 45L, "Brooklyn" -> 21L))
    } finally q.stop()
  }

  test("latest-snapshot query publishes only the newest snapshot (H69-H71)") {
    val dir = tempDir("snapswap")
    snapshot(1, 1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val store = new SnapshotRefresh.SnapshotStore
    val q = SnapshotRefresh.latestSnapshotQuery(
      spark, dir, schema, "snapshot_id",
      df => df.groupBy("borough").agg(sum("volume").as("total_volume"))
        .orderBy("borough"),
      store, Trigger.ProcessingTime(0))
    try {
      // initial file listing can lag the query start — retry briefly
      var tries = 0
      q.processAllAvailable()
      while (store.latest.isEmpty && tries < 50) {
        Thread.sleep(100); q.processAllAvailable(); tries += 1
      }
      val v1 = store.latest.map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(v1 == Map("Queens" -> 15L, "Brooklyn" -> 7L))
      // snapshot 2 REPLACES snapshot 1 (recompute-world, not accumulate)
      snapshot(2, 10).write.mode("append").parquet(dir)
      // the file source's directory listing can lag the write under load
      // (same race as the initial listing) — retry until the swap lands
      var tries2 = 0
      q.processAllAvailable()
      def v2 = store.latest.map(r => r.getString(0) -> r.getLong(1)).toMap
      while (v2 != Map("Queens" -> 150L, "Brooklyn" -> 70L) && tries2 < 50) {
        Thread.sleep(100); q.processAllAvailable(); tries2 += 1
      }
      assert(v2 == Map("Queens" -> 150L, "Brooklyn" -> 70L))
    } finally q.stop()
  }

  test("snapshot straddling two triggers heals to the complete snapshot") {
    // The design's stated reason for re-reading the directory per trigger
    // (rather than aggregating the batch's own rows): a snapshot's part
    // files can land across two micro-batches. Simulate exactly that —
    // snapshot 2 arrives as two separate appends with a trigger between
    // them — and assert the published state ends COMPLETE. (A mid-point
    // publish of the half snapshot is allowed — the contract is that the
    // store heals, not that a torn listing is unobservable.)
    val dir = tempDir("snapstraddle")
    snapshot(1, 1).write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val store = new SnapshotRefresh.SnapshotStore
    val q = SnapshotRefresh.latestSnapshotQuery(
      spark, dir, schema, "snapshot_id",
      df => df.groupBy("borough").agg(sum("volume").as("total_volume"))
        .orderBy("borough"),
      store, Trigger.ProcessingTime(0))
    try {
      var tries = 0
      q.processAllAvailable()
      while (store.latest.isEmpty && tries < 50) {
        Thread.sleep(100); q.processAllAvailable(); tries += 1
      }
      // first half of snapshot 2: Queens rows only
      Seq(("Queens", 100L, 2), ("Queens", 50L, 2))
        .toDF("borough", "volume", "snapshot_id")
        .write.mode("append").parquet(dir)
      q.processAllAvailable() // the query may publish the half snapshot here
      // second half: Brooklyn row, same snapshot id
      Seq(("Brooklyn", 70L, 2))
        .toDF("borough", "volume", "snapshot_id")
        .write.mode("append").parquet(dir)
      var tries2 = 0
      q.processAllAvailable()
      def healed = store.latest.map(r => r.getString(0) -> r.getLong(1)).toMap
      while (healed != Map("Queens" -> 150L, "Brooklyn" -> 70L) && tries2 < 50) {
        Thread.sleep(100); q.processAllAvailable(); tries2 += 1
      }
      assert(healed == Map("Queens" -> 150L, "Brooklyn" -> 70L),
        s"published state did not heal: $healed")
    } finally q.stop()
  }
}
