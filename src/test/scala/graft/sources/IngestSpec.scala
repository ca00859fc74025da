package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.traffic.{Normalize, TrafficFixture, TrafficRecord}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("accumulatePages unions heterogeneous pages (G68)") {
    val p1 = Seq(("1", "Queens")).toDF("requestid", "boro")
    val p2 = Seq(("2", "10")).toDF("requestid", "vol") // late page, new key
    val all = Ingest.accumulatePages(Seq(p1, p2))
    assert(all.count() == 2)
    assert(all.columns.toSet == Set("requestid", "boro", "vol"))
    assert(all.where(col("vol").isNull).count() == 1)
  }

  test("land writes year-partitioned parquet and predicates prune partitions") {
    val dir = tempDir("landing")
    val norm = Normalize(TrafficFixture.raw(spark, 300))
    Ingest.land(norm, dir, targetFileParallelism = 2)
    val back = spark.read.parquet(dir)
    assert(back.count() == norm.count())
    // partition pruning: a year filter must appear as PartitionFilters
    val plan = back.filter(col("year") === 2024).queryExecution
      .executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("year"), s"plan:\n$plan")
    val pruned = back.filter(col("year") === 2024).count()
    assert(pruned == norm.filter(col("year") === 2024).count())
  }

  test("without graft.landing.dir both landings resolve under one per-JVM temp root") {
    val conf = spark.conf.getOption("graft.landing.dir")
    spark.conf.unset("graft.landing.dir")
    try {
      val root = java.nio.file.Paths.get(Ingest.tempRoot)
      val paths = Seq(Ingest.ordersByYearLanding(spark, sf),
        Ingest.documentsBySourceLanding(spark, sf))
      paths.foreach { p =>
        assert(java.nio.file.Paths.get(p).getParent == root, s"$p not under $root")
        assert(spark.read.parquet(p).count() > 0, s"$p holds no landing")
      }
      assert(paths.distinct.size == 2)
      // Same source dir, same JVM: the landing is reused, not re-written.
      assert(Ingest.ordersByYearLanding(spark, sf) == paths.head)
    } finally conf.foreach(spark.conf.set("graft.landing.dir", _))
  }

  test("q61 reads the year-partitioned landing with partition pruning") {
    val df = graft.queries.AdvancedQueries.q61PartitionPruned(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // The year predicate must land as a non-empty PartitionFilters list on
    // the scan (directory pruning), not as a row-level data filter.
    assert("PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(plan).isDefined,
      s"no partition filter on o_year in plan:\n$plan")
    // and the pruned result equals the flat-table computation. Compared
    // with a 1-cent tolerance, not exceptAll: the two plans sum doubles
    // in different partition orders, and a true sum within one ULP of a
    // .xx5 boundary could round apart — layout-dependent flakiness, not
    // a defect (the oracle gate compares like-ordered plans).
    val expect = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got = df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, (n, total)) =>
      assert(n == expect(k)._1, s"count mismatch for $k")
      assert(math.abs(total - expect(k)._2) <= 0.011, s"sum mismatch for $k")
    }
  }

  test("q43 reads the source-partitioned documents landing with pruning on both sides") {
    val df = graft.queries.PipelineQueries.q43Contamination(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // Both the src0 probe and the corpus complement must prune on the
    // `source` partition column (directory pruning, not row filters).
    val filters = "PartitionFilters: \\[[^\\]]*source[^\\]]*\\]".r
      .findAllIn(plan).toSeq
    assert(filters.size >= 2, s"expected >=2 source partition filters, got" +
      s" ${filters.size} in plan:\n$plan")
    // and the landed computation matches the flat-table one exactly (the
    // overlap ratio is an integer-over-integer division — deterministic).
    val docs = Tables.documents(spark, sf)
    val expect = graft.operators.Dedup.crossCorpusOverlap(
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
        docs.filter(col("source") =!= "src0"), col("text"), n = 3)
      .orderBy(asc_nulls_first("id"))
      .collect().toSeq
    assert(df.collect().toSeq == expect)
  }

  test("bucketed tables join without a shuffle exchange") {
    val o = graft.sources.Tables.orders(spark, sf)
    val c = graft.sources.Tables.customer(spark, sf)
    // Per-run table names, dropped (with their managed locations)
    // afterwards: nothing shared between runs is keyed by a fixed name.
    val runId = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
    val (orders, customer) = (s"graft_orders_b_$runId", s"graft_customer_b_$runId")
    try {
      Ingest.landBucketed(o, orders, "o_custkey", 4)
      Ingest.landBucketed(
        c.withColumnRenamed("c_custkey", "o_custkey"), customer, "o_custkey", 4)
      val joined = spark.table(orders)
        .join(spark.table(customer), "o_custkey")
      // With matching bucket counts on the join key, no ShuffleExchange is
      // needed on either side (AQE may still add a broadcast — disable to
      // observe the bucket-join shape).
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"unexpected shuffle in bucketed join:\n$plan")
        assert(joined.count() > 0)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally graft.SpecScratch.clean(spark, runId)
  }

  test("typed facade: Dataset[TrafficRecord] round-trips fields") {
    implicit val s = spark
    val ds = TrafficRecord.typed(Normalize(TrafficFixture.raw(spark, 50)))
    val r = ds.filter(_.request_id.contains("0")).head()
    assert(r.borough.contains("Queens"))
    assert(r.volume.isDefined && r.date.isDefined)
    // typed filter + map compile and run
    val weekendCount = ds.filter(_.is_weekend.contains(1)).count()
    assert(weekendCount >= 0)
  }
}
