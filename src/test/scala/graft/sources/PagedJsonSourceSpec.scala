package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PagedJsonSourceSpec extends SparkSpec {

  /** 2500-line JSONL standing in for the remote paginated dataset. */
  private lazy val dataPath: String = {
    val p = Files.createTempFile("pagedjson", ".jsonl")
    val lines = (0 until 2500).map { i =>
      val boro = Seq("Queens", "Brooklyn", "Bronx")(i % 3)
      s"""{"requestid": "$i", "boro": "$boro", "yr": "${2020 + i % 5}", "vol": "${i % 300}"}"""
    }
    Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  private def read = spark.read.format("paged-json")
    .option("path", dataPath).option("pageSize", 1000)

  test("reads all rows with an all-string inferred schema (A1/A4)") {
    val df = read.load()
    assert(df.count() == 2500)
    assert(df.schema.fields.map(_.name).toSeq == Seq("requestid", "boro", "yr", "vol"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("pages become parallel input partitions (offset windows)") {
    val df = read.load()
    assert(df.rdd.getNumPartitions == 3) // 2500 rows / 1000 per page
  }

  test("limit pushdown plans only the contributing pages (A3 QuickFetch)") {
    val df = read.load().limit(1000)
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scans.contains("limit=Some(1000)"), s"plan: $scans")
    assert(df.count() == 1000)
  }

  test("equality filter pushdown reaches the scan (A2 SoQL $where)") {
    val df = read.load().filter(col("yr") === "2024")
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scan.contains("EqualTo(yr,2024)"), s"plan: $scan")
    assert(df.count() == 500)
    assert(df.select("yr").distinct().collect().map(_.getString(0)).toSeq == Seq("2024"))
  }

  test("filter + limit composes as limit-AFTER-filter (no joint pushdown)") {
    // 500 yr=2024 rows are spread 1-in-5 across 2500 raw lines. If the scan
    // page-pruned by the pre-filter limit (the round-1 bug), limit(300)
    // would plan only the first 300 raw lines and surface just ~60 matches.
    val df = read.load().filter(col("yr") === "2024").limit(300)
    assert(df.count() == 300)
    val rows = df.collect()
    assert(rows.length == 300)
    assert(rows.forall(_.getAs[String]("yr") == "2024"))
    // The filter still reaches the scan; the limit must NOT.
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scan.contains("EqualTo(yr,2024)"), s"plan: $scan")
    assert(scan.contains("limit=None"), s"plan: $scan")
  }

  test("multi-page file scan: each page read from its own offset, rows unchanged") {
    // Mixed \n, \r\n and \r line ends, blank lines, multi-byte UTF-8 and
    // no trailing newline, over 7-line pages: a page read from a wrong
    // byte offset, or a line split differently from readLine's, shows as
    // a missing, duplicated or garbled row.
    val p = Files.createTempFile("pagedjson-multi", ".jsonl")
    p.toFile.deleteOnExit()
    val ends = Seq("\n", "\r\n", "\r")
    val text = (0 until 100).map { i =>
      val line = if (i % 11 == 5) "" else s"""{"requestid": "$i", "street": "Cañón €$i"}"""
      line + (if (i == 99) "" else ends(i % 3))
    }.mkString
    Files.write(p, text.getBytes(StandardCharsets.UTF_8))
    // The row universe is readLine's lines, blank ones included; where a
    // blank line's \n follows a \r, the two are one \r\n line end.
    val lines = Files.readAllLines(p, StandardCharsets.UTF_8).toArray.toSeq.map(_.toString)
    assert(lines.length == 97)
    def ids(ls: Seq[String]): Seq[String] =
      ls.filter(_.nonEmpty).map(l => l.split('"')(3))
    val scan = spark.read.format("paged-json").option("path", p.toString)
      .option("pageSize", 7).load()
    assert(scan.rdd.getNumPartitions == 14) // ceil(97 / 7)
    val rows = scan.collect()
    assert(rows.map(_.getAs[String]("requestid")).toSeq == ids(lines))
    assert(rows.forall(r => r.getAs[String]("street") == s"Cañón €${r.getAs[String]("requestid")}"))
    // Limit pushdown windows raw lines, blanks included: LIMIT 20 reads
    // lines 0-19, which hold 18 records.
    val limited = scan.limit(20)
    assert(limited.queryExecution.executedPlan.collectLeaves().mkString.contains("limit=Some(20)"))
    assert(limited.collect().map(_.getString(0)).toSeq == ids(lines.take(20)))
    // Equality filter pushdown still runs inside every page's reader.
    val one = scan.filter(col("requestid") === "94")
    assert(one.queryExecution.executedPlan.collectLeaves().mkString.contains("EqualTo(requestid,94)"))
    assert(one.collect().map(_.getString(0)).toSeq == Seq("94"))
  }

  test("explicit columns option overrides inference; missing keys -> null") {
    val df = spark.read.format("paged-json")
      .option("path", dataPath).option("pageSize", 500)
      .option("columns", "boro, nosuch").load()
    assert(df.columns.toSeq == Seq("boro", "nosuch"))
    assert(df.where(col("nosuch").isNull).count() == 2500)
  }

  test("feeds the Normalize stage end-to-end (ingest -> canonical)") {
    val norm = graft.traffic.Normalize.rename(read.load())
    assert(norm.columns.contains("borough") && norm.columns.contains("volume"))
    val sums = norm
      .withColumn("volume", col("volume").try_cast("long"))
      .groupBy("borough").agg(sum("volume").as("v"))
    assert(sums.count() == 3)
  }
}
