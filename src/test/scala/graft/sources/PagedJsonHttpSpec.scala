package graft.sources

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The HTTP face of the paged source against a local stub server speaking
  * the Socrata-style dialect (`$limit/$offset/$where/$select=count(*)`) —
  * the reference's live ingestion mode (`TrafficAnalysis.py:31-53`),
  * testable in a zero-egress environment. The stub records every request
  * so the specs can assert WHICH requests pushdown produces, not just the
  * resulting rows. */
class PagedJsonHttpSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private case class Req(params: Map[String, String]) {
    def isCount: Boolean = params.get("$select").exists(_.startsWith("count"))
    def isPage: Boolean = params.contains("$offset") && !isCount
  }

  private val requests = mutable.ArrayBuffer.empty[Req]

  private val rows: Seq[Map[String, String]] = (0 until 2500).map { i =>
    val boro = Seq("Queens", "Brooklyn", "Bronx")(i % 3)
    Map("requestid" -> i.toString, "boro" -> boro,
      "yr" -> (2020 + i % 5).toString, "vol" -> (i % 300).toString)
  }

  private def parseQuery(raw: String): Map[String, String] =
    if (raw == null || raw.isEmpty) Map.empty
    else raw.split("&").toSeq.map { kv =>
      val Array(k, v) = kv.split("=", 2)
      URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
    }.toMap

  /** `att='v' AND att2='v2'` — the dialect the source emits. */
  private def applyWhere(rs: Seq[Map[String, String]], where: Option[String]) =
    where.fold(rs) { w =>
      w.split(" AND ").foldLeft(rs) { (acc, term) =>
        val Array(att, quoted) = term.split("=", 2)
        val v = quoted.stripPrefix("'").stripSuffix("'").replace("''", "'")
        acc.filter(_.get(att).contains(v))
      }
    }

  private def json(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private var server: HttpServer = _
  private var url: String = _

  /** A Socrata-dialect handler over an (optionally mutable) row set. */
  private def socrataHandler(currentData: () => Seq[Map[String, String]]): com.sun.net.httpserver.HttpHandler =
    (x: HttpExchange) => {
      val params = parseQuery(x.getRequestURI.getRawQuery)
      requests.synchronized { requests += Req(params) }
      val filtered = applyWhere(currentData(), params.get("$where"))
      val body =
        if (params.get("$select").exists(_.startsWith("count")))
          s"""[{"count": "${filtered.size}"}]"""
        else {
          val off = params.get("$offset").map(_.toInt).getOrElse(0)
          val lim = params.get("$limit").map(_.toInt).getOrElse(filtered.size)
          filtered.slice(off, off + lim)
            .map(r => r.map { case (k, v) => s"${json(k)}: ${json(v)}" }
              .mkString("{", ", ", "}"))
            .mkString("[", ",\n", "]")
        }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.add("Content-Type", "application/json")
      x.sendResponseHeaders(200, bytes.length)
      x.getResponseBody.write(bytes)
      x.close()
    }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data", socrataHandler(() => rows))
    server.setExecutor(null)
    server.start()
    url = s"http://127.0.0.1:${server.getAddress.getPort}/data"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def read = spark.read.format("paged-json")
    .option("url", url).option("pageSize", 1000)

  private def pageReqsDuring[T](body: => T): (T, Seq[Req]) = {
    val before = requests.synchronized(requests.size)
    val r = body
    val after = requests.synchronized(requests.toVector)
    (r, after.drop(before).filter(_.isPage))
  }

  test("reads the full dataset over HTTP with inferred all-string schema") {
    val df = read.load()
    assert(df.schema.fields.map(_.name).toSet ==
      Set("requestid", "boro", "yr", "vol"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val (n, pageReqs) = pageReqsDuring(df.count())
    assert(n == 2500)
    // 2500 rows / 1000-row pages -> exactly 3 page fetches, in parallel
    // partitions (vs the reference's sequential driver loop).
    assert(pageReqs.size == 3, s"page requests: $pageReqs")
    assert(pageReqs.map(_.params("$offset")).toSet == Set("0", "1000", "2000"))
  }

  test("limit pushdown fetches only the contributing pages") {
    val df = read.load().limit(1000)
    val (n, pageReqs) = pageReqsDuring(df.count())
    assert(n == 1000)
    assert(pageReqs.size == 1, s"page requests: $pageReqs")
    assert(pageReqs.head.params("$limit") == "1000")
  }

  test("equality filter travels as a server-side $where") {
    val df = read.load().filter(col("yr") === "2024")
    val (got, pageReqs) = pageReqsDuring {
      df.select("yr").distinct().collect().map(_.getString(0)).toSeq
    }
    assert(got == Seq("2024"))
    assert(pageReqs.nonEmpty)
    assert(pageReqs.forall(_.params.get("$where").contains("yr='2024'")),
      s"page requests: $pageReqs")
    // Offsets index the FILTERED result set: 500 matching rows -> 1 page.
    assert(pageReqs.size == 1, s"page requests: $pageReqs")
    assert(df.count() == 500)
  }

  test("filter + limit composes as limit-after-filter (limit not pushed)") {
    val df = read.load().filter(col("yr") === "2024").limit(300)
    assert(df.count() == 300)
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scan.contains("EqualTo(yr,2024)"), s"plan: $scan")
    assert(scan.contains("limit=None"), s"plan: $scan")
  }

  test("transient 5xx responses are retried and the scan succeeds") {
    // A flaky twin of /data: every DISTINCT request 503s on its first
    // attempt and succeeds on retry — the scan must complete without
    // surfacing any failure.
    val seen = mutable.Set.empty[String]
    val healthy = socrataHandler(() => rows)
    server.createContext("/flaky", (x: HttpExchange) => {
      val raw = Option(x.getRequestURI.getRawQuery).getOrElse("")
      val firstAttempt = seen.synchronized { seen.add(raw) }
      if (firstAttempt) {
        x.sendResponseHeaders(503, -1)
        x.close()
      } else healthy.handle(x) // one dialect implementation, wrapped
    })
    val flakyUrl = s"http://127.0.0.1:${server.getAddress.getPort}/flaky"
    val df = spark.read.format("paged-json")
      .option("url", flakyUrl).option("pageSize", 1000).load()
    assert(df.count() == 2500)
  }

  test("TrafficPipeline live mode: acquire-over-HTTP equals local normalize") {
    // The reference's end-to-end shape: point the pipeline at a (stub)
    // Socrata endpoint serving the adversarial traffic fixture; the
    // normalized result must equal normalizing the same rows locally.
    val raw = graft.traffic.TrafficFixture.raw(spark, 200)
    val cols = raw.columns
    // ListMap keeps landing-schema key order, so HTTP schema inference
    // (union of keys, first-occurrence order) matches the local frame.
    val fixtureRows: Seq[Map[String, String]] = raw.collect().toSeq.map { r =>
      scala.collection.immutable.ListMap(
        cols.indices.flatMap(i => Option(r.getString(i)).map(v => cols(i) -> v)): _*)
    }
    server.createContext("/traffic", socrataHandler(() => fixtureRows))
    val live = graft.traffic.TrafficPipeline.load(
      spark, s"http://127.0.0.1:${server.getAddress.getPort}/traffic")
    val local = graft.traffic.Normalize(raw)
    assert(live.columns.toSeq == local.columns.toSeq)
    assert(live.count() == local.count())
    assert(live.select("request_id", "borough", "volume")
      .exceptAll(local.select("request_id", "borough", "volume")).isEmpty)
  }

  test("pollSnapshot over HTTP picks up upstream changes (live dashboard loop)") {
    // The reference's full live loop: daemon refetches the API, dashboard
    // reads an atomically swapped snapshot. The stub's dataset CHANGES
    // mid-run; the published snapshot must follow it.
    @volatile var live: Seq[Map[String, String]] = rows.take(100)
    server.createContext("/live", socrataHandler(() => live))
    val liveUrl = s"http://127.0.0.1:${server.getAddress.getPort}/live"
    val store = new graft.streaming.SnapshotRefresh.SnapshotStore
    def totalN: Long = store.latest.map(_.getLong(1)).sum
    def waitUntil(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
      assert(cond, s"snapshot store: ${store.latest}")
    }
    val handle = graft.streaming.SnapshotRefresh.pollSnapshot(
      () => spark.read.format("paged-json")
        .option("url", liveUrl).option("pageSize", 50).load(),
      df => df.groupBy(col("boro")).agg(count(lit(1)).as("n")).orderBy("boro"),
      store, intervalMs = 300)
    try {
      waitUntil(totalN == 100)
      live = rows.take(400) // upstream grows; next tick must refetch
      waitUntil(totalN == 400)
    } finally handle.close()
  }

  test("HTTP and file endpoints agree row-for-row on the same data") {
    val p = tempFile("pagedjson_http", ".jsonl")
    val lines = rows.map(r =>
      r.map { case (k, v) => s"${json(k)}: ${json(v)}" }.mkString("{", ", ", "}"))
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    val viaFile = spark.read.format("paged-json")
      .option("path", p.toString).option("pageSize", 1000).load()
    val viaHttp = read.load()
    assert(viaHttp.exceptAll(viaFile).isEmpty && viaFile.exceptAll(viaHttp).isEmpty)
  }
}
