package graft.sources.pagedjson

import java.io.BufferedReader
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 re-expression of the reference's paginated Socrata
  * ingestion (`TrafficAnalysis.py:31-53`; SURVEY.md §2.A1-A3):
  *
  *   - the upstream API serves 1000-row pages via `$limit/$offset`; each
  *     [[PageInputPartition]] IS one offset window — pages are
  *     fetched/parsed IN PARALLEL across executors instead of the
  *     reference's sequential driver loop (~1713 blocking requests),
  *   - `SupportsPushDownLimit` = QuickFetch's bounded single-page scan
  *     (`QuickFetch.py:31-48`): a `LIMIT n` plans only ⌈n/pageSize⌉ pages,
  *   - `SupportsPushDownFilters` = the SoQL `$where yr=2024` server-side
  *     filter (`Dash.py:36`): equality filters on top-level string fields
  *     are sent to the server (HTTP) / evaluated inside the scan (file)
  *     and reported as pushed.
  *
  * Pages come from a pluggable [[PageEndpoint]]: `url` selects the HTTP
  * client speaking the `$limit/$offset/$where/$select=count(*)` paging
  * dialect (the reference's live mode); `path` selects a local JSONL
  * stand-in (this zero-egress environment's test mode). Pushdown
  * semantics are identical across endpoints.
  *
  * Landing schema fidelity: every column is a string (the raw feed's
  * shape, `SC/initialDatainfo.png`) — the Normalize stage owns typing.
  *
  * Options: `url` (HTTP endpoint) or `path` (JSONL file), `pageSize`
  * (rows per partition, default 1000), `columns` (comma-separated schema;
  * otherwise inferred from the first page of records' union of keys).
  */
class PagedJsonSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedJsonSource.schemaFor(options)

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new PagedJsonTable(schema, new CaseInsensitiveStringMap(properties))
}

/** One offset window: `rows` rows starting at `cursor`, the window's
  * first row in the endpoint's own addressing (file: the byte offset of
  * its first line; HTTP: its `$offset`). */
case class Page(cursor: Long, rows: Int)

/** Where pages come from. Implementations are small serializable
  * descriptors (a path / a URL) opened per use, so an [[InputPartition]]
  * can carry one to any executor. */
sealed trait PageEndpoint extends Serializable {
  /** The offset windows of `pageSize` rows (the last one shorter) that
    * cover the first `maxRows` rows of the row universe. File: raw lines,
    * blank ones included (filters run inside the reader, post-window).
    * HTTP: the count the SERVER reports for the filtered result set —
    * offsets index filtered rows when `$where` is in play. */
  def pages(pageSize: Int, maxRows: Long, filters: Array[Filter]): Seq[Page]
  /** One planned page, materialized (bounded by pageSize). */
  def fetchPage(page: Page, filters: Array[Filter]): Seq[JsonNode]
  /** First `n` records, for schema inference. */
  def samplePage(n: Int): Seq[JsonNode]
  def describe: String
}

/** Local JSONL stand-in: one JSON object per line; an offset window is a
  * line-number window. Planning reads the file once, recording the byte
  * offset where each page's first line starts, so each reader seeks
  * straight to its page: a full scan reads every line twice (plan +
  * read), not O(pages²) lines from re-reading the file from line 0. */
case class FilePageEndpoint(path: String) extends PageEndpoint {
  override def pages(pageSize: Int, maxRows: Long, filters: Array[Filter]): Seq[Page] = {
    // Lines end where BufferedReader.readLine ends them: at \n, \r or
    // \r\n. In UTF-8 those bytes never occur inside a multi-byte
    // character, so the split can run on raw bytes.
    val starts = Array.newBuilder[Long]
    var rows = 0L
    var lineStart = true // the next byte begins a line
    var prevCR = false
    var base = 0L
    val buf = new Array[Byte](1 << 16)
    val in = Files.newInputStream(Paths.get(path))
    try {
      var n = in.read(buf)
      while (n > 0 && !(lineStart && rows == maxRows)) {
        var i = 0
        while (i < n && !(lineStart && rows == maxRows)) {
          val b = buf(i)
          if (!(prevCR && b == '\n')) { // the \n of a \r\n ends no extra line
            if (lineStart) {
              if (rows % pageSize == 0) starts += base + i
              rows += 1
            }
            lineStart = b == '\n' || b == '\r'
          }
          prevCR = b == '\r'
          i += 1
        }
        base += n
        n = in.read(buf)
      }
    } finally in.close()
    starts.result().toSeq.zipWithIndex.map { case (cursor, p) =>
      Page(cursor, math.min(pageSize.toLong, rows - p.toLong * pageSize).toInt)
    }
  }
  override def fetchPage(page: Page, filters: Array[Filter]): Seq[JsonNode] = {
    val channel = FileChannel.open(Paths.get(path)).position(page.cursor)
    val reader = new BufferedReader(
      Channels.newReader(channel, StandardCharsets.UTF_8.newDecoder(), -1))
    try Iterator.continually(reader.readLine()).take(page.rows).takeWhile(_ != null)
      .filter(_.nonEmpty).map(PagedJsonSource.mapper.readTree).toVector
    finally reader.close()
  }
  override def samplePage(n: Int): Seq[JsonNode] = {
    val stream = Files.lines(Paths.get(path), StandardCharsets.UTF_8)
    try stream.limit(n).iterator().asScala
      .filter(_.nonEmpty).map(PagedJsonSource.mapper.readTree).toVector
    finally stream.close()
  }
  override def describe: String = s"file=$path"
}

/** HTTP endpoint speaking the Socrata-style paging dialect:
  * `?$limit=N&$offset=M` returns a JSON array of flat objects,
  * `?$select=count(*)` returns `[{"count": "<total>"}]`, and pushed
  * equality filters ride along as `?$where=col='v' AND ...` — the
  * server-side filter the reference taps with `yr=2024` (`Dash.py:36`).
  * Built on the JDK's HttpURLConnection (no client library). Transient
  * failures (IO errors, 5xx, 429) retry up to `maxAttempts` with linear
  * backoff — a paged ingest issues thousands of requests, so one blip
  * must not fail the whole scan; 4xx fails fast (the request is wrong,
  * not the moment).
  *
  * Consistency caveat (inherent to offset paging, same as the
  * reference's sequential loop): partitions are planned from a count(*)
  * taken at plan time, and offsets index the server's CURRENT result
  * set — a row inserted/deleted mid-scan shifts later offsets, which can
  * duplicate or drop a boundary row. Exactly-once ingestion from a live
  * dataset needs a server-side snapshot/stable cursor; for an
  * append-only feed, filter to a closed time window. */
case class HttpPageEndpoint(
    url: String, connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 60000,
    maxAttempts: Int = 3, retryBackoffMs: Long = 200)
    extends PageEndpoint {

  private def whereClause(filters: Array[Filter]): Option[String] = {
    val terms = filters.collect {
      case EqualTo(att, v: String) => s"$att='${v.replace("'", "''")}'"
    }
    if (terms.isEmpty) None else Some(terms.mkString(" AND "))
  }

  private def getOnce(target: String): JsonNode = {
    val conn = new URI(target).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setRequestProperty("Accept", "application/json")
    try {
      val code = conn.getResponseCode
      if (code >= 500 || code == 429)
        throw new java.io.IOException(s"HTTP $code for $target") // retryable
      require(code == 200, s"paged-json endpoint returned HTTP $code for $target")
      val body = new String(conn.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
      PagedJsonSource.mapper.readTree(body)
    } finally conn.disconnect()
  }

  private def get(params: Seq[(String, String)]): JsonNode = {
    val qs = params.map { case (k, v) =>
      URLEncoder.encode(k, "UTF-8") + "=" + URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
    val sep = if (url.contains("?")) "&" else "?"
    val target = url + sep + qs
    var attempt = 1
    while (true) {
      try return getOnce(target)
      catch {
        case _: java.io.IOException if attempt < maxAttempts =>
          Thread.sleep(retryBackoffMs * attempt)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def totalRows(filters: Array[Filter]): Long = {
    val params = Seq("$select" -> "count(*)") ++ whereClause(filters).map("$where" -> _)
    val node = get(params)
    // [{"count": "N"}] — lenient on the alias: first field of first row.
    val row = node.elements().asScala.toSeq.headOption
      .getOrElse(sys.error(s"empty count(*) response from $url"))
    row.elements().asScala.toSeq.headOption
      .map(_.asLong())
      .getOrElse(sys.error(s"fieldless count(*) response from $url"))
  }

  override def pages(pageSize: Int, maxRows: Long, filters: Array[Filter]): Seq[Page] = {
    val rows = math.min(totalRows(filters), maxRows)
    (0L until rows by pageSize.toLong).map(start =>
      Page(start, math.min(pageSize.toLong, rows - start).toInt))
  }

  override def fetchPage(page: Page, filters: Array[Filter]): Seq[JsonNode] = {
    val params = Seq(
      "$limit" -> page.rows.toString,
      "$offset" -> page.cursor.toString) ++ whereClause(filters).map("$where" -> _)
    get(params).elements().asScala.toVector
  }

  override def samplePage(n: Int): Seq[JsonNode] =
    get(Seq("$limit" -> n.toString, "$offset" -> "0")).elements().asScala.toVector

  override def describe: String = s"url=$url"
}

object PagedJsonSource {
  private[pagedjson] val mapper = new ObjectMapper()

  private[pagedjson] def endpointFor(options: CaseInsensitiveStringMap): PageEndpoint =
    (Option(options.get("url")), Option(options.get("path"))) match {
      case (Some(u), _) => HttpPageEndpoint(u)
      case (None, Some(p)) => FilePageEndpoint(p)
      case (None, None) =>
        throw new IllegalArgumentException(
          "paged-json requires either 'url' (HTTP endpoint) or 'path' (JSONL file)")
    }

  private[pagedjson] def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val cols = Option(options.get("columns")) match {
      case Some(spec) => spec.split(",").map(_.trim).toSeq
      case None =>
        // Union of keys over the first page — the reference's
        // pd.DataFrame(list_of_dicts) schema inference (SURVEY.md A4).
        val pageSize = Option(options.get("pageSize")).map(_.toInt).getOrElse(1000)
        endpointFor(options).samplePage(pageSize)
          .flatMap(_.fieldNames.asScala).distinct
    }
    StructType(cols.map(c => StructField(c, StringType, nullable = true)))
  }
}

class PagedJsonTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String =
    s"paged_json(${PagedJsonSource.endpointFor(options).describe})"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(o.asCaseSensitiveMap())
    new PagedJsonScanBuilder(schema, new CaseInsensitiveStringMap(merged))
  }
}

class PagedJsonScanBuilder(schema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownLimit with SupportsPushDownFilters {

  private var limit: Option[Int] = None
  private var pushed: Array[Filter] = Array.empty

  // Fully pushed ONLY when no filters are pushed into the scan: the scan
  // applies the limit to raw row offsets (pre-filter), so combined with an
  // in-scan filter it would under-return rows for limit-after-filter
  // semantics. Spark's V2ScanRelationPushDown pushes filters before limits,
  // so `pushed` is final here; returning false keeps the global Limit node.
  override def pushLimit(l: Int): Boolean =
    if (pushed.isEmpty) { limit = Some(l); true } else false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo(att, _: String) => schema.fieldNames.contains(att)
      case _ => false
    }
    pushed = supported
    rest // Spark re-evaluates the rest above the scan.
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new PagedJsonScan(
    schema, PagedJsonSource.endpointFor(options),
    Option(options.get("pageSize")).map(_.toInt).getOrElse(1000),
    // Defensive re-check at build time: never page-prune a filtered scan,
    // regardless of the engine's pushdown call order.
    if (pushed.isEmpty) limit else None, pushed)
}

class PagedJsonScan(
    schema: StructType, endpoint: PageEndpoint, pageSize: Int,
    limit: Option[Int], filters: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"PagedJsonScan(${endpoint.describe}, pageSize=$pageSize, limit=$limit, " +
      s"pushedFilters=${filters.mkString("[", ",", "]")})"

  // Limit pushdown: a LIMIT smaller than the dataset plans only the
  // pages that can contribute (QuickFetch's single bounded page).
  override def planInputPartitions(): Array[InputPartition] =
    endpoint.pages(pageSize, limit.fold(Long.MaxValue)(_.toLong), filters)
      .map(PageInputPartition(endpoint, _): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedJsonReaderFactory(schema, filters)
}

/** One `$offset/$limit` window against an endpoint. */
case class PageInputPartition(endpoint: PageEndpoint, page: Page)
    extends InputPartition

class PagedJsonReaderFactory(schema: StructType, filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PageInputPartition]
    new PagedJsonReader(p, schema, filters)
  }
}

class PagedJsonReader(
    p: PageInputPartition, schema: StructType, filters: Array[Filter])
    extends PartitionReader[InternalRow] {

  // One page, materialized on the executor (bounded by pageSize rows).
  private val records = p.endpoint.fetchPage(p.page, filters).iterator
  private val eq: Seq[(Int, String)] = filters.collect {
    case EqualTo(att, v: String) => schema.fieldIndex(att) -> v
  }.toSeq
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (records.hasNext) {
      val node = records.next()
      val values = schema.fields.map { f =>
        val v = node.get(f.name)
        if (v == null || v.isNull) null else UTF8String.fromString(v.asText())
      }
      // "Server-side" filter: the HTTP endpoint already applied it via
      // $where (re-checking is a correctness guard against a lax server);
      // for the file endpoint this IS the filter evaluation, inside the
      // scan and pre-shuffle.
      val keep = eq.forall { case (i, want) =>
        values(i) != null && values(i).toString == want
      }
      if (keep) {
        current = InternalRow.fromSeq(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(values))
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
