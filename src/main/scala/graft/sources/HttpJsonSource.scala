package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sinks.HttpSink

/** DataSource V2 reader for paginated JSON REST endpoints — the S2/S3/S4
  * source family (`Job Cek Script/app.py:125-129,161-165,201-205`;
  * `Sync Job/sync.py:35-46`) as a first-class Spark connector.
  *
  * Design (SURVEY.md §7.3):
  *  - rows are `(seq BIGINT, json STRING)`: one row per element of the
  *    endpoint's JSON array, `seq` = global position — ordered sources must
  *    carry an explicit sequence (SURVEY.md §7.4.2). Typed parsing happens
  *    in the engine via `from_json` with a declared schema in PERMISSIVE
  *    mode (SURVEY.md §1.3), so the connector stays schema-agnostic;
  *  - pagination is partitioning: page i → input partition i, fetched in
  *    parallel by executors (the reference fetches pages serially on one
  *    thread);
  *  - `SupportsPushDownLimit`: `df.limit(n)` caps the pages fetched at
  *    `ceil(n / page_size)` — the engine-side form of the reference's
  *    `page_size=8&page=0` URL limit;
  *  - auth (S1) is an option (`header.Authorization = token`), not an
  *    operator.
  *
  * Options: `url` (required), `page_size` (default 8), `max_pages`
  * (default 32 — the fetch bound when no limit is pushed), `data_field`
  * (JSON field holding the array; absent → the document root must be an
  * array), `page_param` (default "page"), `size_param` (default
  * "page_size"), `timeout_ms`, plus `header.*` forwarded verbatim.
  *
  * Keyed multi-path scan: with `path_values` (comma-separated key list)
  * the `url` must carry a `{key}` placeholder, and the scan fetches each
  * key's endpoint — the reference's per-project loop
  * (`app.py:125-126`: `GET projects/<id>/schedules`) as scan
  * PARTITIONING: one set of page partitions per key, fetched in parallel,
  * each row tagged with its key (schema becomes `(key, seq, json)` — the
  * key column is how callers re-attach `project_id` when the per-project
  * response body doesn't embed it). This is the incremental-audit path:
  * a micro-batch of N new projects fetches side documents for exactly
  * those N keys instead of re-reading whole collections.
  */
class HttpJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-http"
  // external metadata: writes carry the written DataFrame's schema (the
  // POST sink accepts any schema with a `url` column); reads fall back to
  // the inferred (seq, json) page schema
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("path_values")) HttpJsonSource.KeyedSchema
    else HttpJsonSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HttpJsonTable(schema, properties.asScala.toMap)
}

object HttpJsonSource {
  val Schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("json", StringType, nullable = true)))
  // keyed multi-path scans tag every row with the key whose endpoint it
  // came from; seq restarts per key
  val KeyedSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("json", StringType, nullable = true)))
}

final class HttpJsonTable(schema0: StructType, props: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-http(${props.getOrElse("url", "?")})"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HttpScanBuilder(props ++ options.asScala)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new HttpWriteBuilder(props ++ info.options.asScala, info.schema())
}

/** The write side of the connector (K1 as a first-class DSv2 sink):
  * `df.write.format("graft-http").mode("append").save()` POSTs one request
  * per row to the row's `url` column, with per-task pooled clients and
  * retry ≤ `max_attempts` — the same delivery semantics as
  * [[graft.sinks.HttpSink]] but with DSv2 commit aggregation: each task
  * reports (posted, failed) in its commit message, and the job-level
  * commit FAILS if any row exhausted its retries and `strict` (default
  * true) is set — so a partially-delivered sync is a failed job, visible
  * to orchestration, rather than a silent partial success. Delivery is
  * at-least-once (task retries replay POSTs; the reference behaves the
  * same across reruns, `sync_app3.py:65-74`). */
final class HttpWriteBuilder(props: Map[String, String], schema: StructType)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new HttpBatchWrite(props, schema)
  }
}

final case class HttpWriteSummary(posted: Long, failed: Long) extends WriterCommitMessage

final class HttpBatchWrite(props: Map[String, String], schema: StructType)
    extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new HttpWriterFactory(props, schema.fieldIndex("url"),
      props.getOrElse("max_attempts", "3").toInt,
      props.getOrElse("timeout_ms", "10000").toInt)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val posted = messages.collect { case m: HttpWriteSummary => m.posted }.sum
    val failed = messages.collect { case m: HttpWriteSummary => m.failed }.sum
    if (failed > 0 && props.getOrElse("strict", "true").toBoolean)
      throw new IllegalStateException(
        s"graft-http sink: $failed of ${posted + failed} POSTs failed after retries")
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class HttpWriterFactory(props: Map[String, String], urlIdx: Int,
                              maxAttempts: Int, timeoutMs: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new HttpRowWriter(props, urlIdx, maxAttempts, timeoutMs)
}

final class HttpRowWriter(props: Map[String, String], urlIdx: Int,
                          maxAttempts: Int, timeoutMs: Int)
    extends DataWriter[InternalRow] {
  // one pooled client per task, never per row
  private lazy val client = HttpSink.client(timeoutMs)
  private val headers = props.toSeq.collect {
    case (k, v) if k.toLowerCase.startsWith("header.") => k.substring(7) -> v
  }
  private var posted = 0L
  private var failed = 0L

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(urlIdx)) { failed += 1; return } // null url = failed row, not an NPE
    val (code, _) = HttpSink.postWithRetry(client,
      row.getUTF8String(urlIdx).toString, headers, maxAttempts, timeoutMs)
    if (HttpSink.ok(code)) posted += 1 else failed += 1
  }
  override def commit(): WriterCommitMessage = HttpWriteSummary(posted, failed)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

final class HttpScanBuilder(props: Map[String, String])
    extends ScanBuilder with SupportsPushDownLimit
    with SupportsPushDownRequiredColumns {
  private var limit: Option[Int] = None
  private var required: StructType =
    if (props.contains("path_values")) HttpJsonSource.KeyedSchema
    else HttpJsonSource.Schema
  // a keyed scan can't translate a global limit into per-key page caps —
  // refuse the pushdown and let Spark apply the limit after the scan
  override def pushLimit(n: Int): Boolean =
    if (props.contains("path_values")) false
    else { limit = Some(n); true }
  // column pruning: a seq-only projection (counts, pagination checks) must
  // not materialize/ship the JSON payload strings
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new HttpScan(props, limit, required)
}

/** Shared page fetch/parse used by the driver-side probe and the executor
  * readers, so a page probed at plan time is never fetched twice. */
private[sources] object HttpFetch {
  def fetchBody(props: Map[String, String], pageSize: Int, page: Int,
                key: Option[String] = None): String = {
    val base = key.fold(props("url")) { k =>
      val url = props("url")
      require(url.contains("{key}"),
        s"graft-http: path_values requires a {key} placeholder in url ($url)")
      url.replace("{key}", java.net.URLEncoder.encode(k, "UTF-8"))
    }
    val pageParam = props.getOrElse("page_param", "page")
    val sizeParam = props.getOrElse("size_param", "page_size")
    val timeoutMs = props.getOrElse("timeout_ms", "10000").toLong
    val sep = if (base.contains("?")) "&" else "?"
    val url = s"$base$sep$sizeParam=$pageSize&$pageParam=$page"
    val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(timeoutMs)).build()
    val reqB = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(timeoutMs)).GET()
    props.foreach { case (k, v) =>
      if (k.toLowerCase.startsWith("header.")) reqB.header(k.substring(7), v)
    }
    client.send(reqB.build(), HttpResponse.BodyHandlers.ofString()).body()
  }

  def elements(props: Map[String, String], body: String): Seq[String] = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(body)
    val arr = props.get("data_field").map(root.get).getOrElse(root)
    if (arr == null || !arr.isArray) Seq.empty
    else arr.elements().asScala.map(mapper.writeValueAsString).toSeq
  }

  /** One endpoint's pages as the driver probes them: each body fetched is
    * kept in `bodies`, so its page's partition never fetches it again. */
  final class Pages(props: Map[String, String], pageSize: Int, key: Option[String]) {
    val bodies = scala.collection.mutable.Map.empty[Int, String]
    def rows(p: Int): Int =
      elements(props, bodies.getOrElseUpdate(p, fetchBody(props, pageSize, p, key))).size

    /** The one page search. Pages are monotone (full ones, at most one
      * partial, then empty ones): gallop forward from page `from` (the
      * pages below it are known full) with a doubling step, then
      * binary-search the first page that is not full. The gallop stops at
      * page `stop` without fetching it, so the result is `stop` when every
      * page before it is full. O(log n) GETs. */
    def firstNotFull(from: Int, stop: Int = Int.MaxValue): Int = {
      var lo = from - 1 // pages <= lo are full
      var hi = from
      var step = 1
      while (hi < stop && rows(hi) == pageSize) {
        lo = hi; hi = math.min(from + step, stop); step *= 2
      }
      while (hi - lo > 1) {
        val mid = lo + (hi - lo) / 2
        if (rows(mid) == pageSize) lo = mid else hi = mid
      }
      hi
    }
  }
}

final class HttpScan(props: Map[String, String], limit: Option[Int],
                     required: StructType = HttpJsonSource.Schema)
    extends Scan with Batch {
  private val pageSize = props.getOrElse("page_size", "8").toInt
  private val maxPages = props.getOrElse("max_pages", "32").toInt

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-http url=${props("url")} pageSize=$pageSize pushedLimit=${limit.getOrElse(-1)} " +
      s"readSchema=${required.fieldNames.mkString(",")}" +
      HttpScan.pathValues(props).fold("")(ks => s" pathKeys=${ks.size}")

  /** Plans exactly the pages the endpoint has, not `max_pages` blind.
    *
    * The reference's pagination loop stops at the page the API returns
    * (`Job Cek Script/app.py:125-129`); a fixed page count either
    * over-fetches short endpoints or — worse — silently truncates long
    * ones at `max_pages × page_size` rows. Instead the driver runs a
    * galloping + binary search over page indices (O(log n) GETs, bodies
    * cached into their partitions so executors don't re-fetch), and if
    * data still exists at page `max_pages` the scan FAILS loudly rather
    * than returning a silently short DataFrame.
    */
  // Spark calls planInputPartitions more than once per query (planning and
  // execution); memoize so the probe GETs are paid exactly once
  override def planInputPartitions(): Array[InputPartition] = planned

  /** The pages of one endpoint (one key, or the plain url): page 0 is
    * left to its executor, the search starts at page 1, and data at page
    * `maxPages` (one past the allowed window) is the truncation sentinel. */
  private def probedPages(key: Option[String]): Array[InputPartition] = {
    val pages = new HttpFetch.Pages(props, pageSize, key)
    val hi = pages.firstNotFull(1, maxPages)
    if (hi == maxPages && pages.rows(maxPages) > 0)
      throw new IllegalStateException(
        s"graft-http: endpoint has rows beyond max_pages=$maxPages × page_size=$pageSize; " +
          s"increase max_pages or push a limit (url=${props("url")}" +
          key.fold("")(k => s", key=$k") + ")")
    val n = if (pages.rows(hi) > 0) hi + 1 else hi
    (0 until math.max(n, 1))
      .map(p => HttpPage(p, pages.bodies.get(p), key = key): InputPartition).toArray
  }

  private lazy val planned: Array[InputPartition] = {
    HttpScan.pathValues(props) match {
      // keyed multi-path scan: per-key probe, partitions carry their key.
      // A key whose endpoint is empty still plans page 0 — its reader
      // yields no rows, which is the correct "no side data for this id".
      case Some(keys) => keys.flatMap(k => probedPages(Some(k))).toArray
      case None => limit match {
        // limit pushdown: n rows need at most ceil(n / page_size) pages;
        // truncation is the caller's intent here, so no probe
        case Some(n) =>
          val pages = math.min(maxPages, (n + pageSize - 1) / pageSize)
          (0 until pages).map(p => HttpPage(p): InputPartition).toArray
        case None => probedPages(None)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HttpReaderFactory(props, pageSize, required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(!props.contains("path_values"),
      "graft-http: keyed multi-path scans are batch-only (per-key offsets " +
        "are not tracked); stream the key-bearing collection instead and " +
        "read the per-key endpoints in foreachBatch")
    new HttpMicroBatchStream(props, required)
  }
}

object HttpScan {
  private[sources] def pathValues(props: Map[String, String]): Option[Seq[String]] =
    props.get("path_values").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
}

/** Streaming offset = number of rows already ingested from the endpoint.
  * Valid under the append-only assumption: existing rows keep their page
  * position and new rows arrive at the tail (the shape of a monitoring/job
  * log API — the reference's daily pages, `app.py:125-129`). */
final case class HttpStreamOffset(rows: Long) extends StreamOffset {
  override def json(): String = rows.toString
}

/** The graft-http source as a streaming ingestion path (SURVEY.md §2.10):
  * each micro-batch covers the row range (start, end] discovered by probing
  * forward from the committed offset — earlier pages are never re-fetched,
  * and probe bodies are cached into their partitions. Implements
  * `SupportsTriggerAvailableNow`, so `Trigger.AvailableNow` drains exactly
  * the rows present at query start and self-terminates: the cron-equivalent
  * incremental run of entry point C (schedule-driven daily batch,
  * `app.py:135-157`). */
final class HttpMicroBatchStream(props: Map[String, String],
                                 required: StructType = HttpJsonSource.Schema)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val pageSize = props.getOrElse("page_size", "8").toInt

  // bodies probed in the most recent latestOffset cycle, page -> body;
  // replaced (not merged) each probe so a previously-partial page that has
  // since filled up is re-read, never served stale
  @volatile private var lastProbe: Map[Int, String] = Map.empty
  private var availableNowMode = false
  private var preparedEnd: Option[Long] = None

  /** Total rows at the endpoint, galloping forward from `startRows` (pages
    * below the committed offset are known-full and skipped). O(log growth)
    * GETs per cycle. */
  private def totalRowsFrom(startRows: Long): Long = {
    val pages = new HttpFetch.Pages(props, pageSize, None)
    val hi = pages.firstNotFull((startRows / pageSize).toInt)
    val total = hi.toLong * pageSize + pages.rows(hi)
    lastProbe = pages.bodies.toMap
    total
  }

  override def initialOffset(): StreamOffset = HttpStreamOffset(0L)
  override def deserializeOffset(json: String): StreamOffset =
    HttpStreamOffset(json.trim.toLong)

  override def prepareForTriggerAvailableNow(): Unit = { availableNowMode = true }

  override def latestOffset(): StreamOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used for admission-control sources")

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val s = start.asInstanceOf[HttpStreamOffset].rows
    if (availableNowMode) {
      // AvailableNow contract: the end captured at the first call is the
      // fixed target for the whole run
      if (preparedEnd.isEmpty) preparedEnd = Some(totalRowsFrom(s))
      HttpStreamOffset(math.max(preparedEnd.get, s))
    } else HttpStreamOffset(totalRowsFrom(s))
  }

  override def planInputPartitions(start: StreamOffset, end: StreamOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[HttpStreamOffset].rows
    val e = end.asInstanceOf[HttpStreamOffset].rows
    if (e <= s) Array.empty
    else {
      val probe = lastProbe
      (s / pageSize to (e - 1) / pageSize).map { p =>
        HttpPage(p.toInt, probe.get(p.toInt), s, e): InputPartition
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HttpReaderFactory(props, pageSize, required)
  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()
}

/** `fromRow`/`untilRow` bound the page to a global row range — the
  * streaming reader's micro-batch slice; batch scans use the full range.
  * `key` is the path value of a keyed multi-path scan (None = plain scan). */
final case class HttpPage(page: Int, prefetched: Option[String] = None,
                          fromRow: Long = Long.MinValue,
                          untilRow: Long = Long.MaxValue,
                          key: Option[String] = None) extends InputPartition

final class HttpReaderFactory(props: Map[String, String], pageSize: Int,
                              required: StructType = HttpJsonSource.Schema)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HttpPage]
    new HttpPageReader(props, pageSize, p.page, p.prefetched, required,
      p.fromRow, p.untilRow, p.key)
  }
}

final class HttpPageReader(props: Map[String, String], pageSize: Int, page: Int,
                           prefetched: Option[String],
                           required: StructType = HttpJsonSource.Schema,
                           fromRow: Long = Long.MinValue,
                           untilRow: Long = Long.MaxValue,
                           key: Option[String] = None)
    extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[InternalRow] = {
    val body = prefetched.getOrElse(HttpFetch.fetchBody(props, pageSize, page, key))
    val fields = required.fieldNames
    val keyUtf8 = key.map(UTF8String.fromString).orNull
    HttpFetch.elements(props, body).iterator.zipWithIndex
      .map { case (el, i) => (page.toLong * pageSize + i, el) }
      .filter { case (seq, _) => seq >= fromRow && seq < untilRow }
      .map { case (seq, el) =>
        // only materialize what the pruned schema asks for — a seq-only
        // projection never builds the payload UTF8String
        InternalRow.fromSeq(fields.toSeq.map {
          case "seq" => seq
          case "json" => UTF8String.fromString(el)
          case "key" => keyUtf8
        })
      }
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
