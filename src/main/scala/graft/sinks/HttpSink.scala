package graft.sinks

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery

/** Per-row result of a sync POST — the K1d report shape
  * (`Sync Job/sync_app3.py:86-90`, generalized per SURVEY.md §7.5). */
case class PostResult(node_id: String, url: String, status_code: Int, attempts: Int)

/** Side-effecting HTTP POST sink — the reference's four sink strategies
  * (sequential `sync.py:60-69`, thread pool `sync_app.py:67-80`, asyncio
  * `sync_app2.py:56-75`, threads+retry `sync_app3.py:58-74`) unified as ONE
  * `mapPartitions` operator whose parallelism comes from partitioning
  * (SURVEY.md §3.2): executors replace the thread pool/event loop, and the
  * retry loop lives in the partition writer.
  *
  * Semantics: at-least-once (the reference's too — POSTs repeat across
  * reruns); retries ≤ `maxAttempts` on non-2xx or connection error, with
  * linear backoff. Returns the per-row status report instead of the
  * reference's last-response-only (`sync.py:69`).
  */
object HttpSink {

  def post(urls: DataFrame, parallelism: Int = 8, maxAttempts: Int = 3,
           headers: Map[String, String] = Map.empty,
           timeoutMs: Int = 10000): Dataset[PostResult] = {
    val spark = urls.sparkSession
    import spark.implicits._
    val hdrs = headers.toSeq
    urls.select("node_id", "url").as[(String, String)]
      .repartition(parallelism)
      .mapPartitions { rows =>
        // one pooled client per partition — never per row
        val c = client(timeoutMs)
        rows.map { case (nodeId, url) =>
          val (code, attempts) = postWithRetry(c, url, hdrs, maxAttempts, timeoutMs)
          PostResult(nodeId, url, code, attempts)
        }
      }
  }

  /** The HTTP client one task reuses for all its rows. */
  private[graft] def client(timeoutMs: Int): HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofMillis(timeoutMs.toLong)).build()

  private[graft] def ok(code: Int): Boolean = code >= 200 && code < 300

  /** The one POST-retry loop of both HTTP sinks (this one and the
    * graft-http DSv2 writer): POST `url` with no body until a 2xx or
    * `maxAttempts` tries, sleeping 100 ms × attempt between tries; a
    * connection error reads as status -1. Returns (last status, attempts). */
  private[graft] def postWithRetry(client: HttpClient, url: String,
      headers: Seq[(String, String)], maxAttempts: Int, timeoutMs: Int): (Int, Int) = {
    var attempt = 0
    var code = -1
    while (attempt < maxAttempts && !ok(code)) {
      attempt += 1
      code =
        try {
          val b = HttpRequest.newBuilder(URI.create(url))
            .timeout(Duration.ofMillis(timeoutMs.toLong))
            .POST(HttpRequest.BodyPublishers.noBody())
          headers.foreach { case (k, v) => b.header(k, v) }
          client.send(b.build(), HttpResponse.BodyHandlers.discarding()).statusCode()
        } catch { case _: Exception => -1 }
      if (!ok(code) && attempt < maxAttempts)
        Thread.sleep(100L * attempt) // linear backoff
    }
    (code, attempt)
  }

  /** Streaming K1 (SURVEY.md §2.6): drive the POST sink from an unbounded
    * request stream via `foreachBatch` — each micro-batch reuses the batch
    * operator above, so retry/backoff/pooling behavior is identical in both
    * modes. Callers put stateful dedup upstream (`dropDuplicates` /
    * `dropDuplicatesWithinWatermark`) for request idempotency across
    * micro-batches (the reference's memo dict, `app.py:112`); delivery
    * stays at-least-once (a batch that fails after some POSTs is replayed
    * from the checkpoint). */
  def streamTo(requests: DataFrame, checkpoint: String, parallelism: Int = 8,
               maxAttempts: Int = 3, headers: Map[String, String] = Map.empty,
               timeoutMs: Int = 10000): StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        // count() forces every partition's POSTs; the per-row report is
        // the batch operator's return value and could be logged/stored here
        post(batch, parallelism, maxAttempts, headers, timeoutMs).count()
        ()
      }
      .start()
}
