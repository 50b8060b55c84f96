package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The graft-http DSv2 source against an in-process paginated endpoint:
  * parallel page fetch, explicit seq ordering, limit pushdown capping the
  * number of requests, and from_json(PERMISSIVE) typed parsing downstream
  * (SURVEY.md §1.3 / §7.3). */
class HttpSourceSpec extends SparkSpec {
  import spark.implicits._

  private val total = 21 // 21 schedule docs across pages of 8 => 3 pages

  private def withServer(f: (String, AtomicInteger) => Unit): Unit =
    withServerOf(total)(f)

  private def withServerOf(n: Int)(f: (String, AtomicInteger) => Unit): Unit = {
    val requests = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/schedules", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        requests.incrementAndGet()
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        val params = q.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }.toMap
        val page = params.getOrElse("page", "0").toInt
        val size = params.getOrElse("page_size", "8").toInt
        val start = page * size
        val items = (start until math.min(start + size, n)).map { i =>
          s"""{"id":$i,"repeat_period":{"hour":${i % 24}},"name":"sched_$i"}"""
        }
        val body = s"""{"data":[${items.mkString(",")}]}"""
          .getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/schedules", requests)
    finally server.stop(0)
  }

  test("reads all pages in parallel, rows carry global seq") {
    withServer { (url, requests) =>
      val df = spark.read.format("graft-http")
        .option("url", url).option("page_size", "8").option("max_pages", "5")
        .option("data_field", "data").load()
      // plain collect = one scan pass (orderBy would add a range-sampling pass)
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == total)
      assert(rows.map(_.getLong(0)).toSeq == (0L until total.toLong))
      assert(rows.head.getString(1).contains("\"name\":\"sched_0\""))
      // probe finds 3 pages (probe 1,2 cached into partitions) + executor
      // page 0 = 3 GETs, not max_pages=5 blind fetches
      assert(requests.get() == 3, s"expected 3 requests, got ${requests.get()}")
    }
  }

  test("stop-on-short-page: endpoint smaller than one page costs O(1) GETs") {
    withServerOf(3) { (url, requests) =>
      val df = spark.read.format("graft-http")
        .option("url", url).option("page_size", "8").option("max_pages", "32")
        .option("data_field", "data").load()
      assert(df.count() == 3)
      // probe page 1 (empty) + executor page 0 = 2 GETs, not 32
      assert(requests.get() == 2, s"expected 2 requests, got ${requests.get()}")
    }
  }

  test("endpoint exactly max_pages long passes; one row more fails loudly") {
    // 8 rows = exactly max_pages(2) × page_size(4): probe sees page 2 empty
    withServerOf(8) { (url, _) =>
      val df = spark.read.format("graft-http")
        .option("url", url).option("page_size", "4").option("max_pages", "2")
        .option("data_field", "data").load()
      assert(df.count() == 8)
    }
    // 9 rows behind the same bound: silent truncation forbidden
    withServerOf(9) { (url, _) =>
      val df = spark.read.format("graft-http")
        .option("url", url).option("page_size", "4").option("max_pages", "2")
        .option("data_field", "data").load()
      val e = intercept[Exception] { df.count() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
      assert(messages(e).exists(m => m != null && m.contains("max_pages")),
        s"expected truncation failure mentioning max_pages, got: $e")
    }
  }

  test("column pruning reaches the scan: seq-only projection drops the payload") {
    withServer { (url, _) =>
      val df = spark.read.format("graft-http")
        .option("url", url).option("page_size", "8").option("max_pages", "5")
        .option("data_field", "data").load()
        .select("seq")
      assert(df.collect().length == total)
      val scan = df.queryExecution.executedPlan.toString
      assert(scan.contains("readSchema=seq") && !scan.contains("readSchema=seq,json"),
        s"json column not pruned from the scan:\n$scan")
    }
  }

  test("limit pushdown caps pages fetched") {
    withServer { (url, requests) =>
      val df = spark.read.format("graft-http")
        .option("url", url).option("page_size", "8").option("max_pages", "5")
        .option("data_field", "data").load()
        .limit(5)
      assert(df.count() == 5)
      // 5 rows at page_size 8 => exactly 1 page requested (not max_pages=5)
      assert(requests.get() == 1, s"expected 1 request, got ${requests.get()}")
      val scan = df.queryExecution.executedPlan.toString()
      assert(scan.contains("pushedLimit=5"), s"plan did not push limit:\n$scan")
    }
  }

  test("keyed multi-path scan: per-key endpoints, tagged rows, only requested keys") {
    // the reference's per-project loop (app.py:125-126) as scan
    // partitioning: /projects/<id>/schedules, one page set per key
    val perKey = Map("p1" -> 3, "p2" -> 11, "p3" -> 99) // p3 must never be fetched
    val requests = new AtomicInteger(0)
    val requestedKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/projects", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        requests.incrementAndGet()
        val id = ex.getRequestURI.getPath.split("/")(2)
        requestedKeys.add(id)
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val page = params.getOrElse("page", "0").toInt
        val size = params.getOrElse("page_size", "8").toInt
        val n = perKey.getOrElse(id, 0)
        val items = (page * size until math.min(page * size + size, n))
          .map(i => s"""{"sid":$i,"owner":"$id"}""")
        val body = s"""{"data":[${items.mkString(",")}]}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val df = spark.read.format("graft-http")
        .option("url", s"$base/projects/{key}/schedules")
        .option("page_size", "8").option("data_field", "data")
        .option("path_values", "p1,p2")
        .load()
      assert(df.columns.toSeq == Seq("key", "seq", "json"))
      val rows = df.collect()
      val byKey = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
      assert(byKey == Map("p1" -> 3, "p2" -> 11), s"got $byKey")
      // seq restarts per key; payloads come from the key's endpoint
      assert(rows.filter(_.getString(0) == "p1").map(_.getLong(1)).sorted.toSeq
        == (0L until 3L))
      assert(rows.filter(_.getString(0) == "p2").map(_.getLong(1)).sorted.toSeq
        == (0L until 11L))
      assert(rows.forall(r => r.getString(2).contains(s""""owner":"${r.getString(0)}"""")))
      // only the requested keys are fetched — the incremental-audit point
      import scala.jdk.CollectionConverters._
      assert(requestedKeys.asScala.toSet == Set("p1", "p2"))
      // per key: probe GET (page 1, cached into its partition) + executor
      // GET (page 0) = 2 each
      assert(requests.get() == 4, s"expected 4 requests, got ${requests.get()}")
    } finally server.stop(0)
  }

  test("keyed scan requires the {key} placeholder and refuses streaming") {
    val df = spark.read.format("graft-http")
      .option("url", "http://127.0.0.1:1/projects") // no placeholder
      .option("path_values", "p1").load()
    val e = intercept[Exception] { df.collect() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).flatMap(c => Option(c.getMessage)).exists(_.contains("{key}")))
  }

  test("from_json(PERMISSIVE) parses documents into the declared schema") {
    withServer { (url, _) =>
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("repeat_period", StructType(Seq(StructField("hour", IntegerType)))),
        StructField("name", StringType),
        StructField("_corrupt_record", StringType)))
      val df = spark.read.format("graft-http")
        .option("url", url).option("page_size", "8").option("max_pages", "5")
        .option("data_field", "data").load()
        .select(col("seq"), from_json(col("json"), schema,
          Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")).as("d"))
        .select(col("seq"), col("d.id"), col("d.repeat_period.hour").as("hour"), col("d.name"))
      val r = df.orderBy("seq").as[(Long, Long, Int, String)].collect()
      assert(r.length == total)
      assert(r(13) == ((13L, 13L, 13, "sched_13")))
    }
  }
}
