package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Audit, ScheduleNormalizer}
import graft.sinks.ReportSink

/** Entry point C end-to-end (`Job Cek Script/app.py:295-300`): sources →
  * T9 normalizer → Audit → report sink, as ONE Spark job (VERDICT r1
  * "What's missing" #3; SURVEY.md §7.1's minimum slice made runnable).
  *
  * ```
  * runMain graft.AuditMain <inDir|baseUrl> <outDir> [asOfUtc] [q2=reference]
  * ```
  *
  * Each source is a JSON *document* in the API shapes of SURVEY.md §1.1,
  * read either from `<inDir>/<name>.json` (the reference's file fallback,
  * `app.py:103-108`) or — when the first argument starts with `http` —
  * from `<baseUrl>/<name>` via the graft-http DSv2 source (S2-S4), with
  * `GRAFT_TOKEN` forwarded as the Authorization header (S1,
  * `app.py:23-41`). Both paths produce identical `(seq, variant)` rows, so
  * the pipeline downstream of the source select is one plan. A trailing
  * `q2=reference` reproduces the reference's literal GMT+25 weekly/monthly
  * Q2 offset (`app.py:142-144`) instead of the normalized +7 — the last
  * documented divergence, kept for byte-faithful replays of the original
  * report (SURVEY.md §7.5):
  *
  *  - `projects`:   `{"data":[{id, name, init_name?, loc?}, ...]}` —
  *    `init_name` defaults to `name` and `loc` to `'Delman'`, the aliasing
  *    the reference bakes into its SQL (`app.py:72,86`);
  *  - `schedules`:  `{"data":[{project_id, response: <schedules doc>}]}` —
  *    the per-project API responses; `response.data[*].repeat_period` is
  *    the string-or-object union normalized by [[ScheduleNormalizer]];
  *  - `monitoring`: `{"data":[{project_id, started_at}, ...]}` in API
  *    order (`started_at` nullable, raw GMT format `app.py:49`);
  *  - `nodes`:      `{"data":[{project_id, response: {data: {nodes:
  *    [...]}}}]}` — per-project project-detail documents (`sync.py:51`).
  *
  * The reference makes O(projects × 3) serial HTTPS round-trips; here each
  * source is read once and the audit is set-oriented (SURVEY.md §3.3).
  */
object AuditMain {

  /** (seq, e VARIANT) rows of a JSON document's `data` array — from a file
    * (wholetext + posexplode, seq = array position) or a paginated HTTP
    * endpoint (DSv2 source supplies seq; one JSON element per row). */
  private def entries(spark: SparkSession, source: String, name: String,
                      token: Option[String]): DataFrame =
    if (source.startsWith("http")) {
      val reader = spark.read.format("graft-http")
        .option("url", s"$source/$name")
        .option("data_field", "data")
      token
        .fold(reader)(t => reader.option("header.Authorization", t))
        .load()
        .select(col("seq") + 1, try_parse_json(col("json")).as("e"))
        .toDF("seq", "e")
    } else {
      spark.read.option("wholetext", "true").text(s"$source/$name.json")
        .select(posexplode_outer(
          try_variant_get(try_parse_json(col("value")), "$.data", "array<variant>"))
          .as(Seq("pos", "e")))
        .select((col("pos") + 1).cast("long").as("seq"), col("e"))
        .filter(col("e").isNotNull)
    }

  private def str(path: String) = (e: org.apache.spark.sql.Column) =>
    try_variant_get(e, path, "string")

  /** `(seq, e VARIANT)` project-document rows → the `(seq, id, name,
    * init_name, loc)` project table (the `app.py:72,86` aliasing). Exposed
    * for [[graft.streaming.AuditStream]], whose micro-batches carry the
    * same rows. */
  private[graft] def parseProjects(raw: DataFrame): DataFrame = raw.select(
    col("seq"),
    str("$.id")(col("e")).as("id"),
    str("$.name")(col("e")).as("name"),
    coalesce(str("$.init_name")(col("e")), str("$.name")(col("e"))).as("init_name"),
    coalesce(str("$.loc")(col("e")), lit("Delman")).as("loc"))

  /** The audit for a given project table, reading the three remaining
    * documents from `source` — shared by the one-shot batch run and the
    * incremental streaming run (which feeds per-micro-batch projects). */
  private[graft] def auditProjects(spark: SparkSession, source: String,
                                   projects: DataFrame,
                                   asOfUtc: org.apache.spark.sql.Column,
                                   token: Option[String],
                                   referenceQ2: Boolean): DataFrame =
    auditFrom(projects, asOfUtc,
      name => AuditMain.entries(spark, source, name, token), referenceQ2)

  /** [[auditProjects]] with the side documents fetched per-project through
    * the keyed multi-path scan (`$base/projects/{id}/<name>`, the
    * reference's own URL shape, `app.py:125-126,161-165`): a micro-batch
    * of N new projects costs N×3 endpoint reads, not a re-read of every
    * collection — the incremental audit's side-input cost is O(new).
    * `ids` is driver-side but bounded by the micro-batch's project count
    * (the reference drives the same loop from its driver). */
  private[graft] def auditProjectsKeyed(spark: SparkSession, baseUrl: String,
                                        projects: DataFrame, ids: Seq[String],
                                        asOfUtc: org.apache.spark.sql.Column,
                                        token: Option[String],
                                        referenceQ2: Boolean): DataFrame = {
    // path_values is comma-delimited: an id carrying a comma would split
    // into two bogus keys and silently fetch the wrong endpoints
    ids.find(_.contains(",")).foreach(bad => throw new IllegalArgumentException(
      s"project id '$bad' contains ',' — cannot be passed via path_values"))
    def keyedEntries(name: String): DataFrame = {
      val reader = spark.read.format("graft-http")
        .option("url", s"$baseUrl/projects/{key}/$name")
        .option("data_field", "data")
        .option("path_values", ids.mkString(","))
      token.fold(reader)(t => reader.option("header.Authorization", t))
        .load()
        // the per-key endpoints serve the same element shapes as the
        // collections (filtered to the key), so parsing is one code path;
        // the key column is dropped after the elements confirm their owner
        .select(col("seq") + 1, try_parse_json(col("json")).as("e"))
        .toDF("seq", "e")
    }
    auditFrom(projects, asOfUtc, keyedEntries, referenceQ2)
  }

  private def auditFrom(projects: DataFrame,
                        asOfUtc: org.apache.spark.sql.Column,
                        entries: String => DataFrame,
                        referenceQ2: Boolean): DataFrame = {

    val schedules = ScheduleNormalizer.normalizeSchedules(
      entries("schedules").select(
        str("$.project_id")(col("e")).as("project_id"),
        to_json(try_variant_get(col("e"), "$.response", "variant")).as("doc")))
      .drop("corrupt")

    val monitoring = entries("monitoring").select(
      str("$.project_id")(col("e")).as("project_id"),
      col("seq"),
      str("$.started_at")(col("e")).as("started_at_raw"))

    val nodes = entries("nodes")
      .select(str("$.project_id")(col("e")).as("project_id"),
        posexplode_outer(try_variant_get(col("e"), "$.response.data.nodes", "array<variant>"))
          .as(Seq("npos", "n")))
      .filter(col("n").isNotNull)
      .select(col("project_id"), (col("npos") + 1).cast("long").as("seq"),
        str("$.id")(col("n")).as("id"),
        str("$.name")(col("n")).as("name"),
        str("$.type")(col("n")).as("type"),
        str("$.status")(col("n")).as("status"),
        str("$.export_status")(col("n")).as("export_status"))

    Audit.audit(projects, schedules, monitoring, nodes, asOfUtc, referenceQ2)
  }

  /** Builds the report DataFrame (separated from `main` for the golden
    * end-to-end spec). HTTP mode forwards `GRAFT_TOKEN` as the
    * Authorization header (S1). `referenceQ2` is the `q2=reference`
    * argument (the literal GMT+25 Q2 offset; see the object scaladoc). */
  def run(spark: SparkSession, source: String,
          asOfUtc: org.apache.spark.sql.Column,
          referenceQ2: Boolean = false): DataFrame =
    runWithAuth(spark, source, asOfUtc, sys.env.get("GRAFT_TOKEN"), referenceQ2)

  def runWithAuth(spark: SparkSession, source: String,
                  asOfUtc: org.apache.spark.sql.Column,
                  token: Option[String],
                  referenceQ2: Boolean = false): DataFrame = {
    val projects = parseProjects(entries(spark, source, "projects", token))
    auditProjects(spark, source, projects, asOfUtc, token, referenceQ2)
  }

  /** The streaming project source: same rows as the batch `entries`
    * ("projects"), but incremental — each micro-batch holds only rows past
    * the checkpointed offset. */
  private[graft] def projectEntriesStream(spark: SparkSession, baseUrl: String,
                                          token: Option[String]): DataFrame = {
    val reader = spark.readStream.format("graft-http")
      .option("url", s"$baseUrl/projects")
      .option("data_field", "data")
    token.fold(reader)(t => reader.option("header.Authorization", t))
      .load()
      .select(col("seq") + 1, try_parse_json(col("json")).as("e"))
      .toDF("seq", "e")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: AuditMain <inDir|baseUrl> <outDir> [asOfUtc] [q2=reference]")
    val referenceQ2 = args.drop(2).contains("q2=reference")
    val spark = GraftSession.cli()
    val asOf = args.drop(2).find(_ != "q2=reference")
      .map(s => to_timestamp(lit(s))).getOrElse(current_timestamp())
    val report = run(spark, args(0), asOf, referenceQ2)
    ReportSink.writeCsv(report, args(1))
    // the reference's literal artifact (`app.py:220`): a styled workbook
    sinks.XlsxWriter.writeXlsx(report,
      new java.io.File(args(1), "summary_job.xlsx").toString)
    ReportSink.summarize(report).foreach { case (s, n) => println(s"$s: $n") }
    spark.stop()
  }
}
