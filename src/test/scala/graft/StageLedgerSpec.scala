package graft

/** The per-physical-stage resource ledger `ScaleMain run` writes for any
  * SparkEntry query. The spec drives `run` on the shared session and checks
  * the contract the scale investigations rely on: every stage row carries
  * the metric fields, the query row and the closing row carry the run
  * identity, and a small query reads clean (no spill). */
class StageLedgerSpec extends SparkSpec {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  test("ledger rows carry per-stage metrics; trailer carries the run identity") {
    val out = java.nio.file.Files.createTempDirectory("graft_ledger")
      .resolve("ledger.jsonl").toString
    ScaleMain.run(spark, sf("sf0.001"), out, Some("q68_native_pivot"))
    val rows = scala.io.Source.fromFile(out).getLines().map(json.readTree).toSeq
    // header, query row, its stage rows, calibration trailer
    assert(rows.size >= 4, s"expected header + query + stages + trailer, got ${rows.size}")
    val (header, query, stages, trailer) =
      (rows.head, rows(1), rows.drop(2).init, rows.last)
    assert(header.get("main").asText() == "ScaleMain")
    assert(header.get("sf_dir").asText() == sf("sf0.001"))
    assert(query.get("query").asText() == "q68_native_pivot")
    assert(query.get("ok").asBoolean())
    assert(query.get("n_stages").asInt() == stages.size)
    assert(trailer.get("sf_dir").asText() == sf("sf0.001") && trailer.has("calib_mt_sec"))
    assert(stages.nonEmpty)
    stages.foreach { s =>
      Seq("query", "stage", "tasks", "run_sec", "input_mb", "sh_read_mb",
        "sh_write_mb", "spill_mem_mb", "spill_disk_mb", "peak_mem_sum_mb")
        .foreach(f => assert(s.has(f), s"missing $f in $s"))
      assert(s.get("query").asText() == "q68_native_pivot")
    }
    // a tiny pivot at sf0.001 must not spill — the zero baseline the
    // 100x investigations compare against
    assert(stages.forall(_.get("spill_disk_mb").asDouble() == 0.0),
      stages.mkString("\n"))
    // stage ids are sorted ascending (the file reads as a timeline)
    val ids = stages.map(_.get("stage").asInt())
    assert(ids == ids.sorted)
  }

  test("unknown query fails loudly, not with an empty ledger") {
    val out = java.nio.file.Files.createTempDirectory("graft_ledger")
      .resolve("x.jsonl")
    val e = intercept[IllegalArgumentException] {
      ScaleMain.run(spark, sf("sf0.001"), out.toString, Some("q68_native_pivot,q999_nope"))
    }
    assert(e.getMessage.contains("unknown query: q999_nope"), e.getMessage)
    assert(!java.nio.file.Files.exists(out), "a ledger was opened before the check")
  }
}
