package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{AggState, Generations}

/** operators/Generations: the atomic CURRENT pointer over optimize-created
  * generations — readers resolving through the pointer see identical
  * content across a compaction switch, and an unpublished table fails
  * loudly instead of guessing. */
class GenerationsSpec extends SparkSpec {

  test("publish switches readers atomically across an optimize generation") {
    val table = Files.createTempDirectory("graft_gen_table").toString
    val g1 = Files.createTempDirectory("graft_gen1").toString
    val g2 = Files.createTempDirectory("graft_gen2").toString
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val keys = Seq("source")

    intercept[RuntimeException] { Generations.resolve(table) }
    intercept[IllegalArgumentException] {
      Generations.publish(table, s"$g1/does-not-exist")
    }

    AggState.build(docs.filter(col("doc_id") < 250), keys, "n_chars", g1)
    AggState.append(docs.filter(col("doc_id") >= 250), keys, "n_chars", g1)
    Generations.publish(table, g1)
    val before = AggState.merged(spark, Generations.resolve(table), keys)
      .orderBy("source").collect().toSeq

    // compact into a NEW generation, then switch the pointer — a reader
    // resolving at any instant sees g1 or g2, both content-identical
    AggState.optimize(spark, g1, g2, keys)
    Generations.publish(table, g2)
    assert(Generations.resolve(table) === new java.io.File(g2).getCanonicalPath)
    val after = AggState.merged(spark, Generations.resolve(table), keys)
      .orderBy("source").collect().toSeq
    assert(after === before)
  }

  test("DedupIndex behind a CURRENT pointer: probe identical across the switch") {
    import graft.operators.DedupIndex
    val table = Files.createTempDirectory("graft_gen_didx_t").toString
    val g1 = Files.createTempDirectory("graft_gen_didx1").toString
    val g2 = Files.createTempDirectory("graft_gen_didx2").toString
    val docs = Tables(spark, sf("sf0.001"), "documents")
    DedupIndex.build(docs.filter(col("doc_id") % 10 < 5), g1)
    DedupIndex.append(docs.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 =!= 7), g1)
    Generations.publish(table, g1)
    def probe() = DedupIndex.probe(spark,
        docs.filter(col("doc_id") % 10 === 7), Generations.resolve(table))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val before = probe()
    assert(before.nonEmpty)
    DedupIndex.optimize(spark, g1, g2)
    Generations.publish(table, g2)
    assert(probe() === before)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  test("AnnIndex behind a CURRENT pointer: probe identical across the switch") {
    import graft.operators.AnnIndex
    val table = Files.createTempDirectory("graft_gen_ann_t").toString
    val g1 = Files.createTempDirectory("graft_gen_ann1").toString
    val g2 = Files.createTempDirectory("graft_gen_ann2").toString
    val emb = Tables(spark, sf("sf0.001"), "embeddings")
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    AnnIndex.build(emb.filter(col("vec_id") % 2 === 0), cent, g1)
    AnnIndex.append(spark, emb.filter(col("vec_id") % 2 === 1), g1)
    Generations.publish(table, g1)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def probe() = AnnIndex.probe(spark, queries, Generations.resolve(table))
      .collect().map(_.toSeq).toSeq
    val before = probe()
    assert(before.nonEmpty)
    AnnIndex.optimize(spark, g1, g2)
    Generations.publish(table, g2)
    assert(probe() === before)
  }

  test("publish history enables as-of reads; vacuumed generations fail loudly") {
    val table = Files.createTempDirectory("graft_gen_hist_t").toString
    val g1 = Files.createTempDirectory("graft_gen_hist1").toString
    val g2 = Files.createTempDirectory("graft_gen_hist2").toString
    val g3 = Files.createTempDirectory("graft_gen_hist3").toString
    Generations.publish(table, g1)
    Generations.publish(table, g2)
    Generations.publish(table, g3)
    // lineage is ordered and CURRENT equals the latest entry
    val h = Generations.history(table)
    assert(h.map(_._1) === Seq(1, 2, 3))
    assert(h.last._2 === Generations.resolve(table))
    // time travel: the second publish is still addressable
    assert(Generations.resolveAt(table, 2) ===
      new java.io.File(g2).getCanonicalPath)
    // an unknown seq and a vacuumed generation both fail loudly
    intercept[RuntimeException] { Generations.resolveAt(table, 9) }
    assert(new java.io.File(g2).delete()) // retire generation 2
    intercept[IllegalArgumentException] { Generations.resolveAt(table, 2) }
    // history survives; CURRENT is untouched by the retirement
    assert(Generations.resolve(table) === new java.io.File(g3).getCanonicalPath)
  }

  test("retire drops superseded generations under keepLast + age gate") {
    val table = Files.createTempDirectory("graft_gen_ret_t").toString
    val gens = (1 to 4).map(i =>
      Files.createTempDirectory(s"graft_gen_ret$i").toString)
    gens.foreach { g =>
      Files.write(java.nio.file.Paths.get(g, "part-0.parquet"),
        "x".getBytes("UTF-8"))
      Generations.publish(table, g)
    }
    // default retention: everything is too fresh to delete
    assert(Generations.retire(table, keepLast = 1) === Seq.empty)
    gens.foreach(g => assert(new java.io.File(g).isDirectory))
    // retention 0 with keepLast=2: generations 1 and 2 go, 3 and 4 stay
    val gone = Generations.retire(table, keepLast = 2, retentionHours = 0)
    assert(gone === gens.take(2).map(new java.io.File(_).getCanonicalPath))
    assert(gens.take(2).forall(g => !new java.io.File(g).exists()))
    assert(gens.drop(2).forall(g => new java.io.File(g).isDirectory))
    // the audit trail survives: retired seqs fail loudly, kept ones resolve
    assert(Generations.history(table).size === 4)
    intercept[IllegalArgumentException] { Generations.resolveAt(table, 1) }
    assert(Generations.resolveAt(table, 3) ===
      new java.io.File(gens(2)).getCanonicalPath)
    assert(Generations.resolve(table) ===
      new java.io.File(gens(3)).getCanonicalPath)
    // CURRENT's target is never deleted, even at keepLast pressure
    val gone2 = Generations.retire(table, keepLast = 1, retentionHours = 0)
    assert(gone2 === Seq(new java.io.File(gens(2)).getCanonicalPath))
    assert(new java.io.File(gens(3)).isDirectory)
  }

  test("cliLineage: the shared verb dispatch every standing-table Main uses") {
    val table = Files.createTempDirectory("graft_gen_cli_t").toString
    val g1 = Files.createTempDirectory("graft_gen_cli1").toString
    val g2 = Files.createTempDirectory("graft_gen_cli2").toString
    Generations.publish(table, g1)
    Generations.publish(table, g2)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Generations.cliLineage("resolve", Array("resolve", table))
      Generations.cliLineage("resolve", Array("resolve", table, "1"))
      Generations.cliLineage("history", Array("history", table))
      Generations.cliLineage("retire", Array("retire", table, "1", "0"))
    }
    val lines = out.toString("UTF-8").split("\n").toSeq
    assert(lines.head === new java.io.File(g2).getCanonicalPath)    // resolve
    assert(lines(1) === new java.io.File(g1).getCanonicalPath)      // as-of 1
    assert(lines(2).startsWith("1\t") && lines(3).startsWith("2\t")) // history
    assert(lines.last.startsWith("1 generation(s) retired"))         // retire
    assert(!new java.io.File(g1).exists())
    intercept[RuntimeException] {
      Generations.cliLineage("probe", Array("probe", table))
    }
  }

  test("writer lock: a concurrent append during optimize fails loudly") {
    val state = Files.createTempDirectory("graft_lock_state").toString
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
    val keys = Seq("source")
    AggState.build(docs.filter(col("doc_id") < 250), keys, "n_chars", state)

    // simulate optimize holding the source's writer lock while a second
    // writer (another JVM in production — here, a nested scope, since the
    // lock is deliberately NOT reentrant) tries to append the delta: the
    // append must fail loudly instead of landing in a generation the
    // rewrite already listed — the silent-loss window the lock closes
    var inner: Option[IllegalStateException] = None
    val out = Generations.withWriterLock(state) {
      inner = Some(intercept[IllegalStateException] {
        Generations.withWriterLock(state) {
          AggState.append(docs.filter(col("doc_id") >= 250), keys, "n_chars", state)
        }
      })
      "optimize-done"
    }
    assert(out === "optimize-done")
    assert(inner.get.getMessage.contains("another writer holds"))
    // the blocked append never landed: merged view covers only the build
    val merged = AggState.merged(spark, state, keys)
      .agg(sum("n").cast("long")).collect()(0).getLong(0)
    assert(merged === 250L)

    // lock released on exit: the append now proceeds
    Generations.withWriterLock(state) {
      AggState.append(docs.filter(col("doc_id") >= 250), keys, "n_chars", state)
    }
    val total = AggState.merged(spark, state, keys)
      .agg(sum("n").cast("long")).collect()(0).getLong(0)
    assert(total === docs.count())

    // body failure still releases the lock
    intercept[RuntimeException] {
      Generations.withWriterLock(state) { sys.error("writer crashed") }
    }
    assert(!new java.io.File(state, ".WRITER_LOCK").exists())

    // stale expiry: a lock left behind by a dead writer (simulated by an
    // old mtime) is broken with a note instead of wedging the table
    val lock = new java.io.File(state, ".WRITER_LOCK")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis - 3600 * 1000))
    val v = Generations.withWriterLock(state, staleMs = 30 * 60 * 1000) { 42 }
    assert(v === 42)
    assert(!lock.exists())

    // a FRESH foreign lock is respected (not broken)
    assert(lock.createNewFile())
    intercept[IllegalStateException] {
      Generations.withWriterLock(state) { fail("must not run") }
    }
    assert(lock.exists())
    lock.delete()
  }

  test("writer lock release is token-checked: a broken-and-reacquired lock is not deleted") {
    // the r13 ADVICE TOCTOU: writer A's body outlives staleMs, writer B
    // breaks the stale lock and acquires — A's exit must NOT delete B's
    // lock. Simulated by overwriting the lock content mid-body (what B's
    // re-acquire does).
    val state = Files.createTempDirectory("graft_lock_tok").toString
    val lock = new java.io.File(state, ".WRITER_LOCK")
    Generations.withWriterLock(state) {
      java.nio.file.Files.write(lock.toPath,
        "pid=9999 ts=0 nonce=foreign".getBytes("UTF-8"))
    }
    // A exited but B's lock survives
    assert(lock.exists())
    assert(new String(java.nio.file.Files.readAllBytes(lock.toPath), "UTF-8")
      .contains("foreign"))
    lock.delete()
    // normal path still cleans up its own lock
    Generations.withWriterLock(state) { 1 }
    assert(!lock.exists())
  }

  /** What `body` prints to stderr. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8")
  }

  test("writer lock release: a generation retired inside its own scope releases silently") {
    val table = Files.createTempDirectory("graft_lock_retired").toString
    val gen = s"$table/gen-0"
    val err = stderrOf(Generations.withWriterLock(gen) { Generations.deleteTree(gen) })
    assert(!err.contains("withWriterLock"), err)
    assert(!new java.io.File(gen).exists())
  }

  test("writer lock release: another writer's token keeps the broken-lock warning") {
    val state = Files.createTempDirectory("graft_lock_foreign").toString
    val lock = new java.io.File(state, ".WRITER_LOCK")
    val err = stderrOf(Generations.withWriterLock(state) {
      Files.write(lock.toPath, "pid=9999 ts=0 nonce=foreign".getBytes("UTF-8"))
    })
    assert(err.contains("is no longer this writer's at release"), err)
    assert(lock.exists())
  }

  test("writer lock release: a lock file missing from a live directory is reported") {
    val state = Files.createTempDirectory("graft_lock_missing").toString
    val lock = new java.io.File(state, ".WRITER_LOCK")
    val err = stderrOf(Generations.withWriterLock(state) { assert(lock.delete()) })
    assert(err.contains(s"$lock is missing at release"), err)
    assert(!err.contains("no longer this writer's"), err)
    assert(new java.io.File(state).isDirectory && !lock.exists())
  }

  test("stale-lock break moves the lock aside atomically, never delete-then-create") {
    // of two breakers, exactly one can win the ATOMIC_MOVE; this pins the
    // mechanism (no bare delete) by verifying a successful break leaves
    // no .stale artifact behind and acquires cleanly
    val state = Files.createTempDirectory("graft_lock_stale").toString
    val lock = new java.io.File(state, ".WRITER_LOCK")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis - 3600 * 1000))
    val v = Generations.withWriterLock(state, staleMs = 60 * 1000) { 7 }
    assert(v === 7)
    assert(!lock.exists())
    val leftovers = new java.io.File(state).listFiles
      .filter(_.getName.startsWith(".WRITER_LOCK.stale"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("publishChecked refuses when the rewrite's source changed behind it") {
    val table = Files.createTempDirectory("graft_pc_table").toString
    val src = Files.createTempDirectory("graft_pc_src").toString
    val dst = Files.createTempDirectory("graft_pc_dst").toString
    // "data" files (non-dot, non-underscore names count in the listing)
    java.nio.file.Files.write(new java.io.File(src, "part-0.parquet").toPath,
      "a".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(dst, "part-0.parquet").toPath,
      "a".getBytes("UTF-8"))
    Generations.recordSourceFingerprint(dst, src)
    // unchanged source: publishes
    Generations.publishChecked(table, dst)
    assert(Generations.resolve(table) === new java.io.File(dst).getCanonicalPath)
    // an append lands behind the rewrite: the next publish of the SAME
    // generation is refused
    java.nio.file.Files.write(new java.io.File(src, "part-1.parquet").toPath,
      "late append".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] { Generations.publishChecked(table, dst) }
    assert(e.getMessage.contains("publish refused"))
    // lock/marker artifacts do NOT trip the check
    val dst2 = Files.createTempDirectory("graft_pc_dst2").toString
    java.nio.file.Files.write(new java.io.File(dst2, "part-0.parquet").toPath,
      "b".getBytes("UTF-8"))
    Generations.recordSourceFingerprint(dst2, src)
    java.nio.file.Files.write(new java.io.File(src, ".WRITER_LOCK").toPath,
      "lock".getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(src, "_SUCCESS").toPath,
      Array.empty[Byte])
    Generations.publishChecked(table, dst2)
    assert(Generations.resolve(table) === new java.io.File(dst2).getCanonicalPath)
    // a RETIRED (absent) source skips the check — nothing can append into
    // a directory that no longer exists
    val dst3 = Files.createTempDirectory("graft_pc_dst3").toString
    java.nio.file.Files.write(new java.io.File(dst3, "part-0.parquet").toPath,
      "c".getBytes("UTF-8"))
    Generations.recordSourceFingerprint(dst3, src)
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmTree)
      f.delete(); ()
    }
    rmTree(new java.io.File(src))
    Generations.publishChecked(table, dst3)
    assert(Generations.resolve(table) === new java.io.File(dst3).getCanonicalPath)
  }

  test("degraded-lock end-to-end: with create-if-absent broken (two live " +
      "writers), the racing append between validation and publish is " +
      "refused — and a re-optimize publishes it") {
    // Simulates the S3-style store where withWriterLock degrades to
    // best-effort (PUT has no portable create-if-absent): writer A runs
    // the real optimize flow while writer B — whom a working lock would
    // have excluded — appends to the source AFTER A's rewrite validated.
    // run() records the source fingerprint at VALIDATION time (r14
    // ADVICE), so A's later pointer switch must refuse: publishing would
    // silently drop B's append from the visible table. The recovery path
    // (re-optimize, which now sees B's rows) must then publish cleanly.
    val src = Files.createTempDirectory("graft_degraded_src").toString
    val table = Files.createTempDirectory("graft_degraded_table").toString
    spark.range(100).selectExpr("id", "id * 2 AS v")
      .write.parquet(s"$src/docs.parquet")
    // writer A: rewrite + validate (fingerprint recorded inside run())
    val out1 = s"$table/gen1"
    val r1 = OptimizeMain.run(spark, src, out1, 1L << 20)
    assert(r1.map { case (t, s) => (t, s.n_rows) } === Seq(("docs", 100L)))
    // writer B's append lands in the validate-to-publish window — the
    // exact mutation a working lock serializes away
    spark.range(100, 110).selectExpr("id", "id * 2 AS v")
      .write.mode("append").parquet(s"$src/docs.parquet")
    val e = intercept[IllegalStateException] {
      Generations.publishChecked(table, out1)
    }
    assert(e.getMessage.contains("publish refused"))
    assert(Generations.current(table).isEmpty, "refused publish must not switch CURRENT")
    // recovery: writer A re-optimizes (rewrite now contains B's rows) and
    // the pointer switch goes through with nothing lost
    val out2 = s"$table/gen2"
    val r2 = OptimizeMain.run(spark, src, out2, 1L << 20)
    assert(r2.map { case (t, s) => (t, s.n_rows) } === Seq(("docs", 110L)))
    Generations.publishChecked(table, out2)
    assert(Generations.resolve(table) === new java.io.File(out2).getCanonicalPath)
    assert(spark.read.parquet(s"${Generations.resolve(table)}/docs").count() === 110L)
  }

  test("OptimizeMain takes the writer contract: the rewrite holds the " +
      "source lock and the publish path the table lock") {
    val src = Files.createTempDirectory("graft_opt_lock_src").toString
    val table = Files.createTempDirectory("graft_opt_lock_table").toString
    spark.range(50).selectExpr("id", "id * 3 AS v").write.parquet(s"$src/t.parquet")
    val out = s"$table/gen1"
    // a live writer on the source: the rewrite refuses before writing
    Generations.withWriterLock(src) {
      intercept[IllegalStateException] { OptimizeMain.run(spark, src, out, 1L << 20) }
    }
    assert(!new java.io.File(out).exists(), "a refused rewrite must write nothing")
    val results = OptimizeMain.run(spark, src, out, 1L << 20)
    assert(results.map { case (t, s) => (t, s.n_rows) } === Seq(("t", 50L)))
    // a live writer on the table: the publish step throws, CURRENT unchanged
    Generations.withWriterLock(table) {
      intercept[IllegalStateException] { Generations.cliPublish(table, out) }
    }
    assert(Generations.current(table).isEmpty, "a refused publish must not switch CURRENT")
    Generations.cliPublish(table, out)
    assert(Generations.resolve(table) === new java.io.File(out).getCanonicalPath)
  }

  test("a rewrite whose body threw stays pending: publishChecked refuses it") {
    val src = Files.createTempDirectory("graft_pending_src").toString
    val table = Files.createTempDirectory("graft_pending_table").toString
    spark.range(20).selectExpr("id").write.parquet(s"$src/t.parquet")
    val out = s"$table/gen1"
    intercept[IllegalArgumentException] {
      Generations.cliRewrite(src, out) {
        spark.range(20).selectExpr("id").write.parquet(s"$out/t")
        require(false, "verification failed")
      }
    }
    // the tables are on disk, but the generation never finished its rewrite
    assert(new java.io.File(s"$out/t").isDirectory)
    val e = intercept[IllegalStateException] { Generations.cliPublish(table, out) }
    assert(e.getMessage.contains("publish refused") && e.getMessage.contains("did not finish"),
      e.getMessage)
    assert(Generations.current(table).isEmpty, "a refused publish must not switch CURRENT")
    // a re-run that returns replaces the mark with the source fingerprint
    Generations.cliRewrite(src, out)(())
    Generations.cliPublish(table, out)
    assert(Generations.resolve(table) === new java.io.File(out).getCanonicalPath)
  }

  test("a built generation that carries no rewrite marker still publishes") {
    val table = Files.createTempDirectory("graft_built_table").toString
    val gen = s"$table/gen-0"
    spark.range(5).selectExpr("id").write.parquet(s"$gen/t")
    assert(!new java.io.File(gen, ".SOURCE_FINGERPRINT").exists())
    Generations.publishChecked(table, gen)
    assert(Generations.resolve(table) === new java.io.File(gen).getCanonicalPath)
  }

  test("withTableWriter resolves CURRENT under the table lock, gen-0 before " +
      "the first publish, and releases both locks") {
    val table = Files.createTempDirectory("graft_tw").toString
    def locked(dir: String) = new java.io.File(dir, ".WRITER_LOCK").isFile
    val g0 = Generations.withTableWriter(table) { gen =>
      assert(locked(table) && locked(gen))
      gen
    }
    assert(g0 === s"$table/gen-0")
    assert(!locked(table) && !locked(g0))
    val g1 = Files.createTempDirectory("graft_tw_g1").toString
    Generations.publish(table, g1)
    assert(Generations.withTableWriter(table)(identity) ===
      new java.io.File(g1).getCanonicalPath)
    // a live writer on the generation: the scope fails loudly and the
    // table lock it already took is released on the way out
    Generations.withWriterLock(g1) {
      intercept[IllegalStateException] { Generations.withTableWriter(table)(_ => ()) }
    }
    assert(!locked(table))
  }

  test("cliLineage retire takes the table writer lock") {
    val table = Files.createTempDirectory("graft_retire_lock").toString
    val lock = new java.io.File(table, ".WRITER_LOCK")
    assert(lock.createNewFile())
    intercept[IllegalStateException] {
      Generations.cliLineage("retire", Array("retire", table))
    }
    lock.delete()
    // with the lock free, retire runs (no generations -> retires nothing)
    Generations.cliLineage("retire", Array("retire", table))
  }
}
