package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

import graft.operators.{DedupIndex, GroupedKernels}
import graft.queries.Dedup

/** The standing LSH index's lifecycle contract: incremental maintenance
  * must be INVISIBLE — an index built in batches answers probes exactly
  * like one built from scratch, and an optimize rewrite answers exactly
  * like the dir it rewrote. */
class DedupIndexSpec extends SparkSpec with BeforeAndAfterEach {

  private val dir = sf("sf0.001")

  override def afterEach(): Unit = {
    // minhashBase persists MEMORY_AND_DISK inside build/append/probe —
    // keep the shared session's cache flat across suites
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def tmp(): String =
    Files.createTempDirectory("graft_dedup_index").toString

  private def probeRows(indexDir: String) = {
    val delta = Tables(spark, dir, "documents").filter(col("doc_id") % 10 === 7)
    DedupIndex.probe(spark, delta, indexDir)
      .collect().map(_.toSeq).sortBy(_.toString)
  }

  test("two-batch incremental index answers exactly like from-scratch") {
    val docs = Tables(spark, dir, "documents")
    val b1 = docs.filter(col("doc_id") % 10 < 5)
    val b2 = docs.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 =!= 7)

    val incDir = tmp()
    DedupIndex.build(b1, incDir)
    DedupIndex.append(b2, incDir)

    val fullDir = tmp()
    DedupIndex.build(b1.unionByName(b2), fullDir)

    val inc = probeRows(incDir)
    val full = probeRows(fullDir)
    assert(inc.nonEmpty, "probe found no matches — split constants broke")
    assert(inc.toSeq == full.toSeq)
  }

  test("optimize compacts the appended small files without changing answers") {
    val docs = Tables(spark, dir, "documents")
    val idxDir = tmp()
    DedupIndex.build(docs.filter(col("doc_id") % 10 < 5), idxDir)
    // several small appends — the file-count growth optimize exists to fold
    for (m <- Seq(5, 6, 8, 9))
      DedupIndex.append(docs.filter(col("doc_id") % 10 === m), idxDir)
    val before = probeRows(idxDir)

    val optDir = tmp()
    DedupIndex.optimize(spark, idxDir, optDir)
    val after = probeRows(optDir)
    assert(after.toSeq == before.toSeq)

    val (in, out) = (ParquetLayout.filesPerDir(idxDir), ParquetLayout.filesPerDir(optDir))
    assert(out.values.sum < in.values.sum,
      s"optimize did not reduce file count: ${in.values.sum} -> ${out.values.sum}")
    // exactly one file per bi= directory (a parallel write must not split
    // a band) and one sigs file
    val bands = out.filter(_._1.startsWith("bands/bi="))
    assert(bands.size == in.keySet.count(_.startsWith("bands/bi=")), s"bands dirs: $out")
    assert(out == bands.map(_._1 -> 1) + ("sigs" -> 1), s"optimized layout: $out")
  }

  test("remove: tombstoned docs stop matching; grown-with-deletes == scratch-on-survivors") {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val idxDir = tmp()
    DedupIndex.build(docs.filter(col("doc_id") % 10 < 5), idxDir)
    DedupIndex.append(docs.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 =!= 7), idxDir)

    // take the docs the probe currently matches, and tombstone them
    val victims = probeRows(idxDir).map(_(2).asInstanceOf[Long]).distinct.toSeq
    assert(victims.nonEmpty, "probe found no matches — split constants broke")
    DedupIndex.remove(victims.toDF("doc_id"), idxDir)

    // 1. no tombstoned doc ever appears as a match again
    val after = probeRows(idxDir)
    val matched = after.map(_(2).asInstanceOf[Long]).toSet
    assert(victims.forall(v => !matched.contains(v)),
      s"tombstoned docs still matching: ${victims.filter(matched.contains)}")

    // 2. the tombstoned index answers EXACTLY like one built from the
    // survivors alone (the from-scratch-on-survivors equivalence)
    val survDir = tmp()
    DedupIndex.build(docs
      .filter(col("doc_id") % 10 =!= 7)
      .filter(!col("doc_id").isin(victims: _*)), survDir)
    assert(after.toSeq == probeRows(survDir).toSeq)

    // 3. optimize physically drops tombstoned rows: the generation carries
    // no tombstone table, its sigs lack the victims, answers unchanged
    val optDir = tmp()
    DedupIndex.optimize(spark, idxDir, optDir)
    assert(!new java.io.File(s"$optDir/tombstones").exists())
    val optSigIds = spark.read.parquet(s"$optDir/sigs")
      .select("doc_id").as[Long].collect().toSet
    assert(victims.forall(v => !optSigIds.contains(v)))
    assert(probeRows(optDir).toSeq == after.toSeq)
  }

  test("probe touches only the index, never forms corpus-corpus pairs") {
    // structural: q246's persisted lifecycle must agree with q244's
    // in-query split on the same data — both ride DedupIndex.probeBase
    val q244 = SparkEntry.queries("q244_incremental_neardup")(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString)
    val q246 = SparkEntry.queries("q246_standing_index")(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(q244.toSeq == q246.toSeq)
  }

  // ---- the request-screened bucket count vs the full-index one ----------

  /** An index table's live rows, read the plain way. */
  private def liveRows(indexDir: String, table: String): DataFrame = {
    val raw = spark.read.parquet(s"$indexDir/$table")
    if (new java.io.File(s"$indexDir/tombstones").isDirectory)
      raw.join(spark.read.parquet(s"$indexDir/tombstones"), Seq("doc_id"), "left_anti")
    else raw
  }

  private def pairRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The probe's verified pairs against `indexDir`, and the same pairs
    * with the bucket count run over every live index band row. */
  private def screenedAndFull(base: DataFrame, indexDir: String): (Seq[String], Seq[String]) =
    (pairRows(DedupIndex.probePairsPersisted(spark, base, indexDir)),
      pairRows(GroupedKernels.fullScreenProbePairs(base,
        liveRows(indexDir, "bands"), liveRows(indexDir, "sigs"))))

  test("the request-screened bucket count equals the full-index count on grown indexes") {
    val docs = Tables(spark, dir, "documents")
    val idxDir = tmp()
    DedupIndex.build(docs.filter(col("doc_id") % 10 < 5), idxDir)
    DedupIndex.append(docs.filter(col("doc_id") % 10 >= 5 && col("doc_id") % 10 =!= 7), idxDir)
    val base = Dedup.minhashBase(docs.filter(col("doc_id") % 10 === 7))
    val (fresh, freshFull) = screenedAndFull(base, idxDir)
    assert(fresh.nonEmpty && fresh == freshFull)
    // tombstone one matched doc beside a tenth of the corpus
    val victim = DedupIndex.probePairsPersisted(spark, base, idxDir).agg(min("c")).head().getLong(0)
    DedupIndex.remove(docs.filter(col("doc_id") % 10 === 3 || col("doc_id") === victim)
      .select("doc_id"), idxDir)
    val (tomb, tombFull) = screenedAndFull(base, idxDir)
    assert(tomb == tombFull && tomb != fresh)
    val optDir = tmp()
    DedupIndex.optimize(spark, idxDir, optDir)
    val (opt, optFull) = screenedAndFull(base, optDir)
    assert(opt == optFull && opt == tomb)
  }

  test("a bucket one over the cap drops; a tombstone bringing it to the cap restores it") {
    import spark.implicits._
    val delta = Dedup.minhashBase(Tables(spark, dir, "documents").filter(col("doc_id") % 10 === 7))
    val probeId = delta.agg(min("doc_id")).head().getLong(0)
    val base = delta.filter(col("doc_id") === probeId)
    // cap+1 index docs share the probe's band-0 bucket; doc 1000 carries
    // the probe's own shingle set, the others a disjoint one
    val bucket = Dedup.bandKeys(base).filter(col("bi") === 0).select("bi", "bh").head()
    val members = 1000L to (1000L + Dedup.LshBucketCap)
    val bands = members.map(d => (d, bucket.getString(1), bucket.getInt(0))).toDF("doc_id", "bh", "bi")
    val sig = base.select("hs", "sz").head()
    val other = Seq(-3L, -2L, -1L)
    val sigs = members.map(d =>
      if (d == 1000L) (d, sig.getSeq[Long](0), sig.getInt(1)) else (d, other, other.size))
      .toDF("doc_id", "hs", "sz")
    val idxDir = tmp()
    DedupIndex.writeTables(sigs, bands, idxDir, "overwrite")
    val (over, overFull) = screenedAndFull(base, idxDir)
    assert(over.isEmpty && overFull.isEmpty, s"an over-cap bucket matched: $over")
    DedupIndex.remove(Seq(members.last).toDF("doc_id"), idxDir)
    val (atCap, atCapFull) = screenedAndFull(base, idxDir)
    assert(atCap == atCapFull && atCap == Seq(s"[$probeId,1000,10000]"), s"at the cap: $atCap")
  }
}
