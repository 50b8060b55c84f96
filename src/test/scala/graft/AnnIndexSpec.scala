package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

import graft.operators.AnnIndex

/** The standing ANN index's lifecycle contract (the DedupIndex
  * discipline, vector-space edition): incremental maintenance must be
  * INVISIBLE — an index grown over batches against its frozen quantizer
  * answers probes exactly like one built from scratch over the union,
  * an optimize rewrite answers exactly like the dir it rewrote, and the
  * persisted path agrees with q51's oracle-verified in-query search. */
class AnnIndexSpec extends SparkSpec with BeforeAndAfterEach {

  private val dir = sf("sf0.001")

  override def afterEach(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def tmp(): String =
    Files.createTempDirectory("graft_ann_index").toString

  private def emb = Tables(spark, dir, "embeddings")

  private def cent = emb.filter(col("vec_id") < 8)
    .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))

  private def queriesDf = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  private def probeRows(indexDir: String) =
    AnnIndex.probe(spark, queriesDf, indexDir)
      .collect().map(_.toSeq).toSeq

  test("two-batch incremental index answers exactly like from-scratch") {
    val b1 = emb.filter(col("vec_id") % 10 < 5)
    val b2 = emb.filter(col("vec_id") % 10 >= 5)

    val incDir = tmp()
    AnnIndex.build(b1, cent, incDir)
    AnnIndex.append(spark, b2, incDir)

    val fullDir = tmp()
    AnnIndex.build(b1.unionByName(b2), cent, fullDir)

    val inc = probeRows(incDir)
    assert(inc.nonEmpty, "probe returned nothing — split constants broke")
    assert(inc == probeRows(fullDir))
  }

  test("full-corpus standing index agrees with q51's in-query search") {
    val idxDir = tmp()
    AnnIndex.build(emb, cent, idxDir)
    val q51 = SparkEntry.queries("q51_ivf_search")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(probeRows(idxDir) == q51)
  }

  test("optimize compacts appended small files without changing answers") {
    val idxDir = tmp()
    AnnIndex.build(emb.filter(col("vec_id") % 10 < 5), cent, idxDir)
    for (m <- Seq(5, 6, 7, 8, 9))
      AnnIndex.append(spark, emb.filter(col("vec_id") % 10 === m), idxDir)
    val before = probeRows(idxDir)

    val optDir = tmp()
    AnnIndex.optimize(spark, idxDir, optDir)
    assert(probeRows(optDir) == before)

    val (in, out) = (ParquetLayout.filesPerDir(idxDir), ParquetLayout.filesPerDir(optDir))
    assert(out.values.sum < in.values.sum,
      s"optimize did not reduce file count: ${in.values.sum} -> ${out.values.sum}")
    // exactly one file per centroid_id= directory (a parallel write must
    // not split a partition) and one centroids file
    val vectors = out.filter(_._1.startsWith("vectors/centroid_id="))
    assert(vectors.size == 8, s"vectors dirs: $out")
    assert(out == vectors.map(_._1 -> 1) + ("centroids" -> 1), s"optimized layout: $out")
  }

  test("vectors table is centroid-partitioned and a centroid filter prunes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val idxDir = tmp()
    AnnIndex.build(emb, cent, idxDir)
    val vecDir = new java.io.File(s"$idxDir/vectors")
    val partDirs = vecDir.listFiles().count(_.getName.startsWith("centroid_id="))
    assert(partDirs == 8, s"expected 8 centroid partitions, got $partDirs")
    // the layout the probe relies on: restricting to probed centroids
    // reaches the scan as a PartitionFilter, not a post-scan filter
    val pruned = spark.read.parquet(vecDir.toString)
      .filter(col("centroid_id").isin(3, 5))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.toString.contains("PartitionFilters: ["), "no partition filter")
    assert(pruned.count() > 0)
  }

  test("remove: tombstoned vectors stop matching; equals scratch-on-survivors") {
    import spark.implicits._
    val idxDir = tmp()
    AnnIndex.build(emb.filter(col("vec_id") % 2 === 0), cent, idxDir)
    AnnIndex.append(spark, emb.filter(col("vec_id") % 2 === 1), idxDir)

    // tombstone the current top-1 answers — the strongest possible
    // perturbation of the result set
    val victims = probeRows(idxDir).filter(_(1) == 1L)
      .map(_(2).asInstanceOf[Long]).distinct
    assert(victims.nonEmpty)
    AnnIndex.remove(victims.toDF("vec_id"), idxDir)

    val after = probeRows(idxDir)
    assert(after.forall(r => !victims.contains(r(2).asInstanceOf[Long])),
      "tombstoned vectors still served")

    // equals an index built from the survivors against the same quantizer
    val survDir = tmp()
    AnnIndex.build(emb.filter(!col("vec_id").isin(victims: _*)), cent, survDir)
    assert(after == probeRows(survDir))

    // optimize drops them physically; no tombstone table in the generation
    val optDir = tmp()
    AnnIndex.optimize(spark, idxDir, optDir)
    assert(!new java.io.File(s"$optDir/tombstones").exists())
    val optIds = spark.read.parquet(s"$optDir/vectors")
      .select("vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !optIds.contains(v)))
    assert(probeRows(optDir) == after)
  }

  test("optimize carries the PQ codebooks into the output generation") {
    val cw = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("code"), col("embedding").as("cv"))
    val idxDir = tmp(); val optDir = tmp()
    AnnIndex.build(emb, cent, idxDir, Some(cw))
    val before = AnnIndex.probePq(spark, queriesDf, idxDir).collect().map(_.toSeq).toSeq
    AnnIndex.optimize(spark, idxDir, optDir)
    // the frozen codebooks must survive the rewrite — without them every
    // probePq on the published generation dies on a missing path
    assert(new java.io.File(s"$optDir/codebooks").isDirectory)
    assert(AnnIndex.probePq(spark, queriesDf, optDir).collect().map(_.toSeq).toSeq == before)
  }

  test("IVF-PQ: batch-grown codes answer probePq exactly like from-scratch") {
    val cw = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("code"), col("embedding").as("cv"))
    val scratch = tmp(); val grown = tmp()
    AnnIndex.build(emb, cent, scratch, Some(cw))
    AnnIndex.build(emb.filter(col("vec_id") % 2 === 0), cent, grown, Some(cw))
    AnnIndex.append(spark, emb.filter(col("vec_id") % 2 === 1), grown)
    // the stored vectors carry the frozen-codebook code array
    val vecs = spark.read.parquet(s"$grown/vectors")
    assert(vecs.columns.contains("codes"))
    assert(vecs.filter(size(col("codes")) =!= 4).count() === 0)
    val a = AnnIndex.probePq(spark, queriesDf, scratch).collect().map(_.toSeq).toSeq
    val b = AnnIndex.probePq(spark, queriesDf, grown).collect().map(_.toSeq).toSeq
    assert(a === b)
    assert(a.nonEmpty)
    // re-ranked exact top-1 should usually be the exact-cosine neighborhood;
    // minimal sanity: every query answered with a full top-5
    assert(a.groupBy(_.head).forall(_._2.size == 5))
  }

  // ---- r17: recall/fit decay under a drifted append ------------------------

  test("drift audit: planted orthogonal drift fires the reindex trigger; rebuild restores fit") {
    import spark.implicits._
    // base (even ids): tight clusters on the e1/e2 axes — the frozen
    // quantizer (even ids < 16) fits them near-perfectly. Odd ids hold
    // NEGATIVE axis vectors: after the affine shift (x*0.5 + 0.25) they
    // point near the all-ones direction, far from every one-hot centroid.
    def axis(d: Int, v: Float): Seq[Float] =
      Seq.tabulate(64)(i => if (i == d) v else 0.0f)
    val rows = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, axis(if (i % 4 == 0) 0 else 1, 1.0f + (i % 8) * 0.01f))
      else (i.toLong, axis(if (i % 4 == 1) 0 else 1, -1.0f))
    }
    val e = rows.toDF("vec_id", "embedding")
    val rep = graft.queries.Similarity.annDriftReport(spark, e).collect()
      .map(r => r.getString(0) -> r).toMap
    val baseR = rep("base"); val driftR = rep("drift")
    // the drifted slice fits the frozen quantizer far worse than the base
    assert(baseR.getLong(2) > 9000, s"base fit: $baseR")  // mean_assign_e4
    assert(driftR.getLong(2) < baseR.getLong(2) - 1000, s"drift fit: $driftR")
    assert(baseR.getLong(8) == 1L && driftR.getLong(8) == 1L, "reindex_advised must fire")
    assert(baseR.getLong(7) == driftR.getLong(7), "drop_e4 is index-level")

    // the retrain trigger's payoff: REBUILDING with drift-aware centroids
    // (one exemplar per slice) restores the drifted slice's assignment fit
    val drifted = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => (x.cast("double") * 0.5 + 0.25).cast("float")).as("embedding"))
    val cent2 = e.filter(col("vec_id") === 0).unionByName(drifted.filter(col("vec_id") === 1))
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val fit = drifted
      .join(broadcast(cent2))
      .withColumn("ascore",
        org.apache.spark.sql.graft.CosineSimilarity.cosine_sim(col("centv"), col("embedding")))
      .groupBy("vec_id").agg(max("ascore").as("best"))
      .agg(avg("best")).head().getDouble(0)
    assert(fit > driftR.getLong(2) / 10000.0 + 0.05,
      s"retrained fit $fit must beat the frozen quantizer's ${driftR.getLong(2)}")
  }

  test("fit ledger: per-batch stats persist at O(batch), agree with the audit, survive optimize") {
    import graft.queries.Similarity
    val e = emb
    val base = e.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
    val drift = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => (x.cast("double") * 0.5 + 0.25).cast("float")).as("embedding"))
    val cent16 = base.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val idx = tmp()
    AnnIndex.build(base, cent16, idx)
    AnnIndex.recordFitStats(spark, base, idx, "build")
    AnnIndex.append(spark, drift, idx)
    AnnIndex.recordFitStats(spark, drift, idx, "b1_drift")
    val led = AnnIndex.fitLedger(spark, idx).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(led.keySet == Set("build", "b1_drift"))
    assert(led("build").getLong(4) == 0L && led("build").getLong(5) == 0L)
    assert(led("b1_drift").getLong(4) >= 100L && led("b1_drift").getLong(5) == 1L,
      s"drift batch must trip the trigger: ${led("b1_drift")}")
    // the ledger's drift row equals the corpus-rescan audit's drift slice
    // (same slices, same shift — the O(batch) form must not change the
    // statistic)
    val audit = Similarity.annDriftReport(spark, e).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(led("b1_drift").getLong(2) == audit("drift").getLong(2), "mean fit")
    assert(led("b1_drift").getLong(3) == audit("drift").getLong(3), "centroid usage")
    assert(led("build").getLong(2) == audit("base").getLong(2))
    // optimize carries the fit ledger into the output generation
    val out = tmp()
    AnnIndex.optimize(spark, idx, out)
    val led2 = AnnIndex.fitLedger(spark, out).collect().map(_.toSeq).toSet
    assert(led2 == AnnIndex.fitLedger(spark, idx).collect().map(_.toSeq).toSet)

    // anchor discipline is fail-loud: a ledger without a "build" row (the
    // caller never recorded build-time stats) or with a doubled one must
    // raise, never return an empty/duplicated ledger
    val noAnchor = tmp()
    AnnIndex.build(base, cent16, noAnchor)
    AnnIndex.recordFitStats(spark, drift, noAnchor, "b1_only")
    val e1 = intercept[IllegalArgumentException] { AnnIndex.fitLedger(spark, noAnchor) }
    assert(e1.getMessage.contains("exactly one 'build'"))
    AnnIndex.recordFitStats(spark, base, noAnchor, "build")
    AnnIndex.recordFitStats(spark, base, noAnchor, "build") // re-recorded
    val e2 = intercept[IllegalArgumentException] { AnnIndex.fitLedger(spark, noAnchor) }
    assert(e2.getMessage.contains("found 2"))
  }

  test("drift audit: fixture report matches shape and the flag fires at sf0.001") {
    val rep = SparkEntry.queries("q307_ann_drift")(spark, dir).collect()
    assert(rep.length == 2)
    val m = rep.map(r => r.getString(0) -> r).toMap
    assert(m("drift").getLong(2) < m("base").getLong(2), "drifted slice must fit worse")
    assert(m("drift").getLong(3) <= m("base").getLong(3), "centroid usage collapses")
    assert(m("base").getLong(8) == 1L, "the fixture drift fires the trigger")
  }

  // ---- r18: the trigger's ACTION — reindex into a new generation ----------

  test("reindex: retrained generation probes exactly like scratch-built on live vectors; ledger re-anchors") {
    val base = emb.filter(col("vec_id") % 2 === 0).select("vec_id", "embedding")
    val drift = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"),
        graft.queries.Similarity.driftShift(col("embedding")).as("embedding"))
    val idx0 = tmp(); val idx1 = tmp()
    AnnIndex.build(base, cent, idx0)
    AnnIndex.recordFitStats(spark, base, idx0, "build")
    AnnIndex.append(spark, drift, idx0)
    AnnIndex.recordFitStats(spark, drift, idx0, "b1_drift")
    // tombstones spanning BOTH slices: the retrain must read live only
    AnnIndex.remove(emb.filter(col("vec_id") % 7 === 2).select("vec_id"), idx0)
    AnnIndex.reindex(spark, idx0, idx1, k = 8)

    // scratch-built over the survivors with the same retrained quantizer
    val live = base.unionByName(drift).filter(col("vec_id") % 7 =!= 2)
    val scratchDir = tmp()
    AnnIndex.build(live, AnnIndex.retrainCentroids(live, 8), scratchDir)
    val got = probeRows(idx1)
    assert(got.nonEmpty, "reindexed probe returned nothing")
    assert(got == probeRows(scratchDir))

    // the ledger RESET: exactly the fresh anchor, drop 0, not advised
    val led = AnnIndex.fitLedger(spark, idx1).collect()
    assert(led.length == 1 && led.head.getString(0) == "build")
    assert(led.head.getLong(4) == 0L && led.head.getLong(5) == 0L)
    // and the retrained anchor fits the live corpus BETTER than the old
    // quantizer fit the drifted slice (the reindex's payoff)
    val oldDrift = AnnIndex.fitLedger(spark, idx0).collect()
      .find(_.getString(0) == "b1_drift").get
    assert(led.head.getLong(2) > oldDrift.getLong(2),
      s"retrained fit ${led.head.getLong(2)} must beat frozen ${oldDrift.getLong(2)}")

    // in-place reindex is refused (generation discipline)
    val e = intercept[IllegalArgumentException] { AnnIndex.reindex(spark, idx1, idx1) }
    assert(e.getMessage.contains("must differ"))
  }

  test("reindex carries PQ codebooks; probePq parity vs scratch on live vectors") {
    val pqDir = tmp(); val pqOut = tmp()
    val cb = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("code"), col("embedding").as("cv"))
    AnnIndex.build(emb, cent, pqDir, Some(cb))
    AnnIndex.recordFitStats(spark, emb, pqDir, "build")
    AnnIndex.remove(emb.filter(col("vec_id") % 5 === 1).select("vec_id"), pqDir)
    AnnIndex.reindex(spark, pqDir, pqOut, k = 8)
    val live = emb.filter(col("vec_id") % 5 =!= 1).select("vec_id", "embedding")
    val scratchDir = tmp()
    AnnIndex.build(live, AnnIndex.retrainCentroids(live, 8), scratchDir, Some(cb))
    val a = AnnIndex.probePq(spark, queriesDf, pqOut).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty)
    assert(a == AnnIndex.probePq(spark, queriesDf, scratchDir).collect().map(_.toSeq).toSeq)
  }
}
