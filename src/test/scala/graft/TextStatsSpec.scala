package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the corpus-statistics queries (q91-q93) beyond
  * the DuckDB hash gate: the integer-ized determinism tricks (floor(ln*1e6),
  * exact power sums) must still compute the QUANTITY they claim to. */
class TextStatsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("q93 moments agree with Spark's built-in population skewness/kurtosis") {
    val skews = SparkEntry.queries("q93_moments")(spark, dir)
      .select("lang", "skew_e4", "kurt_e4").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val toks = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
    val builtin = Tables(spark, dir, "documents")
      .select(col("lang"), toks.as("n"))
      .groupBy("lang")
      .agg(skewness(col("n")).as("sk"), kurtosis(col("n")).as("ku"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(skews.nonEmpty)
    skews.foreach { case (lang, skewE4, kurtE4) =>
      val (sk, ku) = builtin(lang)
      // floor() truncates toward -inf: ours is within [x-1e-4, x] of exact
      assert(math.abs(skewE4 / 10000.0 - sk) <= 2e-4,
        s"$lang skew: ours=${skewE4 / 10000.0} builtin=$sk")
      assert(math.abs(kurtE4 / 10000.0 - ku) <= 2e-4,
        s"$lang kurtosis: ours=${kurtE4 / 10000.0} builtin=$ku")
    }
  }

  test("q92 Zipf fit: negative slope over at most 100 ranked terms") {
    val row = SparkEntry.queries("q92_zipf")(spark, dir).collect().head
    val (nTerms, slopeBp) = (row.getLong(0), row.getLong(1))
    assert(nTerms > 1 && nTerms <= 100)
    assert(slopeBp < 0, s"rank-frequency slope should be negative, got $slopeBp")
  }

  test("q91 LM scores: log-likelihoods non-positive, one bigram per adjacent pair") {
    val scored = SparkEntry.queries("q91_lm_score")(spark, dir)
    val toks = when(length(trim(col("text"))) === 0, lit(0L))
      .otherwise(size(split(lower(trim(col("text"))), "\\s+")).cast("long"))
    val expected = Tables(spark, dir, "documents")
      .select(col("doc_id"), toks.as("n")).filter(col("n") >= 2)
      .select(col("doc_id"), (col("n") - 1).as("exp_bigrams"))
    val joined = scored.join(expected, Seq("doc_id"), "full")
      .select(col("doc_id"), col("n_bigrams"), col("exp_bigrams"),
        col("sum_lnp_e6"), col("avg_lnp_e6"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2), s"doc ${r.getLong(0)}: row-set mismatch")
      assert(r.getLong(1) == r.getLong(2),
        s"doc ${r.getLong(0)}: n_bigrams ${r.getLong(1)} != tokens-1 ${r.getLong(2)}")
      assert(r.getLong(3) <= 0 && r.getLong(4) <= 0,
        s"doc ${r.getLong(0)}: positive log-likelihood")
    }
    // a repeated high-probability bigram must outscore the corpus median:
    // the max avg score belongs to a doc whose bigrams are all frequent
    val avgs = joined.map(_.getLong(4)).sorted
    assert(avgs.head < avgs.last, "scores are not degenerate-constant")
  }

  test("q184 phrase search: hit counts equal a driver-side sliding-window scan") {
    val rows = SparkEntry.queries("q184_phrase_search")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val phrase = rows.head.getString(1).split(" ")
    assert(phrase.length == 3)
    assert(rows.forall(_.getString(1) == rows.head.getString(1)), "one query phrase")
    // recount every reported doc's hits by scanning its token stream
    val ids = rows.map(_.getLong(0)).toSet
    val texts = Tables(spark, dir, "documents")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val toks = texts(r.getLong(0)).trim.toLowerCase.split("\\s+")
      val expected = toks.sliding(3).count(_.sameElements(phrase))
      assert(r.getLong(2) == expected,
        s"doc ${r.getLong(0)}: reported ${r.getLong(2)} vs scanned $expected")
      assert(r.getLong(2) > 0)
    }
  }

  test("q185 naive bayes: confusion matrix partitions the corpus, labels closed") {
    val rows = SparkEntry.queries("q185_naive_bayes")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val docs = Tables(spark, dir, "documents")
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_._3).sum == docs.count(), "every doc classified exactly once")
    rows.foreach { case (actual, pred, n) =>
      assert(langs.contains(actual) && langs.contains(pred))
      assert(n > 0)
    }
    // the classifier must do better than collapsing to one predicted class
    assert(rows.map(_._2).distinct.length > 1, "degenerate single-class prediction")
  }

  test("q296 DSIR weights: admit == (w > 0); recovers the target label well above base rate") {
    val rows = SparkEntry.queries("q296_dsir_weights")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, tgt, nFeats, wE6, admit) =>
      assert(admit == (if (wE6 > 0) 1L else 0L))
      assert(nFeats > 0)
      assert(tgt == 0L || tgt == 1L)
    }
    val n = rows.length.toDouble
    val nTgt = rows.count(_._2 == 1L).toDouble
    val admitted = rows.filter(_._5 == 1L)
    assert(admitted.nonEmpty, "admission must be non-vacuous")
    // the hashed 1024-bucket sampler was fit on the target label: precision
    // among admitted docs must clearly beat the target's base rate
    val precision = admitted.count(_._2 == 1L).toDouble / admitted.length
    val baseRate = nTgt / n
    assert(precision > baseRate + 0.2,
      s"DSIR admit precision $precision should beat base rate $baseRate")
    // and it must recover most of the target slice (recall)
    val recall = admitted.count(_._2 == 1L).toDouble / nTgt
    assert(recall > 0.7, s"DSIR recall $recall too low")
  }

  test("q298 ppl buckets: terciles partition each language in rank order") {
    val rows = SparkEntry.queries("q298_ppl_buckets")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length.toLong
      val k1 = (n + 2) / 3
      val k2 = (2 * n + 2) / 3
      // ranks are a permutation of 1..n and buckets follow the integer cuts
      assert(rs.map(_._4).sorted.toSeq == (1L to n).toSeq, s"$lang ranks not a permutation")
      rs.foreach { case (_, _, _, rk, bucket) =>
        val expect = if (rk <= k1) "head" else if (rk <= k2) "middle" else "tail"
        assert(bucket == expect, s"$lang rk=$rk bucket=$bucket expect=$expect")
      }
      // higher-scored docs never land in a later bucket than lower-scored
      val headMin = rs.filter(_._5 == "head").map(_._3).min
      val tailMax = rs.filter(_._5 == "tail").map(_._3).maxOption.getOrElse(Long.MinValue)
      assert(headMin >= tailMax, s"$lang head/tail score order violated")
    }
  }

  test("q302 ppl cutoffs: cuts are the k-th ranked scores; agrees with q298 off tie boundaries") {
    val rows = SparkEntry.queries("q302_ppl_cutoffs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val n = rs.length.toLong
      val k1 = ((n + 2) / 3).toInt
      val k2 = ((2 * n + 2) / 3).toInt
      val c1 = rs.head._4
      val c2 = rs.head._5
      assert(rs.forall(r => r._4 == c1 && r._5 == c2), s"$lang cutoffs not constant")
      // the cutoff IS the k-th best score (driver-side recompute)
      val sorted = rs.map(_._3).sorted(Ordering[Long].reverse)
      assert(sorted(k1 - 1) == c1, s"$lang cut_head ${c1} != k1-th score ${sorted(k1 - 1)}")
      assert(sorted(k2 - 1) == c2, s"$lang cut_mid ${c2} != k2-th score ${sorted(k2 - 1)}")
      // assignment is score-pure against those cutoffs
      rs.foreach { case (id, _, sc2, _, _, b) =>
        val expect = if (sc2 >= c1) "head" else if (sc2 >= c2) "middle" else "tail"
        assert(b == expect, s"doc $id score=$sc2 bucket=$b expect=$expect")
      }
      // tie classes go whole to the better bucket: sizes bracket the terciles
      val nh = rs.count(_._6 == "head")
      val nhm = nh + rs.count(_._6 == "middle")
      assert(nh >= k1 && nhm >= k2, s"$lang bucket sizes below the tercile floor")
    }
    // wherever a (lang, score) tie class sits entirely inside one q298
    // bucket (i.e. no cut straddle), the two forms must agree exactly
    val r298 = SparkEntry.queries("q298_ppl_buckets")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(4)))
    val b302 = rows.map(r => r._1 -> r._6).toMap
    var checked = 0
    r298.groupBy(r => (r._2, r._3)).foreach { case (_, cls) =>
      if (cls.map(_._4).distinct.length == 1) {
        cls.foreach { case (id, _, _, b) =>
          assert(b302(id) == b, s"doc $id: q302=${b302(id)} q298=$b off a tie boundary")
        }
        checked += cls.length
      }
    }
    assert(checked > 0, "agreement check was vacuous")
  }

  test("q302 plan pin: no rank window — no row_number, no document-level WindowExec") {
    import org.apache.spark.sql.execution.window.WindowExec
    val (_, captured) = RunLedger.executedPlans(spark)(
      SparkEntry.queries("q302_ppl_cutoffs")(spark, dir).collect())
    val nodes = captured.flatMap(graft.operators.PlanLint.nodes)
    assert(nodes.nonEmpty, "listener captured no executed plans")
    // the q298 weakness was a row_number window over every document of a
    // language — q302 must never rank documents, and every window it DOES
    // run (per-lang cumulative counts, lmScore's per-prev totals) operates
    // on an aggregated stream, never on doc-level rows
    nodes.foreach { p =>
      assert(!p.simpleStringWithNodeId().contains("row_number"),
        s"rank window crept back in: ${p.simpleStringWithNodeId().take(200)}")
    }
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the aggregated-stream windows to execute")
    windows.foreach { w =>
      val cols = w.child.output.map(_.name.toLowerCase)
      assert(!cols.contains("doc_id"),
        s"document-level window (parallelism bound by |langs|): ${cols.mkString(",")}")
    }
  }
}
