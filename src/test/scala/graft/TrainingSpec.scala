package graft

import org.apache.spark.sql.functions._

/** q290's convergence control: the early-stopped driver loop must agree
  * with the full-trail stopping rule (the contract the oracle encodes by
  * unrolling all rounds and selecting the stop), and the loss trail must
  * behave like a loss trail. */
class TrainingSpec extends SparkSpec {
  import graft.queries.TrainPrep

  test("q290: early-stopped loop == full-trail stopping rule, loss monotone") {
    val row = SparkEntry.queries("q290_converged_training")(spark, sf("sf0.001"))
      .head()
    val iters = row.getLong(row.fieldIndex("iters_run"))
    val loss = row.getLong(row.fieldIndex("loss_e9"))
    assert(iters >= 2 && iters <= TrainPrep.ConvergeCap)

    // independent full unroll to the cap with the same helpers
    val base = TrainPrep.trainFeatures(
      spark.read.parquet(s"${sf("sf0.001")}/documents.parquet"))
      .persist()
    var w = spark.range(1)
      .select(lit(0.0).as("w0"), lit(0.0).as("w1"), lit(0.0).as("w2"))
    val trail = (1 to TrainPrep.ConvergeCap).map { _ =>
      val st = TrainPrep.gdStepLoss(base, w)
      val ml = st.selectExpr("l div n AS ml").head().getLong(0)
      w = TrainPrep.gdNextW(st)
      ml
    }
    base.unpersist()

    // loss starts at ln2 (w=0 -> p=0.5) and strictly improves every round
    assert(math.abs(trail.head - 693147180L) <= 1L, trail.head)
    assert(trail.sliding(2).forall { case Seq(a, b) => b < a }, trail)

    // the stop the rule derives from the FULL trail
    val expected = trail.sliding(2).toSeq.indexWhere {
      case Seq(a, b) => math.abs(a - b) < TrainPrep.ConvergeEpsE9
    } match {
      case -1 => TrainPrep.ConvergeCap
      case i => i + 2 // window i covers rounds (i+1, i+2); stop = later
    }
    assert(iters === expected.toLong)
    assert(loss === trail(expected - 1))
    // the tuned eps genuinely exercises the loop at this SF: past the
    // first checkable round, before the cap
    assert(iters > 2 && iters < TrainPrep.ConvergeCap)
  }

  test("q299: positional merge rule == driver-side leftmost-greedy BPE reference") {
    val dir = sf("sf0.001")
    val out = SparkEntry.queries("q299_bpe_merges")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getString(6), r.getString(7), r.getString(8)))
    assert(out.nonEmpty)

    // sequential greedy reference: scan left to right, merge and skip
    var seqs: Map[Long, Vector[String]] = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase)
      .filter(_._2.nonEmpty)
      .map { case (d, t) => d -> t.split("\\s+").toVector }.toMap
    val n0Ref = seqs.map { case (d, s) => d -> s.length.toLong }
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    val perIter = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    for (_ <- 1 to 3) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.values.foreach(s => s.sliding(2).filter(_.length == 2)
        .foreach(p => pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + 1))
      val (a, b) = pc.toSeq.sortBy { case ((x, y), c) => (-c, x, y) }.head._1
      merges += s"$a $b"
      val mCount = scala.collection.mutable.Map.empty[Long, Long]
      seqs = seqs.map { case (d, s) =>
        val outSeq = Vector.newBuilder[String]
        var i = 0; var m = 0L
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
            outSeq += s"$a $b"; i += 2; m += 1
          } else { outSeq += s(i); i += 1 }
        }
        mCount(d) = m
        d -> outSeq.result()
      }
      perIter += mCount.toMap
    }
    out.foreach { case (d, n0, m1, m2, m3, n3, p1, p2, p3) =>
      assert(n0 == n0Ref(d), s"doc $d n0")
      assert(m1 == perIter(0)(d) && m2 == perIter(1)(d) && m3 == perIter(2)(d),
        s"doc $d merge counts ($m1,$m2,$m3) vs ref (${perIter(0)(d)},${perIter(1)(d)},${perIter(2)(d)})")
      assert(n3 == n0 - m1 - m2 - m3)
      assert(p1 == merges(0) && p2 == merges(1) && p3 == merges(2))
      assert(n3 == seqs(d).length.toLong)
    }
    assert(out.map(r => r._3 + r._4 + r._5).sum > 0, "merges must be non-vacuous")
  }

  test("q301: merges trained on the train split only, applied to held-out docs") {
    val dir = sf("sf0.001")
    val out = SparkEntry.queries("q301_bpe_apply")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5), r.getString(6), r.getString(7)))
    assert(out.nonEmpty)

    // driver reference: greedy learn on train, greedy apply to test
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(2).map("%02x".format(_)).mkString, 16) % 100
    }
    val docs = Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase)
      .filter(_._2.nonEmpty)
      .map { case (d, t) => d -> t.split("\\s+").toVector }.toMap
    var train = docs.filter { case (d, _) => bucket(d) < 90 }
    var test = docs.filter { case (d, _) => bucket(d) >= 95 }
    def applyMerge(seqs: Map[Long, Vector[String]], a: String, b: String) =
      seqs.map { case (d, s) =>
        val o = Vector.newBuilder[String]; var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { o += s"$a $b"; i += 2 }
          else { o += s(i); i += 1 }
        }
        d -> o.result()
      }
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    for (_ <- 1 to 3) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      train.values.foreach(_.sliding(2).filter(_.length == 2)
        .foreach(p => pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + 1))
      val (a, b) = pc.toSeq.sortBy { case ((x, y), c) => (-c, x, y) }.head._1
      merges += s"$a $b"
      train = applyMerge(train, a, b)
      test = applyMerge(test, a, b)
    }
    assert(out.map(_._1).toSet == test.keySet, "output must cover exactly the test split")
    out.foreach { case (d, n0, nAfter, saved, compBp, p1, p2, p3) =>
      assert(n0 == docs(d).length.toLong)
      assert(nAfter == test(d).length.toLong, s"doc $d n_after")
      assert(saved == n0 - nAfter)
      assert(compBp == nAfter * 10000 / n0)
      assert(p1 == merges(0) && p2 == merges(1) && p3 == merges(2))
    }
  }

  // ---- r16: batched BPE merges (q306's one-pass form) ----------------------

  test("bpeMergeTokens: token-disjoint batch == sequential single-pair merges, either order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d a b x c d y a b"),
      (2L, "c d c d a b c d"),
      (3L, "z z a b z c d"),
      (4L, "solo tokens only here")).toDF("doc_id", "text")
    def toks(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), TrainPrep.rawToks(col("text")).as("w"))
    def collectW(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val cur = toks(docs)
    val many = collectW(TrainPrep.bpeApplyPairs(cur, Seq(("a", "b"), ("c", "d"))))
    val seqAB = collectW(TrainPrep.bpeApplyPairs(
      TrainPrep.bpeApplyPairs(cur, Seq(("a", "b"))), Seq(("c", "d"))))
    val seqBA = collectW(TrainPrep.bpeApplyPairs(
      TrainPrep.bpeApplyPairs(cur, Seq(("c", "d"))), Seq(("a", "b"))))
    // disjoint pairs provably cannot interact: the batch equals the
    // sequential composition in either order (doc 4 untouched)
    assert(many == seqAB && many == seqBA, s"batch $many vs $seqAB / $seqBA")
    assert(many(1L) == Seq("a b", "c d", "a b", "x", "c d", "y", "a b"))
    assert(many(4L) == Seq("solo", "tokens", "only", "here"))
    // contract guards: overlapping pairs or batched a=b refused loudly
    intercept[IllegalArgumentException] {
      TrainPrep.bpeApplyPairs(cur, Seq(("a", "b"), ("b", "c")))
    }
    intercept[IllegalArgumentException] {
      TrainPrep.bpeApplyPairs(cur, Seq(("z", "z"), ("a", "b")))
    }
    // the r17 FOOTPRINT guard: all four tokens distinct, yet merging
    // (a, b) creates "a b" tokens mid-scan that (x, "a b") targets — a
    // single pass would diverge from sequential composition
    intercept[IllegalArgumentException] {
      TrainPrep.bpeApplyPairs(cur, Seq(("a", "b"), ("x", "a b")))
    }
    intercept[IllegalArgumentException] { // the mirror direction
      TrainPrep.bpeApplyPairs(cur, Seq(("x", "a b"), ("a", "b")))
    }
  }

  test("bpeSelectBatch: greedy rank scan defers footprint collisions, never misapplies") {
    // rank order: (a,b) taken; (x,"a b") collides with take 1's merged
    // output; ("a b",y) likewise; (b,q) shares a token; (z,z) skipped;
    // (c,d) clean — selection = [(a,b), (c,d)], capped at B
    val cand = Seq(
      ("a", "b", 10L), ("x", "a b", 9L), ("a b", "y", 8L),
      ("b", "q", 7L), ("z", "z", 6L), ("c", "d", 5L), ("e", "f", 4L))
    assert(TrainPrep.bpeSelectBatch(cand, 2) == Seq(("a", "b"), ("c", "d")))
    assert(TrainPrep.bpeSelectBatch(cand, 3) ==
      Seq(("a", "b"), ("c", "d"), ("e", "f")))
    // a selected batch always satisfies bpeApplyPairs' require
    import spark.implicits._
    val cur = Seq((1L, "a b c d e f x y q z z"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TrainPrep.rawToks(col("text")).as("w"))
    TrainPrep.bpeApplyPairs(cur, TrainPrep.bpeSelectBatch(cand, 4)).collect()
  }

  test("q306: batched passes equal sequential composition; ledger reconciles; batches ride rows") {
    val dir = sf("sf0.001")
    val out = SparkEntry.queries("q306_bpe_batch")(spark, dir).collect()
    assert(out.nonEmpty)
    val b1 = out.head.getString(5); val b2 = out.head.getString(6)
    assert(out.forall(r => r.getString(5) == b1 && r.getString(6) == b2))
    val batch1 = b1.split('|').toSeq.map { s =>
      val Array(a, b) = s.split(' ') // pass-1 tokens carry no spaces
      (a, b)
    }
    assert(batch1.nonEmpty && batch1.size <= TrainPrep.BpeBatchB)
    out.foreach { r =>
      val (n0, m1, m2, nf) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(m1 >= 0 && m2 >= 0 && nf == n0 - m1 - m2, s"ledger: $r")
    }
    // pass 1's batch applied as ONE scan == applied pair-by-pair in order
    val cur = Tables(spark, dir, "documents")
      .select(col("doc_id"), TrainPrep.rawToks(col("text")).as("w"))
      .filter(size(col("w")) > 0)
    def collectW(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    val once = collectW(TrainPrep.bpeApplyPairs(cur, batch1))
    val composed = collectW(
      batch1.foldLeft(cur)((d, p) => TrainPrep.bpeApplyPairs(d, Seq(p))))
    assert(once == composed, "pass-1 batch must equal its sequential composition")
  }

  test("bpeMergeTokens: a = b takes the fold path — even run offsets, leftmost-greedy") {
    import spark.implicits._
    val docs = Seq(
      (1L, "z z z z z"),     // runs of 5: merges at offsets 0, 2 -> zz zz z
      (2L, "z z x z z z x z"),
      (3L, "y z z y"),
      (4L, "z")).toDF("doc_id", "text")
    val cur = docs.select(col("doc_id"), TrainPrep.rawToks(col("text")).as("w"))
    val out = TrainPrep.bpeApplyPairs(cur, Seq(("z", "z"))).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(out(1L) == Seq("z z", "z z", "z"), s"doc 1: ${out(1L)}")
    assert(out(2L) == Seq("z z", "x", "z z", "z", "x", "z"), s"doc 2: ${out(2L)}")
    assert(out(3L) == Seq("y", "z z", "y"), s"doc 3: ${out(3L)}")
    assert(out(4L) == Seq("z"), s"doc 4: ${out(4L)}")
  }

  test("bpeTopPairs: top-k agrees with a driver-side recount in (count desc, pair) order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c d"),
      (2L, "a b c d c d c a")).toDF("doc_id", "text")
    val cur = docs.select(col("doc_id"), TrainPrep.rawToks(col("text")).as("w"))
    val got = TrainPrep.bpeTopPairs(cur, 3)
    val pc = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.collect().map(_.getString(1).split(" ").toSeq).foreach(
      _.sliding(2).filter(_.length == 2)
        .foreach(p => pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + 1))
    val want = pc.toSeq.map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }.take(3)
    assert(got == want, s"got $got want $want")
  }
}
