package graft

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.Locale

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.Audit

/** Property-based tests (SURVEY.md §5.2): the Q1 null-membership whitelist
  * against a Python-semantics oracle function, A4 first-match invariance
  * under partition count, and the T5 raw-timestamp parse as a round-trip —
  * each over scalacheck-generated inputs rather than fixture cases. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def passes(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  private val statusGen: Gen[Option[String]] = Gen.oneOf(
    Some("SUCCESS"), Some("CREATED"), Some("UPSTREAM FAILED"),
    Some("FAILED"), Some("RUNNING"), Some(""), None)

  test("Q1/J1: Spark whitelist filter == Python 'not in' oracle on random rows") {
    // Python: stat = ["SUCCESS", None, "CREATED", "UPSTREAM FAILED"];
    // a node is bad if status not in stat OR export_status not in stat —
    // None is a whitelist MEMBER (app.py:113)
    val wl: Set[Option[String]] =
      Set(Some("SUCCESS"), None, Some("CREATED"), Some("UPSTREAM FAILED"))
    val rowsGen = Gen.listOfN(40, Gen.zip(Gen.choose(0L, 9L), statusGen, statusGen))
    passes(Prop.forAll(rowsGen) { rows =>
      val sparkBad = rows.toDF("id", "status", "export_status")
        .filter(!(Audit.statusOk(col("status")) && Audit.statusOk(col("export_status"))))
        .count()
      val oracleBad = rows.count { case (_, s, e) => !wl.contains(s) || !wl.contains(e) }
      sparkBad == oracleBad.toLong
    })
  }

  test("q243 chunking: full coverage, exact stride, bounded width on random docs") {
    // the chunker's contract: every token lands in at least one chunk
    // (coverage), starts advance by exactly the stride, widths cap at 64,
    // and the chunk count matches the closed form — over random token
    // counts including the 1, 63..65, exact-multiple edges
    val nGen = Gen.frequency(
      6 -> Gen.choose(1, 300),
      1 -> Gen.oneOf(1, 47, 48, 49, 63, 64, 65, 112, 113, 160))
    passes(Prop.forAll(Gen.listOfN(8, nGen)) { ns =>
      val tmp = java.nio.file.Files.createTempDirectory("chunkprop").toString
      ns.zipWithIndex.map { case (n, i) =>
        val text = (0 until n).map(j => s"t${i}x$j").mkString(" ")
        (i.toLong, text, "en", "gen", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val rows = SparkEntry.queries("q243_chunk_windows")(spark, tmp)
        .select("doc_id", "chunk_idx", "tok_start", "n_tok")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1)
      ns.zipWithIndex.forall { case (n, i) =>
        val cs = rows(i.toLong).sortBy(_._2)
        val expectChunks = 1 + math.max(0, (n - 64 + 47) / 48)
        cs.length == expectChunks &&
          cs.zipWithIndex.forall { case ((_, ci, st, nt), k) =>
            ci == k && st == 48L * k && nt == math.min(64, n - st) && nt > 0 } &&
          (cs.last._3 + cs.last._4) == n.toLong  // coverage: last chunk ends at n
      }
    })
  }

  test("A4: first-non-null per key is partition-count invariant and order-correct") {
    val rowsGen = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 4L), Gen.option(Gen.choose(0L, 1000L))))
    passes(Prop.forAll(rowsGen, Gen.choose(1, 9)) { (rows, parts) =>
      // explicit seq = list position (§7.4.2: order must be a column)
      val seqd = rows.zipWithIndex.map { case ((pid, v), i) => (pid, i.toLong, v) }
      val df = seqd.toDF("project_id", "seq", "value").repartition(parts)
      val w = Window.partitionBy("project_id").orderBy("seq")
      val got = df.filter(col("value").isNotNull)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("project_id", "value")
        .as[(Long, Long)].collect().toMap
      val expect = seqd.groupBy(_._1).flatMap { case (pid, g) =>
        g.sortBy(_._2).collectFirst { case (_, _, Some(v)) => pid -> v }
      }
      got == expect
    })
  }

  test("Redaction: scrubbed text never matches any PII pattern; clean text unchanged") {
    import graft.functions.Redaction
    val word: Gen[String] = Gen.oneOf("data", "the", "table", "row", "fine")
    val piiGen: Gen[String] = Gen.oneOf(
      Gen.alphaLowerStr.suchThat(_.nonEmpty).map(u => s"$u@example.com"),
      Gen.choose(100, 999).flatMap(a => Gen.choose(1000, 9999)
        .map(b => s"$a-${a}-$b")),
      Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString(".")))
    val docGen: Gen[List[String]] = Gen.listOf(Gen.frequency(4 -> word, 1 -> piiGen))
    passes(Prop.forAll(docGen) { words =>
      val text = words.mkString(" ")
      val red = Seq(text).toDF("t")
        .select(Redaction.redactPii(col("t")).as("r")).as[String].head()
      val noPii = Seq(Redaction.EmailRe, Redaction.PhoneRe, Redaction.Ipv4Re)
        .forall(re => !re.r.unanchored.matches(red))
      val cleanStable = words.exists(w => w.contains("@") || w.contains("-") ||
        w.contains(".")) || red == text
      noPii && cleanStable
    })
  }

  test("q80 invariants: duplicate fractions bounded in [0,1] on the corpus") {
    val rows = graft.SparkEntry.queries("q80_repetition")(spark, sf("sf0.001"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq(2, 3, 4).foreach { i =>
        val f = r.getDouble(i)
        assert(f >= 0.0 && f <= 1.0, s"fraction out of range: $r")
      }
      // flag consistency: repetitive == (dup_token > 0.8 || dup_3gram > 0.3)
      val expect = if (r.getDouble(2) > 0.8 || r.getDouble(4) > 0.3) 1L else 0L
      assert(r.getLong(5) == expect, s"flag inconsistent: $r")
    }
  }

  test("NgramDistincts == scala-set reference on random token arrays") {
    // tiny alphabet forces heavy repetition — the adversarial case for the
    // dense-id/packed-long distinct counting in the native expression
    val tokGen = Gen.oneOf("a", "b", "c", "ab", "ba", "a b".replace(" ", ""), "x")
    val arrGen = Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, tokGen))
    passes(Prop.forAll(Gen.listOfN(8, arrGen)) { arrays =>
      val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
        .toDF("id", "w")
      val got = df.select(col("id"),
          org.apache.spark.sql.graft.TextHashes.ngram_distincts(col("w")).as("d"))
        .select(col("id"), col("d.d_tok"), col("d.d_2g"), col("d.d_3g"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      arrays.zipWithIndex.forall { case (a, i) =>
        val exp = (
          a.distinct.size.toLong,
          a.zip(a.drop(1)).distinct.size.toLong,
          a.zip(a.drop(1)).zip(a.drop(2)).distinct.size.toLong)
        got(i.toLong) == exp
      }
    })
  }

  test("T5: raw 'EEE, dd MMM yyyy, HH:mm:ss GMT+0000' parse is a round-trip") {
    val fmt = DateTimeFormatter
      .ofPattern("EEE, dd MMM yyyy, HH:mm:ss", Locale.ENGLISH)
      .withZone(ZoneOffset.UTC)
    // 2000-01-01 .. 2030-01-01, whole seconds
    val epochGen = Gen.listOfN(25, Gen.choose(946684800L, 1893456000L))
    passes(Prop.forAll(epochGen) { epochs =>
      val raws = epochs.map(e => (e, fmt.format(Instant.ofEpochSecond(e)) + " GMT+0000"))
      val parsed = raws.toDF("epoch", "raw")
        // the Audit parse path: strip the weekday (EEE not parseable), then Z
        .withColumn("ts", to_timestamp(
          regexp_replace(col("raw"), "^[A-Za-z]{3}, ", ""), "dd MMM yyyy, HH:mm:ss 'GMT'Z"))
        .select(col("epoch"), unix_timestamp(col("ts")))
        .as[(Long, Long)].collect()
      parsed.forall { case (e, got) => got == e }
    })
  }

  test("cdcDiff roundtrip + minimality on random keyed snapshots") {
    import graft.operators.Merge
    // snapshots over a small key space with NULL-able payload (the <=>
    // compare must treat NULL == NULL as unchanged, NULL vs value as a
    // change); law: merge(old, cdcDiff(old, new)) == new, and the feed
    // never carries an unchanged key (minimality)
    val vGen: Gen[Option[String]] = Gen.oneOf(Some("a"), Some("b"), Some("c"), None)
    val snapGen = Gen.mapOfN(12, Gen.zip(Gen.choose(0L, 19L), Gen.zip(vGen, vGen)))
    passes(Prop.forAll(snapGen, snapGen) { (o, n) =>
      val oldDf = o.toSeq.map { case (k, (v1, v2)) => (k, v1, v2) }.toDF("k", "v1", "v2")
      val newDf = n.toSeq.map { case (k, (v1, v2)) => (k, v1, v2) }.toDF("k", "v1", "v2")
      val feed = Merge.cdcDiff(oldDf, newDf, Seq("k"), Seq("v1", "v2"))
        .collect().map(r => (r.getLong(0),
          Option(r.getString(1)), Option(r.getString(2)), r.getString(3)))
      val expectedOps = (o.keySet ++ n.keySet).flatMap { k =>
        (o.get(k), n.get(k)) match {
          case (Some(_), None)              => Some(k -> "D")
          case (None, Some(_))              => Some(k -> "I")
          case (Some(a), Some(b)) if a != b => Some(k -> "U")
          case _                            => None
        }
      }
      val gotOps = feed.map(f => f._1 -> f._4).toSet
      val replay = Merge.merge(oldDf,
        Merge.cdcDiff(oldDf, newDf, Seq("k"), Seq("v1", "v2")),
        Seq("k"), "op", Seq("v1", "v2")).drop("action")
      gotOps == expectedOps &&
        replay.exceptAll(newDf).isEmpty && newDf.exceptAll(replay).isEmpty
    })
  }

  test("scd2Apply == from-scratch scd2 on random split change logs") {
    import graft.operators.Merge
    // random per-key logs over a tiny attribute alphabet (maximizing
    // adjacent-duplicate runs and equal-attr boundary absorptions), split
    // at a random cutoff; law: incremental apply == full rebuild
    val logGen = for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n,
        Gen.zip(Gen.choose(0L, 3L), Gen.oneOf("x", "y", "z")))
      cut <- Gen.choose(0, n)
    } yield (rows.zipWithIndex.map { case ((k, a), i) => (k, i.toLong, a) }, cut)
    val cols = Seq("k", "attr", "effective_from", "effective_to",
      "n_changes", "version", "is_current").map(col)
    passes(Prop.forAll(logGen) { case (rows, cut) =>
      val (a, b) = rows.splitAt(cut)
      val full = rows.toDF("k", "seq", "attr")
      val scratch = Merge.scd2(full, "k", Seq(col("seq")), "attr").select(cols: _*)
      val inc =
        if (a.isEmpty || b.isEmpty) scratch // nothing to split
        else Merge.scd2Apply(
          Merge.scd2(a.toDF("k", "seq", "attr"), "k", Seq(col("seq")), "attr"),
          b.toDF("k", "seq", "attr"), "k", Seq(col("seq")), "attr").select(cols: _*)
      inc.exceptAll(scratch).isEmpty && scratch.exceptAll(inc).isEmpty
    })
  }

  test("q284 GD pass: gradients and weights are partition-count invariant") {
    // the property the floor-e9 integerization exists for: a raw double
    // gradient sum varies with partitioning (summation order); the BIGINT
    // contributions must not. Random features at two partitionings must
    // produce bit-identical stats AND a bit-identical 3-step trajectory.
    import graft.queries.TrainPrep
    val rowGen = Gen.listOfN(120, for {
      x1 <- Gen.chooseNum(1L, 500L)
      x2 <- Gen.chooseNum(0L, 10000L)
      y <- Gen.oneOf(0L, 1L)
    } yield (x1, x2, y))
    passes(Prop.forAll(rowGen) { rows =>
      val cols = Seq("x1i", "x2i", "yi")
      def train(parts: Int): Seq[org.apache.spark.sql.Row] = {
        val feat = rows.toDF(cols: _*).repartition(parts)
        val w0 = spark.range(1)
          .select(lit(0.0).as("w0"), lit(0.0).as("w1"), lit(0.0).as("w2"))
        val w3 = (1 to 3).foldLeft(w0)((w, _) =>
          TrainPrep.gdNextW(TrainPrep.gdPass(feat, w, Nil)))
        w3.collect().toSeq
      }
      rows.isEmpty || train(1) == train(13)
    })
  }

  test("bloom partials: partition-count invariant; inserted values always pass") {
    import graft.operators.AggState
    val valsGen = Gen.nonEmptyListOf(Gen.identifier)
    passes(Prop.forAll(valsGen) { vs =>
      def packed(parts: Int) = AggState.bloomPartials(
        vs.toDF("v").repartition(parts), Nil, "v",
        AggState.BloomDefaultBits, AggState.BloomDefaultK)
      val a = packed(1); val b = packed(7)
      val sameBits = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      val noFn = AggState.bloomTest(AggState.bloomMap(a, Nil),
          vs.distinct.toDF("v"), Nil, "v", "might",
          AggState.BloomDefaultBits, AggState.BloomDefaultK)
        .filter(!col("might")).isEmpty
      sameBits && noFn
    })
  }
}
