package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorMath

import graft.operators.{AnnIndex, GroupedKernels => G}

/** The per-row vector kernels in [[AnnIndex]] against their grouped
  * forms ([[graft.operators.GroupedKernels]]: cross join + struct-ordered
  * max_by/min_by, or a row_number window for topCentroids), row for row
  * — on the fixture embeddings, where the oracle already pins the grouped
  * answers, and on planted cases the fixture never reaches: duplicate
  * candidates, a tie that exists only after round(cos, 4), zero vectors
  * (NaN cosines), unequal lengths (NULL distances), NaN and NULL elements,
  * NULL vectors, INT and BIGINT ids, an empty candidate set and nprobe at
  * or above the candidate count. Planted frames run twice: as local relations
  * (interpreted eval) and read back from parquet (generated code). */
class VectorKernelParitySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_kernel_parity").resolve("t").toString

  private def viaParquet(df: DataFrame): DataFrame = {
    val p = tmp()
    df.write.parquet(p)
    spark.read.parquet(p)
  }

  /** Same column types and the same multiset of rendered rows. */
  private def assertSame(name: String, got: DataFrame, want: DataFrame): Unit = {
    def types(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType.catalogString).toSeq
    assert(types(got) == types(want), s"$name: column types differ")
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$name: per-row kernel differs from the grouped form\n" +
      s"  only per-row: ${g.diff(w).take(5)}\n  only grouped: ${w.diff(g).take(5)}")
  }

  private def cosineKernels(tag: String, e: DataFrame, cent: DataFrame): Unit = {
    for (rounded <- Seq(true, false); payload <- Seq(Seq("ascore"), Seq("embedding", "ascore")))
      assertSame(s"$tag nearestCentroid rounded=$rounded payload=$payload",
        AnnIndex.nearestCentroid(e, cent, Seq("vec_id"), payload, rounded),
        G.nearestCentroid(e, cent, Seq("vec_id"), payload, rounded))
    assertSame(s"$tag assignCosine", AnnIndex.assignCosine(e, cent), G.assignCosine(e, cent))
  }

  /** topCentroids with every row of `e` as a query, at nprobe below,
    * at and above the candidate count. */
  private def topKernels(tag: String, e: DataFrame, cent: DataFrame): Unit = {
    val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    for (n <- Seq(1, 2, 3, 8, 9))
      assertSame(s"$tag topCentroids nprobe=$n",
        AnnIndex.topCentroids(q, cent, n), G.topCentroids(q, cent, n))
  }

  private def pqKernels(tag: String, e: DataFrame, cw: DataFrame): Unit = {
    for (keepDist <- Seq(false, true))
      assertSame(s"$tag pqAssign keepDist=$keepDist",
        AnnIndex.pqAssign(e, cw, keepDist), G.pqAssign(e, cw, keepDist))
    assertSame(s"$tag pqEncode",
      AnnIndex.pqEncode(e, cw).select("vec_id", "codes"), G.pqEncode(e, cw))
  }

  private def l2Kernels(tag: String, e: DataFrame, cent: DataFrame): Unit =
    assertSame(s"$tag assignL2", AnnIndex.assignL2(e, cent), G.assignL2(e, cent))

  test("per-row kernels equal the grouped forms on the sf0.001 embeddings") {
    val e = Tables(spark, sf("sf0.001"), "embeddings").select("vec_id", "embedding")
    val seeds = AnnIndex.seedCentroids(e, 8)
    cosineKernels("seed centroids", e, seeds)
    cosineKernels("retrained f32 centroids", e, AnnIndex.retrainCentroids(e, 8))
    topKernels("seed centroids", e, seeds)
    topKernels("int-id seed centroids", e,
      seeds.select(col("centroid_id").cast("int").as("centroid_id"), col("centv")))
    topKernels("retrained f32 centroids", e, AnnIndex.retrainCentroids(e, 8))
    pqKernels("seed codebook", e, AnnIndex.seedCodebook(e))
    val c0 = e.filter(col("vec_id") < 8).select(col("vec_id").as("cid"),
      transform(col("embedding"), x => x.cast("double")).as("cv"))
    l2Kernels("f64 seed centroids", e, c0)
    l2Kernels("trained f64 centroids", e,
      AnnIndex.memberMean(G.assignL2(e, c0), "cid", "cv"))
  }

  test("an IVF-PQ build writes the same vectors table, schema and partition type included") {
    val e = Tables(spark, sf("sf0.001"), "embeddings")
    val cent = AnnIndex.seedCentroids(e, 8)
    val cw = AnnIndex.seedCodebook(e)
    val idx = tmp()
    AnnIndex.build(e, cent, idx, Some(cw))
    val ref = tmp()
    G.writtenVectors(e, cent, Some(cw)).write.partitionBy("centroid_id").parquet(ref)
    val got = spark.read.parquet(s"$idx/vectors")
    val want = spark.read.parquet(ref)
    assert(got.schema == want.schema)
    assertSame("written vectors", got, want)
  }

  // ---- planted cases ------------------------------------------------------

  private def f3(id: Long, v: Float*): (Long, Array[Float]) = (id, v.toArray)

  /** Cosine/L2 probe vectors: plain, zero (NaN cosines), NULL, shorter
    * than the candidates, a NaN element, and one on the far side. */
  private def vecs3: DataFrame = Seq(
    f3(1L, 2f, 1f, 0f), f3(2L, 1f, 2f, 0.5f), f3(3L, 0f, 0f, 3f), f3(4L, 1f, 0f, 0f),
    f3(5L, 0f, 0f, 0f), f3(7L, 1f, 0f), f3(8L, Float.NaN, 1f, 0f),
    f3(9L, 0.5f, -0.5f, 1e-5f), f3(10L, -1f, -1f, 0f))
    .toDF("vec_id", "embedding")
    .unionByName(Seq(6L).toDF("vec_id").withColumn("embedding", lit(null).cast("array<float>")))

  private def cosineSets: Seq[(String, DataFrame)] = {
    def c(rows: (Long, Array[Float])*) = rows.toDF("centroid_id", "centv")
    Seq(
      // the duplicated centroid arrives under the HIGHER id first
      "duplicate centroids" -> c(f3(7L, 1f, 1f, 0f), f3(3L, 1f, 1f, 0f), f3(1L, 0f, 0f, 1f)),
      // vec 4: cos ~0.99993 vs ~0.99991, both 0.9999 after rounding
      "tie after rounding" -> c(f3(5L, 1f, 0.012f, 0f), f3(2L, 1f, 0.0134f, 0f)),
      // vec 4: cos 0.0 vs ~-1e-6, both 0.0 after rounding
      "zero tie after rounding" -> c(f3(11L, 0f, 1f, 0f), f3(10L, -1e-6f, 1f, 0f)),
      // a zero centroid scores NaN against everything, which max_by keeps
      "zero-vector centroids" -> c(f3(4L, 1f, 0f, 0f), f3(8L, 0f, 0f, 0f), f3(6L, 0f, 0f, 0f)),
      "int ids" -> Seq((7, Array(1f, 1f, 0f)), (3, Array(1f, 1f, 0f)), (1, Array(0f, 0f, 1f)))
        .toDF("centroid_id", "centv"),
      // a NULL centroid scores NULL, which loses to every number
      "null centroid" -> Seq[(Long, Option[Array[Float]])]((2L, None),
        (3L, Some(Array(1f, 1f, 0f))), (1L, Some(Array(0f, 0f, 1f)))).toDF("centroid_id", "centv"),
      "empty" -> c(f3(1L, 1f, 0f, 0f)).filter(lit(false)))
  }

  /** L2 adds a NULL element, which poisons the distance to NULL. */
  private def vecsL2: DataFrame = vecs3.unionByName(Seq(f3(11L, 1f, 1f, 0f)).toDF("vec_id", "embedding")
    .select(col("vec_id"), expr("transform(embedding, (x, i) -> IF(i = 1, CAST(NULL AS FLOAT), x))")
      .as("embedding")))

  private def l2Sets: Seq[(String, DataFrame)] = {
    def c(rows: (Long, Array[Double])*) = rows.toDF("cid", "cv")
    Seq(
      "duplicate centroids" -> c((7L, Array(1.0, 1.0, 0.0)), (3L, Array(1.0, 1.0, 0.0)),
        (1L, Array(0.0, 0.0, 1.0))),
      // a 2-dim centroid gives NULL distances to 3-dim vectors, and NULL
      // sorts first in min_by's struct order
      "unequal lengths" -> c((2L, Array(1.0, 1.0)), (5L, Array(0.0, 0.0, 0.0)),
        (9L, Array(0.1, 0.1, 0.1))),
      "float int ids" -> Seq((7, Array(1f, 1f, 0f)), (3, Array(1f, 1f, 0f)), (1, Array(0f, 0f, 1f)))
        .toDF("cid", "cv"),
      // a NULL centroid and a NULL element both give NULL distances
      "null centroids" -> Seq[(Long, Option[Seq[Option[Double]]])](
        (14L, Some(Seq(Some(0.5), Some(0.5), Some(0.5)))), (13L, None),
        (12L, Some(Seq(Some(1.0), None, Some(0.0))))).toDF("cid", "cv"),
      "empty" -> c((1L, Array(1.0, 0.0, 0.0))).filter(lit(false)))
  }

  private def flat(x: Float, n: Int = 64): Array[Float] = Array.fill(n)(x)

  private def vecsPq: DataFrame =
    Seq((1L, flat(1f)), (2L, flat(4.5f)), (3L, flat(1f, 60)),
      (5L, flat(2f).updated(3, Float.NaN)), (7L, Array.tabulate(64)(_ / 64f)))
      .toDF("vec_id", "embedding")
      .unionByName(Seq(4L).toDF("vec_id").withColumn("embedding", lit(null).cast("array<float>")))
      .unionByName(Seq((6L, flat(3f))).toDF("vec_id", "embedding")
        .select(col("vec_id"), expr("transform(embedding, (x, i) -> IF(i = 20, CAST(NULL AS FLOAT), x))")
          .as("embedding")))

  private def pqSets: Seq[(String, DataFrame)] = {
    def c(rows: (Long, Array[Float])*) = rows.toDF("code", "cv")
    Seq(
      // codes 3 and 1 hold the same codeword; vec 1 sits exactly on it
      "duplicate codewords" -> c((3L, flat(1f)), (0L, flat(5f)), (1L, flat(1f)), (2L, flat(-3f))),
      // a 60-dim codeword: its last subspace slice is 12 wide, so it gives
      // NULL against 64-dim vectors and the only real distance to vec 3
      "unequal lengths" -> c((0L, flat(1f)), (5L, flat(2f, 60)), (7L, flat(0f))),
      "int codes" -> Seq((3, flat(1f)), (0, flat(5f)), (1, flat(1f))).toDF("code", "cv"),
      "empty" -> c((0L, flat(1f))).filter(lit(false)))
  }

  test("planted cases: per-row kernels equal the grouped forms, interpreted and generated") {
    for ((mode, load) <- Seq[(String, DataFrame => DataFrame)](
        "local" -> (df => df), "parquet" -> viaParquet)) {
      val v3 = load(vecs3)
      cosineSets.foreach { case (n, c) => cosineKernels(s"$mode $n", v3, load(c)) }
      cosineSets.foreach { case (n, c) => topKernels(s"$mode $n", v3, load(c)) }
      val vl2 = load(vecsL2)
      l2Sets.foreach { case (n, c) => l2Kernels(s"$mode $n", vl2, load(c)) }
      val vpq = load(vecsPq)
      pqSets.foreach { case (n, c) => pqKernels(s"$mode $n", vpq, load(c)) }
    }
  }

  test("planted cases reach the rules they plant") {
    val cs = cosineSets.toMap
    def best(c: DataFrame, rounded: Boolean): Map[Long, (Long, java.lang.Double)] =
      AnnIndex.nearestCentroid(vecs3, c, Seq("vec_id"), Seq("ascore"), rounded)
        .select(col("vec_id"), col("best.centroid_id").cast("long"), col("best.ascore"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.get(2).asInstanceOf[java.lang.Double])))
        .toMap
    assert(best(cs("duplicate centroids"), rounded = true)(1L)._1 == 3L)
    val tieR = best(cs("tie after rounding"), rounded = true)
    val tieRaw = best(cs("tie after rounding"), rounded = false)
    assert(tieR(4L) == ((2L, 0.9999)) && tieRaw(4L)._1 == 5L)
    val zeroTie = cs("zero tie after rounding")
    assert(best(zeroTie, rounded = true)(4L) == ((10L, 0.0)))
    assert(best(zeroTie, rounded = false)(4L)._1 == 11L)
    // NaN wins max_by; the two NaN centroids tie to the lower id
    val zero = best(cs("zero-vector centroids"), rounded = true)
    assert(zero(1L)._1 == 6L && zero(1L)._2.isNaN)
    // a NULL vector scores NULL everywhere: the lowest id, NULL score
    assert(zero(6L) == ((4L, null)))
    assert(AnnIndex.nearestCentroid(vecs3, cs("empty"), Seq("vec_id"), Nil).count() == 0)
    // the top-n list keeps the same order: both rounded-tie centroids at
    // 0.9999 with the lower id first, the NaN-scoring zero centroids above
    // every number, and every candidate once nprobe exceeds their count
    def top(c: DataFrame, n: Int): Map[Long, Seq[(Long, java.lang.Double)]] =
      AnnIndex.topCentroids(vecs3.select(col("vec_id").as("qid"), col("embedding").as("qe")), c, n)
        .select(col("qid"), col("centroid_id").cast("long"), col("qscore"), col("rn"))
        .collect().groupBy(_.getLong(0)).map { case (k, rs) =>
          k -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.get(2).asInstanceOf[java.lang.Double])).toSeq
        }
    assert(top(cs("tie after rounding"), 2)(4L) == Seq((2L, 0.9999), (5L, 0.9999)))
    val zeroTop = top(cs("zero-vector centroids"), 5)(1L)
    assert(zeroTop.map(_._1) == Seq(6L, 8L, 4L) && zeroTop.take(2).forall(_._2.isNaN))
    assert(AnnIndex.topCentroids(vecs3.select(col("vec_id").as("qid"), col("embedding").as("qe")),
      cs("empty"), 2).count() == 0)
    // NULL distances sort first: the 2-dim centroid wins for 3-dim vectors
    val l2 = AnnIndex.assignL2(vecsL2, l2Sets.toMap.apply("unequal lengths"))
      .select("vec_id", "cid", "dist").collect().map(r => r.getLong(0) -> r).toMap
    assert(l2(1L).getLong(1) == 2L && l2(1L).isNullAt(2))
    assert(l2(7L).getLong(1) == 5L && l2(7L).isNullAt(2)) // the 2-dim vec: 5 and 9 are NULL
    val pq = AnnIndex.pqAssign(vecsPq, pqSets.toMap.apply("unequal lengths"), keepDist = true)
      .filter(col("subspace") === 3)
      .select(col("vec_id"), col("best.code"), col("best.dist")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(pq(1L).getLong(1) == 5L && pq(1L).isNullAt(2))
    assert(pq(3L).getLong(1) == 0L && pq(3L).isNullAt(2)) // 12-wide slice vs 16-wide codewords 0, 7
  }

  test("the candidate order is Spark's max_by/min_by struct order") {
    // NaN above every double, NULL first, -0.0 equal to 0.0, ties to the
    // lowest id — folded with VectorMath.beats and asked of Spark itself
    val cases: Seq[Seq[(Long, Option[Double])]] = Seq(
      Seq(3L -> Some(0.0), 1L -> Some(-0.0), 2L -> Some(-0.0)),
      Seq(2L -> Some(-0.0), 3L -> Some(0.0)),
      Seq(5L -> None, 4L -> Some(-1e300), 6L -> None),
      Seq(9L -> Some(Double.NaN), 2L -> Some(Double.PositiveInfinity), 7L -> Some(Double.NaN)),
      Seq(1L -> None, 2L -> None),
      Seq(8L -> Some(1.0), 3L -> Some(1.0), 5L -> Some(Double.NegativeInfinity)))
    for (c <- cases; dir <- Seq(1, -1)) {
      val folded = c.tail.foldLeft(c.head) { case (b, s) =>
        if (VectorMath.beats(dir, s._2.isEmpty, s._2.getOrElse(0.0), s._1,
            b._2.isEmpty, b._2.getOrElse(0.0), b._1)) s else b
      }._1
      val df = c.toDF("id", "score")
      val agg =
        if (dir == 1) max_by(col("id"), struct(col("score"), -col("id")))
        else min_by(col("id"), struct(col("score"), col("id")))
      assert(df.agg(agg).as[Long].head() == folded, s"dir=$dir $c")
    }
  }
}
