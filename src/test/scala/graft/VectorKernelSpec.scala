package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.operators.AnnIndex

/** Tie rules of the shared vector kernels in [[AnnIndex]], pinned with
  * planted ties: no fixture ties exactly, so the oracle never reaches
  * the tie-break arms. Every argmax/argmin breaks ties to the LOWEST id,
  * whatever order the candidates arrive in. */
class VectorKernelSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*): DataFrame =
    rows.map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")

  private def cents(rows: (Long, Seq[Float])*): DataFrame =
    rows.map { case (id, v) => (id, v.toArray) }.toDF("centroid_id", "centv")

  // the duplicated centroid arrives under the HIGHER id first
  private val dupCent = cents(7L -> Seq(1f, 1f, 0f), 3L -> Seq(1f, 1f, 0f),
    1L -> Seq(0f, 0f, 1f))

  test("nearest centroid: duplicate centroids go to the lower id") {
    val e = vecs(10L -> Seq(2f, 1f, 0f), 11L -> Seq(1f, 2f, 0.5f), 12L -> Seq(0f, 0f, 3f))
    val rounded = AnnIndex.assignCosine(e, dupCent)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(rounded == Map(10L -> 3L, 11L -> 3L, 12L -> 1L))
    val raw = AnnIndex.nearestCentroid(e, dupCent, Seq("vec_id"), Nil, rounded = false)
      .select(col("vec_id"), col("best.centroid_id")).as[(Long, Long)].collect().toMap
    assert(raw == rounded)
  }

  test("nearest centroid: a tie after round(cos, 4) goes to the lower id; the raw score does not tie") {
    // cos(q, c2) ~ 0.99991 and cos(q, c5) ~ 0.99993: both round to 0.9999
    val c = cents(5L -> Seq(1f, 0.012f), 2L -> Seq(1f, 0.0134f))
    val e = vecs(1L -> Seq(1f, 0f))
    def best(rounded: Boolean): (Long, Double) =
      AnnIndex.nearestCentroid(e, c, Seq("vec_id"), Seq("ascore"), rounded)
        .select(col("best.centroid_id"), col("best.ascore")).as[(Long, Double)].head()
    assert(best(rounded = true) == (2L, 0.9999))
    val (rawId, rawScore) = best(rounded = false)
    assert(rawId == 5L && rawScore > 0.9999)
  }

  test("top-nprobe selection: duplicate centroids go to the lower id") {
    val q = Seq((1L, Array(1f, 1f, 0.1f))).toDF("qid", "qe")
    def probed(nprobe: Int): Seq[Long] =
      AnnIndex.topCentroids(q, dupCent, nprobe).orderBy("rn")
        .select("centroid_id").as[Long].collect().toSeq
    assert(probed(1) == Seq(3L))
    assert(probed(2) == Seq(3L, 7L))
  }

  test("PQ encode: duplicate codewords go to the lower code") {
    def flat(x: Float): Seq[Float] = Seq.fill(64)(x)
    // codes 3 and 1 hold the same codeword; the vector sits exactly on it
    val cw = Seq((3L, flat(1f)), (0L, flat(5f)), (1L, flat(1f)), (2L, flat(-3f)))
      .map { case (c, v) => (c, v.toArray) }.toDF("code", "cv")
    val e = vecs(1L -> flat(1f), 2L -> flat(4.5f))
    val codes = AnnIndex.pqEncode(e, cw)
      .select("vec_id", "codes").as[(Long, Seq[Long])].collect().toMap
    assert(codes == Map(1L -> Seq(1L, 1L, 1L, 1L), 2L -> Seq(0L, 0L, 0L, 0L)))
    val withDist = AnnIndex.pqAssign(e, cw, keepDist = true).filter(col("vec_id") === 1L)
      .select(col("best.code"), col("best.dist")).as[(Long, Double)].collect()
    assert(withDist.toSeq == Seq.fill(4)((1L, 0.0)))
  }

  test("member mean: exact f64 means per cluster, and their f32 cast") {
    val a = Seq(0.1f, 0.7f, 0.35f); val b = Seq(1.3f, -0.2f)
    val members = Seq(
      ("a", Array(a(0), 1f)), ("b", Array(b(0), 2f)), ("a", Array(a(1), 1f)),
      ("a", Array(a(2), 4f)), ("b", Array(b(1), 2.5f))).toDF("k", "embedding")
    // float-derived doubles sum exactly in f64, so the mean is the
    // order-free sum / n
    def mean(xs: Seq[Float]): Double = xs.map(_.toDouble).sum / xs.size
    val expected = Map("a" -> Seq(mean(a), 2.0), "b" -> Seq(mean(b), 2.25))
    val f64 = AnnIndex.memberMean(members, "k", "m")
    assert(f64.schema("m").dataType == ArrayType(DoubleType, containsNull = true))
    assert(f64.as[(String, Seq[Double])].collect().toMap == expected)
    val f32 = AnnIndex.memberMean(members, "k", "m", f32 = true)
    assert(f32.schema("m").dataType == ArrayType(FloatType, containsNull = true))
    assert(f32.as[(String, Seq[Float])].collect().toMap ==
      expected.map { case (k, v) => k -> v.map(_.toFloat) })
    // the planted means are not representable in f32: the cast is real
    assert(mean(a).toFloat.toDouble != mean(a))
  }
}
