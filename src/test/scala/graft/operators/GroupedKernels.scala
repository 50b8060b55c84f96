package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
import org.apache.spark.sql.graft.VectorMath

/** The grouped forms of the vector assignment kernels: a broadcast cross
  * join with the candidate frame, a score per pair, then a struct-ordered
  * max_by/min_by (or a row_number window) per key — and the full-index
  * form of the DedupIndex probe's bucket screen. These plans are the
  * semantics the DuckDB oracle was first proven against;
  * VectorKernelParitySpec and DedupIndexSpec pin the production forms in
  * [[AnnIndex]] and [[DedupIndex]] row for row to them. Test scope only —
  * production runs the per-row and request-screened forms exclusively. */
object GroupedKernels {

  /** [[AnnIndex.nearestCentroid]]: max_by over (ascore, -centroid_id). */
  def nearestCentroid(e: DataFrame, cent: DataFrame, keys: Seq[String],
      payload: Seq[String], rounded: Boolean = true): DataFrame = {
    val cos = cosine_sim(col("centv"), col("embedding"))
    e.join(broadcast(cent))
      .withColumn("ascore", if (rounded) round(cos, 4) else cos)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct((col("centroid_id") +: payload.map(col)): _*),
        struct(col("ascore"), -col("centroid_id"))).as("best"))
  }

  /** [[AnnIndex.assignCosine]] over the grouped argmax. */
  def assignCosine(e: DataFrame, cent: DataFrame): DataFrame =
    nearestCentroid(e, cent, Seq("vec_id"), Seq("embedding"))
      .select(col("vec_id"), col("best.centroid_id").as("centroid_id"),
        col("best.embedding").as("embedding"))

  private def subL2(a: Column): Column =
    VectorMath.slice_l2sq(a, col("cv"), (col("subspace") * 16 + 1).cast("int"), lit(16))

  /** [[AnnIndex.pqAssign]]: min_by over (dist, code) per (vec_id, subspace). */
  def pqAssign(vectors: DataFrame, cw: DataFrame, keepDist: Boolean = false): DataFrame = {
    val value = if (keepDist) struct(col("code"), col("dist")) else col("code")
    vectors.select(col("vec_id"), col("embedding"))
      .withColumn("subspace", explode(array((0 until 4).map(lit(_)): _*)))
      .join(broadcast(cw))
      .withColumn("dist", subL2(col("embedding")))
      .groupBy("vec_id", "subspace")
      .agg(min_by(value, struct(col("dist"), col("code")))
        .as(if (keepDist) "best" else "code"))
  }

  /** [[AnnIndex.pqEncode]] as (vec_id, codes): the per-subspace argmin
    * gathered back by one more keyed aggregation. */
  def pqEncode(vectors: DataFrame, cw: DataFrame): DataFrame =
    pqAssign(vectors, cw)
      .groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** [[AnnIndex.assignL2]]: min_by over (dist, cid). */
  def assignL2(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(broadcast(cent))
      .withColumn("dist", VectorMath.l2sq(col("embedding"), col("cv")))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cid"), col("embedding"), col("dist")),
        struct(col("dist"), col("cid"))).as("b"))
      .select(col("vec_id"), col("b.cid").as("cid"),
        col("b.embedding").as("embedding"), col("b.dist").as("dist"))

  /** The index's written vectors as `AnnIndex.writeVectors` produced
    * them: the assignment joined to the PQ codes on vec_id. */
  def writtenVectors(e: DataFrame, cent: DataFrame, cw: Option[DataFrame]): DataFrame = {
    val v = e.select("vec_id", "embedding")
    val assigned = assignCosine(v, cent)
    cw.fold(assigned)(c => assigned.join(pqEncode(v, c), Seq("vec_id")))
  }

  /** [[AnnIndex.topCentroids]]: the query × centroid cross join ranked by
    * a row_number window over (qscore DESC, centroid_id ASC) per qid, as
    * (q's columns, centroid_id, qscore, rn). */
  def topCentroids(q: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    val wQ = Window.partitionBy("qid").orderBy(desc("qscore"), asc("centroid_id"))
    q.join(broadcast(cent))
      .withColumn("qscore", round(cosine_sim(col("centv"), col("qe")), 4))
      .withColumn("rn", row_number().over(wQ)).filter(col("rn") <= nprobe)
      .select((q.columns.map(col) ++ Seq("centroid_id", "qscore", "rn").map(col)): _*)
  }

  /** [[DedupIndex.probePairs]] with the bucket screen over EVERY index
    * band row: the window count runs over the whole `idxBands` table
    * instead of only the buckets the probe hits. */
  def fullScreenProbePairs(prbBase: DataFrame, idxBands: DataFrame,
      idxSigs: DataFrame): DataFrame =
    DedupIndex.verifiedPairs(prbBase, graft.queries.Dedup.bandKeys(prbBase),
      DedupIndex.cappedBuckets(idxBands), idxSigs)
}
