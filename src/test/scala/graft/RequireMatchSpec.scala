package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StandingTables
import org.apache.spark.sql.types._

import graft.operators.Reconcile

/** `Reconcile.requireMatch`, the self-check every optimize runs against its
  * own source, given planted rewrites: each content change fails naming its
  * table, even the bit-level ones a text rendering can blur (a NULL moved
  * inside an array, `-0.0` for `0.0`, one float ulp); the same rows in
  * another file count, partitioning or order pass; a column whose type
  * changed fails naming the column. */
class RequireMatchSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  /** 300 embedding rows plus a planted one whose embedding holds a 0.0
    * next to a NULL, and an INT `shard` column to partition by. */
  private lazy val source: (StructType, Seq[Row]) = {
    val e = Tables(spark, dir, "embeddings").orderBy("vec_id").limit(300)
      .withColumn("shard", (col("vec_id") % 4).cast("int"))
    val rows = e.collect().toSeq
    val planted = Row.fromSeq(Seq(-1L, Seq[Any](0.0f, null) ++ rows.head.getSeq[Float](1).drop(2),
      rows.head.get(2), 0))
    (e.schema, planted +: rows)
  }

  private def tmp(): String = Files.createTempDirectory("graft_require_match").toString

  /** `rows` written as parquet through `writer`, read back as a standing
    * table. */
  private def written(rows: Seq[Row],
      writer: DataFrame => DataFrameWriter[Row] = _.write): DataFrame = {
    val out = tmp() + "/t"
    writer(spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), source._1))
      .parquet(out)
    StandingTables.read(spark, out)
  }

  private def failure(tables: Seq[(String, DataFrame, DataFrame)]): String =
    intercept[IllegalArgumentException](Reconcile.requireMatch("optimize", tables)).getMessage

  private def embeddingAt(rows: Seq[Row], id: Long)(f: Seq[Any] => Seq[Any]): Seq[Row] =
    rows.map(r => if (r.getLong(0) != id) r
      else Row(r.get(0), f(r.getSeq[Any](1)), r.get(2), r.get(3)))

  test("same rows in another file count, partitioning or order pass") {
    val rows = source._2
    val src = written(rows)
    Reconcile.requireMatch("optimize", Seq(
      ("one_file", src, written(rows, _.coalesce(1).write)),
      ("seven_files", src, written(rows, _.repartition(7).write)),
      ("by_shard", src, written(rows, _.repartition(col("shard")).write.partitionBy("shard"))),
      ("reversed", src, written(rows.reverse, _.orderBy(desc("vec_id")).write))))
  }

  test("a dropped, duplicated or changed row fails naming its table") {
    val rows = source._2
    val src = written(rows)
    val nextUlp = embeddingAt(rows, rows(10).getLong(0))(v =>
      Math.nextUp(v.head.asInstanceOf[Float]) +: v.tail)
    val plants = Seq(
      "dropped" -> rows.filterNot(_.getLong(0) == rows(5).getLong(0)),
      "duplicated" -> (rows :+ rows(7)),
      "changed" -> nextUlp)
    for ((name, out) <- plants) {
      val msg = failure(Seq(("intact", src, written(rows)), (name, src, written(out))))
      assert(msg.contains(s"optimize: $name content mismatch"), msg)
      assert(!msg.contains("intact"), msg)
    }
  }

  test("a NULL moved inside an array and a -0.0 embedding fail naming their table") {
    val rows = source._2
    val src = written(rows)
    // the planted row's [0.0, NULL, ...] becomes [NULL, 0.0, ...]: the
    // same slot bytes, only the null bits move
    val moved = embeddingAt(rows, -1L)(v => null +: v.head +: v.drop(2))
    val negZero = embeddingAt(rows, -1L)(v => -0.0f +: v.tail)
    for ((name, out) <- Seq("null_moved" -> moved, "negative_zero" -> negZero)) {
      val msg = failure(Seq((name, src, written(out))))
      assert(msg.contains(s"optimize: $name content mismatch"), msg)
    }
  }

  test("a column whose type differs fails naming the column") {
    val src = written(source._2)
    val msg = failure(Seq(("vectors", src, src.withColumn("label", col("label").cast("long")))))
    assert(msg.contains("optimize: vectors") && msg.contains("label int vs bigint"), msg)
  }
}
