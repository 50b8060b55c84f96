package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StandingTables
import org.scalatest.BeforeAndAfterEach

import graft.operators.{AnnIndex, DedupIndex}

/** [[StandingTables.read]] reads a standing table as `spark.read.parquet`
  * does — same schema (partition columns and their types included), same
  * rows, same error on an empty directory — without the schema-inference
  * job. And no operator reads parquet any other way. */
class StandingTablesSpec extends SparkSpec with BeforeAndAfterEach {

  private val dir = sf("sf0.001")

  override def afterEach(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def tmp(): String = Files.createTempDirectory("graft_standing").toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Every table layout the indexes keep: bands (partitioned by bi), sigs,
    * tombstones, vectors (partitioned by centroid_id), centroids and
    * codebooks. */
  private lazy val layouts: Seq[String] = {
    val docs = Tables(spark, dir, "documents")
    val d = tmp()
    DedupIndex.build(docs.filter(col("doc_id") % 10 < 5), d)
    DedupIndex.append(docs.filter(col("doc_id") % 10 === 5), d)
    DedupIndex.remove(docs.filter(col("doc_id") % 10 === 3).select("doc_id"), d)
    val e = Tables(spark, dir, "embeddings")
    val a = tmp()
    AnnIndex.build(e.filter(col("vec_id") % 2 === 0), AnnIndex.seedCentroids(e, 8), a,
      Some(AnnIndex.seedCodebook(e)))
    AnnIndex.append(spark, e.filter(col("vec_id") % 2 === 1), a)
    AnnIndex.remove(e.filter(col("vec_id") % 10 === 3).select("vec_id"), a)
    Seq("bands", "sigs", "tombstones").map(t => s"$d/$t") ++
      Seq("vectors", "tombstones", "centroids", "codebooks").map(t => s"$a/$t")
  }

  private def leafNames(p: String): Seq[String] = {
    val s = Files.walk(Paths.get(p))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString).toList
    finally s.close()
  }

  test("schema and rows equal spark.read.parquet on every index layout") {
    for (p <- layouts) {
      val want = spark.read.parquet(p)
      val got = StandingTables.read(spark, p)
      assert(got.schema == want.schema, s"$p: ${got.schema.simpleString} vs ${want.schema.simpleString}")
      assert(rows(got) == rows(want), s"$p: rows differ")
    }
    // the directories hold the writer's side files the listing must skip
    val names = layouts.flatMap(leafNames)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
  }

  test("the read runs no job, where spark.read.parquet runs one") {
    for (p <- layouts) {
      val (_, mine) = RunLedger.measure(spark)(StandingTables.read(spark, p))
      assert(mine.stages.isEmpty, s"$p: ${mine.stages.map(_.name).mkString("; ")}")
    }
    val (_, inferred) = RunLedger.measure(spark)(spark.read.parquet(layouts.head))
    assert(inferred.stages.nonEmpty, "spark.read.parquet no longer infers with a job")
  }

  test("an empty or missing directory fails exactly as spark.read.parquet does") {
    val empty = tmp()
    val missing = s"${tmp()}/absent"
    for (p <- Seq(empty, missing)) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](StandingTables.read(spark, p))
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage,
        s"$p: ${got.getMessage} vs ${want.getMessage}")
    }
  }

  test("no operator reads parquet past the standing-table reader") {
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val s = Files.walk(root)
    val files: Seq[Path] =
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    assert(files.nonEmpty)
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("read.parquet(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"raw parquet reads under graft/operators (use StandingTables.read):\n${offenders.mkString("\n")}")
    assert(new File(root.toFile, "DedupIndex.scala").isFile)
  }
}
