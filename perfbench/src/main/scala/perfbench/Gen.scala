package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. The engine only ever sees what these produce.
  *
  * Warehouse tables follow the shape of the sf tables TESTDATA.md
  * describes: same names, columns, types and value domains, at the
  * sf0.1 row counts. Every value is a pure function of (seed, column,
  * row id), so one seed gives identical tables whatever the partitioning.
  * Documents and vectors are built on the driver from one `Random(seed)`,
  * which lets the workloads know exactly which inputs repeat which. */
object Gen {

  private def hash(seed: Long, stream: Int, key: Column*): Column =
    xxhash64((lit(seed) +: lit(stream) +: key): _*)

  /** Uniform integer in [0, n). */
  def pick(seed: Long, stream: Int, n: Long, key: Column*): Column =
    pmod(hash(seed, stream, key: _*), lit(n))

  /** Uniform double in [0, 1) on a 1e-6 grid. */
  def unit(seed: Long, stream: Int, key: Column*): Column =
    pick(seed, stream, 1000000L, key: _*).cast("double") / 1e6

  def choose(seed: Long, stream: Int, values: Seq[String], key: Column*): Column =
    element_at(array(values.map(lit): _*),
      (pick(seed, stream, values.size.toLong, key: _*) + 1).cast("int"))

  private def money(seed: Long, stream: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + unit(seed, stream, col("id")) * (hi - lo), 2)

  private def day(seed: Long, stream: Int, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), pick(seed, stream, days.toLong, col("id")).cast("int"))
      .cast("timestamp_ntz")

  val RowCounts: Map[String, Long] = Map(
    "customer" -> 15000L, "supplier" -> 1000L, "part" -> 20000L,
    "orders" -> 150000L, "lineitem" -> 600000L, "events" -> 100000L,
    "documents" -> 5000L, "embeddings" -> 2000L)

  /** The eight relational tables plus documents and embeddings (or the
    * named subset), written as `<dir>/<name>.parquet` (the layout
    * `graft.Tables` reads). */
  def warehouse(spark: SparkSession, seed: Long, dir: String,
      tables: Set[String] = graft.Tables.names.toSet): Unit = {
    def range(name: String, parts: Int = 1) =
      spark.range(0L, RowCounts(name), 1L, parts)
    def save(df: => DataFrame, name: String): Unit =
      if (tables(name)) df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    save(spark.range(0L, 5L, 1L, 1).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(lit): _*), (id + 1).cast("int")).as("r_name")), "region")
    save(spark.range(0L, 25L, 1L, 1).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), "nation")
    save(range("customer").select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(seed, 1, 25, id).cast("int").as("c_nationkey"),
      money(seed, 2, -999.99, 9999.99).as("c_acctbal"),
      choose(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), id).as("c_mktsegment")), "customer")
    save(range("supplier").select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pick(seed, 4, 25, id).cast("int").as("s_nationkey"),
      money(seed, 5, -999.99, 9999.99).as("s_acctbal")), "supplier")
    save(range("part").select(id.as("p_partkey"),
      concat_ws(" ",
        choose(seed, 6, Seq("blue", "old", "small", "new", "red", "large", "hot", "cold"), id),
        choose(seed, 7, Seq("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"), id))
        .as("p_name"),
      concat(lit("Brand#"), (pick(seed, 8, 25, id) + 1).cast("string")).as("p_brand"),
      choose(seed, 9, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"), id)
        .as("p_type"),
      (pick(seed, 10, 50, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (id % 1000).cast("double") / 10.0, 2).as("p_retailprice")), "part")
    save(range("orders", 2).select(id.as("o_orderkey"),
      pick(seed, 11, RowCounts("customer"), id).as("o_custkey"),
      choose(seed, 12, Seq("O", "F", "P"), id).as("o_orderstatus"),
      money(seed, 13, 1000.0, 500000.0).as("o_totalprice"),
      day(seed, 14, "1995-01-01", 2404).as("o_orderdate"),
      choose(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")), "orders")
    save(range("lineitem", 4).select(
      pick(seed, 16, RowCounts("orders"), id).as("l_orderkey"),
      pick(seed, 17, RowCounts("part"), id).as("l_partkey"),
      pick(seed, 18, RowCounts("supplier"), id).as("l_suppkey"),
      (pick(seed, 19, 7, id) + 1).cast("int").as("l_linenumber"),
      (pick(seed, 20, 50, id) + 1).cast("double").as("l_quantity"),
      money(seed, 21, 900.0, 105000.0).as("l_extendedprice"),
      (pick(seed, 22, 11, id).cast("double") / 100.0).as("l_discount"),
      (pick(seed, 23, 9, id).cast("double") / 100.0).as("l_tax"),
      choose(seed, 24, Seq("R", "A", "N"), id).as("l_returnflag"),
      choose(seed, 25, Seq("O", "F"), id).as("l_linestatus"),
      day(seed, 26, "1995-01-02", 2498).as("l_shipdate")), "lineitem")
    save(range("events", 2).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        pick(seed, 27, 30L * 86400L * 1000000L, id)).cast("timestamp_ntz").as("ts"),
      pick(seed, 28, 1500, id).as("user_id"),
      choose(seed, 29, Seq("signup", "click", "error", "view", "purchase"), id)
        .as("event_type"),
      round(unit(seed, 30, id) * unit(seed, 31, id) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "), pick(seed, 32, 100, id).cast("string"), lit("}"))
        .as("props")), "events")
    val docs = new DocGen(seed)
    save(docTable(spark, (0L until RowCounts("documents")).map(i =>
      Doc(i, if (i % 3 == 0) docs.paraDoc() else docs.blockDoc()))), "documents")
    val vecs = new VecGen(seed)
    save(vecTable(spark, (0L until RowCounts("embeddings")).map(vecs.next)), "embeddings")
  }

  final case class Doc(id: Long, text: String)

  val Langs: Seq[String] = Seq("en", "en", "en", "zh", "de", "es", "fr")

  def docTable(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = docs.map(d => Row(d.id, d.text, Langs((d.id % Langs.size).toInt),
      s"src${d.id % 20}", d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  final case class Vec(id: Long, v: Array[Float], label: Int)

  def vecTable(spark: SparkSession, vecs: Seq[Vec]): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    val rows = vecs.map(v => Row(v.id, v.v.toSeq, v.label))
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      math.max(1, vecs.size / 20000)), schema)
  }

  /** Row count and the sum of per-row hashes (mod a prime): equal for
    * equal tables whatever the row order or partitioning. */
  def fingerprint(df: DataFrame): String = {
    val h = df.select(sum(xxhash64(df.columns.map(col): _*) % lit(1000000007L)).as("h"),
      count(lit(1)).as("n")).head()
    s"${h.getLong(1)}:${Option(h.get(0)).getOrElse(0L)}"
  }

  /** CRC32 over the bytes of every parquet file under `dir`, in path
    * order: a cheap fingerprint of byte-identical generated tables. */
  def fileFingerprint(dir: java.io.File): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val crc = new java.util.zip.CRC32
    walk(dir).filter(_.getName.endsWith(".parquet"))
      .foreach(f => crc.update(java.nio.file.Files.readAllBytes(f.toPath)))
    f"${crc.getValue}%08x"
  }
}

/** Text built from the sf tables' 30-word vocabulary. Paragraph-form docs
  * carry blank-line separators (the engine's boundary split); block-form
  * docs have none (the 16-word block split). Every paragraph opens with a
  * stopword so each doc clears the quality gate. */
final class DocGen(seed: Long) {
  private val rnd = new Random(seed)
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def nextInt(n: Int): Int = rnd.nextInt(n)
  private def words(n: Int): Seq[String] = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.size)))
  def paragraph(): String = ("the" +: words(9 + rnd.nextInt(10))).mkString(" ")
  def paragraphs(n: Int): Seq[String] = Seq.fill(n)(paragraph())
  def paraDoc(): String = paragraphs(2 + rnd.nextInt(3)).mkString("\n\n")
  def blockDoc(): String = ("the" +: words(39 + rnd.nextInt(31))).mkString(" ")
  /** A block-form doc one word short of whole 16-word blocks (47, 63 or 79
    * words): its last block has 15 words and a near copy's blocks are all
    * whole, so no short trailing block can repeat another doc's by chance
    * (a 1-word tail matches an earlier one about 1 time in 30). */
  def alignedBlockDoc(): String =
    ("the" +: words(16 * (2 + rnd.nextInt(3)) + 14)).mkString(" ")
  /** A near-duplicate of a block-form doc: one word inserted in front. It
    * shares all but one shingle and every 8-gram but one with the source,
    * and shifts every 16-word block, so no exact paragraph repeats. */
  def nearCopy(text: String): String = Vocab(rnd.nextInt(Vocab.size)) + " " + text
  def shuffle[T](xs: Seq[T]): Seq[T] = rnd.shuffle(xs)
}

/** Unit vectors around ten seeded centres (the sf embeddings' shape). */
final class VecGen(seed: Long, dim: Int = 64) {
  private val rnd = new Random(seed * 31 + 7)
  private def norm(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private val centres = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
  def next(id: Long): Gen.Vec = {
    val label = rnd.nextInt(centres.length)
    Gen.Vec(id, norm(centres(label).map(_ + 0.9 * rnd.nextGaussian())), label)
  }
  /** A copy of `v` moved slightly: a query whose nearest neighbour is `v`. */
  def jitter(id: Long, v: Gen.Vec): Gen.Vec =
    Gen.Vec(id, norm(v.v.map(_ + 0.02 * rnd.nextGaussian())), v.label)
}
