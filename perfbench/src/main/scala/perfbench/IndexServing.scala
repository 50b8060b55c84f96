package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AnnIndex, DedupIndex, Generations}

/** `index_serving`: the standing near-dup and ANN indexes served read-mostly.
  * Setup builds a DedupIndex over seeded docs with near copies and an
  * IVF-PQ AnnIndex (with codebooks) over seeded vectors — more of them
  * than the broadcast threshold holds — each as generation 0 of a
  * Generations table. The loop sends a fixed cycle of probes (reads) and
  * appends/removes (writes) with seeded inputs; once per cycle (every six
  * writes) each index is optimized into a new generation and published.
  * After the window, the final probes' answers must equal those of indexes
  * rebuilt from scratch over the live set. */
final class IndexServing(ctx: Ctx) extends Workload {
  import IndexServing._
  private val spark = ctx.spark
  private var dir = ""
  // request inputs draw from their own streams, apart from the corpora's
  private val docGen = new DocGen(ctx.seed * 31L + 1)
  private val vecGen = new VecGen(ctx.seed * 31L + 2)
  private val liveDocs = mutable.LinkedHashMap[Long, String]()
  private val liveVecs = mutable.LinkedHashMap[Long, Gen.Vec]()
  private var quantizer: Seq[Gen.Vec] = Nil
  private var nextDoc = 0L
  private var nextVec = 0L
  private var gen = 0
  private val rnd = new Random(ctx.seed * 7919L + 1)
  private val counts = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def dedupTable = s"$dir/dedup"
  private def annTable = s"$dir/ann"
  private def current(table: String) = Generations.resolve(table)

  def prepare(d: String): Unit = {
    dir = d
    gen = 0
    liveDocs.clear(); liveVecs.clear()
    val (docs, vecs) = corpus(ctx.seed)
    liveDocs ++= docs
    liveVecs ++= vecs.map(v => v.id -> v)
    nextDoc = liveDocs.size.toLong
    nextVec = CorpusVecs.toLong
    quantizer = (0L until 8L).map(liveVecs)
    build(dedupTable, annTable, liveDocs.toSeq, liveVecs.values.toSeq)
  }

  /** Build both indexes as generation 0 of their tables, side by side. */
  private def build(dedup: String, ann: String, docs: Seq[(Long, String)],
      vecs: Seq[Gen.Vec]): Unit = both(
    Generations.withWriterLock(dedup) {
      DedupIndex.build(docFrame(docs), s"$dedup/gen-0")
      Generations.publish(dedup, s"$dedup/gen-0")
    },
    Generations.withWriterLock(ann) {
      AnnIndex.build(vecFrame(vecs), centroids, s"$ann/gen-0", Some(codebooks))
      Generations.publish(ann, s"$ann/gen-0")
    })

  /** Run two independent untimed jobs concurrently (Spark runs both). */
  private def both[A, B](a: => A, b: => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fb = Future(b)
    val ra = a
    (ra, Await.result(fb, Duration.Inf))
  }

  private def docFrame(docs: Seq[(Long, String)]): DataFrame =
    Gen.docTable(spark, docs.map { case (i, t) => Gen.Doc(i, t) }).select("doc_id", "text")
  private def vecFrame(vecs: Seq[Gen.Vec]): DataFrame =
    Gen.vecTable(spark, vecs).select("vec_id", "embedding")
  private def queryFrame(vecs: Seq[Gen.Vec]): DataFrame =
    vecFrame(vecs).select(col("vec_id").as("qid"), col("embedding").as("qe"))
  /** Frozen coarse quantizer: the 8 lowest-id vectors (AnnIndexMain's
    * bootstrap convention); PQ codewords: the 4 lowest-id (q76's). */
  private def centroids: DataFrame = vecFrame(quantizer)
    .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
  private def codebooks: DataFrame = vecFrame(quantizer.take(4))
    .select(col("vec_id").as("code"), col("embedding").as("cv"))

  /** Every request kind but the optimizes once: a cold first append took
    * half as long again as the warm ones after it. The optimizes are left
    * cold (their first run in the process is the timed one), as warming
    * them would cost about 8 s of every run. */
  def warmup(): Unit = Seq("dedup.probe", "ann.probePq", "ann.probe", "dedup.append",
    "ann.append", "dedup.remove", "ann.remove").foreach(k => run(k, new Phase(ctx.trace)))

  def opName(i: Int): String = Cycle(i % Cycle.size)

  override def passLength: Int = Cycle.size

  def op(i: Int, phase: Phase): Map[String, Double] = run(opName(i), phase)

  private def pickLive[T](m: mutable.LinkedHashMap[Long, T], n: Int): Seq[Long] = {
    val keys = m.keysIterator.toIndexedSeq
    Seq.fill(n)(keys(rnd.nextInt(keys.size))).distinct
  }

  private def probeDocs(n: Int): Seq[(Long, String)] = (0 until n).map { j =>
    val text =
      if (rnd.nextDouble() < HitShare) docGen.nearCopy(liveDocs(pickLive(liveDocs, 1).head))
      else docGen.blockDoc()
    (ProbeIdBase + j, text)
  }

  private def probeVecs(n: Int): Seq[(Gen.Vec, Long)] = pickLive(liveVecs, n).zipWithIndex
    .map { case (src, j) => (vecGen.jitter(ProbeIdBase + j, liveVecs(src)), src) }

  private def run(kind: String, phase: Phase): Map[String, Double] = {
    val files = kind match {
      case "dedup.probe" => Main.parquetFiles(new File(current(dedupTable))).toDouble
      case "ann.probePq" | "ann.probe" => Main.parquetFiles(new File(current(annTable))).toDouble
      case _ => 0.0
    }
    if (!kind.contains("probe")) lastProbes.clear()
    val t0 = Clock.nowMs
    val out: Map[String, Double] = kind match {
      case "dedup.probe" =>
        val q = probeDocs(ProbeDocs)
        val probe = (dedup: String, _: String) =>
          DedupIndex.probe(spark, docFrame(q), dedup)
        val got = phase.read("DedupIndex.probe")(probe(current(dedupTable), "").collect())
        lastProbes("DedupIndex.probe") = (probe, rows(got))
        val matched = got.map(_.getAs[Long]("batch_id")).toSet
        counts("probe_items") += q.size
        counts("probe_hits") += q.count(x => matched(x._1))
        Map("items" -> q.size.toDouble)
      case "ann.probePq" | "ann.probe" =>
        val q = probeVecs(ProbeVecs)
        val what = if (kind == "ann.probe") "AnnIndex.probe" else "AnnIndex.probePq"
        val probe = (_: String, ann: String) =>
          if (kind == "ann.probe") AnnIndex.probe(spark, queryFrame(q.map(_._1)), ann)
          else AnnIndex.probePq(spark, queryFrame(q.map(_._1)), ann)
        val got = phase.read(what) {
          ctx.trace.span("queries.build")(probe("", current(annTable))).collect()
        }
        lastProbes(what) = (probe, rows(got))
        val top1 = got.filter(_.getAs[Long]("rank") == 1L)
          .map(r => r.getAs[Long]("qid") -> r.getLong(2)).toMap
        counts("probe_items") += q.size
        counts("probe_hits") += q.count { case (v, src) => top1.get(v.id).contains(src) }
        Map("items" -> q.size.toDouble)
      case "dedup.append" =>
        val docs = Seq.fill(AppendDocs) { nextDoc += 1; (nextDoc - 1, docGen.blockDoc()) }
        phase.write("DedupIndex.append") {
          val g = current(dedupTable)
          Generations.withWriterLock(g)(DedupIndex.append(docFrame(docs), g))
        }
        liveDocs ++= docs
        Map("items" -> docs.size.toDouble)
      case "dedup.remove" =>
        val ids = pickLive(liveDocs, RemoveDocs)
        phase.write("DedupIndex.remove") {
          val g = current(dedupTable)
          Generations.withWriterLock(g)(DedupIndex.remove(idFrame(ids, "doc_id"), g))
        }
        liveDocs --= ids
        Map("items" -> ids.size.toDouble)
      case "ann.append" =>
        val vecs = Seq.fill(AppendVecs) { nextVec += 1; vecGen.next(nextVec - 1) }
        phase.write("AnnIndex.append") {
          val g = current(annTable)
          Generations.withWriterLock(g)(AnnIndex.append(spark, vecFrame(vecs), g))
        }
        liveVecs ++= vecs.map(v => v.id -> v)
        Map("items" -> vecs.size.toDouble)
      case "ann.remove" =>
        val ids = pickLive(liveVecs, RemoveVecs)
        phase.write("AnnIndex.remove") {
          val g = current(annTable)
          Generations.withWriterLock(g)(AnnIndex.remove(idFrame(ids, "vec_id"), g))
        }
        liveVecs --= ids
        Map("items" -> ids.size.toDouble)
      case "dedup.optimize" =>
        phase.write("DedupIndex.optimize")(optimize(dedupTable, DedupIndex.optimize(spark, _, _)))
        Map("items" -> 0.0)
      case "ann.optimize" =>
        phase.write("AnnIndex.optimize")(optimize(annTable, AnnIndex.optimize(spark, _, _)))
        Map("items" -> 0.0)
    }
    out ++ Map(s"index.${kind}_ms" -> (Clock.nowMs - t0), "index.files" -> files)
  }

  /** Rewrite `table`'s current generation into a new one and publish it. */
  private def optimize(table: String, rewrite: (String, String) => Unit): Unit =
    Generations.withWriterLock(table) {
      gen += 1
      val from = current(table)
      val to = s"$table/gen-$gen"
      rewrite(from, to)
      Generations.recordSourceFingerprint(to, from)
      Generations.publishChecked(table, to)
      Generations.retire(table, keepLast = 1, retentionHours = 0.0)
      ()
    }

  private def idFrame(ids: Seq[Long], name: String): DataFrame =
    spark.createDataFrame(ids.map(Row(_)).asJava,
      StructType(Seq(StructField(name, LongType, nullable = false))))

  /** The timed window ends with a DedupIndex probe and an IVF-PQ probe after
    * the cycle's last write; their answers must equal those of indexes
    * rebuilt from scratch over the live set (same frozen quantizer and
    * codebooks). */
  def check(): Seq[String] = {
    val fresh = s"${ctx.work}/scratch-index"
    build(s"$fresh/dedup", s"$fresh/ann", liveDocs.toSeq, liveVecs.values.toSeq)
    val asked = lastProbes.toSeq.sortBy(_._1)
    if (asked.map(_._1) != Seq("AnnIndex.probePq", "DedupIndex.probe"))
      return Seq(s"no DedupIndex and IVF-PQ probe after the last write (saw ${asked.map(_._1)})")
    def ask(i: Int) = asked(i) match { case (what, (probe, got)) =>
      (what, got, rows(probe(Generations.resolve(s"$fresh/dedup"), Generations.resolve(s"$fresh/ann"))))
    }
    val (first, second) = both(ask(0), ask(1))
    Seq(first, second).collect { case (what, got, want) if got != want =>
      s"$what on the served index differs from a rebuild over the live set: " +
        s"${got.size} vs ${want.size} rows, first served ${got.headOption.getOrElse("-")}, " +
        s"first rebuilt ${want.headOption.getOrElse("-")}"
    }
  }

  private def rows(df: DataFrame): Seq[String] = rows(df.collect())
  private def rows(rs: Array[Row]): Seq[String] = rs.map(_.toString).toSeq.sorted

  /** The last answer of each probe kind since the last write, and how to
    * ask the same of another (dedup, ann) generation pair. */
  private val lastProbes = mutable.Map[String, ((String, String) => DataFrame, Seq[String])]()

  def docs(ops: Seq[OpRec], recordsRead: Long): (Double, Double) = {
    val ok = ops.filter(_.ok)
    (ok.map(_.attrs.getOrElse("items", 0.0)).sum, ok.map(o => o.end - o.start).sum)
  }

  def stateDirs: Seq[String] = Seq(dedupTable, annTable)

  def traffic: Map[String, Double] = {
    Map("read_share" -> Cycle.count(_.contains("probe")).toDouble / Cycle.size,
      "probe_hit_share" -> counts("probe_hits") / math.max(1.0, counts("probe_items")),
      "corpus_docs" -> CorpusDocs.toDouble, "corpus_vectors" -> CorpusVecs.toDouble,
      "vector_mb" -> CorpusVecs * 64 * 4 / 1048576.0)
  }

  def fingerprint: String = IndexServing.fingerprint(ctx.seed)
}

object IndexServing {
  val CorpusDocs = 5000
  val CorpusVecs = 48000
  val ProbeDocs = 4
  val ProbeVecs = 4
  val AppendDocs = 20
  val RemoveDocs = 5
  val AppendVecs = 200
  val RemoveVecs = 20
  val HitShare = 0.5
  val ProbeIdBase = 10000000L

  /** The seeded corpora: docs (a tenth of them near copies of others)
    * and vectors, ids from 0. */
  def corpus(seed: Long): (Seq[(Long, String)], Seq[Gen.Vec]) = {
    val g = new DocGen(seed)
    val base = (0 until CorpusDocs).map(i => if (i % 3 == 0) g.paraDoc() else g.blockDoc())
    val copies = base.indices.filter(_ % 10 == 1).map(i => g.nearCopy(base(i)))
    val v = new VecGen(seed)
    ((base ++ copies).zipWithIndex.map { case (t, i) => (i.toLong, t) },
      (0 until CorpusVecs).map(i => v.next(i.toLong)))
  }

  /** The request mix: a fixed cycle of an optimize + publish of each
    * index, then 6 reads and 6 writes, ending with two probes after the
    * last write (what the output check re-asks). Every run sends whole
    * cycles, so the same shares in the same order; the seed picks the
    * documents, vectors and ids. Each median falls inside a group of like
    * samples, not at the border of two kinds of unlike cost, where it would
    * flip between them from run to run: `AnnIndex.append` (the argmax
    * assignment and PQ encode) is sent three times, and the write median
    * is the mean of its two lowest samples (the removes and
    * `DedupIndex.append` below, the two optimizes above); the read median
    * falls among five DedupIndex and exact-score AnnIndex probes of like
    * cost (one costlier IVF-PQ probe above). */
  val Cycle: IndexedSeq[String] = IndexedSeq("dedup.optimize", "ann.optimize",
    "dedup.probe", "ann.probe", "ann.append", "ann.remove", "dedup.probe",
    "ann.append", "ann.probe", "dedup.append", "dedup.remove", "ann.append",
    "dedup.probe", "ann.probePq")

  def fingerprint(seed: Long): String = {
    val (docs, vecs) = corpus(seed)
    f"${docs.hashCode()}%08x/${vecs.map(v => (v.id, v.v.toSeq, v.label)).hashCode()}%08x"
  }
}
