package graft.operators

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StandingTables

/** Standing duplicate-cluster assignment — the transitive-closure half of
  * the near-dup lifecycle kept as a TABLE. DedupIndex answers "which docs
  * does this batch nearly duplicate"; a corpus audit needs the CLUSTER
  * (q70's connected components), and at 100 TB nobody re-clusters the
  * whole corpus per ingest: the standing label table is folded forward
  * with only the batch's new edges.
  *
  * State: a generational label table — (id, cluster_id), cluster_id =
  * min doc id in the component (q70's canonical labeling). Every
  * maintenance run writes its result to a NEW `labels_g<seq>` dir and
  * atomically publishes it as CURRENT ([[Generations]]): a reader
  * resolving mid-maintenance sees the old assignment or the new one,
  * never a torn overwrite, and the lineage doubles as an as-of read of
  * past assignments ([[clustersAt]]) while retention keeps them.
  *
  * Maintenance rule: a component labeled by its min member is exactly
  * reconstructible as a STAR (every member → label). Stars preserve old
  * connectivity, so components(stars ∪ ΔE) on the union node set equals
  * components(E ∪ ΔE) — the full historical edge set is never kept, and
  * each maintenance run costs CC over |labels| + |ΔE| edges, not the
  * corpus pair set. Because the old label IS a member id, min-label CC
  * over the stars re-derives the global min id, so grown labels are
  * IDENTICAL to from-scratch labels over the cumulative edge set (q275
  * hash-checks this against DuckDB's recursive closure at every sf).
  * Star diameter is ≤ 2, so rounds scale with the NEW merge chains only.
  *
  * A cluster merge (a new edge bridging two old components) relabels the
  * losing component's rows on the next read — handled by the CC rewrite,
  * no tombstones needed because labels are a FUNCTION of connectivity,
  * not accumulated facts.
  */
object ClusterState {

  private def labelsPath(stateDir: String): String =
    Generations.current(stateDir).getOrElse(s"$stateDir/labels")

  def exists(stateDir: String): Boolean =
    new File(labelsPath(stateDir)).isDirectory

  /** Retention policy applied after each publish (r12 — was hard-coded at
    * the [[Generations.retire]] defaults): `keepLast` superseded
    * generations stay resolvable for time travel, older ones are deleted
    * once nothing inside them changed within `retentionHours` (the Vacuum
    * age-gate — a reader that resolved CURRENT just before a rapid
    * publish chain keeps its snapshot for the window). The defaults ARE
    * the retire defaults; an audit-heavy deployment raises `keepLast`, a
    * single-writer batch loop can drop the window to 0. */
  final case class Retention(keepLast: Int = 2, retentionHours: Double = 168.0)

  /** Write an assignment as the next generation and switch CURRENT
    * atomically; superseded generations age out under `retention`. */
  private def publishLabels(labels: DataFrame, stateDir: String,
      retention: Retention): Unit = {
    val seq = Generations.history(stateDir).size + 1
    val gen = new File(stateDir, f"labels_g$seq%05d").getPath
    labels.write.mode("errorifexists").parquet(gen)
    Generations.publish(stateDir, gen)
    Generations.retire(stateDir, retention.keepLast, retention.retentionHours)
    ()
  }

  /** Initialize the label table from an edge set (src, dst). */
  def build(edges: DataFrame, stateDir: String,
      retention: Retention = Retention()): Unit = {
    val comp = ConnectedComponents.components(edges)
    publishLabels(comp, stateDir, retention)
    comp.unpersist()
    ()
  }

  /** Fold a batch of NEW edges into the standing labels: CC over the
    * label stars plus the delta — O(|labels| + |ΔE|) keyed shuffles per
    * round, never the historical pair set. New nodes (both endpoints
    * previously unseen) enter as fresh components; bridging edges merge
    * old components and the losing side relabels. */
  def appendEdges(spark: SparkSession, newEdges: DataFrame, stateDir: String,
      retention: Retention = Retention()): Unit = {
    val stars = StandingTables.read(spark, labelsPath(stateDir))
      .select(col("id").as("src"), col("cluster_id").as("dst"))
    val comp = ConnectedComponents.components(
      stars.unionByName(newEdges.toDF("src", "dst")))
    publishLabels(comp, stateDir, retention)
    comp.unpersist()
    ()
  }

  /** TAKEDOWN: remove docs from the standing clusters (and tombstone them
    * in the backing DedupIndex so future probes stop matching them).
    * Labels are a function of CONNECTIVITY, and the historical pair set
    * is not kept — so a delete re-derives the affected subgraph from the
    * index's own tables: the deleted docs' components are identified, the
    * surviving members' pairs are re-verified via
    * [[DedupIndex.pairsAmong]] (band re-bucketing + exact-Jaccard from
    * sigs — no corpus re-scan), and ONLY those components re-cluster. A
    * removal that disconnects a chain (a≈b≈c, delete b, a≉c) correctly
    * SPLITS the cluster; survivors left edgeless drop from the label
    * table entirely (clusters are ≥2 by contract). Cost is
    * O(affected components + their band rows), never the corpus.
    * Untouched clusters' rows are carried over byte-identical.
    *
    * Cap nuance: the re-derived pairs use the probe's flat per-bucket cap
    * over the member set alone, so a component that originally formed
    * through a since-capped degenerate bucket can re-pair slightly more
    * completely than at build time — re-clustering is a function of the
    * CURRENT index content, the same contract as a probe. */
  def removeDocs(spark: SparkSession, docIds: DataFrame, stateDir: String,
      indexDir: String, retention: Retention = Retention()): Unit = {
    val deleted = docIds.select(col("doc_id")).distinct()
      .localCheckpoint(eager = true)
    DedupIndex.remove(deleted, indexDir)
    val labels = StandingTables.read(spark, labelsPath(stateDir))
    // r19: the emptiness probe rides the pin job as an observed count
    // (the old touched.isEmpty was a second job over the checkpoint)
    val obs = org.apache.spark.sql.Observation()
    val touched = labels.join(deleted.select(col("doc_id").as("id")),
        Seq("id"), "left_semi")
      .select("cluster_id").distinct()
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(eager = true)
    if (obs.get.apply("n").asInstanceOf[Long] == 0L) return
    val affected = labels.join(touched, Seq("cluster_id"), "left_semi")
    val survivors = affected
      .join(deleted.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"))
    val comp = ConnectedComponents.components(
      DedupIndex.pairsAmong(spark, indexDir, survivors)
        .select(col("d1").as("src"), col("d2").as("dst")))
    val out = labels.join(touched, Seq("cluster_id"), "left_anti")
      .select("id", "cluster_id")
      .unionByName(comp.select("id", "cluster_id"))
    publishLabels(out, stateDir, retention)
    comp.unpersist()
    ()
  }

  /** The raw current assignment (id, cluster_id) with no size window —
    * the read for consumers that need only the labels, e.g. the
    * leakage-free split keying ([[graft.queries.Dedup.clusterSplitFromState]]). */
  def labels(spark: SparkSession, stateDir: String): DataFrame =
    StandingTables.read(spark, labelsPath(stateDir)).select("id", "cluster_id")

  /** The current assignment with cluster sizes: one window over the
    * label table (never the corpus). */
  def clusters(spark: SparkSession, stateDir: String): DataFrame =
    clustersFrom(spark, labelsPath(stateDir))

  /** AS-OF read: the assignment as of the `seq`-th publish — the "what
    * did the dup graph look like before that takedown" audit question —
    * valid while retention keeps that generation on disk. */
  def clustersAt(spark: SparkSession, stateDir: String, seq: Int): DataFrame =
    clustersFrom(spark, Generations.resolveAt(stateDir, seq))

  private def clustersFrom(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    StandingTables.read(spark, path)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("id"), col("cluster_id"), col("cluster_size"))
  }
}
