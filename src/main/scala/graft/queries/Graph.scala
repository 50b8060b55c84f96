package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over the near-dup pair set (split out of [[Dedup]] in
  * r15 — same queries, same oracles, byte-identical SQL; Dedup.scala had
  * grown past 2,500 lines across four families). Every query here builds
  * its edge list from `Dedup.lshPairs(Dedup.minhashBase(documents))` —
  * the capped, exact-verified near-dup pairs — and the oracles walk the
  * SAME pair chain ([[Dedup.LshPairCtesSql]]) relationally, so engine and
  * oracle agree on the graph before any graph algorithm runs.
  *
  * Scale design (100 TB): every algorithm is keyed-shuffle-only — CC is
  * min-label propagation + pointer jumping (O(log diameter) rounds,
  * [[graft.operators.ConnectedComponents]]), PageRank unrolls two exact
  * integer iterations (one join + one agg each), triangles use the
  * ordered-edge two-join enumeration (fan-out bounded by forward degree),
  * and the pair set is persisted before any symmetrizing union
  * (ReuseExchange does not fire across swapped projections — measured
  * 6.3 s → 4.5 s on q161 at sf0.1). */
object Graph {
  import Dedup.{clusterRows, lshEdges, lshPairs, minhashBase, LshBucketCap}

  type Q = (SparkSession, String) => DataFrame

  /** The corpus's capped near-dup pairs (d1, d2), persisted and
    * materialized once — every caller reads them more than once (both
    * orientations, or three triangle scans), and ReuseExchange does not
    * fire across the swapped projections. The caller unpersists. */
  private def pinnedPairs(s: SparkSession, dir: String): DataFrame = {
    val pairs = lshPairs(minhashBase(Tables(s, dir, "documents")), LshBucketCap)
      .select(col("d1"), col("d2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    pairs
  }

  /** Both orientations of every pair, once each. */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.union(pairs.select(col("d2").as("d1"), col("d1").as("d2"))).distinct()

  /** One (doc_id) row per member of each triangle, by the ordered-edge
    * two-join: d1 < d2 everywhere, so each triangle is found once. */
  private def triangleMembers(pairs: DataFrame): DataFrame = {
    val x = pairs.select(col("d1").as("a"), col("d2").as("b"))
    val y = pairs.select(col("d1").as("b"), col("d2").as("c"))
    val z = pairs.select(col("d1").as("a"), col("d2").as("c"))
    x.join(y, Seq("b")).join(z, Seq("a", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "q70_dup_clusters" -> ((s: SparkSession, dir: String) => {
      val comp = graft.operators.ConnectedComponents.components(
        lshEdges(minhashBase(Tables(s, dir, "documents"))))
      // cluster sizes via ONE window over the cluster-keyed shuffle (the
      // agg + join-back form consumed comp twice and paid a second join).
      // components() persists its result and the CALLER releases it —
      // eagerly checkpoint the (tiny: one row per clustered doc) output,
      // then unpersist, so repeated q70 runs don't accumulate caches
      val out = clusterRows(comp.withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_id"))))
      comp.unpersist()
      out
    }),

    // ---- cluster survivorship: canonical doc by quality ------------------
    // q70 names the clusters; this picks WHICH doc each cluster keeps — the
    // survivorship rule a real dedup pipeline applies. Canonical = the
    // longest doc (token count), ties to the smaller id: a max_by over the
    // (n_tok, −doc_id) struct order per cluster — one row per cluster
    // crosses the shuffle (the map-side argmax discipline), no window.
    // min-id keep rules (CorpusMain's default) throw away the best copy of
    // a boilerplate family; this is the quality-aware upgrade.
    "q128_canonical" -> ((s: SparkSession, dir: String) => {
      val docs = Tables(s, dir, "documents")
      val comp = graft.operators.ConnectedComponents.components(lshEdges(minhashBase(docs)))
      val qual = docs.select(col("doc_id").as("id"),
        size(TrainPrep.rawToks(col("text"))).cast("long").as("n_tok"))
      val scored = comp.join(qual, Seq("id"))
      // canonical + size in ONE cluster-keyed window pass: the groupBy +
      // join-back form executed the tokenize subtree twice (once per
      // consumer) and paid a second join — first_value/count over the same
      // exchange do both in one shot (clusters are LshBucketCap-bounded,
      // so the per-partition sort is tiny)
      val byCluster = Window.partitionBy("cluster_id")
      val ord = Window.partitionBy("cluster_id").orderBy(desc("n_tok"), asc("id"))
      val out = scored
        .withColumn("canonical_doc", first("id").over(ord))
        .withColumn("cluster_size", count(lit(1)).over(byCluster))
        .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"),
          col("canonical_doc"),
          (col("id") === col("canonical_doc")).cast("long").as("is_canonical"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      comp.unpersist()
      out
    }),

    // ---- PageRank over the near-dup graph --------------------------------
    // Graph centrality on the same LSH pair set q70 clusters: a doc with
    // many high-degree near-dup neighbors is the template of a boilerplate
    // family — ranking inside a cluster picks the canonical doc better
    // than min-id. Integer-arithmetic PageRank (damping 0.85, 2 unrolled
    // iterations): contributions are `r div deg` (exact integer division,
    // positive), per-node totals exact BIGINT sums, the damped update is
    // `150000 + (85·Σ) div 100` — no float ever crosses rows, so both
    // engines agree bit-for-bit with no rounding. Per iteration: one join
    // shuffle + one aggregation, all key-partitioned; the symmetrized edge
    // set is persisted and materialized once.
    "q101_pagerank" -> ((s: SparkSession, dir: String) => {
      val pairs = pinnedPairs(s, dir)
      val sym = symmetric(pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sym.count() // then every iteration scan is cached
      val deg = sym.groupBy("d1").agg(count(lit(1)).as("deg"))
        .select(col("d1").as("id"), col("deg"))
      var r = deg.select(col("id"), lit(1000000L).as("r"))
      for (_ <- 1 to 2) {
        val contrib = sym.join(
            r.join(deg, Seq("id")).withColumn("c", expr("r div deg"))
              .select(col("id").as("src"), col("c")),
            col("d1") === col("src"))
          .select(col("d2").as("id"), col("c"))
        r = contrib.groupBy("id").agg(sum("c").as("sc"))
          .select(col("id"), (lit(150000L) + expr("(85 * sc) div 100")).as("r"))
      }
      val out = r.join(deg, Seq("id"))
        .select(col("id").as("doc_id"), col("deg"), col("r").as("pr_e6"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      sym.unpersist()
      pairs.unpersist()
      out
    }),

    // ---- triangle counting on the near-dup graph -------------------------
    // The clique signal: a triangle means three docs pairwise-similar — the
    // strongest boilerplate-family evidence (a path a~b~c can be drift; a
    // triangle cannot). Classic two-join enumeration over the ordered edge
    // list (d1 < d2 everywhere, so each triangle counts once): at scale
    // both joins hash-partition on a node key, and the ordered-edge
    // convention bounds the join fan-out by the forward-degree. Output =
    // per-doc triangle membership, all-integer.
    "q102_triangles" -> ((s: SparkSession, dir: String) => {
      val pairs = pinnedPairs(s, dir)
      val out = triangleMembers(pairs)
        .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      pairs.unpersist()
      out
    }),

    // ---- degree distribution of the near-dup graph ------------------------
    // The graph-shape summary a corpus-dedup audit reads first: how many
    // docs have 1, 2, ... near-duplicate neighbors. Two aggregations over
    // the capped LSH pair set (per-node degree, then the histogram) — the
    // pair pipeline runs once since the chain has a single consumer.
    "q161_degree_dist" -> ((s: SparkSession, dir: String) => {
      val pairs = pinnedPairs(s, dir)
      val out = symmetric(pairs)
        .groupBy("d1").agg(count(lit(1)).as("deg"))
        .groupBy("deg")
        .agg(count(lit(1)).as("n_docs"), min("d1").as("min_doc"), max("d1").as("max_doc"))
        .orderBy("deg")
        .localCheckpoint(eager = true)
      pairs.unpersist()
      out
    }),

    // ---- local clustering coefficient -------------------------------------
    // q101's degree + q102's triangles composed into the per-node clique
    // density: cc = 2*tri / (deg*(deg-1)) in basis points, for docs with
    // degree >= 2. High cc inside a near-dup family means a true boilerplate
    // CLUSTER (mutually similar); low cc flags drift chains that greedy
    // pair-dropping would over-merge. One persisted pair pipeline feeds the
    // degree aggregate and the two-join triangle enumeration.
    "q167_clustering_coeff" -> ((s: SparkSession, dir: String) => {
      val pairs = pinnedPairs(s, dir)
      val deg = symmetric(pairs).groupBy("d1").agg(count(lit(1)).as("deg"))
        .select(col("d1").as("doc_id"), col("deg"))
      val tri = triangleMembers(pairs)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      val out = deg.join(tri, Seq("doc_id"), "left")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .filter(col("deg") >= 2)
        .select(col("doc_id"), col("deg"), col("n_tri"),
          expr("CAST((n_tri * 2 * 10000) DIV (deg * (deg - 1)) AS BIGINT)").as("cc_bp"))
        .orderBy("doc_id")
        .localCheckpoint(eager = true)
      pairs.unpersist()
      out
    }),

    // ---- degree assortativity of the near-dup graph ------------------------
    // Do boilerplate hubs link to other hubs (r > 0) or to leaves (r < 0)?
    // Pearson correlation of endpoint degrees over the symmetrized edge
    // list (each undirected edge contributes both orientations — the
    // standard convention, which also makes the sums symmetric). All six
    // power sums are exact BIGINTs off one degree join; the r lands in one
    // shared-verbatim double, floor-e4.
    "q175_assortativity" -> ((s: SparkSession, dir: String) => {
      val pairs = pinnedPairs(s, dir)
      val sym = symmetric(pairs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deg = sym.groupBy("d1").agg(count(lit(1)).as("deg"))
      val out = sym
        .join(deg.select(col("d1").as("a"), col("deg").as("x")), col("d1") === col("a"))
        .join(deg.select(col("d1").as("b"), col("deg").as("y")), col("d2") === col("b"))
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n"), expr(Dedup.AssortE4Sql).as("assort_e4"))
        .localCheckpoint(eager = true)
      sym.unpersist()
      pairs.unpersist()
      out
    }),

    // ---- recursive-CTE reachability (Spark 4 WITH RECURSIVE) -------------
    // Depth-bounded transitive reachability over the near-dup DAG (d1 < d2
    // everywhere, so recursion can't cycle), through Spark's native
    // recursive CTE (UnionLoopExec) — the raw-SQL surface for iterative
    // graph queries that q70's ConnectedComponents covers on the DataFrame
    // side. The pair set is checkpointed BEFORE the view: each loop
    // iteration re-scans the anchor table, and without the barrier every
    // round would re-execute the whole LSH pipeline. UNION ALL enumerates
    // paths (the recursion-safe form); COUNT(DISTINCT) collapses diamond
    // multiplicities, depth ≤ 5 bounds the loop independent of graph shape.
    "q116_reachability" -> ((s: SparkSession, dir: String) => {
      lshPairs(minhashBase(Tables(s, dir, "documents")), LshBucketCap)
        .select(col("d1"), col("d2"))
        .localCheckpoint(eager = true)
        .createOrReplaceTempView("q116_edges")
      s.sql("""
        |WITH RECURSIVE reach AS (
        |  SELECT d1 AS src, d2 AS dst, CAST(1 AS BIGINT) AS depth
        |  FROM q116_edges
        |  UNION ALL
        |  SELECT r.src, e.d2 AS dst, r.depth + CAST(1 AS BIGINT) AS depth
        |  FROM reach r JOIN q116_edges e ON r.dst = e.d1
        |  WHERE r.depth < 5)
        |SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS n_reach,
        |       CAST(max(depth) AS BIGINT) AS max_depth
        |FROM reach GROUP BY src ORDER BY src""".stripMargin)
    })
  )

  val oracles: Map[String, String] = {
    val lshPairCtes = Dedup.LshPairCtesSql
    Map(
      // recursive CTE = exact transitive closure of the SAME pair set the
      // engine clusters; min reachable id per node ≡ the propagated label
      "q70_dup_clusters" ->
        s"""WITH RECURSIVE $lshPairCtes,
           |edges AS (SELECT d1 AS src, d2 AS dst FROM pr
           |          UNION SELECT d2, d1 FROM pr),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
           |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
           |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
           |SELECT comp.id AS doc_id, comp.cluster_id, sz.cluster_size
           |FROM comp JOIN sz USING (cluster_id)
           |ORDER BY doc_id""".stripMargin,

      // integer-arithmetic PageRank on the same pair set: 2 unrolled
      // iterations, exact `//` divisions and BIGINT sums — no rounding
      "q101_pagerank" ->
        s"""WITH $lshPairCtes,
           |edges AS (SELECT d1, d2 FROM pr UNION SELECT d2, d1 FROM pr),
           |deg AS (SELECT d1 AS id, CAST(count(*) AS BIGINT) AS deg
           |        FROM edges GROUP BY d1),
           |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
           |c1 AS (SELECT e.d2 AS id, (r0.r // deg.deg) AS c
           |       FROM edges e JOIN r0 ON e.d1 = r0.id JOIN deg ON e.d1 = deg.id),
           |r1 AS (SELECT id,
           |        CAST(150000 + (85 * CAST(sum(c) AS BIGINT)) // 100 AS BIGINT) AS r
           |       FROM c1 GROUP BY id),
           |c2 AS (SELECT e.d2 AS id, (r1.r // deg.deg) AS c
           |       FROM edges e JOIN r1 ON e.d1 = r1.id JOIN deg ON e.d1 = deg.id),
           |r2 AS (SELECT id,
           |        CAST(150000 + (85 * CAST(sum(c) AS BIGINT)) // 100 AS BIGINT) AS r
           |       FROM c2 GROUP BY id)
           |SELECT r2.id AS doc_id, deg.deg, r2.r AS pr_e6
           |FROM r2 JOIN deg USING (id) ORDER BY doc_id""".stripMargin,

      "q161_degree_dist" ->
        s"""WITH $lshPairCtes,
           |edges AS (SELECT d1, d2 FROM pr UNION SELECT d2, d1 FROM pr),
           |deg AS (SELECT d1, CAST(count(*) AS BIGINT) AS deg
           |        FROM edges GROUP BY d1)
           |SELECT deg, CAST(count(*) AS BIGINT) AS n_docs,
           | CAST(min(d1) AS BIGINT) AS min_doc, CAST(max(d1) AS BIGINT) AS max_doc
           |FROM deg GROUP BY deg ORDER BY deg""".stripMargin,

      "q175_assortativity" ->
        s"""WITH $lshPairCtes,
           |edges AS (SELECT d1, d2 FROM pr UNION SELECT d2, d1 FROM pr),
           |deg AS (SELECT d1 AS id, CAST(count(*) AS BIGINT) AS deg
           |        FROM edges GROUP BY 1),
           |ex AS (SELECT dx.deg AS x, dy.deg AS y
           |       FROM edges e JOIN deg dx ON e.d1 = dx.id
           |                    JOIN deg dy ON e.d2 = dy.id),
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |        CAST(sum(x * y) AS BIGINT) AS sxy,
           |        CAST(sum(x * x) AS BIGINT) AS sxx,
           |        CAST(sum(y * y) AS BIGINT) AS syy
           |      FROM ex)
           |SELECT n, ${Dedup.AssortE4Sql} AS assort_e4 FROM a""".stripMargin,

      "q128_canonical" ->
        s"""WITH RECURSIVE $lshPairCtes,
           |edges AS (SELECT d1 AS src, d2 AS dst FROM pr
           |          UNION SELECT d2, d1 FROM pr),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
           |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
           |q AS (SELECT doc_id,
           |        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
           |             ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
           |             END AS BIGINT) AS n_tok
           |      FROM documents),
           |sc AS (SELECT comp.id, comp.cluster_id, q.n_tok
           |       FROM comp JOIN q ON comp.id = q.doc_id),
           |canon AS (SELECT cluster_id, id AS canonical_doc FROM sc
           |          QUALIFY row_number() OVER (PARTITION BY cluster_id
           |                    ORDER BY n_tok DESC, id) = 1),
           |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           |       FROM sc GROUP BY cluster_id)
           |SELECT sc.id AS doc_id, sc.cluster_id, sz.cluster_size,
           | canon.canonical_doc,
           | CAST(CASE WHEN sc.id = canon.canonical_doc THEN 1 ELSE 0 END AS BIGINT)
           |   AS is_canonical
           |FROM sc JOIN sz USING (cluster_id) JOIN canon USING (cluster_id)
           |ORDER BY doc_id""".stripMargin,

      "q116_reachability" ->
        s"""WITH RECURSIVE $lshPairCtes,
           |e AS (SELECT d1, d2 FROM pr),
           |reach(src, dst, depth) AS (
           |  SELECT d1, d2, CAST(1 AS BIGINT) FROM e
           |  UNION ALL
           |  SELECT r.src, e.d2, r.depth + 1 FROM reach r JOIN e ON r.dst = e.d1
           |  WHERE r.depth < 5)
           |SELECT src, CAST(count(DISTINCT dst) AS BIGINT) AS n_reach,
           | CAST(max(depth) AS BIGINT) AS max_depth
           |FROM reach GROUP BY src ORDER BY src""".stripMargin,

      "q102_triangles" ->
        s"""WITH $lshPairCtes,
           |t AS (SELECT x.d1 AS a, x.d2 AS b, y.d2 AS c
           |      FROM pr x
           |      JOIN pr y ON x.d2 = y.d1
           |      JOIN pr z ON z.d1 = x.d1 AND z.d2 = y.d2),
           |m AS (SELECT unnest([a, b, c]) AS doc_id FROM t)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "q167_clustering_coeff" ->
        s"""WITH $lshPairCtes,
           |edges AS (SELECT d1, d2 FROM pr UNION SELECT d2, d1 FROM pr),
           |deg AS (SELECT d1 AS doc_id, CAST(count(*) AS BIGINT) AS deg
           |        FROM edges GROUP BY 1),
           |t AS (SELECT x.d1 AS a, x.d2 AS b, y.d2 AS c
           |      FROM pr x
           |      JOIN pr y ON x.d2 = y.d1
           |      JOIN pr z ON z.d1 = x.d1 AND z.d2 = y.d2),
           |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
           |       FROM (SELECT unnest([a, b, c]) AS doc_id FROM t) GROUP BY doc_id)
           |SELECT deg.doc_id, deg.deg,
           |  CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
           |  CAST((coalesce(tc.n_tri, 0) * 2 * 10000) // (deg.deg * (deg.deg - 1))
           |    AS BIGINT) AS cc_bp
           |FROM deg LEFT JOIN tc USING (doc_id)
           |WHERE deg.deg >= 2
           |ORDER BY doc_id""".stripMargin
    )
  }
}
