package graft


import org.apache.spark.sql.functions._
import graft.operators.Salting

/** Scale-path operators: salted join/aggregate equivalence, and bucketed
  * tables joining without a shuffle (the co-located-join story). */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a deliberately skewed sort-merge join at runtime") {
    // manual Salting is the fallback; this proves the first line of defense
    // — spark.sql.adaptive.skewJoin — actually fires: one hot key holds 75%
    // of the fact side, thresholds lowered to test scale, broadcast
    // disabled so the join stays sort-merge. AQE must mark the join
    // skew-handled and still return the exact row count. Manual salting
    // remains needed when the join can't be SMJ/SHJ (e.g. the broadcast-
    // ineligible theta forms) or when skew is in an aggregation, which
    // skewJoin does not cover (saltedSum below).
    val keep = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      val pad = "x" * 128
      val fact = spark.range(200000).select(
        when($"id" < 150000, lit(7L)).otherwise($"id" % 997 + 10).as("k"),
        concat(lit(pad), $"id").as("payload"))
      val dim = spark.range(2000).select($"id".as("k"),
        concat(lit(pad), $"id").as("d"))
      val j = fact.join(dim, Seq("k"))
      // execute THIS DataFrame (a derived agg would finalize its own
      // adaptive plan, not j's) — the wide payload crosses the shuffle
      val rows = j.collect()
      // exact result despite the split: every fact row matches one dim row
      assert(rows.length == 200000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not mark the join skew-handled:\n$plan")
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // the third scale lever after broadcast and skew-split: when a big fact
    // sort-merge-joins a selectively-filtered dim, InjectRuntimeFilter
    // builds a bloom filter from the dim keys and applies might_contain on
    // the fact scan side — at 100 TB that's the difference between
    // shuffling the whole fact table and shuffling the ~matching rows.
    // Thresholds lowered to test scale; result must equal the unfiltered
    // plan's exactly (bloom is pruning-only, never semantic).
    val keep = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val dir = sf("sf0.01")
      def query() = {
        val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
        val supp = Tables(spark, dir, "supplier")
          // a plainly "likely selective" predicate (attribute vs literal) —
          // InjectRuntimeFilter only fires for recognizably selective dims
          .filter(col("s_suppkey") <= 20)
          .select("s_suppkey", "s_name")
        li.join(supp, col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name").agg(sum("l_quantity").as("q"))
      }
      val j = query()
      val withBloom = j.collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") &&
        optimized.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$optimized")

      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = query().collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(withBloom == without && withBloom.nonEmpty)
    } finally keep.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("saltedJoin returns exactly the plain join result") {
    val dir = sf("sf0.001")
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, Seq("l_orderkey")).agg(
      count(lit(1)), round(sum(col("l_quantity") * col("o_totalprice")), 2)
    ).as[(Long, Double)].first()
    val salted = Salting.saltedJoin(li, o, "l_orderkey", salts = 8).agg(
      count(lit(1)), round(sum(col("l_quantity") * col("o_totalprice")), 2)
    ).as[(Long, Double)].first()
    assert(salted == plain)
  }

  test("saltedSum equals plain groupBy sum") {
    val dir = sf("sf0.001")
    val li = Tables(spark, dir, "lineitem")
    val plain = li.groupBy("l_suppkey").agg(
      round(sum("l_quantity"), 2).as("s"), count(lit(1)).as("n"))
      .select("l_suppkey", "s", "n")
      .as[(Long, Double, Long)].collect().toSet
    val salted = Salting.saltedSum(li, "l_suppkey", "l_quantity", salts = 8)
      .select(col("l_suppkey"), round(col("sum_l_quantity"), 2), col("n"))
      .as[(Long, Double, Long)].collect().toSet
    assert(salted == plain)
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    val dir = sf("sf0.001")
    Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    Tables(spark, dir, "orders").select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_b")
    val j = spark.table("li_b")
      .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
    // force a sort-merge path so the bucketing (not a broadcast) is used
    val joined = j.hint("merge")
    val plan = joined.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == Tables(spark, dir, "lineitem").count())
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
  }

  test("AQE converts a small-side join to broadcast without a hint") {
    val dir = sf("sf0.01")
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    val supp = Tables(spark, dir, "supplier").select("s_suppkey", "s_name")
    // no broadcast() hint: the supplier side is far under the 10MB
    // threshold, so AQE (or the static planner via stats) must pick a
    // BroadcastHashJoin on its own — the "let Catalyst optimize" contract
    val j = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(sum("l_quantity").as("q"))
    j.collect() // execute so AQE finalizes the adaptive plan
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no auto-broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"small dim sort-merged:\n$plan")
  }

  test("centroid assignment is map-side argmin, not a window sort") {
    // the window form shuffles |centroids|× the vector rows plus a sort;
    // the per-row kernels scan the collected centroids inside the map
    // stage, so the assignment needs no exchange and no aggregate (not
    // even the grouped min_by/max_by over a cross join they replaced) —
    // assert the plan shape the scale design depends on
    val plan = SparkEntry.queries("q78_kmeans")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("nearest_l2"), s"assignment not the per-row kernel:\n$plan")
    assert(!plan.contains("min_by"), s"grouped argmin crept back in:\n$plan")
    assert(!plan.contains("Window"), s"window sort crept back in:\n$plan")
    val plan40 = SparkEntry.queries("q40_ivf_assign")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan40.contains("nearest_cosine") && !plan40.contains("max_by") &&
      !plan40.contains("Window"), plan40)
  }

  test("q94 joins the exploded corpus against a BROADCAST vocab, map-side combined") {
    // the scale contract: the 30-row vocab never shuffles the corpus side
    val plan = SparkEntry.queries("q94_vocab_coverage")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$plan")
    assert(plan.contains("partial_count"), s"hit count not map-side combined:\n$plan")
  }

  test("q93 moments are one partial-aggregating shuffle, no window") {
    val plan = SparkEntry.queries("q93_moments")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum"), s"power sums not map-side combined:\n$plan")
    assert(!plan.contains("Window"), s"window crept into the moments plan:\n$plan")
    // exactly one aggregation exchange feeds the final agg (plus the
    // determinism-gate rangepartitioning for orderBy)
    val hashExchanges = "hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges >= 1, s"no aggregation exchange:\n$plan")
  }

  test("q99 ADC search: codebook and LUT broadcast, top-k without a window sort") {
    val plan = SparkEntry.queries("q99_pq_search")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    // codebook expansion is a deliberate 4-row broadcast cartesian
    // (BroadcastNestedLoop); the corpus-side LUT probe must be a broadcast
    // HASH join and nothing may sort-merge
    assert(plan.contains("BroadcastHashJoin"), s"LUT probe not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus side shuffled for a join:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"TopKByScore not in the aggregate path:\n$plan")
    assert(!plan.contains("Window"), s"window sort crept into ADC ranking:\n$plan")
  }

  test("q247 PQ re-rank: candidates broadcast, corpus never shuffled; recall >= ADC-only") {
    val dir = sf("sf0.001")
    val plan = SparkEntry.queries("q247_pq_rerank")(spark, dir)
      .queryExecution.executedPlan.toString
    // the refine stage must probe the raw-vector table with BROADCAST
    // joins (shortlist + query vectors are tiny); the corpus side neither
    // shuffles for a join nor feeds a window sort
    assert(plan.contains("BroadcastHashJoin"), s"candidate join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus side shuffled for a join:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"TopKByScore not in the re-rank path:\n$plan")
    // recall@5 against the exact brute force can only improve on the
    // ADC-only ranking: any exact top-5 member whose ADC rank is within
    // the 32-candidate shortlist is recovered by the exact re-score
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val l2 = expr("aggregate(zip_with(qe, ce, (x, y) -> " +
      "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), " +
      "0.0D, (acc, v) -> acc + v)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d"), col("cid"))
    val exact = c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("d", l2)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("cid").as("vec_id"))
    val rr = SparkEntry.queries("q247_pq_rerank")(spark, dir)
    assert(rr.count() == 50L) // 10 queries x top-5
    val rrHits = rr.join(exact, Seq("qid", "vec_id")).count()
    val adcHits = SparkEntry.queries("q100_pq_recall")(spark, dir)
      .agg(sum("n_hits")).head.getLong(0)
    assert(rrHits >= adcHits, s"re-rank recall $rrHits < ADC-only $adcHits")
  }

  test("q109 BM25: query terms and totals broadcast, doc sums map-side combined") {
    // the scale contract: the 3-term query set and the 1-row totals never
    // shuffle the tf side; per-doc score sums combine before the exchange
    val plan = SparkEntry.queries("q109_bm25")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"query-term join not broadcast:\n$plan")
    assert(plan.contains("partial_sum"), s"doc sums not map-side combined:\n$plan")
    assert(!plan.contains("Window"), s"window crept into the BM25 plan:\n$plan")
  }

  test("q111 KMV sketch: bottom-k heap in ObjectHashAggregate, no window sort") {
    val plan = SparkEntry.queries("q111_kmv_distinct")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"TopKByScore heap not in the aggregate path:\n$plan")
    assert(!plan.contains("Window"), s"window sort crept into the sketch:\n$plan")
  }

  test("q113 silhouette: centroids broadcast, per-vector minima map-side combined") {
    val plan = SparkEntry.queries("q113_silhouette")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centroid join not broadcast:\n$plan")
    assert(plan.contains("partial_min"), s"conditional minima not map-side combined:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"vectors shuffled for the centroid join:\n$plan")
  }

  test("q116 runs through Spark's native recursive CTE (UnionLoop)") {
    // the pin: recursion executes as UnionLoopExec, not a rewritten union
    val plan = SparkEntry.queries("q116_reachability")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("UnionLoop"), s"recursive CTE not native:\n$plan")
  }

  test("q122 attribution runs through the custom as-of physical operator") {
    val plan = SparkEntry.queries("q122_attribution")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"native as-of exec missing:\n$plan")
  }

  test("q153 baskets: pairs expand in-array after one groupBy, item counts broadcast") {
    // the scale contract: the item stream is never self-joined; pair
    // generation happens inside each basket array and the tiny per-item /
    // total-basket aggregates broadcast back
    val plan = SparkEntry.queries("q153_baskets")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"item counts not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"the item stream self-joined:\n$plan")
    assert(plan.contains("Generate"), s"no in-array pair explode in the plan:\n$plan")
  }

  test("q156 JSD: the sources x vocab grid is broadcast-built, corpus shuffled once") {
    val plan = SparkEntry.queries("q156_jsd")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"grid not broadcast-built:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"a tiny side shuffled the corpus:\n$plan")
  }

  test("q160 fingerprints aggregate map-side with no join anywhere") {
    val plan = SparkEntry.queries("q160_fingerprint")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"a checksum needs no join:\n$plan")
    assert(plan.contains("partial_"), s"checksums not map-side combined:\n$plan")
  }

  test("q174 label agreement: probe set broadcast, corpus never sort-merged") {
    val plan = SparkEntry.queries("q174_label_agreement")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for the kNN join:\n$plan")
  }

  test("q190 native HLL: one ObjectHashAggregate, no register-row shuffle, ≡ q126") {
    val dir = sf("sf0.001")
    val df = SparkEntry.queries("q190_hll_native")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("hll_regs"),
      s"native aggregate not planned:\n$plan")
    assert(plan.contains("partial_hll_regs"),
      "partial aggregation (map-side sketch merge) missing")
    // the SQL form's register-level aggregation keys on (lang, j); the
    // native plan must carry no 'j' grouping anywhere
    assert(!plan.contains("j#"), "register-row aggregation leaked into the plan")
    // identical output to the SQL-form sketch (same registers by design)
    val native = df.collect().map(_.toSeq).toSeq
    val sqlForm = SparkEntry.queries("q126_hll")(spark, dir).collect().map(_.toSeq).toSeq
    assert(native == sqlForm)
  }

  test("IVF assignment partitioned by centroid prunes probe reads") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.CosineSimilarity.cosine_sim
    // the Similarity scale story: write the assignment table partitioned by
    // centroid_id, so probing top-N centroids reads only their partitions
    val e = Tables(spark, sf("sf0.001"), "embeddings")
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centv"))
    val w = Window.partitionBy("vec_id").orderBy(desc("ascore"), asc("centroid_id"))
    val assign = e.join(broadcast(cent))
      .withColumn("ascore", cosine_sim(col("centv"), col("embedding")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"), col("embedding"))
    val out = java.nio.file.Files.createTempDirectory("graft_ivf_part").toString
    assign.write.mode("overwrite").partitionBy("centroid_id").parquet(out)

    val probe = spark.read.parquet(out).filter(col("centroid_id").isin(3, 5))
    val scan = probe.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.toString.contains("PartitionFilters: ["), "no partition filter")
    val probed = probe.count()
    val total = spark.read.parquet(out).count()
    assert(probed > 0 && probed < total)
    // the scan touched only the two probed partitions' files
    val filesRead = scan.metrics("numFiles").value
    val allFiles = new java.io.File(out).listFiles()
      .count(_.getName.startsWith("centroid_id="))
    assert(allFiles == 8, s"expected 8 centroid partitions, got $allFiles")
    assert(filesRead < allFiles, s"read $filesRead files of $allFiles partitions")
  }

  test("q219 native histogram: one ObjectHashAggregate, estimates bracket the exact quantiles") {
    val dir = sf("sf0.001")
    val df = SparkEntry.queries("q219_hist_quantiles")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("hist_regs"),
      s"native aggregate not planned:\n$plan")
    assert(plan.contains("partial_hist_regs"),
      "partial aggregation (map-side sketch merge) missing")
    assert(!plan.contains("Window"), "the sketch plan needs no window pass")
    // accuracy contract: each estimate is a bucket LOWER bound, so
    // est <= exact; and the interpolated exact percentile lies within the
    // crossing bucket or (interpolation at a bucket edge) the next one:
    // upper(next) = lower * (1 + 1/q)^2 <= lower * 1.5625
    val est = df.collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val exact = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100.0) AS BIGINT)").as("v"))
      .groupBy("l_returnflag")
      .agg(expr("percentile(v, 0.5D)").as("p50"), expr("percentile(v, 0.9D)").as("p90"),
        expr("percentile(v, 0.99D)").as("p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    est.foreach { case (flag, (e50, e90, e99)) =>
      val (x50, x90, x99) = exact(flag)
      for ((e, x) <- Seq((e50, x50), (e90, x90), (e99, x99))) {
        assert(e <= x + 1, s"$flag: estimate $e above exact $x")
        assert(x < e * 1.5625 + 8, s"$flag: exact $x beyond bucket width of estimate $e")
      }
    }
    // the whole surface is SQL-reachable too
    Tables(spark, dir, "lineitem").createOrReplaceTempView("q219_li")
    val viaSql = spark.sql(
      """SELECT l_returnflag, hist_regs(CAST(round(l_extendedprice * 100.0) AS BIGINT)).p50_est
        |FROM q219_li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (flag, (e50, _, _)) => assert(viaSql(flag) == e50) }
  }

  test("q234 rank<=k plans as WindowGroupLimit (partition-local top-k pre-prune)") {
    val plan = SparkEntry.queries("q234_rank_topk")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not optimized to a group-limit pre-prune:\n$plan")
  }

  test("q241/q242: explicit DISTRIBUTE/CLUSTER BY owns the aggregation exchange") {
    // the user-staged distribution must SATISFY the aggregate's required
    // distribution — exactly one hash exchange in the plan (the explicit
    // one), not repartition-then-shuffle-again. This is the scale
    // contract: stage one distribution, run same-key consumers free.
    for (q <- Seq("q241_distribute_by", "q242_cluster_by")) {
      val plan = SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashExchanges == 1, s"$q: expected the single user-owned exchange:\n$plan")
    }
  }

  test("q245: join hints steer the physical join, never the values") {
    val plan = SparkEntry.queries("q245_join_hints")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"BROADCAST hint ignored:\n$plan")
    // the inverse direction is the real proof the hint surface is honored:
    // MERGE must FORCE a sort-merge join on a join AQE would broadcast
    Tables(spark, sf("sf0.001"), "customer").createOrReplaceTempView("hint_c")
    Tables(spark, sf("sf0.001"), "nation").createOrReplaceTempView("hint_n")
    val merged = spark.sql("""
      |SELECT /*+ MERGE(n) */ n_name, count(*) AS n_cust
      |FROM hint_c c JOIN hint_n n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n_name""".stripMargin)
    val mPlan = merged.queryExecution.executedPlan.toString
    assert(mPlan.contains("SortMergeJoin"), s"MERGE hint ignored:\n$mPlan")
  }

  test("Dataset.observe delivers pipeline metrics from the write job itself") {
    import org.apache.spark.sql.Observation
    // the zero-extra-job form of a funnel count: metrics ride the action
    // that materializes the data, no second aggregation pass (at 100 TB a
    // separate .count() is a full re-read)
    val obs = Observation("curation")
    val df = Tables(spark, sf("sf0.001"), "documents")
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .filter(length(col("text")) >= 0)
    df.write.format("noop").mode("overwrite").save()
    val m = obs.get
    val direct = Tables(spark, sf("sf0.001"), "documents").count()
    assert(m("n_rows") == direct)
    assert(m("n_en").asInstanceOf[Long] <= direct)
  }

  test("q205 disjunctive predicate pushes per-side conjunct unions to both scans") {
    // the Q19 scale contract: Catalyst must not evaluate the OR-of-ANDs
    // only post-join — each side's union of its conjuncts reaches its
    // parquet scan as a PushedFilter (brand/size on part, quantity on
    // lineitem), so non-candidate rows never leave the scan
    val plan = SparkEntry.queries("q205_disjunctive")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val scans = plan.split("FileScan").toSeq
    val partScan = scans.find(_.contains("part.parquet")).get
    val liScan = scans.find(_.contains("lineitem.parquet")).get
    assert(partScan.contains("Or(") && partScan.contains("p_brand"),
      s"part scan lost its pushed disjunction:\n$partScan")
    assert(liScan.contains("l_quantity"),
      s"lineitem scan lost its pushed quantity bounds:\n$liScan")
  }

  test("q203 top-supplier: the scalar max side broadcasts, no window sort") {
    val plan = SparkEntry.queries("q203_top_supplier")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"max side not broadcast:\n$plan")
    assert(!plan.contains("Window"), s"a window crept into the Q15 plan:\n$plan")
  }

  test("q211/q213 snowflake joins broadcast every dimension side") {
    // nation (25 rows) must never shuffle the fact chain; with AQE the
    // supplier/customer/part dims auto-broadcast under the threshold too
    for (q <- Seq("q211_nation_volume", "q213_profit")) {
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      df.write.format("noop").mode("overwrite").save() // finalize AQE plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$q: no broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q: a dim join fell back to sort-merge at test scale:\n$plan")
    }
  }

  test("CBO: ANALYZE stats re-order a join written fact-first") {
    // the fourth scale lever: COST-based join reorder. The query is
    // written in the worst syntactic order (fact ⋈ orders first, the
    // selective customer filter last); with table+column stats and CBO on,
    // the optimizer should start from the SELECTIVE orders⋈customer pair
    // so the big fact side joins a reduced build — at 100 TB the
    // difference between shuffling the whole fact join twice and once.
    // Results must be identical either way (reorder is cost-only).
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val keep = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> spark.conf.getOption(k))
    def innermostJoinLeaves(df: org.apache.spark.sql.DataFrame): String = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      joins.filter(j =>
          j.children.forall(c => c.collect { case x: Join => x }.isEmpty))
        .flatMap(_.collectLeaves()).mkString(";")
    }
    try {
      Tables(spark, sf("sf0.01"), "lineitem")
        .write.mode("overwrite").saveAsTable("cbo_li")
      Tables(spark, sf("sf0.01"), "orders")
        .write.mode("overwrite").saveAsTable("cbo_o")
      Tables(spark, sf("sf0.01"), "customer")
        .write.mode("overwrite").saveAsTable("cbo_c")
      Seq("cbo_li", "cbo_o", "cbo_c").foreach(t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      val sql = """SELECT c.c_name, CAST(sum(l.l_quantity) AS BIGINT) AS q
                  |FROM cbo_li l
                  |JOIN cbo_o o ON l.l_orderkey = o.o_orderkey
                  |JOIN cbo_c c ON o.o_custkey = c.c_custkey
                  |WHERE c.c_custkey < 40
                  |GROUP BY c.c_name""".stripMargin
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      val without = spark.sql(sql)
      val leavesWithout = innermostJoinLeaves(without)
      assert(leavesWithout.contains("cbo_li"),
        s"syntactic order should join the fact first:\n$leavesWithout")
      val baseline = without.collect().map(r => (r.getString(0), r.getLong(1))).toSet

      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val withCbo = spark.sql(sql)
      val leavesWith = innermostJoinLeaves(withCbo)
      assert(!leavesWith.contains("cbo_li") && leavesWith.contains("cbo_c"),
        s"CBO did not move the selective dim join innermost:\n$leavesWith")
      val rows = withCbo.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == baseline && rows.nonEmpty)
    } finally {
      keep.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Seq("cbo_li", "cbo_o", "cbo_c").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
