package graft

/** Physical-plan shape pins for the scale-critical query families: the
  * point is not what these queries return (CORRECTNESS covers that) but
  * HOW they execute — a regression that swaps a broadcast for a shuffle
  * or a bucket equi-join for a cross join would still return the right
  * rows at sf0.001 while becoming a scale-killer at 100 TB. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString()

  test("ANN search plans broadcast the query/probe side; never cartesian") {
    for (q <- Seq("sim_ann_batch", "sim_ann_ivf", "sim_ann_ivf_batch",
      "sim_ann_pq", "sim_ann_ivfpq")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange"),
        s"$q: the query/probe side must broadcast (corpus never shuffles for scoring)")
      assert(!p.contains("CartesianProduct"),
        s"$q: plan regressed to a cartesian product")
    }
  }

  test("PQ approx stage scores via the codegen pq_adc_score expression") {
    for (q <- Seq("sim_ann_pq", "sim_ann_ivfpq")) {
      val p = plan(q)
      assert(p.contains("pq_adc_score"),
        s"$q: ADC table scoring must be in the plan (not reconstruction)")
    }
  }

  test("dedup candidate generation is a key equi-join, never a cross join") {
    for (q <- Seq("dd_minhash_lsh_pairs", "dd_simhash_pairs",
      "dd_ngram_jaccard", "dd_embedding_neardup", "dd_edit_pairs",
      "dd_semantic_dedup", "dd_passjoin", "dd_minhash_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: candidate pairing must stay a bucket equi-join")
    }
  }

  test("semantic dedup broadcasts the duplicate-id side of the verdict join") {
    val p = plan("dd_semantic_dedup")
    assert(p.contains("BroadcastHashJoin"),
      "the small dups relation must broadcast, not shuffle the corpus")
  }

  test("q48 higher-order lambdas stay in the plan, not a UDF") {
    val p = plan("q48_higher_order")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "transform/filter/aggregate must run as Catalyst expressions")
  }

  test("q47 LATERAL de-correlates: no per-row dependent join in the plan") {
    val p = plan("q47_lateral_topn")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the correlated LATERAL must rewrite to a join + ranking, not a dependent loop")
  }

  test("IVF cell assignment is the codegen vector_dot expression, not an ML UDF") {
    val p = plan("sim_ann_ivf")
    assert(p.contains("vector_dot"),
      "cell assignment must run through the literal-centroid vector_dot expression")
    assert(!p.contains("UDF"),
      "the ML model.transform UDF must stay out of the assignment pass")
  }

  test("stream-stream interval join stays an equi-join on user_id") {
    val p = plan("st_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the time-bounded attribution join must key on user_id, not cross-join")
  }

  test("q33 parses each JSON document exactly once") {
    val p = plan("q33_json_funcs")
    val parses = "from_json".r.findAllIn(p).length
    assert(parses == 1,
      s"q33 must evaluate ONE from_json per row (found $parses in the plan); " +
        "CollapseProject must not inline the struct into per-field re-parses")
  }

  test("as-of join executes as union + window, never an inequality join") {
    val p = plan("q42_asof_join")
    assert(p.contains("Window"), "the running-max window must drive the as-of")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "as-of must not plan a join — per-user inequality joins explode at scale")
  }

  test("q43 partitioned read prunes to one partition directory") {
    val p = plan("q43_partitioned_rw")
    assert(p.contains("PartitionFilters") && p.contains("o_orderpriority"),
      "the priority filter must prune partitions at the scan, not post-filter")
  }

  test("SimJoinBandRewrite turns the naive hamming join into a banded equi-join") {
    val p = plan("dd_simjoin_auto")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the hamming_distance<=k join must be auto-banded, never O(n²)")
    assert(p.contains("Generate"),
      "the pigeonhole band explode must appear in the plan")
  }

  test("q44 bucketed join reads co-located buckets with no join-key shuffle") {
    val p = plan("q44_bucketed_join")
    assert(p.contains("SortMergeJoin"),
      "the bucketed fact-fact shape must stay on the sort-merge path")
    assert(!p.contains("hashpartitioning(o_custkey") &&
      !p.contains("hashpartitioning(c_custkey"),
      "a custkey Exchange means the bucketing was ignored — the whole point " +
        "of the bucketed write is a shuffle-free join")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // q35 demonstrates MANUAL salting; this pins the RUNTIME path — AQE
    // re-plans the oversized partition into splits without query changes.
    // Thresholds are lowered so test-scale data crosses them; every conf
    // is restored afterwards.
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
    val old = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20000")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20000")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000).select(
        when($"id" % 10 === 0, lit(1L)).otherwise($"id").as("k"),
        concat(lit("x"), $"id").as("pad"))
      val right = spark.range(5000).select($"id".as("k"), lit("r").as("v"))
      val j = left.join(right, "k")
      assert(j.collect().length === 24500)
      val p = j.queryExecution.executedPlan.toString()
      assert(p.contains("skew=true"),
        "the hot key's partition must be split by the AQE skew-join rule")
    } finally old.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("join/topk/pushdown staples keep their shapes") {
    val p5 = plan("q05_join_topk")
    assert(p5.contains("BroadcastHashJoin"))
    val p16 = plan("q16_sort_limit")
    assert(p16.contains("TakeOrderedAndProject"))
    val p2 = plan("q02_filter_project")
    assert(p2.contains("PushedFilters: [IsNotNull") || p2.contains("PushedFilters: ["))
  }

  test("fitted-model scoring joins broadcast the model, never shuffle the corpus on it") {
    for (q <- Seq("tx_dsir_weights", "tx_lm_score", "tx_resample_to_mix")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
        s"$q: the fitted model table (64–256 rows) must broadcast")
      assert(!p.contains("CartesianProduct"),
        s"$q: scoring must stay a key join")
    }
  }

  test("MMR candidate stage is one TakeOrdered scan; the greedy fold adds no corpus rescan") {
    val p = plan("sim_mmr_rerank")
    assert(p.contains("TakeOrderedAndProject"),
      "candidate generation must be the single top-k scan")
    // exactly one embeddings scan: the greedy stages must not re-read it
    val scans = "(?i)scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected the corpus+query scans only, saw $scans parquet scans")
  }

  test("audio fingerprint family: banded equi-join for pairs, broadcast probe + group-limit for serving") {
    // near-dup pairs: the candidate join must be the (blk, key) hash
    // equi-join over exploded bands, never a cartesian over fingerprints
    for (pq <- Seq("mm_audio_fingerprint", "mm_video_neardup")) {
      val pairs = plan(pq)
      assert(!pairs.contains("CartesianProduct"), pairs)
      assert(pairs.contains("Generate posexplode"), pairs)
    }
    // serving lanes: broadcast query arm, codegen hamming_distance,
    // per-query WindowGroupLimit instead of a global sort
    for (q <- Seq("mm_afp_topk", "st_afp_serve", "mm_vsig_topk", "st_vsig_serve")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("hamming_distance"), p)
      assert(p.contains("WindowGroupLimit"), p)
    }
  }

  test("image fingerprint family: banded equi-join for pairs and admission, broadcast probe + group-limit for serving") {
    // near-dup pairs and admission: the candidate join must be the (blk,
    // key) hash equi-join over exploded bands, never a cartesian over
    // fingerprints
    for (pq <- Seq("mm_phash_neardup", "st_image_admission")) {
      val pairs = plan(pq)
      assert(!pairs.contains("CartesianProduct"), pairs)
      assert(pairs.contains("Generate posexplode"), pairs)
    }
    // the pHashes feed the band join unsorted: a sort on doc_id would add
    // a range exchange and its bound-sampling job that nothing reads
    assert(!plan("mm_phash_neardup").contains("rangepartitioning(doc_id"))
    // serving lanes: broadcast query arm, both half-distances inside the
    // codegen hamming_distance expression (no UDF), per-query
    // WindowGroupLimit instead of a global sort
    for (q <- Seq("mm_phash_topk", "st_phash_serve")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("hamming_distance"), p)
      assert(p.contains("WindowGroupLimit"), p)
    }
  }

  test("pcap ingest admission: broadcast Bloom word map, no shuffle on the arriving probe") {
    val p = plan("pcap_ingest_admission")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("st_session_state batch twin sorts inside groups via Spark's spillable sort") {
    val p = plan("st_session_state")
    assert(p.contains("Sort"), p)
    assert(p.contains("MapGroups"), p)
  }

  test("q53 exact-moment stats stay one partial/final hash aggregate") {
    val p = plan("q53_stats_exact")
    assert(p.contains("HashAggregate"),
      "decimal moment sums must hash-aggregate (map-side combine)")
    assert(!p.contains("SortAggregate"),
      "algebraic moments must never fall back to a sort aggregate")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles === 1, s"one group-key shuffle expected, saw $shuffles")
  }

  test("tx_bm25 scoring is a shuffle-free projection (fit is not in the lineage)") {
    val p = plan("tx_bm25")
    assert(!p.contains("hashpartitioning"),
      "BM25 scoring must not shuffle — idf/avgdl are plan-time literals")
    assert(!p.contains("Join"), "no join: the fitted model is folded into the projection")
  }

  test("tx_domain_cap is one domain-key shuffle; tx_chunk_overlap none") {
    val pdc = plan("tx_domain_cap")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(pdc).length
    assert(shuffles === 1, s"domain cap should shuffle once on (lang, source), saw $shuffles")
    val pco = plan("tx_chunk_overlap")
    assert(pco.contains("Generate"), "chunking must be a lazy explode (Generate)")
    assert(!pco.contains("hashpartitioning"),
      "chunking is a per-row flatMap — no shuffle before the presentation sort")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // The 100 TB lever Catalyst adds at runtime: a bloom filter built from
    // the selective dim side is pushed into the fact scan, so most fact
    // rows die BEFORE the join shuffle. Thresholds are tuned for cluster
    // scale; pin the mechanism by relaxing them at test scale.
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      graft.api.Tables.registerViews(spark, sfDir)
      val df = spark.sql("""
        SELECT l_orderkey, l_quantity FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 400000""")
      val p = df.queryExecution.optimizedPlan.toString()
      assert(p.contains("might_contain") || p.contains("bloomFilter"),
        "the selective dim side must inject a bloom filter into the fact scan")
    } finally restore.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("dynamic partition pruning reaches a partitioned fact scan") {
    // DPP: the selective dim side's keys prune fact PARTITIONS at
    // runtime — the difference between scanning 3 and 3,000 partitions
    // of a date-partitioned 100 TB fact table.
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    graft.api.Tables.registerViews(spark, sfDir)
    spark.sql("SELECT o_orderkey, o_custkey, o_orderpriority FROM orders")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("orders_part")
    val df = spark.sql("""
      SELECT p.o_orderkey FROM orders_part p
      JOIN (SELECT DISTINCT o_orderpriority AS pr FROM orders
            WHERE o_orderkey < 10) d
        ON p.o_orderpriority = d.pr""")
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
      "the dim side must inject a dynamic partition-pruning subquery")
  }

  test("parquet aggregate pushdown answers MIN/MAX/COUNT from footer stats") {
    val keys = Seq("spark.sql.parquet.aggregatePushDown", "spark.sql.sources.useV1SourceList")
    val restore = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.parquet.aggregatePushDown", "true")
      spark.conf.set("spark.sql.sources.useV1SourceList", "") // DSv2 path required
      val df = spark.read.format("parquet").load(s"$sfDir/lineitem.parquet")
        .agg(org.apache.spark.sql.functions.max("l_quantity"),
          org.apache.spark.sql.functions.count("*"))
      val p = df.queryExecution.optimizedPlan.toString() +
        df.queryExecution.executedPlan.toString()
      assert(p.contains("PushedAggregation") || p.contains("pushedAggregate"),
        "MIN/MAX/COUNT should be answered from parquet footer statistics")
    } finally restore.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("hard-negative mining broadcasts the query side; corpus scans once") {
    val p = plan("sim_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 10-row query side must broadcast")
    assert(!p.contains("CartesianProduct"), "never a cartesian of the corpus")
    val scans = "(?i)scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"corpus+query scans only, saw $scans")
  }

  test("q60 range join executes as a binned broadcast equi-join, not a theta join") {
    val p = plan("q60_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the interval overlap must be the exploded hour-bucket EQUI-join")
    assert(p.contains("BroadcastHashJoin"),
      "the top-k incident-hours side must broadcast")
  }

  test("sim_hybrid_rrf candidate arms are distributed top-k, not global-window sorts") {
    val p = plan("sim_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      "each retrieval arm must TakeOrdered its top-50, not sort the corpus")
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      "the single-row query vector side must broadcast")
  }

  test("RangeJoinBinRewrite turns the naive interval join into a binned equi-join") {
    val p = plan("q63_range_join_auto")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the overlap theta join must rewrite to the bin equi-join")
    assert(p.contains("Generate explode"),
      "both sides must explode their covered bins")
  }

  test("gr_reach BFS rounds are node-key equi-joins, never cartesian") {
    val p = plan("gr_reach")
    assert(!p.contains("CartesianProduct"),
      "frontier expansion must join on the node key")
  }

  test("r8 text/dedup additions stay key equi-joins with broadcast model sides") {
    for (q <- Seq("dd_substring_dup", "dd_containment", "tx_ngram_novelty")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: shingle/window candidate generation must stay a key equi-join")
    }
    val lm = plan("tx_bigram_lm")
    assert(lm.contains("BroadcastHashJoin"),
      "tx_bigram_lm: the fitted bigram/backoff tables must broadcast, not shuffle the corpus")
    assert(!lm.contains("ScalaUDF") && !lm.contains("BatchEvalPython"),
      "tx_bigram_lm: scoring must stay in codegen expressions")
  }

  test("sim_ann_multiprobe broadcasts the 9-row probe set; corpus never shuffles") {
    val p = plan("sim_ann_multiprobe")
    assert(p.contains("BroadcastExchange"),
      "the probe codes must broadcast against the bucketed corpus scan")
    assert(!p.contains("CartesianProduct"),
      "probing must remain a bucket equi-join")
  }

  test("r9 additions: kmeans M-step is one aggregate; sharded/sssp stay distributed") {
    // sim_kmeans_update: the corpus must reach the cell aggregate through
    // map-side partial aggregation — exactly one exchange (on cell), no
    // join, no window over the full corpus
    val km = plan("sim_kmeans_update")
    assert(!km.contains("CartesianProduct") && !km.contains("SortMergeJoin"),
      "M-step must be a pure aggregate over the assigned corpus")
    assert(km.contains("HashAggregate") || km.contains("ObjectHashAggregate"),
      "M-step sufficient statistics must partial-aggregate map-side")
    // sim_ann_sharded: per-shard top-k must not become one global sort of
    // the scored corpus before the shard window
    val sh = plan("sim_ann_sharded")
    assert(sh.contains("WindowGroupLimit") || sh.contains("TakeOrdered"),
      "shard-local top-k must rank within shards (group-limit), not sort-all")
    assert(!sh.contains("CartesianProduct"),
      "the single-row query side must broadcast")
    // gr_sssp: relaxation rounds are node-key equi-joins like gr_reach
    val ss = plan("gr_sssp")
    assert(!ss.contains("CartesianProduct") && !ss.contains("BroadcastNestedLoopJoin"),
      "Bellman-Ford relax must stay a src-key equi-join")
  }

  test("r10: sim_mmr_sharded ranks within (query, shard) groups; no global sort, no cartesian") {
    // batch MMR over the sharded serving path: the scored corpus must
    // reach the per-shard top-k through a group-limit (WindowGroupLimit /
    // TakeOrdered), the 4-row query arm must broadcast, and the greedy
    // rerank must fold inside per-query groups — not loop on the driver
    // (the plan has ONE MapGroups over queries×10 rows)
    val p = plan("sim_mmr_sharded")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrdered"),
      "shard-local candidate top-k must rank within (query, shard) groups")
    assert(!p.contains("CartesianProduct"),
      "the 4-row query arm must broadcast, not cross-join")
    assert(p.contains("MapGroups") || p.contains("FlatMapSortedGroups") ||
      p.contains("FlatMapGroups"),
      "the greedy rerank must run as a typed per-query group fold")
  }

  test("r10: mm_phash_topk scores via the codegen hamming expression, group-limited") {
    // the pHash serving arm must keep BOTH half-distances inside the
    // codegen hamming_distance expression (no UDF), broadcast the 3-row
    // query side, and rank per query via a group limit
    val p = plan("mm_phash_topk")
    assert(p.contains("hamming_distance"),
      "distance must run through the codegen HammingDistance expression")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "the 3-row query arm must broadcast")
    assert(p.contains("WindowGroupLimit") || p.contains("TakeOrdered"),
      "per-query ranking must group-limit, not globally sort the scored corpus")
  }

  test("r10: st_semdedup_gate candidates stay a (cell, bucket) equi-join") {
    // the semantic ingest gate must keep dd_semantic_dedup's candidate
    // shape: bucket equi-join (never cartesian), the small hit table
    // broadcast back onto the arriving side
    val p = plan("st_semdedup_gate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the candidate join must key on (cell, bucket)")
    assert(p.contains("BroadcastHashJoin"),
      "the per-arriving verdict join must broadcast the hit counts")
  }

  test("gr_wcc label propagation stays a node-key equi-join") {
    val p = plan("gr_wcc")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "hash-to-min rounds must join edges to labels on the node key")
  }

  test("sim_kmeans_iterate broadcasts the k-row centroid table; aggregates partial") {
    val p = plan("sim_kmeans_iterate")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoop"),
      "the M-step centroid table (k rows) must broadcast for re-assignment")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "M-step sums must partial-aggregate map-side")
    assert(!p.contains("SortMergeJoin"),
      "no corpus-sized shuffle join anywhere in a Lloyd round")
  }

  test("q67 latest-per-key plans as WindowGroupLimit, not a full ranking") {
    val p = plan("q67_latest_per_key")
    assert(p.contains("WindowGroupLimit"),
      "rn=1 dedup must run as a per-partition running top-1")
  }

  test("dd_threshold_sweep reuses the df-capped shingle postings artifact") {
    val p = plan("dd_threshold_sweep")
    assert(!p.contains("CartesianProduct"),
      "the sweep must ride the shingle equi-join candidates")
  }

  test("per-document text kernels stay in their rows: the output sort is the only exchange") {
    for (q <- Seq("tx_repetition", "tx_gopher_filter", "dd_minhash_sig")) {
      val exchanges = plan(q).linesIterator.filter(_.contains("Exchange")).toSeq
      assert(exchanges.length === 1 && exchanges.head.contains("Exchange rangepartitioning"),
        s"$q: tokens must not leave their document's row\n${exchanges.mkString("\n")}")
    }
  }

  test("q40 numbers its rows locally: no orders row is hash-partitioned on pid") {
    val lines = plan("q40_window_distribution").linesIterator.toIndexedSeq
    assert(!lines.exists(l => l.contains("Window") && l.contains("row_number")),
      "the local row numbers must not come from a window over (pid, priority)")
    // the per-(pid, priority) run sizes cross an exchange as partial
    // aggregates: at most partitions x priorities rows
    val onPid = lines.indices.filter(i =>
      lines(i).contains("Exchange hashpartitioning(") && lines(i).contains("pid#"))
    assert(onPid.nonEmpty && onPid.forall(i => lines(i + 1).contains("partial_count")),
      lines.mkString("\n"))
  }

  test("gr_link_predict broadcasts only its 100-row top-k, at sf0.001 and sf0.01") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    object stages extends AdaptiveSparkPlanHelper
    for (dir <- Seq(sfDir, sfDir.stripSuffix("sf0.001") + "sf0.01")) {
      val df = SparkEntry.queries("gr_link_predict")(spark, dir)
      df.collect()
      val broadcasts = stages.collectWithSubqueries(df.queryExecution.executedPlan) {
        case b: BroadcastExchangeExec => b
      }
      assert(broadcasts.nonEmpty, s"$dir: the top-k must broadcast into the degree joins")
      // a supplier-degree side also reads at most 100 rows at sf0.01 (it
      // has 100 suppliers), so the side must also be bounded by the top-k
      for (b <- broadcasts) {
        val rows = b.metrics("numOutputRows").value
        assert(rows <= 100, s"$dir: a broadcast of $rows rows")
        assert(stages.find(b.child)(_.isInstanceOf[TakeOrderedAndProjectExec]).isDefined,
          s"$dir: a broadcast side that grows with the data\n${b.child}")
      }
    }
  }

  test("gr_triangles and gr_link_predict read the co-purchase table: no Generate, no join on cust") {
    for (q <- Seq("gr_triangles", "gr_link_predict")) {
      val lines = plan(q).linesIterator.toSeq
      assert(!lines.exists(_.contains("Generate")), s"$q:\n${lines.mkString("\n")}")
      assert(!lines.exists(l => l.contains("Join") && l.contains("cust#")),
        s"$q: supplier pairs must come from the persisted table\n${lines.mkString("\n")}")
    }
  }

  test("tx_c4_filter is shuffle-free until the output sort") {
    val p = plan("tx_c4_filter")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "C4 rules are a narrow projection — no join belongs in this plan")
  }
}
