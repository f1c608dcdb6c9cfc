package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Plan-shape assertions (SURVEY.md §5.2.2): the 100 TB posture is
  * graded on plans, not just results — pushdown reaches the scan,
  * small dims broadcast, top-k group limits push, the cosine kernel
  * stays codegen'd. */
class PlanSpec extends SparkSpec {

  private def planOf(key: String): String =
    SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString

  test("q_scan_filter_pushdown pushes the predicate to parquet") {
    val p = planOf("q_scan_filter_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q_scan_project prunes the read schema to selected columns") {
    val p = planOf("q_scan_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey"), read)
    assert(!read.contains("l_comment") && !read.contains("l_shipmode"), read)
  }

  test("q_join_broadcast plans a BroadcastHashJoin") {
    assert(planOf("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("AQE skew-split repairs the same hot key q_join_skew_salted pre-salts") {
    // The salted key is the WRITE-side fix; AQE's OptimizeSkewedJoin
    // is the READ-side repair of the same skew. Demonstrate the latter
    // on a manufactured hot key (30% of lineitem on one order key) at
    // thresholds scaled to fixture size, and record the division of
    // labor in PLANS.md: AQE splits the oversized partition only for
    // JOIN shuffles with no downstream partitioning requirement —
    // salting remains necessary for skewed aggregations, streaming
    // joins (no AQE), and joins whose output partitioning is reused.
    // incompressible payload so shuffle BYTES reflect the row skew
    // (a repeated-char pad would lz4 away), the sf0.01 tables so the
    // hot partition clears the scaled-down thresholds decisively, and
    // repartition(8) so the map side has MULTIPLE tasks: AQE splits a
    // skewed reduce partition along MAPPER boundaries, so a
    // single-file scan (one map task) leaves it formally skewed but
    // unsplittable — the rule then silently declines. (At real scale
    // the map side always has many tasks; this is a fixture artifact
    // worth knowing about.)
    val dir = "/root/testdata/sf0.01"
    val li = graft.sources.Tables(spark, dir, "lineitem")
      .repartition(8)
      .withColumn("k", when(col("l_orderkey") % 10 < 3, lit(1L))
        .otherwise(col("l_orderkey")))
      .withColumn("pad", concat((0 until 4).map(i =>
        md5(concat_ws("_", col("l_orderkey"), col("l_linenumber"), lit(i)))): _*))
    val o = graft.sources.Tables(spark, dir, "orders")
      .withColumn("k", col("o_orderkey"))
    val p = graft.Confs.withConfs(spark,
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = li.join(o, "k")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), max(col("pad")).as("p"))
      j.collect()
      j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }
    assert(p.contains("skew=true"), s"AQE did not mark the join skewed:\n$p")
  }

  test("q_join_dpp plants a dynamic pruning expression in the fact's partition filters") {
    val p = planOf("q_join_dpp")
    // match the truncation-proof prefix: the plan printer's field cap
    // can render "dynamicpruningexpres..." mid-word on long scan lines
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("q_scan_schema_evolution merges both generations' columns into one scan") {
    val p = planOf("q_scan_schema_evolution")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      .split("ReadSchema: ").last
    // the merged footer schema must carry the dropped AND the added
    // column (each NULL for the other generation's files), while the
    // gen partition column stays out of the data-file read
    assert(read.contains("status_legacy"), read)
    assert(read.contains("priority_v2"), read)
    assert(!read.contains("gen"), read)
  }

  test("q_win_topk_group pushes a WindowGroupLimit") {
    assert(planOf("q_win_topk_group").contains("WindowGroupLimit"))
  }

  test("q_limit_topk plans TakeOrderedAndProject (no global sort)") {
    assert(planOf("q_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("flagship aggregation is whole-stage codegen'd with partial aggregation") {
    val df = SparkEntry.queries("q_agg_group_pricing")(spark, sf)
    df.collect() // AQE: codegen spans appear only in the final plan
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in plan strings
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p)
    assert(p.contains("partial_"), p) // map-side combine before the shuffle
  }

  test("q_sim_knn_query broadcasts the 1-row query side") {
    val p = planOf("q_sim_knn_query")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("cosine_sim native expression participates in codegen (no UDF)") {
    val p = planOf("q_sim_knn_query")
    assert(p.contains("cosine_sim"), p)
    assert(!p.contains("ScalaUDF"), p)
  }

  test("q_scan_partition_prune resolves the predicate against partition metadata") {
    val p = planOf("q_scan_partition_prune")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("orders_part")).getOrElse("")
    // the predicate must land in PartitionFilters (directory pruning),
    // and the data-file schema must no longer carry the column
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
        .contains("o_orderpriority"), scan)
    val read = scan.replaceAll(".*ReadSchema: ", "")
    assert(!read.contains("o_orderpriority"), read)
  }

  test("Confs.partitionsFor: volume-proportional above the core floor") {
    // the x20-soak-proven rule: one partition per 64 MiB of (expanded)
    // input, never fewer than the cores
    assert(graft.Confs.partitionsFor(0L, 32) === 32)
    assert(graft.Confs.partitionsFor(1L << 30, 32) === 32)         // 1 GiB -> 16 < cores
    assert(graft.Confs.partitionsFor(8L << 30, 32) === 128)        // 8 GiB -> 128
    assert(graft.Confs.partitionsFor(5L << 30, 4) === 80)          // 5 GiB at 4 cores
    assert(graft.Confs.partitionsFor(1L << 30, 4, 32L << 20) === 32) // custom target
  }

  test("Confs.withConfs restores previously-unset keys to unset and survives throws") {
    val k = "spark.graft.test.scopedconf"
    assert(spark.conf.getOption(k).isEmpty)
    graft.Confs.withConfs(spark, k -> "inner") {
      assert(spark.conf.get(k) == "inner")
    }
    assert(spark.conf.getOption(k).isEmpty, "unset key must be unset again, not pinned")
    spark.conf.set(k, "outer")
    intercept[RuntimeException] {
      graft.Confs.withConfs(spark, k -> "inner") { throw new RuntimeException("boom") }
    }
    assert(spark.conf.get(k) == "outer", "restore must run when body throws")
    spark.conf.unset(k)
  }

  test("q_scan_orc pushes the predicate to the ORC reader") {
    val p = planOf("q_scan_orc")
    val scan = p.linesIterator.find(_.contains("FileScan orc")).getOrElse("")
    assert(scan.contains("PushedFilters: [") &&
      scan.contains("GreaterThan(s_acctbal"), scan)
  }

  test("q_profile_table profiles every column in ONE scan") {
    val p = planOf("q_profile_table")
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"expected a single-pass profile, got $scans scans:\n$p")
  }

  test("q_join_bloom_filtered injects a runtime bloom filter at the probe scan") {
    val p = planOf("q_join_bloom_filtered")
    assert(p.contains("might_contain"), s"no runtime bloom filter:\n$p")
    assert(p.contains("bloom_filter_agg"), s"no bloom build side:\n$p")
  }

  test("dynamic partition pruning fires on the partitioned-sink layout") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    graft.sources.Tables(spark, sf, "lineitem")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    val fact = spark.read.parquet(out)
    // dim with a non-trivial filter on the join key → DPP candidate
    val dim = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_orderpriority").substr(1, 1).as("l_returnflag")).distinct()
      .filter(col("l_returnflag").isin("A", "N"))
    val j = fact.join(dim, Seq("l_returnflag")).agg(count(lit(1)))
    val p = j.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no DPP subquery in plan:\n$p")
  }

  test("q_join_asof union-merge: no join node, one hash exchange, output = join formulation") {
    val df = SparkEntry.queries("q_join_asof")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"as-of should be join-free:\n$p")
    val hashExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1, s"expected exactly 1 hash exchange, got $hashExchanges:\n$p")
    // equivalence with the r1 equi-join + per-event top-1 window
    val e = graft.sources.Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
    val j = e.join(o,
      col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"), "left")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc_nulls_last, col("o_orderkey").desc_nulls_last)
    val joinForm = j.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey"), col("o_orderdate"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val unionForm = df.select(col("event_id"), col("o_orderkey"), col("o_orderdate"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(unionForm === joinForm)
  }

  test("q_join_bucketed: SortMergeJoin with no exchange on the join key") {
    // at fixture scale Catalyst correctly broadcasts the small side;
    // disable broadcast to exhibit the co-located bucketed path the
    // layout buys at fact⋈fact scale
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = SparkEntry.queries("q_join_bucketed")(spark, sf)
      df.collect() // AQE final plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ over bucketed tables:\n$p")
      assert(p.contains("Bucketed: true"), s"scan not bucketed:\n$p")
      assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
        !p.contains("Exchange hashpartitioning(c_custkey"),
        s"bucketed join still shuffles on the join key:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("q_join_skew_salted: SMJ with the salt inside the shuffle keys") {
    // the whole point of salting is that the exchange partitions on
    // (key, salt) — a plan that shuffles on the bare key (or
    // broadcasts) would silently rebuild the hot partition
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = SparkEntry.queries("q_join_skew_salted")(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected salted SMJ:\n$p")
      val saltedExchange =
        "Exchange hashpartitioning\\([^)]*salt".r.findFirstIn(p)
      assert(saltedExchange.isDefined,
        s"no exchange partitions on the salt:\n$p")
    } finally spark.conf.set(key, prev)
  }

  test("q_embed_quantize is a pure map stage (no hash exchange, no join)") {
    val p = planOf("q_embed_quantize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantization should not shuffle:\n$p")
    assert(!p.contains("Join"), s"quantization should not join:\n$p")
  }

  test("q_text_url_filter drops blocklisted domains via broadcast anti-join") {
    val p = planOf("q_text_url_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p) // corpus must not shuffle for the filter
  }

  test("q_embed_kmeans assignment is a narrow broadcast map, distances codegen'd") {
    val p = planOf("q_embed_kmeans")
    // the packed single-row centroid side broadcasts; the corpus side
    // of each assignment joins without shuffling
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("l2_dist_q"), p)
    assert(!p.contains("ScalaUDF"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_layout_zorder is one scan + one hash agg (no join, no extra exchange)") {
    val p = planOf("q_layout_zorder")
    assert(!p.contains("Join"), p)
    // z computation is a narrow projection; only the final agg
    // (hashpartitioning) + the presentation sort (rangepartitioning)
    // may exchange. Exchange lines render nested ("+- Exchange ..."),
    // so match by substring like the broadcast tests above.
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("ReusedExchange"))
    assert(exchanges >= 1 && exchanges <= 2, s"$exchanges exchanges:\n$p")
  }

  test("scale-path dedup/similarity keys plan equi joins, never cartesian") {
    // the banded/prefix-filtered paths must join on generated keys —
    // a CartesianProduct or nested-loop join here means the candidate
    // pruning silently degenerated to O(n²)
    // q_join_interval_binned: the binned range join must come out as
    // an equi join on the bucket id, never the nested-loop product the
    // raw interval predicate would plan
    for (k <- Seq("q_dedup_minhash",
        "q_dedup_simhash", "q_sim_lsh_bucketed",
        "q_dedup_embed", "q_sim_cosine_topk", "q_join_interval_binned",
        "q_dedup_span", "q_dedup_containment", "q_join_fuzzy",
        "q_dedup_incremental", "q_dedup_substring")) {
      val p = planOf(k)
      assert(!p.contains("CartesianProduct"), s"$k plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$k plans a nested-loop join")
    }
    // the memoized near-dup pair table would show as a checkpoint scan
    // once warm — vacuously join-free — so assert on its UNCACHED
    // builder instead
    val docs = graft.sources.Tables(spark, sf, "documents")
    val p = Dedup.nearDupPairsUncached(docs).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "nearDupPairs plans a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nearDupPairs plans a nested-loop join")
  }

  test("q_text_vocab_prune: one materialized token stream, broadcast vocab join, no SMJ") {
    // the r5 verdict flagged this key for a double tokenize+explode and
    // an unexplained 10x run-to-run spike with no shape pin; the memo
    // fix means every consumer branch reads the CHECKPOINTED stream —
    // the documents parquet must not be re-scanned per branch, the
    // vocab membership join must broadcast, and no sort-merge join may
    // appear anywhere (a plan flip to SMJ would be the spike signature)
    val df = SparkEntry.queries("q_text_vocab_prune")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"vocab membership flipped to SMJ:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"vocab membership not broadcast:\n$p")
    val fileScans = p.linesIterator.count(_.contains("FileScan"))
    assert(fileScans == 0,
      s"token stream not memoized: $fileScans parquet scans (expected checkpoint reads only):\n$p")
    assert(p.contains("Scan ExistingRDD"), s"no checkpoint scan leaf:\n$p")
  }

  test("q_text_decontaminate_bloom: scalar-subquery bloom probe, no join node at all") {
    val df = SparkEntry.queries("q_text_decontaminate_bloom")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"no bloom probe:\n$p")
    assert(p.contains("bloom_filter_agg") || p.contains("Subquery"),
      s"no bloom build subquery:\n$p")
    // the whole point vs the exact twin: the train side is a filter
    // value, not a join side — no join operator may appear
    for (j <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(j), s"bloom path plans a $j:\n$p")
  }

  test("q_join_fuzzy candidates come from an equi join on segment keys") {
    val p = planOf("q_join_fuzzy")
    // the PassJoin pigeonhole must surface as an EQUI join keyed on
    // (len, seg, substring) — any equi strategy qualifies (hash or
    // sort-merge; AQE/stats may flip between them), while the
    // suite-wide no-CartesianProduct/no-BNLJ assertions above rule out
    // the degenerate strategies. The levenshtein predicate rides as a
    // post-join condition, never as the join strategy itself.
    val segJoin = p.linesIterator.exists(l =>
      l.contains("Join [la#") && l.contains("segi#") && l.contains("sub#"))
    assert(segJoin, s"no segment-keyed equi join:\n$p")
    assert(p.contains("levenshtein"), s"verification filter missing:\n$p")
  }

  test("q_sql_lateral decorrelates the LIMIT-1 subquery to a window top-1") {
    val df = SparkEntry.queries("q_sql_lateral")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("row_number()"), s"no window top-1 (per-row rescan?):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  /** AQE plan strings render "== Final Plan ==" then "== Initial
    * Plan ==" — counting assertions must see the final section only. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("q_sql_recursive_cte plans a driver-bounded UnionLoop, fact side aggregates once") {
    val p = finalPlan(SparkEntry.queries("q_sql_recursive_cte")(spark, sf))
    assert(p.contains("UnionLoop"), s"recursion missing from plan:\n$p")
    // the events scan must feed ONE aggregation, joined to the spine —
    // not be re-scanned per recursion step
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
  }

  test("q_unpivot melts via a narrow Expand (no extra exchange)") {
    val p = finalPlan(SparkEntry.queries("q_unpivot")(spark, sf))
    assert(p.contains("Expand"), s"no Expand in unpivot plan:\n$p")
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges <= 1, s"unpivot shuffled beyond the pre-agg:\n$p")
  }

  test("q_text_chunk: narrow explode+slice pipeline, no shuffle before the output order") {
    // chunking is per-row (explode of chunk starts + slice + join of
    // tokens) — the ONLY exchange allowed is the rangepartitioning of
    // the deterministic output order; a hashpartitioning exchange
    // would mean the cut stage itself started shuffling the corpus
    val p = finalPlan(SparkEntry.queries("q_text_chunk")(spark, sf))
    assert(p.contains("Generate explode"), s"no explode of chunk starts:\n$p")
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 0, s"chunking shuffled the corpus:\n$p")
  }

  test("q_dedup_substring: semi-join dup mark on hash keys, no cartesian, no dup-set broadcast") {
    // the mark must be an EQUI semi join on the 128-bit gram key. The
    // code does NOT hint broadcast(dup) — the dup-gram set is
    // O(boilerplate volume), so the cost model must stay free to pick
    // SMJ at corpus scale; at fixture scale its size estimate is
    // rightly under the threshold and it plans a broadcast semi join.
    // What can never appear is a product: a CartesianProduct/BNLJ here
    // means the gram keying silently degenerated to all-pairs.
    val p = planOf("q_dedup_substring")
    assert(p.contains("LeftSemi"), s"dup mark is not a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"substring dedup degenerated to a product:\n$p")
    assert(p.contains("Generate explode"), s"no per-position gram explode:\n$p")
  }

  test("q_sample_reservoir: hash-rank top-k plans as TakeOrderedAndProject, no global sort") {
    // "pick k of everything" must never globally sort the corpus: the
    // inner orderBy+limit has to plan as TakeOrderedAndProject
    // (per-partition top-k, k-row driver merge); the only Sort allowed
    // is the k-row deterministic output order
    val p = finalPlan(SparkEntry.queries("q_sample_reservoir")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed:\n$p")
    val rangeExchanges = p.linesIterator
      .count(l => l.contains("Exchange rangepartitioning") && !l.contains("Reused"))
    assert(rangeExchanges <= 1, s"corpus-sized sort exchange in sample plan:\n$p")
  }

  test("q_time_ewma / q_time_anomaly: daily pre-agg + window, no join") {
    for (k <- Seq("q_time_ewma", "q_time_anomaly")) {
      val df = SparkEntry.queries(k)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"$k should not join:\n$p")
      assert(p.contains("Window"), s"$k lost its window stage:\n$p")
      assert(p.contains("partial_sum"), s"$k daily agg lost map-side partials:\n$p")
    }
  }

  test("q_sim_range_search never hash-shuffles the corpus") {
    val p = planOf("q_sim_range_search")
    assert(!p.contains("Exchange hashpartitioning"),
      s"radius search should be a narrow broadcast scan:\n$p")
    assert(p.contains("cosine_sim") && !p.contains("ScalaUDF"), p)
  }

  test("graph keys: equi joins only — no cartesian, no nested loop (r7)") {
    // pagerank's 6 unrolled iterations and the triangle wedge/closure
    // joins are all keyed on vertex ids; a CartesianProduct or BNLJ
    // means an orientation/contribution join silently degenerated
    for (k <- Seq("q_graph_pagerank", "q_graph_triangles")) {
      val p = planOf(k)
      assert(!p.contains("CartesianProduct"), s"$k plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$k plans a nested-loop join")
    }
  }

  test("q_graph_triangles orients by struct comparison, not a global rank window (r7)") {
    // a row_number over (degree, id) would single-partition the vertex
    // set; the orientation must stay a join-condition comparison
    val p = planOf("q_graph_triangles")
    assert(!p.contains("Window"), s"orientation fell back to a window:\n$p")
  }

  test("q_merge_scd2: both windows ride ONE shuffle-sort (r7)") {
    // lag (run collapse) and lead/row_number (validity spans) use the
    // same (custkey | ts, seq) layout — Catalyst must plan a single
    // hash exchange, not one per window pass
    val p = finalPlan(SparkEntry.queries("q_merge_scd2")(spark, sf))
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1, s"SCD2 should shuffle once, saw $hashExchanges:\n$p")
  }

  test("q_sample_weighted: priority top-k plans as TakeOrderedAndProject (r7)") {
    // same contract as q_sample_reservoir: the corpus-wide step is
    // per-partition top-(k+1) + a driver merge; the tau/rank window
    // then touches k+1 rows only
    val p = finalPlan(SparkEntry.queries("q_sample_weighted")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed:\n$p")
  }

  test("q_sim_pq_adc: LUT broadcasts, candidate rank pushes a group limit (r7)") {
    val p = planOf("q_sim_pq_adc")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"ADC join degenerated:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k rank not limit-pushed:\n$p")
    assert(p.contains("l2_dist_q") && !p.contains("ScalaUDF"),
      s"distance kernel left codegen:\n$p")
  }

  test("q_quality_classifier / q_dedup_url: narrow map stages, no join anywhere (r8)") {
    // both keys are pure per-row feature/canonicalization maps feeding
    // one hash agg — a join or window here means the narrow pipeline
    // silently grew a shuffle it does not need
    for (k <- Seq("q_quality_classifier", "q_dedup_url")) {
      val p = planOf(k)
      assert(!p.contains("Join"), s"$k should not join:\n$p")
      assert(!p.contains("Window"), s"$k should not window:\n$p")
    }
  }

  test("q_text_entropy: two-level hash agg with map-side partials, no join (r8)") {
    val p = planOf("q_text_entropy")
    assert(!p.contains("Join"), s"entropy should not join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"histogram agg lost map-side partials:\n$p")
  }

  test("q_text_ngram_lm / q_sample_temperature: model/rate tables join equi or broadcast, never cartesian (r8)") {
    // the 1-row V / totals sides ride BNLJ broadcasts by design; what
    // must never appear is a CartesianProduct (an unkeyed model join
    // would be corpus × vocabulary²)
    for (k <- Seq("q_text_ngram_lm", "q_sample_temperature")) {
      val p = planOf(k)
      assert(!p.contains("CartesianProduct"), s"$k plans a cartesian:\n$p")
      assert(p.contains("BroadcastExchange"), s"$k lost its broadcast side:\n$p")
    }
  }

  test("q_merge_cdc: changelog apply rides ONE hash shuffle (r8)") {
    // union of three projections of the same scan, then a single
    // per-key window — more than one non-reused hash exchange means
    // the union stopped collapsing or the window re-partitioned
    val p = finalPlan(SparkEntry.queries("q_merge_cdc")(spark, sf))
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1, s"CDC apply should shuffle once, saw $hashExchanges:\n$p")
    assert(p.contains("Window"), s"latest-wins window missing:\n$p")
  }

  test("q_graph_bfs: frontier relaxation joins stay keyed (r8)") {
    val p = planOf("q_graph_bfs")
    assert(!p.contains("CartesianProduct"), s"BFS plans a cartesian:\n$p")
  }

  test("q_join_asof_tolerance: both direction frames ride ONE shuffle-sort (r8)") {
    // backward (running last) and forward (following first) windows
    // share the (user_id | t, is_event, key) layout — Catalyst must
    // plan a single hash exchange, not one per frame
    val p = finalPlan(SparkEntry.queries("q_join_asof_tolerance")(spark, sf))
    val hashExchanges = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(hashExchanges == 1, s"nearest-asof should shuffle once, saw $hashExchanges:\n$p")
  }

  test("q_layout_hilbert: narrow index map + one hash agg, no join/window (r8)") {
    val p = planOf("q_layout_hilbert")
    assert(!p.contains("Join") && !p.contains("Window"), s"hilbert grew a shuffle:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"bucket agg lost map-side partials:\n$p")
  }

  test("q_scan_parquet_bloom: equality set pushes to the parquet scan (r8)") {
    // the bloom filter only fires when the In/EqualTo predicate
    // reaches the reader — a post-scan filter would decode every row
    // group and the bloom would be dead weight
    val p = planOf("q_scan_parquet_bloom")
    assert(p.contains("PushedFilters: [") && p.contains("In(o_custkey"),
      s"equality set not pushed to the scan:\n$p")
  }

  test("q_embed_pca: iteration state rides 1-row broadcasts, no cartesian (r8)") {
    val p = planOf("q_embed_pca")
    assert(!p.contains("CartesianProduct"), s"PCA plans a cartesian:\n$p")
    assert(p.contains("BroadcastExchange"), s"μ/v state must broadcast:\n$p")
  }

  test("q_sql_tpch_q21: EXISTS/NOT EXISTS self-joins decorrelate to semi+anti, dims broadcast (r9)") {
    val p = planOf("q_sql_tpch_q21")
    assert(p.contains("LeftSemi"), s"EXISTS did not decorrelate to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not decorrelate to an anti join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"small dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q21 degenerated to a product:\n$p")
  }

  test("q_sql_tpch_q16: NOT IN plans a null-aware anti join, never a product (r9)") {
    val p = planOf("q_sql_tpch_q16")
    assert(p.contains("LeftAnti"), s"NOT IN did not plan an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"q16 plans a cartesian:\n$p")
  }

  test("q_sql_tpch_q2: correlated MIN decorrelates to one grouped agg + join-back (r9)") {
    val p = planOf("q_sql_tpch_q2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q2 degenerated to a product:\n$p")
    assert(p.contains("partial_min"),
      s"correlated min did not become a grouped aggregate:\n$p")
  }

  test("q_sim_ivf_probe: probe prunes the index scan to the probed cell partitions (r9)") {
    // the VERDICT r8 top-next item: the IVF "cell id is a partition
    // column" posture must be a DEMONSTRATED plan — the persisted
    // index scan carries the probe set in PartitionFilters (directory
    // pruning) and reads fewer partitions than the index holds
    val p = planOf("q_sim_ivf_probe")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("ivf_idx")).getOrElse("")
    val pf = scan.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
    assert(pf.contains("cell") && pf.contains(" IN "),
      s"no cell IN (...) partition filter on the index scan:\n$scan")
    // exactly the 8 probed cells of the 16 the index holds
    val nIds = pf.dropWhile(_ != '(').drop(1).takeWhile(_ != ')').split(",").length
    assert(nIds == 8, s"probe filter carries $nIds cell ids (want 8): $pf")
    // the data-file read must not re-carry the partition column
    val read = scan.replaceAll(".*ReadSchema: ", "")
    assert(!read.contains("cell"), s"cell not pruned from data-file schema: $read")
  }

  test("q_sim_ivfpq: code-table ADC runs only over probe-pruned candidates (late r9)") {
    // the composite must keep BOTH scale guarantees at once: the index
    // scan prunes to the probed cell partitions (candidate selection),
    // and no cartesian/BNLJ appears except the intentional 1-row
    // query-vector broadcast for the rerank
    val p = planOf("q_sim_ivfpq")
    val scan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("ivf_idx")).getOrElse("")
    val pf = scan.replaceAll(".*PartitionFilters: \\[", "").takeWhile(_ != ']')
    assert(pf.contains("cell") && pf.contains(" IN "),
      s"no cell IN (...) partition filter on the index scan:\n$scan")
    assert(!p.contains("CartesianProduct"), "cartesian in the IVFPQ plan")
    // the candidate restriction reaches the code table as a semi join
    assert(p.contains("LeftSemi"), "no semi join restricting codes to probed candidates")
  }

  test("q_pipeline_curation: the five-stage funnel plans without a cartesian (late r9)") {
    // the funnel composes a window dedup, the prefix-filtered shingle
    // join, narrow filters, and the 8-gram decontamination join — at
    // no stage may the composition degrade to an all-pairs product
    val p = planOf("q_pipeline_curation")
    assert(!p.contains("CartesianProduct"), "cartesian in the funnel plan")
    // Spark renders the join type after the build side with a comma:
    // "BroadcastNestedLoopJoin BuildRight, Inner" — match via regex,
    // a bare substring can never occur and asserts nothing
    assert(!"BroadcastNestedLoopJoin[^,]*, Inner".r.findFirstIn(p).isDefined,
      "inner BNLJ in the funnel plan")
    // the near-dup and decontamination stages are both anti joins
    assert(p.contains("LeftAnti"), "no anti join — a drop stage is missing")
  }

  test("q_sql_tpch_q17: correlated AVG decorrelates to a grouped agg + join-back (r9)") {
    // the classic Q17 planner trap: a naive plan rescans lineitem per
    // outer row; the correct plan aggregates sum+count per l_partkey
    // ONCE and joins the threshold back on the part key
    val p = planOf("q_sql_tpch_q17")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"correlated avg did not become a grouped aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q17 degenerated to a product:\n$p")
  }

  test("q_sql_tpch_q19: disjunctive predicates keep the equi join and push per-side filters (r9)") {
    // the OR spans both join sides; the planner must still extract the
    // p_partkey = l_partkey equi-condition (hash join, not a product)
    // AND derive the per-side implied disjunctions so BOTH scans prune
    val p = planOf("q_sql_tpch_q19")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q19 degenerated to a product:\n$p")
    val scans = p.linesIterator.count(l =>
      l.contains("PushedFilters") && l.contains("Or(Or(And("))
    assert(scans >= 2, s"implied per-side OR filters not pushed to both scans:\n$p")
  }

  test("q_sql_tpch_q20: nested IN subqueries plan as a left-semi chain, HAVING aggregated first (r9)") {
    val p = planOf("q_sql_tpch_q20")
    val semis = p.linesIterator.count(_.contains("LeftSemi"))
    assert(semis >= 2, s"expected two left-semi joins, saw $semis:\n$p")
    assert(!p.contains("CartesianProduct"), s"q20 plans a cartesian:\n$p")
  }

  test("q_sql_tpch_q22: NOT EXISTS plans a left-anti join with the date bound pushed (r9)") {
    val p = planOf("q_sql_tpch_q22")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not plan an anti join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"date bound not pushed into the orders scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q22 degenerated to a product:\n$p")
  }

  test("q_sql_tpch_q13: outer join preserved, inner-side predicate pushed below it (r9)") {
    val p = planOf("q_sql_tpch_q13")
    // the join must stay LeftOuter (flattening to inner would drop
    // zero-order customers from the histogram) while the inner-side-
    // only priority predicate — semantics-preserving under LeftOuter —
    // is pushed INTO the orders scan, shrinking the broadcast side
    // before the exchange
    assert(p.contains("LeftOuter"), s"left join lost:\n$p")
    val ordersScan = p.linesIterator.find(l =>
      l.contains("FileScan") && l.contains("orders.parquet")).getOrElse("")
    assert(ordersScan.contains("Not(EqualTo(o_orderpriority"),
      s"priority filter not pushed to the orders scan:\n$ordersScan")
  }

  test("q_graph_label_prop: a propagation round is two hash aggs, no window, no product (r9)") {
    val edges = Graph.copurchaseEdges(spark, sf)
    val labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    val p = Graph.lpaRound(edges, labels)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"LPA round plans a rank window:\n$p")
    assert(!p.contains("CartesianProduct"), s"LPA round plans a cartesian:\n$p")
    assert(p.linesIterator.count(_.contains("partial_count")) >= 1 &&
      p.linesIterator.count(_.contains("partial_max")) >= 1,
      s"expected map-side partial count + max aggs:\n$p")
  }

  test("q_sql_tpch_q4: EXISTS with cross-table residual plans a left-semi join (r9)") {
    val p = planOf("q_sql_tpch_q4")
    assert(p.contains("LeftSemi"), s"EXISTS did not decorrelate to a semi join:\n$p")
    // the non-equi l_shipdate > o_orderdate must ride the semi join as
    // a residual, not degenerate the join to a product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q4 degenerated to a product:\n$p")
  }

  test("q_sql_tpch_q6: all three predicates reach the parquet scan, no join (r9)") {
    val p = planOf("q_sql_tpch_q6")
    assert(!p.contains("Join"), s"q6 should be join-free:\n$p")
    // PushedFilters is truncated at 100 chars in toString, so assert
    // the data-filter list via the (untruncated) scan-adjacent Filter
    // node: all three columns' range predicates present, none left for
    // a post-shuffle filter
    val filt = p.linesIterator.find(_.trim.startsWith("+- Filter")).getOrElse("")
    assert(filt.contains("l_shipdate") && filt.contains("(l_discount") &&
      filt.contains("(l_quantity"),
      s"not all predicates reached the scan filter:\n$filt")
    val scan = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(scan.contains("PushedFilters: [IsNotNull"),
      s"no parquet pushdown at all:\n$scan")
  }

  test("q_sql_tpch_q15: the twice-consumed CTE never rescans per row (r9)") {
    val p = planOf("q_sql_tpch_q15")
    // scalar MAX over the CTE + the CTE as join input: at worst two
    // lineitem aggregations, never a per-row rescan or a product
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("lineitem.parquet"))
    assert(scans <= 2, s"lineitem scanned $scans times:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q15 degenerated to a product:\n$p")
  }

  test("q_time_autocorr: one window sort yields all three lags, no join (r8)") {
    val p = planOf("q_time_autocorr")
    assert(!p.contains("Join"), s"autocorr should not join:\n$p")
    assert(p.contains("Window"), s"lag window missing:\n$p")
    val sorts = p.linesIterator.count(_.trim.startsWith("Sort "))
    assert(sorts <= 2, s"expected one window sort (+ output order), saw $sorts:\n$p")
  }

  test("q_dedup_semdedup: pair work is cid-keyed, assignment broadcast, no cartesian (r9)") {
    val p = planOf("q_dedup_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"semdedup pair join degenerated to a product:\n$p")
    // clustering assignment rides a broadcast centroid row; the
    // checkpointed assignment is scanned, never retrained per side
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"no broadcast anywhere in semdedup plan:\n$p")
  }

  test("q_sim_hard_negatives: per-anchor top-3 runs as WindowGroupLimit (r9)") {
    val p = planOf("q_sim_hard_negatives")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter did not push into a group limit:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"blocked scoring degenerated to a product:\n$p")
  }

  test("q_text_normalize: narrow map — no exchange before the presentation sort (r9)") {
    val p = planOf("q_text_normalize")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"normalize should be map-only + output sort, saw $exchanges exchanges:\n$p")
    assert(!p.contains("Join"), s"normalize must not join:\n$p")
  }

  test("q_embed_outliers: moment table joins back as a broadcast, one corpus agg (r9)") {
    val p = planOf("q_embed_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"per-label moments must broadcast, not shuffle the corpus:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus re-shuffled for the moment join:\n$p")
  }

  test("q_join_null_safe: <=> stays an equi hash join, never a product (r9)") {
    val p = planOf("q_join_null_safe")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"null-safe equality broke equi-key extraction:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"no hash/merge join in plan:\n$p")
  }

  test("deletion vectors: unvectored reads keep the fast-path plan; vectored reads add ONE anti join (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_plan_dv").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    CommitLog.append(spark, root, ev, nFiles = 2)
    // before any vector: the read is a bare parquet scan — no join,
    // no extra projection (the 285-key fast path must not regress)
    val before = CommitLog.read(spark, root, 0L)
      .queryExecution.executedPlan.toString
    assert(!before.toLowerCase.contains("join"),
      s"fast-path read grew a join:\n$before")
    assert(!before.contains("_graft_file"),
      s"fast-path read grew the file column:\n$before")
    val (v1, _, _) =
      CommitLog.deleteMergeOnRead(spark, root, col("user_id") % 4 === 1)
    // after: exactly one LeftAnti against the sidecar — never a
    // product, never a per-row filter
    val after = CommitLog.read(spark, root, v1)
      .queryExecution.executedPlan.toString
    assert(after.contains("LeftAnti"), s"no anti join in masked read:\n$after")
    assert(after.split("LeftAnti").length == 2,
      s"more than one anti join in masked read:\n$after")
    assert(!after.contains("CartesianProduct") &&
      !after.contains("BroadcastNestedLoopJoin"),
      s"mask degenerated to a product:\n$after")
  }

  test("index probe under tombstones: cell pruning intact, mask is ONE anti join, purge restores fast path (r11)") {
    import graft.sources.{CommitLog, VectorIndex}
    val e = graft.operators.Similarity.vecs(spark, sf)
    val corpus = java.nio.file.Files.createTempDirectory("graft_vip_c").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_vip_i").toString
    CommitLog.setTableProperty(corpus, "enableChangeDataFeed", "true")
    CommitLog.append(spark, corpus, e, nFiles = 1)
    val (assigned, cents) = graft.operators.Similarity.ivfTrain(
      CommitLog.read(spark, corpus, 0L))
    VectorIndex.create(spark, idx, corpus, 0L, assigned, cents)
    CommitLog.delete(spark, corpus, col("vec_id") % 9 === 4)
    VectorIndex.refresh(spark, idx)
    val aRoot = VectorIndex.assignedRoot(idx)
    // candidate selection stays manifest partition pruning: 8 of 16
    // cell partitions listed, REGARDLESS of outstanding tombstones
    val cells = CommitLog.ProbeTree(Seq("cell" -> (0 until 8).map(_.toString).toSet), Nil)
    val (cand, pc) = CommitLog.prunedScan(spark, aRoot, CommitLog.latestVersion(aRoot).get, cells)
    val (total, read) = (pc.filesTotal, pc.files.size)
    assert(total === 16 && read === 8, s"pruning: $read of $total")
    // the mask is exactly ONE anti join on the pruned candidates —
    // never a product, never a per-row filter
    val p = VectorIndex.maskTombstones(spark, idx, cand)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), s"no anti join in masked probe:\n$p")
    assert(p.split("LeftAnti").length == 2, s"more than one anti join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // after purge the mask disappears — the unmasked fast path returns
    VectorIndex.purge(spark, idx)
    val p2 = VectorIndex.maskTombstones(spark, idx,
      CommitLog.prunedScan(spark, aRoot, CommitLog.latestVersion(aRoot).get, cells)._1)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("LeftAnti"), s"purged index still masks:\n$p2")
  }

  test("incremental view fold: zero key-relation collects, driver actions constant in vanished keys (r11)") {
    import graft.sources.{CommitLog, IncrementalView, Tables}
    import scala.jdk.CollectionConverters._
    // the r10 scale-killer: vanished keys collected to the driver for
    // an isInCollection delete — bounded by the CHANGED-key count,
    // which a mass delete makes table-sized. The r11 fold routes them
    // through the merge's distributed delete-keys relation. Pin both
    // halves: (a) no action during the fold collects the key-only
    // relation; (b) the NUMBER of driver actions is identical whether
    // 5 keys vanish or EVERY key vanishes.
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        actions.add((funcName, qe.analyzed.output.map(_.name))); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // listener delivery is async — poll until the captured set settles
    def settle(): Int = {
      var last = -1; var cur = actions.size(); var spins = 0
      while (cur != last && spins < 60) {
        last = cur; Thread.sleep(120); cur = actions.size(); spins += 1
      }
      cur
    }
    // the set-up's own actions may still be queued on the listener bus
    // when the listener registers; the bus is FIFO, so once a fence
    // query's event arrives every earlier one has been delivered
    def fence(): Unit = {
      spark.range(1).toDF("graft_fence").collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!actions.asScala.exists(_._2 == Seq("graft_fence")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
    }
    def foldActions(vanish: org.apache.spark.sql.Column): Seq[(String, Seq[String])] = {
      val src = java.nio.file.Files.createTempDirectory("graft_ivplan_s").toString
      val vw = java.nio.file.Files.createTempDirectory("graft_ivplan_v").toString
      CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
      CommitLog.append(spark, src, ev, nFiles = 2)
      IncrementalView.create(spark, vw, src, "event_id", "value")
      CommitLog.delete(spark, src, vanish)
      spark.listenerManager.register(qel)
      try { fence(); actions.clear(); IncrementalView.refresh(spark, vw); settle() }
      finally spark.listenerManager.unregister(qel)
      actions.asScala.toSeq
    }
    val tiny = foldActions(col("event_id") < 5)    // a few keys vanish
    val mass = foldActions(lit(true))              // EVERY key vanishes
    Seq("tiny" -> tiny, "mass" -> mass).foreach { case (name, acts) =>
      val keyCollects = acts.filter { case (fn, out) =>
        fn == "collect" && out == Seq("event_id")
      }
      assert(keyCollects.isEmpty,
        s"$name fold collected the key-only relation to the driver: $acts")
    }
    assert(tiny.size === mass.size,
      s"driver action count scales with vanished keys: tiny=${tiny.map(_._1)} mass=${mass.map(_._1)}")
  }

  test("dim-advance fold: zero key-relation collects, driver actions constant in dim-churn size (r12)") {
    import graft.sources.{CommitLog, IncrementalViewMulti, Tables}
    import scala.jdk.CollectionConverters._
    // the Δdim fold's affected-key set is bounded by the dim churn —
    // which a TOTAL remap makes dim-sized. Pin that it stays a
    // distributed relation end-to-end: (a) no action collects a
    // key-only relation (group keys or dim keys); (b) the driver
    // action COUNT is identical whether 1 user remaps or EVERY user
    // does.
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(1000)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        actions.add((funcName, qe.analyzed.output.map(_.name))); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def settle(): Int = {
      var last = -1; var cur = actions.size(); var spins = 0
      while (cur != last && spins < 60) {
        last = cur; Thread.sleep(120); cur = actions.size(); spins += 1
      }
      cur
    }
    // the set-up's own actions may still be queued on the listener bus
    // when the listener registers; the bus is FIFO, so once a fence
    // query's event arrives every earlier one has been delivered
    def fence(): Unit = {
      spark.range(1).toDF("graft_fence").collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!actions.asScala.exists(_._2 == Seq("graft_fence")) &&
          System.nanoTime() < deadline) Thread.sleep(10)
    }
    def dimFoldActions(remap: org.apache.spark.sql.Column): Seq[(String, Seq[String])] = {
      val fact = java.nio.file.Files.createTempDirectory("graft_ddplan_f").toString
      val dimT = java.nio.file.Files.createTempDirectory("graft_ddplan_d").toString
      val vw = java.nio.file.Files.createTempDirectory("graft_ddplan_v").toString
      CommitLog.setTableProperty(fact, "enableChangeDataFeed", "true")
      CommitLog.setTableProperty(dimT, "enableChangeDataFeed", "true")
      CommitLog.append(spark, fact, ev, nFiles = 1)
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("segment", concat(lit("s"), (col("user_id") % 3).cast("string")))
      CommitLog.append(spark, dimT, dim, nFiles = 1)
      IncrementalViewMulti.createJoined(spark, vw, fact, dimT, "user_id",
        Seq("segment"), Seq("value"))
      CommitLog.update(spark, dimT, remap, Seq("segment" -> lit("s_remap")))
      spark.listenerManager.register(qel)
      try { fence(); actions.clear(); IncrementalViewMulti.refresh(spark, vw); settle() }
      finally spark.listenerManager.unregister(qel)
      actions.asScala.toSeq
    }
    val oneUser = ev.select(col("user_id")).first().getLong(0)
    val tiny = dimFoldActions(col("user_id") === oneUser)
    val mass = dimFoldActions(lit(true))
    Seq("tiny" -> tiny, "mass" -> mass).foreach { case (name, acts) =>
      val keyCollects = acts.filter { case (fn, out) =>
        fn == "collect" && (out == Seq("segment") || out == Seq("user_id"))
      }
      assert(keyCollects.isEmpty,
        s"$name dim fold collected a key-only relation to the driver: $acts")
    }
    assert(tiny.size === mass.size,
      s"driver action count scales with dim churn: " +
        s"tiny=${tiny.map(_._1)} mass=${mass.map(_._1)}")
  }

  test("partition evolution: pruning stays pure log metadata — inputFiles == per-generation survivors (r13)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_pe_plan").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
    CommitLog.setTableProperty(root, "repartitionLayout", "day")
    val head = CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
    val aux = CommitLog.auxOf(root, head)
    // the probe's scan lists EXACTLY the manifest survivors: the
    // queried generation's matching files + every other-generation
    // file (unprunable for this query) — no directory listing, no
    // footer reads, and never a dropped matching file
    val (df, _) = CommitLog.prunedScan(spark, root, head,
      CommitLog.ProbeTree(Seq("event_type" -> Set("click")), Nil))
    val wantFiles = CommitLog.snapshotFiles(root, head).filter { f =>
      // manifest-relative form: data/<uuid>.parquet
      val jf = new java.io.File(f)
      aux.layoutOf(jf.getParentFile.getName + "/" + jf.getName) match {
        case Some(Seq(("event_type", v))) => v == "click"
        case _ => true
      }
    }.map(f => "file://" + new java.io.File(f).getAbsolutePath).toSet
    assert(df.inputFiles.toSet === wantFiles,
      s"pruned scan reads ${df.inputFiles.size} files, expected ${wantFiles.size}")
    // and the kept set is strictly smaller than the snapshot — the
    // old generation still prunes after the spec change
    assert(wantFiles.size < CommitLog.snapshotFiles(root, head).size)
  }
}
