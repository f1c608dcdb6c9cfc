package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: `explain("formatted")` output for the
  * representative keys — the physical-plan evidence behind SCALING.md
  * (pushdown reaching scans, broadcasts, partial aggs, WindowGroupLimit,
  * band-key equi joins on the LSH paths).
  *
  * Run: tools/run.sh graft.Plans [sfDir]
  */
object Plans {
  val Keys = Seq(
    "q_agg_group_pricing",    // flagship: pushdown + partial/final agg
    "q_scan_filter_pushdown", // PushedFilters at the parquet scan
    "q_join_broadcast",       // dimension broadcast
    "q_join_asof",            // as-of: union-merge, single exchange (r2)
    "q_sim_cosine_topk",      // blocked exact pair equi-join (r2)
    "q_decode_registry",      // registry decode: narrow codegen projection (r2)
    "q_win_topk_group",       // rank pushdown
    "q_limit_topk",           // TakeOrderedAndProject
    "q_dedup_near_jaccard",   // prefix-filtered similarity join
    "q_dedup_minhash",        // banded LSH equi join
    "q_sim_lsh_bucketed",     // SRP band join + codegen distance
    "q_sim_knn_query",        // broadcast query side
    "q_join_bucketed",        // co-located bucketed SMJ (r2)
    "q_join_skew_salted",     // salted skew join: (key, salt) exchange (r2)
    "q_join_interval_binned", // binned range join: bucket equi, no BNLJ (r2)
    "q_scan_partition_prune", // predicate resolved against dir metadata (r2)
    "q_join_bloom_filtered",  // runtime bloom filter at the probe scan (r2)
    "q_dedup_containment",    // asymmetric prefix-filtered containment join (r2)
    "q_sql_tpch_q3",          // SQL front-end → same Catalyst plan
    "q_text_url_filter",      // broadcast LeftAnti blocklist join (r4)
    "q_embed_kmeans",         // broadcast-centroid narrow assignment (r4)
    "q_layout_zorder",        // z-value narrow map + single hash agg (r4)
    "q_join_fuzzy",           // PassJoin segment-keyed equi join (r4)
    "q_sql_recursive_cte",    // UnionLoop spine + single fact agg (r4)
    "q_sql_lateral",          // lateral LIMIT 1 → window top-1 (r4)
    "q_sim_range_search",     // broadcast radius filter, no shuffle (r4)
    "q_unpivot",              // narrow Expand melt (r4)
    "q_join_dpp",             // dynamic partition pruning subquery (r5)
    "q_scan_schema_evolution", // merged-generation scan, gen out of ReadSchema (r5)
    "q_win_session_window",   // built-in gap-merged session windows (r5)
    "q_embed_rproj",          // derived-matrix projection: narrow map (r5)
    "q_text_vocab_prune",     // memoized token stream: checkpoint reads, no re-scan (r6)
    "q_text_decontaminate_bloom", // bloom_filter_agg + scalar-subquery might_contain probe (r6)
    "q_dedup_incremental",    // new-prefix × hist-prefix equi join, no cartesian (r6)
    "q_text_chunk",           // sliding-window chunking: narrow explode+slice, zero hash exchange (r6)
    "q_merge_cdc",            // CDC compaction: 3-way union of one scan, single per-key window shuffle (r8)
    "q_text_ngram_lm",        // bigram model hash aggs + eval-bigram equi join + 1-row V broadcast (r8)
    "q_sample_temperature",   // two-pass: source counts → broadcast rate table → narrow keep map (r8)
    "q_layout_hilbert",       // 8-round integer curve index: narrow map + one hash agg (r8)
    "q_join_asof_tolerance",  // nearest-asof: two direction frames on ONE shuffle-sort (r8)
    "q_dedup_semdedup",       // SemDeDup: broadcast-centroid assignment + cid-keyed pair join (r9)
    "q_sim_hard_negatives",   // blocked scoring + WindowGroupLimit per-anchor top-3 (r9)
    "q_text_normalize",       // NFC codegen narrow map, zero exchange before the sort (r9)
    "q_sim_ivfpq",            // IVFPQ: pruned cell scan + broadcast LUT + ADC agg + 20-row rerank (late r9)
    "q_pipeline_curation",    // five-stage funnel in one DAG: memoized shingle checkpoints + unioned partial aggs (late r9)
    "q_sql_table_join_spj",   // storage-partitioned join: key-grouped scans, ZERO exchanges (r15)
    "q_sql_table_topn_pushdown", // ORDER BY + LIMIT planning only bound-overlapping files (r15)
    "q_sql_table_agg_pushdown_grouped", // partition profile answered by the metadata-aggregate scan (r15)
    "q_sql_table_join_spj_bucket", // hash-bucket co-partitioned join, zero exchanges (r15)
    "q_sql_table_prune_or",   // OR-disjunction file pruning: branch unions (r16)
    "q_sql_table_agg_pushdown_filtered", // filtered COUNT/MIN/MAX answered by the metadata-aggregate scan (r16)
    "q_sql_table_topn_multi", // multi-column ORDER BY pushing the first column's envelope (r16)
    "q_sql_table_seg_agg",    // segmented COUNT(*)/MIN/MAX + segment-first LIMIT from manifest totals (r17)
    "q_sql_table_prune_prefix", // prefix probes by layout-value enumeration (r17; consumed since r18)
    "q_sql_table_seg_prune_part", // two-level partition pruning on partitioned+segmented tables (r18)
    "q_sql_table_prune_range",  // range/suffix/substring enumeration probes + consumption (r18)
    "q_sql_table_seg_agg_part", // segmented grouped/filtered metadata aggregates (r18)
    "q_sql_table_seg_peek")   // filtered LIMIT/TopN over surviving segment files (r18)

  /** Hand-written analysis emitted after a key's plan — kept here so
    * regeneration never loses it. */
  val notes: Map[String, String] = Map(
    "q_sql_table_join_spj" ->
      """NOTE: the plan above is the key's RETURNED frame re-planned under
        |DEFAULT confs (the key restores every conf after its proof run), so
        |it shows the ordinary broadcast join. The run the key actually
        |grades happens in-key under the opt-in confs
        |(`spark.sql.sources.v2.bucketing.enabled` +
        |`spark.graft.preserveDataGrouping`, broadcast disabled) where the
        |executed plan is
        |
        |```
        |SortMergeJoin [day, user_id], [day, user_id], Inner
        |   :- Sort ... +- BatchScan graft.f1 (KeyGroupedPartitioning: day)
        |   +- Sort ... +- BatchScan graft.f2 (KeyGroupedPartitioning: day)
        |```
        |
        |— ZERO Exchange nodes on either side, and the downstream GROUP BY
        |day reuses the same clustering. The key's zero_shuffle_proof column
        |certifies exactly that (1 = the final adaptive plan contained no
        |Exchange anywhere); CatalogSpec additionally pins the values against
        |a shuffled recompute, the no-conf fallback, and the
        |mixed-generation fallback.""".stripMargin,
    "q_sql_table_join_spj_bucket" ->
      """Same dump caveat as q_sql_table_join_spj (the returned frame
        |re-plans under restored confs). In-key, under the opt-in confs,
        |the executed join+agg plan is key-grouped on `bucket(8, user_id)`
        |— the catalog's V2 bucket function (FunctionCatalog) resolves the
        |reported transform, both sides load the SAME function so Spark's
        |co-partition check holds by canonical name, and the plan carries
        |ZERO Exchange nodes on a HIGH-CARDINALITY join key (user_id) where
        |an identity spec could never co-partition. The same spec turns
        |`user_id = v` into a plan-time point lookup: one bucket's file of
        |eight (the key's files_read_point column pins it).""".stripMargin,
    "q_sql_table_topn_pushdown" ->
      """The scan line carries `PushedTopN: event_id ASC LIMIT n` and the
        |file-level effect is pinned by the key's counters (2 of 5 files ASC,
        |1 of 5 DESC — disjoint range slices); Spark's own
        |TakeOrderedAndProject still runs above the scan (partial pushdown),
        |so the sort visible here operates on the planned prefix only.""".stripMargin,
    "q_sql_table_agg_pushdown_grouped" ->
      """The leaf is the metadata-aggregate scan (`graft metadata-aggregate
        |[day, count(*), count, min, max]`) — one row per layout tuple read
        |from the manifest, zero data I/O; the HashAggregate above it is
        |Spark's final no-op fold over 7 metadata rows.""".stripMargin,
    "q_join_skew_salted" ->
      """### Salting vs AQE skew-split on the same hot key (r5 measurement)
        |
        |PlanSpec ("AQE skew-split repairs the same hot key q_join_skew_salted
        |pre-salts") runs the SAME skewed join unsalted with AQE's
        |OptimizeSkewedJoin at fixture-scaled thresholds. The final plan's join
        |line flips to
        |
        |```
        |SortMergeJoin [k#12L], [k#21L], Inner, skew=true
        |   :- Sort ... +- AQEShuffleRead skewed +- ShuffleQueryStage 0
        |   +- Sort ... +- AQEShuffleRead skewed +- ShuffleQueryStage 1
        |```
        |
        |i.e. the oversized reduce partition is read as several map-range
        |slices, each matched against a full copy of the other side's
        |partition — the read-side equivalent of what salting encodes into the
        |keys up front. Division of labor, measured while building the test:
        |
        |- **AQE split fires only when the skewed partition spans MULTIPLE map
        |  outputs** — it slices along mapper boundaries, so a single-map-task
        |  stage (one small file locally; one giant unsplittable input at
        |  scale) is formally skewed but unsplittable and the rule silently
        |  declines. Salting has no such precondition.
        |- **AQE repairs JOIN shuffles only.** A skewed `groupBy` key, a skewed
        |  streaming stateful shuffle (no AQE in streaming), or a join whose
        |  split would break a downstream partitioning requirement (unless
        |  forceOptimizeSkewedJoin) still need the manual salt.
        |- When both apply, AQE is strictly cheaper: no S× replication of the
        |  build side, and it only engages on partitions that actually
        |  materialized oversized. The salted key remains the portable fix —
        |  identical output proven by the plain-join oracle.""".stripMargin,
    "q_text_vocab_prune" ->
      """Every leaf above is `Scan ExistingRDD` — the eagerly-checkpointed
        |token stream from the r6 PlanKey memo. The df aggregation, the
        |corpus-size scalar, and the per-doc OOV pass all read the SAME
        |materialization (one tokenize+explode over the corpus, not three),
        |and the vocabulary membership join is a BroadcastHashJoin;
        |PlanSpec pins zero FileScans, broadcast membership, and no
        |SortMergeJoin for this key.""".stripMargin,
    "q_text_decontaminate_bloom" ->
      """The train side collapses into ONE `bloom_filter_agg` row (partial
        |blooms merged at a single reducer — a fixed ~1 MiB bitset
        |regardless of corpus size), broadcast to the eval side, whose
        |probe is the codegen `might_contain` in a narrow map: no shuffled
        |join side exists at any scale. This is the implemented 100 TB
        |ship path of q_text_decontaminate (whose exact twin materializes
        |the distinct train-shingle table instead); TextSpec asserts
        |bloom ⊇ exact per doc.""".stripMargin,
    "q_sql_table_prune_or" ->
      """Both probe queries surface their disjunctions in
        |`PushedPruneFilters` (`Or(EqualTo(day,1), And(...))`): every
        |branch translated, so planInputPartitions keeps the UNION of the
        |branches' file sets (3 of 14 on the day×half staging) — while
        |the `value`-branch query shows NO pushed Or (an opaque branch
        |refuses the whole probe) and plans every file. Row-level filters
        |still run above the scan unless separately consumed, so the
        |translation is never load-bearing for correctness.""".stripMargin,
    "q_sql_table_agg_pushdown_filtered" ->
      """The filtered aggregate's scan is `graft metadata-aggregate
        |[count(*), count, min, max]` — the CONSUMED `day='3'` left no
        |residual, so Spark pushed the whole aggregation and the answer
        |folds only the surviving files' manifest entries; no parquet
        |scan node exists in the plan. The contrast query (`WHERE
        |event_id <= k`) keeps a residual Filter and runs the ordinary
        |HashAggregate over the (stats-pruned) file scan.""".stripMargin,
    "q_sql_table_topn_multi" ->
      """`PushedTopN: event_id ASC LIMIT n` rides the scan even though the
        |ORDER BY carries a tie-break column — the first column's envelope
        |is the file decision, and TakeOrderedAndProject above the scan
        |does the real two-column sort over the planned prefix only
        |(2 of 5 files ASC, 1 DESC on the range-sliced staging).""".stripMargin,
    "q_sql_table_seg_agg" ->
      """The SEGMENTED table's `COUNT(*)/MIN/MAX` is the `graft
        |metadata-aggregate` scan — the answer folds the version manifest's
        |per-segment row totals and bounds; neither a data file nor a segment
        |file is opened. The LIMIT witness (n_limit_planned=2,
        |n_segs_opened=2) pins the segment-first prefix: one whole segment off
        |its manifest row total plus the boundary segment's per-file counts,
        |segments 3 and 4 never read. The non-stats MIN(value) contrast query
        |carries no metadata-aggregate node (nonstats_minmax_scans=1) — no
        |per-file column stats exist for it by design, so the exact scan
        |runs.""".stripMargin,
    "q_sql_table_prune_prefix" ->
      """`StringStartsWith(grp, a)` rides the scan as a PRUNE filter: the
        |probe enumerates the manifest's recorded layout groups (a0, a1, b0,
        |b1) and keeps exactly the matching two — 2 of 4 files plan. Since
        |r18 the prefix is also CONSUMED on this guard-stamped, fully-covered
        |layout (file membership IS row membership), so no residual Filter
        |node appears above the scan; the non-layout contrast (event_type
        |LIKE 'z%') and the unstamped-table case contribute no probe, keep
        |their row-level Filter, and plan everything.""".stripMargin,
    "q_sql_table_seg_prune_part" ->
      """The partitioned+SEGMENTED table's `day = '3'` carries the layout
        |probe in `PushedPruneFilters` and plans through the TWO-LEVEL
        |decision: the segment refs' layout-value universes admit only seg1
        |(one manifest parse — seg2's universe {4,5,6} shares no accepted
        |value), and seg1's per-file layout entries keep exactly the day-3
        |file — 1 of 7 files, 1 of 2 segments, witnessed off the query's own
        |scan. The range form (`day >= '5'`) enumerates the UNION universe
        |and admits only seg2's two files; the non-layout probe (user_id)
        |contributes nothing and plans all 7.""".stripMargin,
    "q_sql_table_prune_range" ->
      """`grp >= 'b0'` is CONSUMED: no Filter node sits above the scan — the
        |enumeration over the recorded universe keeps exactly b0/b1 under
        |UTF-8 binary order, and file membership is row membership on the
        |guard-stamped identity layout. The composed `COUNT(*) WHERE grp >=
        |'b0'` therefore collapses to the `graft metadata-aggregate` leaf
        |(one manifest parse). The LONG-layout contrast (`num <= 10`) pins
        |NUMERIC enumeration semantics — 11 of 14 groups where a text
        |compare would keep 3 — and the suffix/substring forms
        |(`LIKE '%1'`, `LIKE '%0%'`) each plan their 2 matching groups.""".stripMargin,
    "q_sql_table_seg_agg_part" ->
      """The partition profile `GROUP BY day` on the partitioned+segmented
        |table is the `graft metadata-aggregate [day, count(*)]` leaf — the
        |groups fold the surviving files' footer counts read in the same
        |O(surviving segments) pass the prune makes; the NULL sentinel's
        |group rides along as a NULL key. The filtered forms (`WHERE
        |day='5'`, `WHERE day >= '5'`, `WHERE day IS NOT NULL`) consume
        |their predicates — the IS NOT NULL answer leans on the sentinel
        |EXCLUSION being enforced at both prune levels — and the COUNT of a
        |non-stats column keeps the ordinary HashAggregate over the pruned
        |scan (refusal flag pinned).""".stripMargin,
    "q_sql_table_seg_peek" ->
      """Both peeks ride consumed filters: `WHERE day='3' LIMIT 1` carries
        |`PushedLimit: 1` on the scan and plans ONE file after opening ONE
        |segment (the prefix walks the filter's surviving segments in
        |manifest order and stops at the covered row count); the DESC TopN
        |carries `PushedTopN` and plans only the UPPER of the two disjoint
        |day-3 files (the lower file's hi sits below the envelope cutoff).
        |Spark's GlobalLimit/TakeOrderedAndProject still run above the scan
        |(partial pushdown), so planning can never change results — the
        |non-consumable contrast (`value > -1e9`) keeps its residual and
        |Spark never pushes the peek at all.""".stripMargin)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative keys\n\n")
    sb.append(s"Generated by `tools/run.sh graft.Plans` on `$sfDir`.\n")
    sb.append("The plan-shape assertions in PlanSpec pin the load-bearing\n")
    sb.append("properties; this file is the full `explain(\"formatted\")`\n")
    sb.append("evidence for review alongside SCALING.md.\n")
    Keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $k\n\n```\n$plan```\n")
      notes.get(k).foreach(n => sb.append(s"\n$n\n"))
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${Keys.size} keys)")
    spark.stop()
  }
}
