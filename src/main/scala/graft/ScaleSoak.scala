package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-soak harness (SURVEY.md §6): replicate the sf0.1 fixtures ×N
  * into a scratch dir and time a headline key subset on them, so
  * O(n) and O(n²) plans separate — the bench's 5k docs / 2k vectors
  * cannot tell them apart, one order of magnitude can.
  *
  * The scale-up is engineered so TRUE result densities grow LINEARLY
  * with N (any super-linear runtime is then algorithmic, never a data
  * artifact):
  *  - keyed tables replicate with per-copy key offsets, preserving
  *    every FK relation copy-locally;
  *  - documents remap each copy's vocabulary (`w` → `w_cI`), so
  *    shingle/token overlap across copies is zero and near-dup pairs
  *    stay within copies (×N pairs, not ×N²);
  *  - part names append per-copy suffix tokens with pairwise edit
  *    distance ≥ 3 > k, so fuzzy-join pairs stay within copies;
  *  - embeddings circular-shift each copy by 6·I dims (norms and
  *    within-copy geometry exact; cross-copy cosine ~ background).
  *
  * Usage: `tools/run.sh graft.ScaleSoak [N] [keys...]` (default N=10,
  * watch-list keys). Prints one JSON line of per-key seconds.
  */
object ScaleSoak {

  /** Bump whenever `generate` changes shape or content: the version is
    * baked into the scratch dir name, so a stale staged copy from an
    * older generator can never be reused silently. */
  private val GenVersion = 2

  private val DefaultKeys = Seq(
    // the r4-verdict watch-list (candidate-pruned pair plans)
    "q_dedup_near_jaccard", "q_join_fuzzy", "q_dedup_cluster",
    "q_dedup_containment",
    // the rest of the bench headline
    "q_agg_group_pricing", "q_scan_filter_pushdown", "q_join_multiway",
    "q_sql_tpch_q3", "q_win_topk_group", "q_sessionize",
    "q_dedup_minhash", "q_sim_lsh_bucketed", "q_text_tfidf",
    "q_time_tumbling",
    // r5 additions
    "q_win_session_window", "q_time_interp", "q_embed_rproj",
    "q_scan_binaryfile", "q_join_dpp", "q_scan_schema_evolution",
    // r6 text-family watch list (r5 verdict: tfidf 4.7× at ×10 —
    // verify O(tokens + vocab); decontaminate/pack/vocab_prune join it)
    "q_text_decontaminate", "q_text_pack", "q_text_vocab_prune",
    "q_text_decontaminate_bloom", "q_dedup_incremental", "q_text_chunk",
    // r7/r8 heavy-key watch list (wedge enumeration, suffix keys, BPE
    // rounds, LM model join, frontier BFS — the keys whose slopes the
    // scaling story leans on)
    "q_graph_triangles", "q_graph_pagerank", "q_graph_bfs",
    "q_dedup_substring", "q_text_bpe", "q_text_bpe_apply",
    "q_text_ngram_lm", "q_text_langid_rank", "q_embed_pca",
    // r9 additions: persisted-index ANN probe, commit-log table layer,
    // optimizer-stress SQL, and the decimal-moment keys whose int64
    // headroom the soak scale is exactly what exposed
    "s_sim_index_build", "q_sim_ivf_probe", "s_table_commit",
    "q_table_changes", "q_table_time_travel",
    "q_sql_tpch_q21", "q_sql_tpch_q16", "q_sql_tpch_q2",
    "q_time_trend", "q_time_autocorr",
    // r9 batch 2: the widened TPC-H stress set (correlated-AVG and
    // disjunctive-pushdown traps deserve slope evidence), LPA rounds
    // (per-round 2 hash aggs — must scale with |E|, not |V|²), and
    // the one-scan PSI monitor
    "q_sql_tpch_q7", "q_sql_tpch_q11", "q_sql_tpch_q13",
    "q_sql_tpch_q14", "q_sql_tpch_q17", "q_sql_tpch_q19",
    "q_sql_tpch_q20", "q_sql_tpch_q22",
    "q_graph_label_prop", "q_quality_drift",
    // r9 batch 3: SemDeDup's intra-cluster pair join (must scale with
    // Σ n_c², not n²), hard-negative mining (blocked scoring + group
    // limit), CoW delete (cost ∝ dirty files), NFC narrow map, and
    // the decimal-moment outlier gate
    "q_dedup_semdedup", "q_sim_hard_negatives", "q_table_delete",
    "q_text_normalize", "q_embed_outliers",
    // r9 batch 4: streaming ingest through the log (commit rate vs
    // data rate), manifest-stats pruning (plan cost = metadata read),
    // frame-bounded rolling median
    "s_table_stream_commit", "q_table_stats_prune", "q_win_median",
    // r9 batch 5: manifest segments (commit cost O(new files); probe
    // prunes whole segments before reading per-file entries)
    "q_table_manifest_segments",
    // late-r9 batch: range-cluster optimize (per-bucket rewrites ∝
    // table), optimistic two-writer retry (contention = metadata
    // only), CCNet perplexity terciles (LM join + |eval|-row window),
    // IVFPQ composite (probe-pruned code scan + LUT agg + rerank)
    "q_table_optimize", "s_table_commit_retry",
    "q_quality_perplexity_bucket", "q_sim_ivfpq", "q_pipeline_curation",
    "q_table_add_column", "q_text_unigram_segment", "q_table_merge",
    "q_dedup_span_strip", "q_dedup_survivors", "s_table_stream_read",
    "q_table_restore",
    // r10 batch: partitioned commits (per-partition staging jobs ∝
    // partition count), typed multi-column stats (one stats agg per
    // append), z-order clustered optimize (cell grid rewrites ∝
    // table), row-level CDF (changed-row staging on the CoW path)
    "q_table_partition_prune", "q_table_stats_prune_ts",
    "q_table_optimize_zorder", "q_table_cdf",
    // r10 batch 2: the SQL front-end (catalog scans plan from one
    // manifest; INSERT INTO stages distributed; the maintenance
    // statements are metadata + the same clustered rewrite)
    "q_sql_table_time_travel", "q_sql_table_insert",
    "q_sql_table_restore", "q_sql_table_maintenance",
    // r10 batch 3: DELETE FROM / MERGE INTO through the parser (the
    // CoW writes themselves — cost ∝ dirty files + update volume),
    // and streaming-by-table-name (the version-diff source behind
    // the catalog identifier)
    "q_sql_table_dml", "s_table_stream_sql",
    // r10 batch 4: the CDF table-valued function (changelog plan
    // resolution; data volume ∝ changed rows) and the shape-changing
    // statements (overwrite rewrites ∝ incoming data; ALTER is
    // metadata-only)
    "q_sql_table_cdf", "q_sql_table_evolve",
    // DESCRIBE HISTORY is pure log metadata — soaked to prove the
    // statement cost is version-count-bounded, not data-bounded
    "q_sql_table_history",
    // streaming CDF: per-batch volume is one version's changed rows
    "s_table_stream_cdf",
    // CHECK constraints: one limit(1) probe per constraint per write
    "q_sql_table_constraints",
    // CTAS: cost is the SELECT + one partitioned stage, like INSERT
    "q_sql_table_ctas",
    // shallow clone: metadata-bounded fork + one dirty-file CoW delete
    "q_sql_table_clone",
    // partition-scoped optimize: rewrite ∝ one partition, not the table
    "q_sql_table_optimize_where",
    // time-based vacuum: floor resolution is one manifest parse/version
    "q_sql_table_vacuum_hours",
    // CoW UPDATE: cost ∝ dirty files (discovery is one pushdown scan);
    // the SQL form adds only parsing on top
    "q_table_update", "q_sql_table_update",
    // column mapping: rename/drop are one manifest write each; the
    // soaked cost is the fixture staging + one mapped CoW delete
    "q_table_column_mapping", "q_sql_table_rename_drop",
    // deletion vectors: write ∝ deleted rows (no rewrite), read adds
    // one broadcast anti-join until compaction purges
    "q_table_delete_dv", "q_sql_table_delete_dv",
    // MoR update (sidecar + post-image append ∝ updated rows) and the
    // surgical purge (rewrite ∝ vectored files only)
    "q_table_update_dv", "q_sql_table_reorg",
    // incremental view maintenance: refresh ∝ changed rows + a MERGE
    // over affected view keys, never the source; the streaming form
    // folds per micro-batch, idempotent at version granularity
    "q_table_incr_view", "s_table_view_stream", "q_sql_table_incr_view",
    // DESCRIBE DETAIL is one manifest parse + a history walk — the
    // soaked cost is its fixture's staging + the masked read
    "q_sql_table_detail",
    // r11 batch: multi-agg IVM (arith path ∝ changed rows; recompute
    // path ∝ affected keys' source rows), two-level view chain (each
    // level ∝ ITS deltas), incremental ANN-index refresh (∝ new rows,
    // never a retrain), history checkpoint (walk ≤ interval parses —
    // the soaked cost is the 24-commit staging), evolving merge
    // (widening is metadata-only on top of the CoW merge)
    "q_table_incr_view_minmax", "q_table_view_chain",
    "s_sim_index_refresh", "q_table_history_checkpoint",
    "q_table_merge_evolve", "q_table_incr_view_multikey",
    "q_sql_table_incr_view_multi", "s_sim_index_delete",
    "q_table_incr_view_join", "q_sql_table_incr_view_join",
    // r12 batch: Δdim propagation (dim fold ∝ changed-dim-key fact
    // rows + affected group keys), continuous multi/join view
    // maintenance (per-trigger ∝ batch change rows), depth-3 chains
    // (each level ∝ ITS deltas), AVG statement surface (derivation is
    // a projection over folded state)
    "q_table_incr_view_join_dimupd", "s_table_view_stream_multi",
    "q_table_view_chain3", "q_sql_table_incr_view_avg",
    // auto-compact: the policy compaction is one total rewrite when
    // the threshold crosses — cost ∝ table at the trigger commit,
    // amortized O(1/threshold) per append
    "q_table_auto_compact",
    // generated columns: fill/validate is one projection / one
    // limit(1) probe per write; the derived-partition layout prunes
    // from log metadata alone
    "q_table_generated_cols",
    // mixed-clause MERGE (CDC apply): one atomic commit carrying
    // deletes+updates+inserts; cost ∝ dirty files + feed volume
    "q_sql_table_merge_delete",
    // type widening: a metadata-only schema upgrade — narrow files
    // read natively under the widened schema, zero rewrite
    "q_table_type_widening",
    // r13 batch: continuous dim-advance (per-trigger dim check is one
    // metadata read; the Δdim fold ∝ changed-dim-key fact rows),
    // STDDEV/VAR statement surface (one extra decimal agg riding the
    // existing changelog pass), partition spec evolution (planning
    // O(manifest); each probe reads its generation's match + the
    // other generation in full)
    "s_table_view_stream_dimupd", "q_sql_table_incr_view_stddev",
    "q_table_partition_evolve",
    // DEFAULT fill is one projection; IDENTITY allocation is one
    // count + one narrow zipWithIndex map per commit (no shuffle)
    "q_table_default_cols", "q_table_identity_cols",
    // r14: sample variance derives at read from the SAME (total, ss,
    // nv) triple — zero new folded state, one more projection
    "q_sql_table_incr_view_stddev_samp",
    // r14: identity × retry-path streaming ingest — a forced lost
    // race per micro-batch; contention restages data only when the
    // winner allocated, else manifest-metadata cost
    "s_table_stream_identity",
    // r14: composite partition specs — planning stays O(manifest);
    // the composite probe reads 1 tuple file + the foreign generation
    "q_table_partition_evolve_multi",
    // r14: continuous depth-2 chain — level 2 folds level 1's OWN
    // changelog per trigger (cost ∝ level-1 deltas); the per-batch
    // full-recompute witness is the deliberate test-harness cost
    "s_table_view_chain_stream",
    // r15: SQL pushdown scans — planning is ONE manifest parse; the
    // probe cost must stay flat while the pruned read scales with the
    // SURVIVING files only; the DV rebase is one bounded head-listing
    // carry + a masks-∝-churn MoR update under a forced race
    "q_sql_table_pruned_scan", "q_sql_table_pruned_scan_multi",
    "q_table_prune_combined", "s_table_dv_rebase",
    // r15: SQL merge evolution — one metadata-only widening commit
    // ahead of the ordinary shared merge path
    "q_sql_table_merge_evolve",
    // r15: PRUNE ESTIMATE is one optimizer pass + one manifest parse —
    // cost must stay flat in data volume
    "q_sql_table_prune_estimate",
    // r15: the metadata COUNT/MIN/MAX — cost must be flat (one
    // manifest parse) however large the data grows
    "q_sql_table_agg_pushdown",
    // r15: partition inventory — one manifest parse, no listing
    "q_sql_table_show_partitions",
    // r15: storage-partitioned join — zero-exchange SMJ whose cost is
    // the scans'; LIMIT pushdown — the file prefix grows with the
    // limit, never the table; streaming partition subscription — the
    // subscribed delta, never the version's
    "q_sql_table_join_spj", "q_sql_table_limit_pushdown",
    "s_table_stream_pruned",
    // r15: TopN pushdown — the planned prefix is bound-overlap-sized,
    // never the table; the slope is the five range-sliced INSERTs
    "q_sql_table_topn_pushdown",
    // r15: grouped metadata aggregates — the partition profile is one
    // manifest parse at any data size; the slope is staging
    "q_sql_table_agg_pushdown_grouped",
    // r15: hash-bucket co-partitioning — the zero-exchange join's cost
    // is the scans'; the point lookup stays one bucket at any size
    "q_sql_table_join_spj_bucket",
    // r17: segmented metadata answers — COUNT(*)/MIN/MAX and the LIMIT
    // prefix are manifest parses at any data size; the slope is the
    // four appendSegment stagings. Prefix enumeration is one pass over
    // the cached layout value universe, data-size-independent.
    "q_sql_table_seg_agg", "q_sql_table_prune_prefix",
    // r18: segmented × layouts (the two-level partition probe is one
    // manifest parse + surviving-segment reads at any size), the
    // generalized enumerations (one pass over the cached universe),
    // the segment-first TopN envelope, and the per-segment streaming
    // drain — each key's read side is metadata-sized; slopes are
    // staging
    "q_sql_table_seg_prune_part", "q_sql_table_prune_range",
    "q_sql_table_seg_topn", "s_table_stream_segmented",
    "q_sql_table_seg_agg_part", "q_sql_table_seg_peek",
    // the r10 verdict's mass-delete scenario, soaked as its own
    // fixture (below — not a registry key): EVERY view key vanishes
    // in one fold; the driver-OOM shape the r11 distributed
    // delete-keys rework exists for
    "x_iv_mass_delete")

  /** Soak-only fixtures (not registry keys): scenarios the soak must
    * time that no oracle-checked key stages at soak scale. */
  private val extraSoaks: Map[String, (SparkSession, String) => Unit] = Map(
    "x_iv_mass_delete" -> { (s, dir) =>
      // deleteOnExit like the registry fixtures — these two trees are
      // TABLE-sized (full events fixture + a table-sized CDF
      // changelog), so a ×20 soak run must not leak them (r12, ADVICE)
      val srcDir = java.nio.file.Files.createTempDirectory("soak_ivmass_s")
      val vwDir = java.nio.file.Files.createTempDirectory("soak_ivmass_v")
      Seq(srcDir, vwDir).foreach(_.toFile.deleteOnExit())
      val src = srcDir.toString
      val vw = vwDir.toString
      graft.sources.CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
      val ev = graft.sources.Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      graft.sources.CommitLog.append(s, src, ev, nFiles = 4)
      graft.sources.IncrementalView.create(s, vw, src, "event_id", "value")
      // the retention-purge shape: one delete vanishes EVERY key
      graft.sources.CommitLog.delete(s, src, lit(true))
      val (v1, _) = graft.sources.IncrementalView.refresh(s, vw)
      require(graft.sources.CommitLog.read(s, vw, v1).isEmpty,
        "mass-delete fold left rows behind")
    })

  /** Per-copy part-name suffix tokens, pairwise Levenshtein ≥ 3: keeps
    * every cross-copy name pair out of the k=2 fuzzy threshold. */
  private val suffixes = Seq("aaa", "bbb", "ccc", "ddd", "eee",
    "fff", "ggg", "hhh", "iii", "jjj", "kkk", "lll", "mmm", "nnn",
    "ooo", "ppp", "qqq", "rrr", "sss", "ttt")

  def generate(s: SparkSession, srcDir: String, outDir: String, n: Int): Unit = {
    require(n <= suffixes.length, s"at most ${suffixes.length} copies")
    def src(t: String): DataFrame = graft.sources.Tables(s, srcDir, t)
    def copies(t: String)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => remap(src(t), i)).reduce(_.union(_))
    def off(c: String, step: Long, i: Int) =
      (col(c) + lit(step * i)).as(c)

    // key strides: one power-of-ten above each table's max key keeps
    // every copy's key range disjoint and human-readable
    val C = 1000000L; val O = 10000000L; val P = 1000000L
    val S = 100000L; val E = 10000000L; val D = 1000000L

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      "customer" -> copies("customer") { (df, i) =>
        df.select(off("c_custkey", C, i), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
      },
      "supplier" -> copies("supplier") { (df, i) =>
        df.select(off("s_suppkey", S, i), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
      },
      "part" -> copies("part") { (df, i) =>
        df.select(off("p_partkey", P, i),
          concat(col("p_name"), lit(" " + suffixes(i))).as("p_name"),
          col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
      },
      "orders" -> copies("orders") { (df, i) =>
        df.select(off("o_orderkey", O, i), off("o_custkey", C, i),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      },
      "lineitem" -> copies("lineitem") { (df, i) =>
        df.select(off("l_orderkey", O, i), off("l_partkey", P, i),
          off("l_suppkey", S, i), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      },
      "events" -> copies("events") { (df, i) =>
        df.select(off("event_id", E, i), col("ts"), off("user_id", C, i),
          col("event_type"), col("value"), col("props"))
      },
      "documents" -> copies("documents") { (df, i) =>
        df.select(off("doc_id", D, i), col("lang"), col("source"),
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"_c$i"))), " ").as("text"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"))
      },
      "embeddings" -> copies("embeddings") { (df, i) =>
        val shift = (6 * i) % 64
        df.select(off("vec_id", D, i),
          concat(slice(col("embedding"), shift + 1, 64 - shift),
            slice(col("embedding"), 1, shift)).as("embedding"),
          col("label"))
      })

    tables.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      System.err.println(s"[soak] staged $t")
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val keys = if (args.length > 1) args.drop(1).toSeq else DefaultKeys
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = s"/tmp/graft_soak_v${GenVersion}_x$n"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Mirror Stage.once: regenerate when the staged copy is absent OR
    // any source fixture is newer than the staged _SUCCESS marker, so
    // a driver fixture regen is never soaked through a stale copy.
    val marker = new java.io.File(outDir, "embeddings.parquet/_SUCCESS")
    // Recursive newest-mtime: a rewrite that only touches files nested
    // inside a table dir need not bump the dir's own mtime, and an
    // existing-but-EMPTY srcDir must read as "unknown ⇒ regenerate"
    // (Long.MaxValue), not throw on .max of an empty array.
    def newestUnder(f: java.io.File): Long =
      Option(f.listFiles()).map(_.foldLeft(f.lastModified()) {
        (acc, c) => math.max(acc, if (c.isDirectory) newestUnder(c) else c.lastModified())
      }).getOrElse(f.lastModified())
    val srcRoot = new java.io.File(srcDir)
    val srcNewest =
      if (Option(srcRoot.listFiles()).exists(_.nonEmpty)) newestUnder(srcRoot)
      else Long.MaxValue
    if (!marker.exists() || srcNewest > marker.lastModified()) {
      System.err.println(s"[soak] generating ×$n fixtures under $outDir")
      generate(spark, srcDir, outDir, n)
    }
    // the shuffle.partitions ∝ data rule the ×20 soak proved, now code
    // (Confs.partitionsFor): sized from the staged bytes, so the soak
    // runs under the knob the engine prescribes instead of the
    // bench-scale fixed fan-out
    // Volume feed = staged bytes × an expansion factor: the spilling
    // stages shuffle DESERIALIZED, EXPLODED data (the shingle table is
    // ~10× its parquet bytes), so sizing on compressed input bytes
    // under-partitions exactly the keys the rule exists for (measured
    // x20: near-jaccard 57 s at the 32-partition floor vs 43.5 s at
    // 128 in r5). SPARK_GRAFT_SOAK_PARTITIONS overrides for A/B runs.
    val staged = Confs.dirBytes(outDir)
    val parts = sys.env.get("SPARK_GRAFT_SOAK_PARTITIONS").map(_.toInt)
      .getOrElse(Confs.partitionsFor(staged * 16, cpus.toInt))
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    System.err.println(s"[soak] staged ${staged >> 20} MiB -> shuffle.partitions=$parts")
    val results = keys.map { k =>
      val t0 = System.nanoTime()
      val ok =
        try {
          extraSoaks.get(k) match {
            case Some(f) => f(spark, outDir)
            case None => SparkEntry.queries(k)(spark, outDir).count()
          }
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[soak] $k FAILED: ${e.getMessage}"); false }
      // a failed key must never read as a fast run in the ratio table
      val sec = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      System.err.println(f"[soak] $k%-26s $sec%8.2fs")
      k -> sec
    }
    spark.stop()
    println(results.map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)) }
      .mkString(s"""{"scale":"x$n","queries":{""", ",", "}}"))
    System.out.flush()
  }
}
