package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Det._
import graft.functions.VectorExprs
import graft.sources.{CommitLog, Tables, VectorIndex}

/** B10 (similarity half) — vector similarity search over `embeddings`
  * (SURVEY.md §2 B10): brute-force cosine top-k (the exactness
  * baseline), fixed-query k-NN, and the random-projection LSH bucketed
  * path for scale.
  *
  * 100 TB posture: the brute-force self-join is O(n²) and exists as
  * the correctness baseline + small-side path; the production path is
  * q_sim_lsh_bucketed (candidates from hash buckets — the join keys
  * become (band, bucket), so the shuffle is linear in n, and only
  * bucket-colliding pairs are scored). The cosine kernel itself is the
  * codegen'd [[graft.functions.CosineSimilarity]] expression, so
  * pair scoring stays inside whole-stage codegen; `q_sim_knn_query`
  * broadcasts the 1-row query side (no shuffle of the n-row side at
  * all, and TakeOrderedAndProject does a per-partition top-k before
  * the single-driver merge).
  */
object Similarity {

  /** Sequential-fold cosine over ARRAY<DOUBLE> via public HOF API —
    * numerics twin of the codegen expression (asserted in tests). */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Codegen cosine (registered native expression). Callers must have
    * run [[VectorExprs.register]] on the session. */
  def cosine(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  private[graft] def vecs(s: SparkSession, dir: String): DataFrame = {
    VectorExprs.register(s)
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
  }

  /** EXACT all-pairs cosine scoring as a blocked equi-join (the
    * scale-shaped replacement for the r1 `va < vb` pair self-join,
    * which planned a BroadcastNestedLoopJoin — a driver-memory-bound
    * broadcast of the whole table at scale).
    *
    * Why not LSH candidates here: these keys' thresholds sit in the
    * near-orthogonal regime (fixture cosines span [−0.5, 0.51], τ =
    * 0.45 ⇒ 63° vs ~84° background). Hyperplane banding calibrated for
    * recall ≈ 1 at 63° admits ≈ 98% of background pairs (measured:
    * 64×4-bit tables made the keys 4–7× SLOWER than brute force at
    * sf0.1) — LSH has no selectivity without an angular gap. Exact
    * all-pairs work is irreducibly O(n²); what CAN scale is the
    * shuffle and the task shape:
    *
    *   - each vector gets a block id (`vec_id mod B`); the B(B+1)/2
    *     upper-triangle block pairs form a tiny broadcast grid;
    *   - the left side replicates to its grid row (broadcast hash
    *     join, no shuffle), the pair join is then an EQUI-join on the
    *     block key: shuffle volume O(n·B/2 + n), never O(n²) rows;
    *   - each grid cell scores (n/B)² pairs with the codegen cosine
    *     kernel inside the join — bounded, embarrassingly-parallel
    *     tasks; B is chosen ≈ √(2·cores) locally and would scale with
    *     cluster cores at 100 TB.
    *
    * Output is exactly the ordered pair set (va < vb) with unrounded
    * cosine `c` — byte-identical to the brute-force formulation
    * (asserted in SimilaritySpec), with no nested-loop join in the
    * plan (asserted in PlanSpec). */
  /** Deliberately NOT memoized/checkpointed (unlike Dedup's pair
    * table): both consumers reduce the 2M-pair stream in-flight —
    * top-k via TakeOrderedAndProject, the τ filter as a narrow
    * predicate — so a shared materialization would write the full
    * scored pair set to block storage only to re-read a sliver
    * (measured ~3× slower than letting each key stream it). */
  def blockedScoredPairs(e: DataFrame, nBlocks: Int = 16): DataFrame = {
    VectorExprs.register(e.sparkSession)
    import e.sparkSession.implicits._
    val grid = (for { i <- 0 until nBlocks; j <- i until nBlocks } yield (i, j))
      .toDF("bi", "bj")
    val withBlk = e.withColumn("blk",
      pmod(col("vec_id"), lit(nBlocks)).cast("int"))
    val lhs = withBlk.join(broadcast(grid), col("blk") === col("bi"))
      .select(col("bi"), col("bj"), col("vec_id").as("va"), col("v").as("a"))
    val rhs = withBlk
      .select(col("blk").as("rblk"), col("vec_id").as("vb"), col("v").as("b"))
    // off-diagonal cells hold each unordered pair exactly once (the two
    // blocks differ); diagonal cells need va < vb to drop self/mirror
    // pairs. Orientation is normalized afterwards (cosine is symmetric).
    lhs.join(rhs, col("bj") === col("rblk") &&
        (col("bi") =!= col("bj") || col("va") < col("vb")))
      .withColumn("c", cosine(col("a"), col("b")))
      .select(least(col("va"), col("vb")).as("va"),
        greatest(col("va"), col("vb")).as("vb"), col("c"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_cosine_topk" -> { (s, dir) =>
      // top-10 most-similar pairs; deterministic ties via
      // (cosine DESC, va, vb) on the UNROUNDED double. Pairs come from
      // the blocked exact join (no nested-loop, bounded tasks), then
      // TakeOrderedAndProject does per-partition top-k before the
      // single driver merge.
      ordered(blockedScoredPairs(vecs(s, dir))
        .orderBy(col("c").desc, col("va"), col("vb")).limit(10)
        .select(col("va"), col("vb"), round(col("c"), 4).as("cosine")))
    },
    "q_sim_knn_query" -> { (s, dir) =>
      // 20-NN of a fixed query vector (vec_id=0's embedding) — the
      // 1-row query side is broadcast, big side never shuffles
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") === lit(0L)).select(col("v").as("qv"))
      val scored = e.filter(col("vec_id") =!= lit(0L))
        .crossJoin(broadcast(q))
        .withColumn("c", cosine(col("v"), col("qv")))
      ordered(scored
        .orderBy(col("c").desc, col("vec_id")).limit(20)
        .select(col("vec_id"), col("label"), round(col("c"), 4).as("cosine")))
    },
    "q_sim_knn_batch" -> { (s, dir) =>
      // Batched k-NN: top-5 neighbors for a SET of query vectors in
      // one pass — the ANN serving shape (queries arrive in batches,
      // not one at a time). The query batch broadcasts (tiny side);
      // the corpus is scored once per query inside codegen and
      // per-query top-k runs as a rank-filter window
      // (WindowGroupLimit pushes the limit below the shuffle).
      val e = vecs(s, dir)
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val scored = e.filter(col("vec_id") >= 10)
        .crossJoin(broadcast(qs))
        .withColumn("c", cosine(col("v"), col("qv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("c").desc, col("vec_id"))
      ordered(scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"), col("rn"),
          round(col("c"), 4).as("cosine")))
    },
    "q_sim_hard_negatives" -> { (s, dir) =>
      // Hard-negative mining (added r9) — the contrastive-training
      // data op: for each anchor, the top-3 most-similar vectors with
      // a DIFFERENT label ("hard" negatives — near the anchor yet
      // labeled apart — are what make InfoNCE/triplet training
      // informative; random negatives are too easy to carry signal).
      //
      // Candidates are scoped to the anchor's coarse-quantizer cell
      // (the SHARED Embeddings.kmeans2 assignment, so the oracle
      // replays it bit-exactly) — the standard ANN-scoped mining
      // shape: production miners take candidates from an index cell
      // (FAISS/SCaNN practice). Mining needs SUFFICIENTLY hard
      // negatives, not the global argmax: on this fixture the
      // cell-scoped picks average cosine 0.284 vs 0.337 for global
      // exact top-3 (~84% of attainable hardness) vs 0.0003 for
      // random negatives (~1000× harder) — measured at sf0.01, and
      // SimilaritySpec pins the ≥70% hardness ratio; the global
      // exact all-pairs variant measured 171 s at the ×10 soak
      // (quadratic, a scale-killer) vs 18 s cell-scoped.
      // Pairs are scored once (va<vb,
      // localCheckpointed), both orientations unioned (cosine_sim is
      // bit-symmetric: products and the denominator commute exactly),
      // labels join back on the id→label relation, and the per-anchor
      // top-3 runs as a rank window that Spark executes as
      // WindowGroupLimit (per-partition partial top-k, the
      // q_win_topk_group plan).
      //
      // 100 TB posture: candidate volume is Σ n_c² (cells, not the
      // corpus²); k grows with n exactly as in q_dedup_semdedup, and
      // the assignment is the narrow broadcast-centroid map. The
      // mining window is unchanged if the candidate source is swapped
      // for multi-probe cells or LSH buckets.
      val e = vecs(s, dir)
      val lab = e.select(col("vec_id"), col("label"))
      val asg = Embeddings.kmeans2(
          e.select(col("vec_id"), col("v")))._1
        .select(col("vec_id"), col("cid"), col("v")).localCheckpoint(true)
      val p = asg.as("a").join(asg.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("c", cosine(col("a.v"), col("b.v")))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), col("c"))
        .localCheckpoint(true)
      val sym = p.select(col("va").as("anchor"), col("vb").as("cand"), col("c"))
        .union(p.select(col("vb").as("anchor"), col("va").as("cand"), col("c")))
      val j = sym
        .join(lab.select(col("vec_id").as("anchor"),
          col("label").as("anchor_label")), Seq("anchor"))
        .join(lab.select(col("vec_id").as("cand"),
          col("label").as("cand_label")), Seq("cand"))
        .filter(col("anchor_label") =!= col("cand_label"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("anchor")).orderBy(col("c").desc, col("cand"))
      ordered(j.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("anchor"), col("rank"), col("cand"), col("anchor_label"),
          col("cand_label"), round(col("c"), 4).as("cosine")))
    },
    "q_sim_range_search" -> { (s, dir) =>
      // Radius (range) search: every vector within cosine ≥ 0.3 of a
      // fixed query — the "find all near-duplicates of THIS item"
      // shape, vs top-k's fixed result size. Same plan as knn_query
      // (1-row broadcast, corpus never shuffles, codegen kernel,
      // filter inside the scan stage) but the selection is a
      // threshold predicate, so no ordering/limit at all: a pure
      // narrow scan at any scale. Threshold compares the UNROUNDED
      // double (identical IEEE value both engines).
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") === lit(0L)).select(col("v").as("qv"))
      ordered(e.filter(col("vec_id") =!= lit(0L))
        .crossJoin(broadcast(q))
        .withColumn("c", cosine(col("v"), col("qv")))
        .filter(col("c") >= 0.3)
        .select(col("vec_id"), col("label"), round(col("c"), 4).as("cosine")))
    },
    "q_sim_lsh_bucketed" -> { (s, dir) =>
      // Approximate-NN 100 TB path: hyperplane-LSH band buckets →
      // candidate pairs + exact euclidean distance on candidates only.
      // Oracle=omit (approximate); SimilaritySpec bounds recall.
      lshPairs(vecs(s, dir), threshold = 1.2)
    },
    "q_sim_ivf" -> { (s, dir) =>
      // IVF (inverted-file) ANN: coarse quantizer cells + probe-N
      // search — the clustered-data scale path complementing LSH.
      // Fully deterministic since r9 (fixed-point Lloyd step), so
      // oracle-CHECKED; SimilaritySpec additionally bounds recall
      // vs the exact k-NN twin.
      ivfTopK(vecs(s, dir), k = 20)
    },
    "s_sim_index_build" -> { (s, dir) =>
      // Build-and-persist the IVF index (r9, VERDICT top-next): cell
      // assignments land as a parquet table PARTITIONED BY cell +
      // a centroid metadata table. Returns the per-cell inventory
      // (posting-list sizes) — deterministic, so oracle-checked by
      // replaying the training in DuckDB.
      val root = buildIvfIndex(s, dir)
      ordered(s.read.parquet(root + "/assigned")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("first_vec")))
    },
    "s_sim_index_refresh" -> { (s, dir) =>
      // Incremental index MAINTENANCE (r11, VERDICT item 3): the
      // corpus is a commit-log table; the index trains on its v0
      // (two-thirds of the vectors), the rest arrives as TWO appends,
      // and ONE refresh folds them — each new vector assigned against
      // the FROZEN codebook (broadcast argmin, no retrain, no corpus
      // rescan) and appended to its cell partition, watermarked in the
      // posting commit itself. The report is the refreshed index's
      // per-cell inventory plus two exactness flags: the refreshed
      // postings EQUAL a from-scratch assignment of the whole corpus
      // against the same codebook, and a probe over the refreshed
      // index equals the probe over that rebuilt assignment. (A
      // RETRAINED rebuild is a different index by design — FAISS `add`
      // vs retrain; freezing is the maintenance contract.)
      val e = vecs(s, dir)
      val corpus = java.nio.file.Files.createTempDirectory("graft_ivfr_c")
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfr_i")
      corpus.toFile.deleteOnExit(); idx.toFile.deleteOnExit()
      CommitLog.append(s, corpus.toString,
        e.filter(col("vec_id") % 3 =!= 2), nFiles = 2)
      val (assigned, cents) = ivfTrain(CommitLog.read(s, corpus.toString, 0L))
      VectorIndex.create(s, idx.toString, corpus.toString, 0L, assigned, cents)
      CommitLog.append(s, corpus.toString,
        e.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 === 0), nFiles = 1)
      CommitLog.append(s, corpus.toString,
        e.filter(col("vec_id") % 3 === 2 && col("vec_id") % 2 =!= 0), nFiles = 1)
      val (av, folded, _) = VectorIndex.refresh(s, idx.toString)
      val aRoot = VectorIndex.assignedRoot(idx.toString)
      val refreshed = CommitLog.read(s, aRoot, av).drop("gen")
      val corpusHead = CommitLog.read(s, corpus.toString,
        CommitLog.latestVersion(corpus.toString).get)
      val rebuilt = VectorIndex.assignFrozen(corpusHead, cents)
      // probe the REFRESHED index through manifest partition pruning —
      // the candidate-selection read path an ANN serve actually runs
      val q = e.filter(col("vec_id") === lit(0L)).select(col("v").as("qv"))
      val probes = probeCellsOf(cents, q, nProbe = 8)
        .collect().map(_.getInt(0)).toIndexedSeq
      val (cand, _) = CommitLog.prunedScan(s, aRoot, av,
        CommitLog.ProbeTree(Seq("cell" -> probes.map(_.toString).toSet), Nil))
      val topRefreshed = scoreProbed(
        VectorIndex.maskTombstones(s, idx.toString, cand), q, k = 20)
      val topRebuilt =
        scoreProbed(rebuilt.filter(col("cell").isin(probes: _*)), q, k = 20)
      // both exactness witnesses in ONE job (r20, multisetUnequal):
      // no index mutation between the two comparisons
      val uneq = multisetUnequal(
        Seq(refreshed -> rebuilt, topRefreshed -> topRebuilt))
      val equalsReassign = if (!uneq(0)) 1L else 0L
      val probeEqual = if (!uneq(1)) 1L else 0L
      ordered(refreshed.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("first_vec"))
        .withColumn("rows_folded", lit(folded))
        .withColumn("equals_reassignment", lit(equalsReassign))
        .withColumn("probe_equal", lit(probeEqual)))
    },
    "s_sim_index_delete" -> { (s, dir) =>
      // Index maintenance under DELETES (r11): a corpus slice vanishes
      // (CoW delete, CDF on); the refresh folds it as TOMBSTONES —
      // cost ∝ deleted rows, zero posting rewrites — and the probe
      // masks dead generations with one anti join. purge() then
      // physically retires them (REORG APPLY (PURGE) for postings)
      // and the masked and purged reads stay identical. Both states
      // pin equality against a from-scratch assignment of the LIVE
      // corpus under the frozen codebook.
      val e = vecs(s, dir)
      val corpus = java.nio.file.Files.createTempDirectory("graft_ivfd_c")
      val idx = java.nio.file.Files.createTempDirectory("graft_ivfd_i")
      corpus.toFile.deleteOnExit(); idx.toFile.deleteOnExit()
      CommitLog.setTableProperty(corpus.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, corpus.toString,
        e.filter(col("vec_id") % 3 =!= 2), nFiles = 2)
      val (assigned, cents) = ivfTrain(CommitLog.read(s, corpus.toString, 0L))
      VectorIndex.create(s, idx.toString, corpus.toString, 0L, assigned, cents)
      CommitLog.append(s, corpus.toString,
        e.filter(col("vec_id") % 3 === 2), nFiles = 1)
      VectorIndex.refresh(s, idx.toString) // appends fold first
      CommitLog.delete(s, corpus.toString, col("vec_id") % 5 === 1)
      val (_, _, tombstoned) = VectorIndex.refresh(s, idx.toString)
      val live = CommitLog.read(s, corpus.toString,
        CommitLog.latestVersion(corpus.toString).get)
      // the frozen-codebook reassignment feeds BOTH equality witnesses
      // — materialize it once instead of re-running the broadcast
      // argmin per check (r19, guide §1.2: don't recompute what two
      // consumers share)
      val rebuilt = VectorIndex.assignFrozen(live, cents).localCheckpoint()
      val masked = VectorIndex.postings(s, idx.toString).drop("gen")
      val maskedEqual = if (multisetEqual(masked, rebuilt)) 1L else 0L
      val (purged, _) = VectorIndex.purge(s, idx.toString)
      val after = VectorIndex.postings(s, idx.toString).drop("gen")
      val purgedEqual = if (multisetEqual(after, rebuilt)) 1L else 0L
      ordered(after.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("first_vec"))
        .withColumn("n_tombstoned", lit(tombstoned))
        .withColumn("n_purged", lit(purged))
        .withColumn("masked_equal", lit(maskedEqual))
        .withColumn("purged_equal", lit(purgedEqual)))
    },
    "q_sim_ivf_probe" -> { (s, dir) =>
      // Probe the PERSISTED index (r9): the probe reads ONLY the
      // nProbe matching cell partitions — the plan carries
      // PartitionFilters [cell IN (...)], asserted in PlanSpec, which
      // is the 100 TB ANN candidate-selection story as an actual plan
      // instead of a comment. The only driver round-trip is the
      // 8-row probe-cell id list (index metadata). Output is equal to
      // q_sim_ivf by construction (same assignment, same scoring) —
      // asserted in SimilaritySpec, and both keys share one oracle.
      val root = buildIvfIndex(s, dir)
      val assigned = s.read.parquet(root + "/assigned")
      val cents = s.read.parquet(root + "/centroids")
      val q = vecs(s, dir).filter(col("vec_id") === lit(0L)).select(col("v").as("qv"))
      val probes = probeCellsOf(cents, q, nProbe = 8)
        .collect().map(_.getInt(0)).toIndexedSeq
      scoreProbed(assigned.filter(col("cell").isin(probes: _*)), q, k = 20)
    },
    "q_sim_ivfpq" -> { (s, dir) =>
      // IVF+PQ composite (added late r9) — the full FAISS-style ANN
      // serving stack as ONE pipeline, welding the two halves the
      // family already ships: candidate SELECTION from the persisted
      // partitioned IVF index (the probe reads only nProbe cell
      // directories — q_sim_ivf_probe's partition pruning), then
      // compressed-domain SCORING of just those candidates via the
      // PQ-ADC lookup-table sum (q_sim_pq_adc's 16-small-ints-per-
      // vector representation), then exact cosine rerank of the ADC
      // top-20 to a final top-10. Codes are trained on the full
      // corpus and encode raw vectors (FAISS IVFPQ with
      // by_residual=false — the variant whose replay needs no
      // per-cell codebooks). Every stage is fixed-point exact, so the
      // whole pipeline is DuckDB-replayed bit-for-bit.
      //
      // 100 TB posture: the serving read = nProbe cell partitions of
      // the CODE table (16 bytes/vector, not 256 — the compressed
      // scan is why IVFPQ serves at scale), one broadcast 16×16 LUT,
      // one hash-agg keyed vec_id, and a 20-row exact-rerank join.
      // Cell pruning bounds the scan; PQ bounds the bytes per
      // scanned vector; rerank bounds the full-vector I/O.
      val e = vecs(s, dir).select(col("vec_id"), col("label"), col("v"))
      val root = buildIvfIndex(s, dir)
      val assigned = s.read.parquet(root + "/assigned")
      val cents = s.read.parquet(root + "/centroids")
      val q = e.filter(col("vec_id") === lit(0L)).select(col("v").as("qv"))
      val probes = probeCellsOf(cents, q, nProbe = 8)
        .collect().map(_.getInt(0)).toIndexedSeq
      val candIds = assigned.filter(col("cell").isin(probes: _*))
        .filter(col("vec_id") =!= lit(0L)).select(col("vec_id"))
      val (codes, codebook) = Embeddings.pqTrain(e.select(col("vec_id"), col("v")))
      val qsub = q.select(posexplode(
          expr("transform(sequence(0, 15), sp -> slice(qv, sp * 4 + 1, 4))"))
        .as(Seq("sp", "qsv")))
      val lut = qsub.join(codebook, Seq("sp"))
        .select(col("sp"), col("cid"), expr("l2_dist_q(qsv, cv)").as("adc_q"))
      val adc = codes.join(candIds, Seq("vec_id"), "left_semi")
        .join(broadcast(lut), Seq("sp", "cid"))
        .groupBy(col("vec_id")).agg(sum(col("adc_q")).as("adc"))
      val top20 = adc.orderBy(col("adc").asc, col("vec_id")).limit(20)
      val rer = top20.join(e, Seq("vec_id")).crossJoin(broadcast(q))
        .withColumn("c", call_function("cosine_sim", col("v"), col("qv")))
      // unpartitioned window is safe here: its input is the 20-row
      // rerank set (TakeOrderedAndProject upstream bounds it), never
      // corpus-sized — the multi-query variant partitions by q_id
      // (q_sim_pq_adc)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("vec_id"))
      ordered(rer.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("vec_id"), col("label"), col("adc"), col("rank"),
          round(col("c"), 4).as("cosine")))
    },
    "q_sim_pq_adc" -> { (s, dir) =>
      // PQ-ADC search (added r7) — the compressed-domain ANN serving
      // path that completes the PQ family (q_embed_pq trains the
      // codebooks; this key SEARCHES the codes): per query, a 16×16
      // lookup table of subspace distances to every codebook centroid
      // (Jégou et al.'s asymmetric distance computation), approximate
      // distance = Σ of 16 LUT entries per corpus vector, top-20
      // candidates, then exact rerank on full vectors to top-10.
      // All distances are the codegen fixed-point l2_dist_q, so the
      // whole pipeline — training, LUT, ADC sums, rerank — is exact
      // integers and the DuckDB oracle replays it bit-for-bit.
      //
      // 100 TB posture: the serving-time corpus pass touches ONLY the
      // (vec_id, sp, cid) code table (16 small ints per vector — the
      // 4×-compressed representation is what sharded ANN serving
      // ships); the LUT is queries×256 rows, broadcast; the ADC agg
      // is one hash-agg keyed (q_id, vec_id) with map-side partials;
      // rerank touches full vectors for only q×20 candidates via an
      // equi-join. Per-query top-k runs as a rank-filter window
      // (WindowGroupLimit pushes the limit below the shuffle).
      val e = vecs(s, dir).select(col("vec_id"), col("v"))
      val (codes, codebook) = Embeddings.pqTrain(e)
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val qsub = qs.select(col("q_id"), posexplode(
          expr("transform(sequence(0, 15), sp -> slice(qv, sp * 4 + 1, 4))"))
        .as(Seq("sp", "qsv")))
      val lut = qsub.join(codebook, Seq("sp"))
        .select(col("q_id"), col("sp"), col("cid"),
          expr("l2_dist_q(qsv, cv)").as("adc_q"))
      val adc = codes.join(broadcast(lut), Seq("sp", "cid"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("adc_q")).as("adc"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("adc").asc, col("vec_id"))
      val cand = adc.withColumn("rn", row_number().over(wc))
        .filter(col("rn") <= 20).drop("rn")
      val rer = cand.join(e, Seq("vec_id")).join(broadcast(qs), Seq("q_id"))
        .select(col("q_id"), col("vec_id"), col("adc"),
          expr("l2_dist_q(v, qv)").as("exact_q"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("exact_q").asc, col("vec_id"))
      ordered(rer.withColumn("rank", row_number().over(wr).cast("long"))
        .filter(col("rank") <= 10))
    }
  )

  /** Shared IVF coarse quantizer (r9 rework — q_sim_ivf, q_sim_ivf_probe,
    * s_sim_index_build): `nCells` seed centroids (the lowest vec_ids)
    * refined by ONE distributed Lloyd step, exactly the q_embed_kmeans
    * determinism contract — assignment argmin over the codegen
    * fixed-point `l2_dist_q` (exact integers, partition-order- and
    * engine-independent) and centroid means from 1e-7 fixed-point
    * BIGINT sums (order-independent, unlike a double `avg`). That
    * makes the WHOLE pipeline — training, assignment, probe selection,
    * scoring — DuckDB-replayable, so the IVF family is oracle-checked
    * rather than recall-bounded-only (the r8 formulation's float
    * `avg` means were partition-order-dependent and forced omit).
    *
    * Returns (assigned = (vec_id, label, v, cell), centroids =
    * (cell, cv)). Zero driver round-trips: centroids stay a
    * dataframe; q_sim_ivf consumes them via broadcast.
    *
    * 100 TB posture: assignment is a narrow broadcast-codebook map
    * (no corpus shuffle); the recompute agg collapses to
    * nCells·dim rows map-side. The cell id is the partition column
    * of the persisted index (s_sim_index_build), so a probe prunes
    * to nProbe directories — demonstrated, not just claimed, by
    * q_sim_ivf_probe's PartitionFilters (PlanSpec). */
  private[graft] def ivfTrain(e: DataFrame, nCells: Int = 16): (DataFrame, DataFrame) = {
    VectorExprs.register(e.sparkSession)
    def assign(cents: DataFrame): DataFrame = {
      val packed = cents.agg(
        expr("array_sort(collect_list(struct(cell, cv)))").as("cs"))
      e.crossJoin(broadcast(packed))
        .withColumn("best", expr(
          "array_min(transform(cs, c -> named_struct(" +
            "'dq', l2_dist_q(v, c.cv), 'cell', c.cell)))"))
        .select(col("vec_id"), col("label"), col("v"),
          col("best.cell").as("cell"))
    }
    def recompute(asg: DataFrame): DataFrame =
      asg.select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .withColumn("xq", floor(col("x") * lit(1e7)).cast("long"))
        .groupBy(col("cell"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("xq")).as("sq"))
        .withColumn("c", col("sq").cast("double") / lit(1e7) / col("n"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, c))), p -> p.c)")
          .as("cv"))
    val init = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cell"), col("v").as("cv"))
    val c1 = recompute(assign(init))
    (assign(c1), c1)
  }

  /** nProbe cells nearest the query centroid-wise (fixed-point l2,
    * ties by cell id) — index metadata, nCells rows. */
  private def probeCellsOf(cents: DataFrame, q: DataFrame, nProbe: Int): DataFrame =
    cents.crossJoin(broadcast(q))
      .select(col("cell"), call_function("l2_dist_q", col("cv"), col("qv")).as("dq"))
      .orderBy(col("dq"), col("cell")).limit(nProbe).select("cell")

  /** Exact cosine scoring + top-k over the probed candidate set —
    * shared tail of q_sim_ivf and q_sim_ivf_probe (their outputs are
    * equal by construction; SimilaritySpec asserts it). */
  private def scoreProbed(cand: DataFrame, q: DataFrame, k: Int): DataFrame =
    ordered(cand.filter(col("vec_id") =!= lit(0L))
      .crossJoin(broadcast(q))
      .withColumn("c", call_function("cosine_sim", col("v"), col("qv")))
      .orderBy(col("c").desc, col("vec_id")).limit(k)
      .select(col("vec_id"), col("label"), round(col("c"), 4).as("cosine")))

  /** IVF approximate k-NN of the fixed query vector (vec_id=0),
    * index built inline: train → probe-cell selection via a broadcast
    * semi-join on the cell id → exact scoring of candidates only. */
  def ivfTopK(e: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 8): DataFrame = {
    val (assigned, cents) = ivfTrain(e, nCells)
    val q = e.filter(col("vec_id") === lit(0L)).select(col("v").as("qv"))
    scoreProbed(assigned.join(broadcast(probeCellsOf(cents, q, nProbe)), "cell"), q, k)
  }

  /** Persisted-index memo: one IVF index build per (session, fixture
    * dir) — s_sim_index_build and q_sim_ivf_probe share the build the
    * way a lakehouse deployment shares an index table across queries.
    * Same clear-on-overflow bound as corpusCountMemo. */
  private val ivfIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Materialize the IVF index: the cell assignment as a parquet table
    * PARTITIONED BY cell (so a probe is directory pruning, the 100 TB
    * candidate-selection mechanism) plus the centroid table as index
    * metadata alongside. Returns the index root. */
  private[graft] def buildIvfIndex(s: SparkSession, dir: String,
      nCells: Int = 16): String = {
    if (ivfIndexMemo.size > 8) ivfIndexMemo.clear()
    ivfIndexMemo.computeIfAbsent((s, dir), _ => {
      val (assigned, cents) = ivfTrain(vecs(s, dir), nCells)
      val root = java.nio.file.Files.createTempDirectory("graft_ivf_idx")
      root.toFile.deleteOnExit()
      // one file per cell locally (fixture-sized cells); at 100 TB the
      // same write fans each cell dir into many files sized by
      // maxRecordsPerFile — pruning semantics are identical
      assigned.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(root.toString + "/assigned")
      cents.write.mode("overwrite").parquet(root.toString + "/centroids")
      root.toString
    })
  }

  /** Banded sign-random-projection LSH pairs: 32 tables × adaptive
    * sign bits via the codegen [[graft.functions.SrpSignature]]
    * expression; the join shuffles only (table, band-key); candidates
    * are scored with the codegen euclidean kernel and filtered at
    * `threshold`.
    *
    * Band WIDTH scales with the corpus: bits = max(6, ⌈log₂(n /
    * targetOccupancy)⌉), so expected bucket occupancy stays ~constant
    * and in-bucket candidate pairs grow O(n), not O(n²). (The r5 ×10
    * scale-soak measured the fixed-6-bit config at 16.7× wall on 10×
    * vectors — 10× occupancy ⇒ ~100× candidates; adaptive width
    * returned it to ~linear.) Recall cost is negligible in the
    * near-dup regime this key serves: a cos ≈ 0.9 pair collides per
    * table with p ≈ 0.857^bits, so even 12-bit bands keep 32-table
    * recall ≥ 0.98, and SimilaritySpec's recall bound stays asserted.
    * The corpus count comes from one metadata-cheap pass — an index
    * build knows its corpus size; a lake deployment reads it from
    * catalog stats instead.
    *
    * (Replaces MLlib BucketedRandomProjectionLSH.approxSimilarityJoin,
    * which measured 7–18 s at sf0.1: scalar-bucket tables on this
    * tightly-packed unit-norm distance profile [all pairwise distances
    * in 0.99–1.76] put most of the dataset in colliding buckets and
    * score candidates through non-codegen vector UDFs.) */
  /** Corpus-size memo for [[lshPairs]], keyed like the dedup family's
    * materialization memos (exact leaf identity via PlanKey); values
    * are scalars, so no block-release bounding is needed. */
  private val corpusCountMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]()

  def lshPairs(e: DataFrame, threshold: Double, nTables: Int = 32,
      targetOccupancy: Int = 32, corpusSize: Option[Long] = None): DataFrame = {
    VectorExprs.register(e.sparkSession)
    // index-build metadata: callers that know their corpus size (a
    // catalog-stats lookup at scale) pass it and skip the count pass;
    // unknowing callers pay the count ONCE per input identity — the
    // memo stops every repeat bench/soak invocation from re-executing
    // the upstream lineage just to re-learn a constant
    val n = corpusSize.getOrElse {
      graft.plans.PlanKey.of(e) match {
        case Some(k) =>
          // same clear-on-overflow bound as PlanKey.memoize: keys embed
          // full PlanKey strings (sorted file lists) plus the session
          // reference — unbounded they are a slow leak across many
          // input identities in a long session
          if (corpusCountMemo.size > 8) corpusCountMemo.clear()
          corpusCountMemo.computeIfAbsent(
            (e.sparkSession, k), _ => Long.box(e.count())).longValue()
        case None => e.count()
      }
    }
    val bits = math.max(6, math.ceil(
      math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt)
    val sig = e.select(col("vec_id"),
      call_function("srp_sig", col("v"), lit(nTables), lit(bits)).as("sig"))
    val bands = sig.select(col("vec_id"),
      posexplode(col("sig")).as(Seq("tbl", "bkey")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"))
      // spread the candidate pairs before the CPU-dense distance
      // verify (r20, guide §2.5 — the dedup spreadPairs rule): AQE
      // byte-coalesces the ~16 B/pair distinct onto one core, which
      // serializes the per-pair euclidean kernel. The user repartition
      // sits UNDER the distinct so it doubles as the aggregate's
      // exchange (same keys) and, as REPARTITION_BY_NUM, is exempt
      // from AQE coalescing; cores-scaled, and downstream re-hashes by
      // its own keys, so results are unchanged.
      .repartition(e.sparkSession.sparkContext.defaultParallelism,
        col("va"), col("vb"))
      .distinct()
    val vv = e.select(col("vec_id"), col("v"))
    val verified = cand
      .join(vv.select(col("vec_id").as("va"), col("v").as("a")), "va")
      .join(vv.select(col("vec_id").as("vb"), col("v").as("b")), "vb")
      .withColumn("euclidean", call_function("euclidean_dist", col("a"), col("b")))
      .filter(col("euclidean") <= lit(threshold))
    ordered(verified.select(col("va"), col("vb"),
      round(col("euclidean"), 4).as("euclidean")))
  }

  /** DuckDB CTE chain replaying [[ivfTrain]] exactly (the
    * q_embed_kmeans oracle shape at k=16 over full vectors): seed →
    * fixed-point assign → fixed-point recompute → final assign, then
    * the probe-cell selection and exact cosine scoring. Shared by
    * q_sim_ivf, q_sim_ivf_probe (equal outputs) and s_sim_index_build
    * (per-cell inventory over the same a2). */
  private val ivfCtes: String =
    """e AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |init AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM e WHERE vec_id < 16),
      |d1 AS (
      |  SELECT e.vec_id, e.v, i.cell,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> CAST(FLOOR((e.v[j] - i.cv[j]) * (e.v[j] - i.cv[j]) * 1e12)
      |        AS BIGINT))) AS BIGINT) AS dq
      |  FROM e CROSS JOIN init i),
      |a1 AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rn
      |    FROM d1) WHERE rn = 1),
      |cd AS (
      |  SELECT cell, u.j AS dim, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(v[u.j] * 1e7) AS BIGINT)) AS BIGINT) AS sq
      |  FROM a1, (SELECT unnest(range(1, 65)) AS j) u
      |  GROUP BY cell, u.j),
      |c1 AS (
      |  SELECT cell, list(CAST(sq AS DOUBLE) / 1e7 / n ORDER BY dim) AS cv
      |  FROM cd GROUP BY cell),
      |d2 AS (
      |  SELECT e.vec_id, e.label, e.v, c.cell,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> CAST(FLOOR((e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j]) * 1e12)
      |        AS BIGINT))) AS BIGINT) AS dq
      |  FROM e CROSS JOIN c1 c),
      |a2 AS (
      |  SELECT vec_id, label, v, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rn
      |    FROM d2) WHERE rn = 1),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |pd AS (
      |  SELECT c1.cell,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> CAST(FLOOR((c1.cv[j] - q.qv[j]) * (c1.cv[j] - q.qv[j]) * 1e12)
      |        AS BIGINT))) AS BIGINT) AS dq
      |  FROM c1, q),
      |pr AS (SELECT cell FROM pd ORDER BY dq, cell LIMIT 8),
      |scored AS (
      |  SELECT a2.vec_id, a2.label,
      |    list_sum(list_transform(range(1, 65), i -> a2.v[i] * q.qv[i])) /
      |      (sqrt(list_sum(list_transform(range(1, 65), i -> a2.v[i] * a2.v[i]))) *
      |       sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))) AS c
      |  FROM a2, pr, q
      |  WHERE a2.cell = pr.cell AND a2.vec_id <> 0),
      |ivf_top AS (
      |  SELECT vec_id, label, ROUND(c, 4) AS cosine FROM scored
      |  ORDER BY c DESC, vec_id LIMIT 20)""".stripMargin

  private val ivfTopSql: String =
    s"WITH $ivfCtes\nSELECT vec_id, label, cosine FROM ivf_top" +
      orderByAll("vec_id", "label", "cosine")

  /** The [[ivfCtes]] training/probe chain with every CTE renamed
    * iv_* (and label dropped) so it composes with
    * [[Embeddings.pqCtes]] — both chains define e/init/d1/a1/cd/c1/
    * d2/a2, so the q_sim_ivfpq oracle needs one of them prefixed.
    * Semantics are byte-for-byte [[ivfTrain]]'s: 16 seed cells, one
    * fixed-point Lloyd step (1e12 distance quanta, 1e7 mean quanta),
    * final assign, then the 8 probe cells nearest the query. */
  private val ivfCellCtes: String =
    """iv_init AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM e WHERE vec_id < 16),
      |iv_d1 AS (
      |  SELECT e.vec_id, e.v, i.cell,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> CAST(FLOOR((e.v[j] - i.cv[j]) * (e.v[j] - i.cv[j]) * 1e12)
      |        AS BIGINT))) AS BIGINT) AS dq
      |  FROM e CROSS JOIN iv_init i),
      |iv_a1 AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rn
      |    FROM iv_d1) WHERE rn = 1),
      |iv_cd AS (
      |  SELECT cell, u.j AS dim, COUNT(*) AS n,
      |    CAST(SUM(CAST(FLOOR(v[u.j] * 1e7) AS BIGINT)) AS BIGINT) AS sq
      |  FROM iv_a1, (SELECT unnest(range(1, 65)) AS j) u
      |  GROUP BY cell, u.j),
      |iv_c1 AS (
      |  SELECT cell, list(CAST(sq AS DOUBLE) / 1e7 / n ORDER BY dim) AS cv
      |  FROM iv_cd GROUP BY cell),
      |iv_d2 AS (
      |  SELECT e.vec_id, e.v, c.cell,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> CAST(FLOOR((e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j]) * 1e12)
      |        AS BIGINT))) AS BIGINT) AS dq
      |  FROM e CROSS JOIN iv_c1 c),
      |iv_a2 AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rn
      |    FROM iv_d2) WHERE rn = 1),
      |qf AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |iv_pd AS (
      |  SELECT c.cell,
      |    CAST(list_sum(list_transform(range(1, 65),
      |      j -> CAST(FLOOR((c.cv[j] - q.qv[j]) * (c.cv[j] - q.qv[j]) * 1e12)
      |        AS BIGINT))) AS BIGINT) AS dq
      |  FROM iv_c1 c, qf q),
      |iv_pr AS (SELECT cell FROM iv_pd ORDER BY dq, cell LIMIT 8),
      |iv_cand AS (
      |  SELECT a.vec_id FROM iv_a2 a JOIN iv_pr p ON a.cell = p.cell
      |  WHERE a.vec_id <> 0)""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1,65), i -> CAST($a.embedding[i] AS DOUBLE) * $b.embedding[i])) / " +
      s"(sqrt(list_sum(list_transform(range(1,65), i -> CAST($a.embedding[i] AS DOUBLE) * $a.embedding[i]))) * " +
      s"sqrt(list_sum(list_transform(range(1,65), i -> CAST($b.embedding[i] AS DOUBLE) * $b.embedding[i]))))"

  def oracle: Map[String, String] = Map(
    "q_sim_ivf" -> ivfTopSql,
    "q_sim_ivf_probe" -> ivfTopSql,
    "s_sim_index_build" ->
      (s"""WITH $ivfCtes
        |SELECT cell, COUNT(*) AS n_vectors, MIN(vec_id) AS first_vec
        |FROM a2 GROUP BY cell""".stripMargin +
        orderByAll("cell", "n_vectors", "first_vec")),
    // s_sim_index_refresh: the ivfCtes chain with TRAINING confined to
    // the create-time corpus (vec_id % 3 <> 2) and the final assign
    // over the FULL corpus against those frozen centroids — exactly
    // the refreshed index's content; the exactness flags replay as
    // literal 1s because the Spark side asserts them as multiset
    // equalities the oracle-side construction makes true by definition
    "s_sim_index_refresh" ->
      ("""WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |et AS (SELECT * FROM e WHERE vec_id % 3 <> 2),
        |init AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM et WHERE vec_id < 16),
        |d1 AS (
        |  SELECT et.vec_id, et.v, i.cell,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> CAST(FLOOR((et.v[j] - i.cv[j]) * (et.v[j] - i.cv[j]) * 1e12)
        |        AS BIGINT))) AS BIGINT) AS dq
        |  FROM et CROSS JOIN init i),
        |a1 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rn
        |    FROM d1) WHERE rn = 1),
        |cd AS (
        |  SELECT cell, u.j AS dim, COUNT(*) AS n,
        |    CAST(SUM(CAST(FLOOR(v[u.j] * 1e7) AS BIGINT)) AS BIGINT) AS sq
        |  FROM a1, (SELECT unnest(range(1, 65)) AS j) u
        |  GROUP BY cell, u.j),
        |c1 AS (
        |  SELECT cell, list(CAST(sq AS DOUBLE) / 1e7 / n ORDER BY dim) AS cv
        |  FROM cd GROUP BY cell),
        |d2 AS (
        |  SELECT e.vec_id, e.v, c.cell,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> CAST(FLOOR((e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j]) * 1e12)
        |        AS BIGINT))) AS BIGINT) AS dq
        |  FROM e CROSS JOIN c1 c),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rn
        |    FROM d2) WHERE rn = 1)
        |SELECT cell, COUNT(*) AS n_vectors, MIN(vec_id) AS first_vec,
        |  CAST((SELECT COUNT(*) FROM e WHERE vec_id % 3 = 2) AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_reassignment,
        |  CAST(1 AS BIGINT) AS probe_equal
        |FROM a2 GROUP BY cell""".stripMargin +
        orderByAll("cell", "n_vectors", "first_vec", "rows_folded",
          "equals_reassignment", "probe_equal")),
    // s_sim_index_delete: the same train-on-subset chain, final assign
    // over the LIVE corpus (the %5=1 slice deleted); counters replay
    // as pure predicates (every %5=1 vector had exactly one posting)
    "s_sim_index_delete" ->
      ("""WITH e AS (
        |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |et AS (SELECT * FROM e WHERE vec_id % 3 <> 2),
        |init AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv FROM et WHERE vec_id < 16),
        |d1 AS (
        |  SELECT et.vec_id, et.v, i.cell,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> CAST(FLOOR((et.v[j] - i.cv[j]) * (et.v[j] - i.cv[j]) * 1e12)
        |        AS BIGINT))) AS BIGINT) AS dq
        |  FROM et CROSS JOIN init i),
        |a1 AS (
        |  SELECT vec_id, v, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rn
        |    FROM d1) WHERE rn = 1),
        |cd AS (
        |  SELECT cell, u.j AS dim, COUNT(*) AS n,
        |    CAST(SUM(CAST(FLOOR(v[u.j] * 1e7) AS BIGINT)) AS BIGINT) AS sq
        |  FROM a1, (SELECT unnest(range(1, 65)) AS j) u
        |  GROUP BY cell, u.j),
        |c1 AS (
        |  SELECT cell, list(CAST(sq AS DOUBLE) / 1e7 / n ORDER BY dim) AS cv
        |  FROM cd GROUP BY cell),
        |live AS (SELECT * FROM e WHERE vec_id % 5 <> 1),
        |d2 AS (
        |  SELECT live.vec_id, live.v, c.cell,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> CAST(FLOOR((live.v[j] - c.cv[j]) * (live.v[j] - c.cv[j]) * 1e12)
        |        AS BIGINT))) AS BIGINT) AS dq
        |  FROM live CROSS JOIN c1 c),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cell) AS rn
        |    FROM d2) WHERE rn = 1)
        |SELECT cell, COUNT(*) AS n_vectors, MIN(vec_id) AS first_vec,
        |  CAST((SELECT COUNT(*) FROM e WHERE vec_id % 5 = 1) AS BIGINT) AS n_tombstoned,
        |  CAST((SELECT COUNT(*) FROM e WHERE vec_id % 5 = 1) AS BIGINT) AS n_purged,
        |  CAST(1 AS BIGINT) AS masked_equal,
        |  CAST(1 AS BIGINT) AS purged_equal
        |FROM a2 GROUP BY cell""".stripMargin +
        orderByAll("cell", "n_vectors", "first_vec", "n_tombstoned",
          "n_purged", "masked_equal", "purged_equal")),
    "q_sim_cosine_topk" ->
      (s"""WITH p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb, ${cosSql("a", "b")} AS c
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |top AS (SELECT va, vb, ROUND(c, 4) AS cosine FROM p
        |        ORDER BY c DESC, va, vb LIMIT 10)
        |SELECT * FROM top""".stripMargin +
        orderByAll("va", "vb", "cosine")),
    "q_sim_knn_batch" ->
      (s"""WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, a.vec_id, ${cosSql("a", "q")} AS c
        |  FROM embeddings a, q WHERE a.vec_id >= 10),
        |r AS (SELECT q_id, vec_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn,
        |        ROUND(c, 4) AS cosine
        |      FROM scored)
        |SELECT q_id, vec_id, rn, cosine FROM r WHERE rn <= 5""".stripMargin +
        orderByAll("q_id", "vec_id", "rn", "cosine")),
    "q_sim_knn_query" ->
      (s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT a.vec_id, a.label, ${cosSql("a", "q")} AS c
        |  FROM embeddings a, q WHERE a.vec_id <> 0),
        |top AS (SELECT vec_id, label, ROUND(c, 4) AS cosine FROM scored
        |        ORDER BY c DESC, vec_id LIMIT 20)
        |SELECT * FROM top""".stripMargin +
        orderByAll("vec_id", "label", "cosine")),
    "q_sim_hard_negatives" ->
      (s"""WITH ${Embeddings.kmeansCtes},
        |av AS (
        |  SELECT a2.vec_id, a2.cid, emb.label, emb.embedding
        |  FROM a2 JOIN embeddings emb ON a2.vec_id = emb.vec_id),
        |p AS (
        |  SELECT a.vec_id AS anchor, b.vec_id AS cand,
        |    a.label AS anchor_label, b.label AS cand_label,
        |    ${cosSql("a", "b")} AS c
        |  FROM av a JOIN av b
        |    ON a.cid = b.cid AND a.vec_id <> b.vec_id
        |      AND a.label <> b.label),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY anchor ORDER BY c DESC, cand) AS rank
        |  FROM p)
        |SELECT anchor, rank, cand, anchor_label, cand_label,
        |  ROUND(c, 4) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin +
        orderByAll("anchor", "rank", "cand", "anchor_label", "cand_label",
          "cosine")),
    "q_sim_range_search" ->
      (s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT a.vec_id, a.label, ${cosSql("a", "q")} AS c
        |  FROM embeddings a, q WHERE a.vec_id <> 0)
        |SELECT vec_id, label, ROUND(c, 4) AS cosine FROM scored
        |WHERE c >= 0.3""".stripMargin +
        orderByAll("vec_id", "label", "cosine")),
    // Embeddings.pqCtes (codes a2 + codebook c1) composed with the
    // iv_*-renamed IVF chain: ADC scoring restricted to the probed
    // cells' vectors, exact cosine rerank of the ADC top-20 — the
    // full IVFPQ pipeline replayed on exact integers.
    "q_sim_ivfpq" ->
      (s"""WITH ${Embeddings.pqCtes},
        |$ivfCellCtes,
        |qsub AS (
        |  SELECT s.sp, list_transform(range(1, 5), j -> q.qv[s.sp * 4 + j]) AS qsv
        |  FROM qf q, (SELECT unnest(range(0, 16)) AS sp) s),
        |lut AS (
        |  SELECT c.sp, c.cid,
        |    CAST(list_sum(list_transform(range(1, 5),
        |      j -> CAST(FLOOR((q.qsv[j] - c.cv[j]) * (q.qsv[j] - c.cv[j]) * 1e12)
        |        AS BIGINT))) AS BIGINT) AS adc_q
        |  FROM qsub q JOIN c1 c ON q.sp = c.sp),
        |adc AS (
        |  SELECT a2.vec_id, CAST(SUM(l.adc_q) AS BIGINT) AS adc
        |  FROM a2 JOIN iv_cand cd ON a2.vec_id = cd.vec_id
        |  JOIN lut l ON a2.sp = l.sp AND a2.cid = l.cid
        |  GROUP BY a2.vec_id),
        |top20 AS (SELECT vec_id, adc FROM adc ORDER BY adc, vec_id LIMIT 20),
        |rer AS (
        |  SELECT t.vec_id, emb.label, t.adc,
        |    list_sum(list_transform(range(1, 65), i -> e.v[i] * q.qv[i])) /
        |      (sqrt(list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i]))) *
        |       sqrt(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])))) AS c
        |  FROM top20 t JOIN e ON t.vec_id = e.vec_id
        |  JOIN embeddings emb ON t.vec_id = emb.vec_id, qf q)
        |SELECT vec_id, label, adc, rank, ROUND(c, 4) AS cosine FROM (
        |  SELECT *, CAST(row_number() OVER (ORDER BY c DESC, vec_id) AS BIGINT) AS rank
        |  FROM rer) WHERE rank <= 10""".stripMargin +
        orderByAll("vec_id", "label", "adc", "rank", "cosine")),
    // extends Embeddings.pqCtes (codebook c1 + final codes a2) with
    // the ADC search stages; every distance is the same fixed-point
    // integer kernel, so the replay is exact end to end.
    "q_sim_pq_adc" ->
      (s"""WITH ${Embeddings.pqCtes},
        |qs AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
        |qsub AS (
        |  SELECT q_id, s.sp, list_transform(range(1, 5), j -> qv[s.sp * 4 + j]) AS qsv
        |  FROM qs, (SELECT unnest(range(0, 16)) AS sp) s),
        |lut AS (
        |  SELECT q.q_id, c.sp, c.cid,
        |    CAST(list_sum(list_transform(range(1, 5),
        |      j -> CAST(FLOOR((q.qsv[j] - c.cv[j]) * (q.qsv[j] - c.cv[j]) * 1e12)
        |        AS BIGINT))) AS BIGINT) AS adc_q
        |  FROM qsub q JOIN c1 c ON q.sp = c.sp),
        |adc AS (
        |  SELECT l.q_id, a2.vec_id, CAST(SUM(l.adc_q) AS BIGINT) AS adc
        |  FROM a2 JOIN lut l ON a2.sp = l.sp AND a2.cid = l.cid
        |  GROUP BY l.q_id, a2.vec_id),
        |cand AS (
        |  SELECT q_id, vec_id, adc FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
        |    FROM adc) WHERE rn <= 20),
        |rer AS (
        |  SELECT c.q_id, c.vec_id, c.adc,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      j -> CAST(FLOOR((e.v[j] - qs.qv[j]) * (e.v[j] - qs.qv[j]) * 1e12)
        |        AS BIGINT))) AS BIGINT) AS exact_q
        |  FROM cand c JOIN e ON c.vec_id = e.vec_id JOIN qs ON c.q_id = qs.q_id)
        |SELECT q_id, vec_id, adc, exact_q, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY exact_q, vec_id) AS BIGINT) AS rank
        |  FROM rer) WHERE rank <= 10""".stripMargin +
        orderByAll("q_id", "vec_id", "adc", "exact_q", "rank"))
  )
}
