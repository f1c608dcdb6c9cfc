package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained IVF vector index (r11, VERDICT item 3) —
  * the [[IncrementalView]] watermark pattern applied to the persisted
  * ANN index. The index is THREE commit-log tables under one root:
  *
  *   <root>/assigned    (vec_id, label, v, cell, gen) PARTITIONED BY
  *                      cell — the posting lists; a probe reads nProbe
  *                      cell partitions via manifest partition
  *                      pruning. `gen` is the source version whose
  *                      fold added the posting.
  *   <root>/centroids   (cell, cv) — the coarse quantizer, FROZEN at
  *                      create time (version 0 is the codebook).
  *   <root>/tombstones  (vec_id, gen) — merge-on-read DELETE masks:
  *                      a posting is dead iff a tombstone for its
  *                      vec_id carries a HIGHER generation (so a
  *                      re-inserted or updated vector's new posting
  *                      stays live while its older ones die) — the
  *                      deletion-vector design applied to postings.
  *
  * Corpus APPENDS fold by assigning only the NEW vectors against the
  * frozen centroids (a narrow broadcast-codebook map, no retrain, no
  * corpus rescan) and appending their postings to the matching cell
  * partitions — FAISS `add` as log commits. Corpus DELETES (and the
  * delete half of updates) fold as tombstone appends — cost ∝ deleted
  * rows, zero posting rewrites — and [[postings]] masks them at read
  * time with one anti join; [[purge]] is the REORG APPLY (PURGE)
  * twin: rewrite the postings without their dead rows and clear the
  * tombstones — explicit by default, or policy-driven via the
  * `purgeThreshold` table property ([[refresh]] purges inline when
  * tombstones/postings exceeds it, r12; [[detail]] reports the ratio
  * and the cell-balance drift signal). The last indexed source version rides the posting
  * commit's own manifest (field `indexSrc`), atomic with the postings
  * it covers; tombstone appends land BEFORE the watermark commit, and
  * a crash between them replays as duplicate tombstone rows — masking
  * is an exists-style anti join, so duplicates are semantically inert
  * (idempotent by construction, not by bookkeeping).
  *
  * Frozen centroids keep maintenance exact-by-construction: the
  * maintained index EQUALS a from-scratch assignment of the live
  * corpus against the same codebook (the s_sim_index_refresh /
  * s_sim_index_delete keys pin both directions), and probe results
  * follow. What freezing gives up is codebook drift — after enough
  * churn the cells no longer balance; that is the public engines'
  * answer too (FAISS add/remove on a trained index; retrain is a
  * deliberate rebuild, here `create` again). */
object VectorIndex {

  private val SrcProp = "graft.index.sourceRoot"
  private val VerProp = "graft.index.sourceVersion"
  private val VerField = "indexSrc"
  private val CellsField = "cellCounts"

  /** Per-cell LIVE posting counts rendered as a manifest fragment
    * (r14, VERDICT item 7): every index write path records them —
    * create/rebuild from the frame being staged, refresh by FOLDING
    * the batch's deltas (+1 per inserted vector's cell, −1 per
    * delete pre-image's cell, both from assignFrozen of the batch —
    * the CDF's insert/delete alternation per vec_id makes the fold
    * exact), purge carries the live counts it already computed — so
    * the armed rebuildThreshold check reads the MANIFEST instead of
    * scanning postings (the r13 gate ran a corpus-wide detail() per
    * armed refresh). */
  private def renderCells(m: Map[Long, Long]): String =
    s""","$CellsField":{""" +
      m.toSeq.sortBy(_._1).map { case (c, n) => s""""$c":$n""" }
        .mkString(",") + "}"

  /** The manifest-carried live cell counts at the assigned head —
    * walks past any counts-less commit (every index write path
    * records them; only a pre-r14 index or a foreign writer skips).
    * None = fall back to one self-healing postings scan. */
  private def cellCountsOf(aRoot: String): Option[Map[Long, Long]] = {
    val head = CommitLog.latestVersion(aRoot).getOrElse(return None)
    (head to 0L by -1).iterator
      .takeWhile(v => CommitLog.manifestExists(aRoot, v))
      .flatMap(v => CommitLog.mapMetaOf(aRoot, v, CellsField).iterator)
      .nextOption()
      .map(_.map { case (k, v) => k.toLong -> v })
  }

  /** cell → row count of `df` — a k-sized collect (k cells ≈ √n at
    * the training recipe's sizing), bounded metadata, never rows. */
  private def countsOf(df: DataFrame): Map[Long, Long] =
    df.groupBy(col("cell")).agg(count(lit(1)).as("_n"))
      .collect().map(r =>
        r.getAs[Number]("cell").longValue() -> r.getLong(1)).toMap

  /** cell → row count of freshly-STAGED posting files — from their
    * parquet FOOTERS (at most one metadata open per file through
    * [[CommitLog.footerRowCount]] and its cache, no Spark job, no
    * extra evaluation of the staged frame) keyed by the cell value
    * the routed staging recorded per file. The hot-path (create/
    * refresh) counting lever: the staged rows ARE the insert-side
    * cell delta. */
  private def stagedCellCounts(root: String, staged: Seq[String],
      aux: CommitLog.Aux): Map[Long, Long] =
    staged.groupBy(f => aux.parts(f).toLong).map { case (cell, fs) =>
      cell -> fs.map(f => CommitLog.footerRowCount(new java.io.File(root, f))).sum
    }

  /** Cell balance (max/mean over live cells) straight from the
    * manifest counts — the rebuild gate's read path; None on a
    * pre-r14 index without recorded counts. */
  private[graft] def manifestCellBalance(aRoot: String): Option[Double] =
    cellCountsOf(aRoot).map { m =>
      val live = m.values.filter(_ > 0L)
      if (live.isEmpty) 0.0
      else live.max.toDouble / (live.sum.toDouble / live.size)
    }

  def assignedRoot(indexRoot: String): String =
    new java.io.File(indexRoot, "assigned").toString
  def centroidsRoot(indexRoot: String): String =
    new java.io.File(indexRoot, "centroids").toString
  def tombstonesRoot(indexRoot: String): String =
    new java.io.File(indexRoot, "tombstones").toString

  /** Narrow broadcast-codebook assignment against FROZEN centroids —
    * the exact argmin expression of Similarity.ivfTrain's assign step
    * (fixed-point l2_dist_q, ties by cell id), so an incremental
    * assignment can never disagree with a full one. */
  private[graft] def assignFrozen(e: DataFrame, cents: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    graft.functions.VectorExprs.register(e.sparkSession)
    val packed = cents.agg(
      expr("array_sort(collect_list(struct(cell, cv)))").as("cs"))
    e.crossJoin(broadcast(packed))
      .withColumn("best", expr(
        "array_min(transform(cs, c -> named_struct(" +
          "'dq', l2_dist_q(v, c.cv), 'cell', c.cell)))"))
      .select((Seq(col("vec_id"), col("label"), col("v"),
        col("best.cell").as("cell")) ++ carry.map(col)): _*)
  }

  /** See IncrementalView.lastFolded — the same checkpoint-floored
    * walk, over the ASSIGNED table's `indexSrc` field. */
  private def lastIndexed(aRoot: String): Long =
    // MAX of the two sources (r11 review — see IncrementalView
    // .lastFolded): a stale checkpoint answer behind the property
    // backstop would re-append duplicate postings
    (CommitLog.lastLongMeta(aRoot, VerField).toSeq ++
      CommitLog.tableProperty(aRoot, VerProp).map(_.toLong).toSeq)
      .maxOption
      .getOrElse(sys.error(s"$aRoot is not a maintained vector index"))

  /** Persist a freshly-trained index over `srcRoot`@`srcVersion`:
    * `assigned` and `cents` are the trainer's outputs (the caller owns
    * the training recipe — Similarity.ivfTrain here). Returns the
    * assigned table's version 0. */
  def create(s: SparkSession, indexRoot: String, srcRoot: String,
      srcVersion: Long, assigned: DataFrame, cents: DataFrame): Long = {
    CommitLog.append(s, centroidsRoot(indexRoot), cents, nFiles = 1)
    val aRoot = assignedRoot(indexRoot)
    val v = CommitLog.appendPartitionedCols(s, aRoot,
      assigned.withColumn("gen", lit(srcVersion)), Seq("cell"),
      filesPerPartition = 1,
      extraMeta = Seq(s""","$VerField":$srcVersion"""),
      extraFromStaged = (staged, aux) =>
        Seq(renderCells(stagedCellCounts(aRoot, staged, aux))))
    CommitLog.setTableProperty(aRoot, SrcProp, srcRoot)
    CommitLog.setTableProperty(aRoot, VerProp, srcVersion.toString)
    // one commit per refresh — checkpoint the history every 10th so
    // the watermark walk stays O(interval) on a long-lived index (r11)
    CommitLog.setTableProperty(aRoot, "checkpointInterval", "10")
    v
  }

  /** The LIVE postings at the index head: the assigned table with
    * tombstoned generations masked out (one anti join against the
    * tombstone set — ∝ deleted rows until [[purge]] retires them).
    * Callers prune cells FIRST (partitionPrunedRead on `assigned`)
    * and mask the survivors via [[maskTombstones]] — this full-table
    * form exists for rebuild-equality checks and purge. */
  def postings(s: SparkSession, indexRoot: String): DataFrame =
    maskTombstones(s, indexRoot, CommitLog.read(s, assignedRoot(indexRoot),
      CommitLog.latestVersion(assignedRoot(indexRoot)).get))

  /** Mask `rows` (any subset of the assigned table — e.g. the probe's
    * cell-pruned candidates) against the current tombstone set: a
    * posting is dead iff a tombstone for its vec_id has a higher
    * generation. No tombstone table (or an emptied one) = no mask. */
  def maskTombstones(s: SparkSession, indexRoot: String,
      rows: DataFrame): DataFrame =
    CommitLog.latestVersion(tombstonesRoot(indexRoot))
      .filter(tv => CommitLog
        .snapshotFiles(tombstonesRoot(indexRoot), tv).nonEmpty) match {
      case None => rows // no tombstone table, or purged empty: no mask
      case Some(tv) =>
        val t = CommitLog.read(s, tombstonesRoot(indexRoot), tv)
          .select(col("vec_id").as("_t_vid"), col("gen").as("_t_gen"))
        rows.join(t,
          rows("vec_id") === t("_t_vid") && t("_t_gen") > rows("gen"),
          "left_anti")
    }

  /** Fold corpus changes since the last refresh into the index:
    * inserts (and update post-images) assign against the frozen
    * codebook and append postings; deletes (and update pre-images)
    * append tombstones. Returns (assignedVersion, vectorsIndexed,
    * vectorsTombstoned); a no-change refresh publishes nothing. */
  def refresh(s: SparkSession, indexRoot: String): (Long, Long, Long) = {
    val aRoot = assignedRoot(indexRoot)
    val srcRoot = CommitLog.tableProperty(aRoot, SrcProp)
      .getOrElse(sys.error(s"$aRoot is not a maintained vector index (no $SrcProp)"))
    val from = lastIndexed(aRoot)
    val srcHead = CommitLog.latestVersion(srcRoot)
      .getOrElse(sys.error(s"source corpus vanished from $srcRoot"))
    val head = CommitLog.latestVersion(aRoot)
      .getOrElse(sys.error(s"index table vanished from $aRoot"))
    if (srcHead == from) return (head, 0L, 0L)
    // ONE pass over the changelog: localCheckpoint the change rows,
    // then a scalar agg for (inserts, deletes, max version)
    val changes = CommitLog.changesRows(s, srcRoot, from, srcHead)
      .localCheckpoint()
    val pos = col("_change_type").isin("insert", "update_postimage")
    val sig = changes.agg(
      coalesce(sum(when(pos, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(!pos, 1L).otherwise(0L)), lit(0L)),
      max(col("_commit_version"))).collect()(0)
    val (nIns, nDel) = (sig.getLong(0), sig.getLong(1))
    if (nIns == 0L && nDel == 0L) return (head, 0L, 0L)
    val maxVer = sig.getLong(2)
    // tombstones FIRST, watermark-carrying posting commit SECOND: a
    // crash between them replays as duplicate tombstones — inert under
    // the exists-style mask (see the crash anatomy above)
    if (nDel > 0L) {
      // appendEvolved records the tombstone schema at v0, so a purged
      // (emptied) tombstone table still reads back as an empty relation
      CommitLog.appendEvolved(s, tombstonesRoot(indexRoot),
        changes.filter(!pos)
          .select(col("vec_id"), col("_commit_version").as("gen")),
        nFiles = 1)
    }
    val cents = CommitLog.read(s, centroidsRoot(indexRoot),
      CommitLog.latestVersion(centroidsRoot(indexRoot)).get)
    // ONE assignment kernel for create, rebuild and refresh
    // (assignFrozen — the exactness contract lives in one place);
    // per-row generations ride through as a carried column, so a
    // vector updated twice in one batch keeps only its newest posting
    val fresh = assignFrozen(
      changes.filter(pos).select(col("vec_id"), col("label"), col("v"),
        col("_commit_version").as("gen")),
      cents, carry = Seq("gen"))
    // fold the per-cell live counts (r14): the INSERT side comes free
    // from the staged posting files' footers (extraFromStaged — the
    // staged rows ARE the insert delta; no second evaluation of the
    // assignment); the DELETE side assigns the pre-image vectors
    // against the SAME codebook that placed their postings (rebuilds
    // reassign everything, so the current codebook is always the
    // placing one) — one narrow broadcast-map job ∝ deleted rows,
    // never a postings scan. A pre-r14 index self-heals with one
    // scan here and reads the manifest from the next commit on.
    val prevCounts = cellCountsOf(aRoot)
      .getOrElse(countsOf(postings(s, indexRoot)))
    val delCells =
      if (nDel == 0L) Map.empty[Long, Long]
      else countsOf(assignFrozen(
        changes.filter(!pos).select(col("vec_id"), col("label"), col("v")),
        cents))
    def foldCounts(insCells: Map[Long, Long]): Map[Long, Long] =
      (prevCounts.keySet ++ insCells.keySet ++ delCells.keySet)
        .map(c => c -> (prevCounts.getOrElse(c, 0L) +
          insCells.getOrElse(c, 0L) - delCells.getOrElse(c, 0L)))
        .filter(_._2 != 0L).toMap
    // an all-delete batch appends zero posting files — the commit
    // still publishes, carrying the watermark atomically
    val v = CommitLog.appendPartitionedCols(s, aRoot, fresh, Seq("cell"),
      filesPerPartition = 1,
      extraMeta = Seq(s""","$VerField":$maxVer"""),
      extraFromStaged = (staged, aux) => Seq(renderCells(
        foldCounts(stagedCellCounts(aRoot, staged, aux)))))
    // best-effort backstop for vacuumed fold manifests, like the views
    CommitLog.setTableProperty(aRoot, VerProp, maxVer.toString)
    // AUTO-PURGE policy (r12, VERDICT item 3): without it, standing
    // tombstones grow without bound between manual REORGs and every
    // probe pays the anti-join ∝ tombstone count. Opt-in by table
    // property `purgeThreshold` (a fraction; the no-property default
    // keeps purge EXPLICIT — the Delta-faithful conservative
    // posture): when tombstones/postings exceeds it after a fold,
    // the refresh runs [[purge]] inline, reclaiming the mask cost.
    // Parsed defensively (a malformed value disables, never fails a
    // healthy refresh — the maybeCheckpoint lesson).
    CommitLog.tableProperty(aRoot, "purgeThreshold")
      .flatMap(p => scala.util.Try(p.trim.toDouble).toOption)
      .filter(_ > 0.0).foreach { thr =>
        val nTomb = CommitLog.latestVersion(tombstonesRoot(indexRoot))
          .filter(tv => CommitLog
            .snapshotFiles(tombstonesRoot(indexRoot), tv).nonEmpty)
          .map(tv => CommitLog.read(s, tombstonesRoot(indexRoot), tv).count())
          .getOrElse(0L)
        if (nTomb > 0L) {
          // posting count via a column-pruned parquet count — row-group
          // metadata, not a data scan
          val nPost = CommitLog.read(s, aRoot, v).count()
          if (nTomb.toDouble / math.max(1L, nPost) > thr) purge(s, indexRoot)
        }
      }
    // CODEBOOK-DRIFT AUTO-REBUILD (r13, VERDICT item 5) — acting on
    // the r12 cell_balance telemetry: opt-in `rebuildThreshold`
    // property (max/mean live postings per cell); when a refresh
    // leaves the balance past it, the frozen codebook has drifted
    // from the corpus (sustained skewed churn piles postings into a
    // few cells and probe pruning decays toward a full scan) and the
    // index RETRAINS inline over its live postings — the FAISS
    // "retrain when the distribution moved" posture, automated.
    // Parsed defensively; runs AFTER any auto-purge so the balance
    // reads live postings.
    CommitLog.tableProperty(aRoot, "rebuildThreshold")
      .flatMap(p => scala.util.Try(p.trim.toDouble).toOption)
      .filter(_ > 0.0).foreach { thr =>
        // the balance reads the MANIFEST-carried cell counts (r14,
        // VERDICT item 7) — this fold just recorded them (and any
        // inline purge re-recorded the live set), so the armed gate
        // costs one manifest parse, not a corpus-wide aggregation;
        // the detail() scan remains only as the pre-r14 fallback
        val bal = manifestCellBalance(aRoot).getOrElse(
          detail(s, indexRoot)
            .select(col("cell_balance")).collect()(0).getDouble(0))
        if (bal > thr) { rebuild(s, indexRoot); () }
      }
    (v, nIns, nDel)
  }

  /** RETRAIN the index over its LIVE postings — a fresh k-means
    * codebook (the same Similarity.ivfTrain kernel create used) and a
    * fresh assignment, published as one centroid overwrite + one
    * cell-partitioned assigned overwrite; the tombstone table empties
    * (the live mask was applied when reading the postings, so the
    * rebuild IS a purge). The vector set is preserved exactly — a
    * rebuild changes the PARTITIONING of the index, never its
    * contents (SimilaritySpec pins probe-over-rebuilt ≡ brute force).
    * Rebuilt postings carry gen = the index watermark: every future
    * tombstone's generation exceeds it, so delete semantics are
    * unchanged. The fold watermark itself is untouched — a rebuild is
    * maintenance, not ingestion. Returns (vectorsReassigned, newCellCount). */
  def rebuild(s: SparkSession, indexRoot: String): (Long, Long) = {
    val aRoot = assignedRoot(indexRoot)
    val live = postings(s, indexRoot)
      .select(col("vec_id"), col("label"), col("v")).localCheckpoint()
    val (asg, cents) = graft.operators.Similarity.ivfTrain(live)
    val wm = lastIndexed(aRoot)
    CommitLog.overwrite(s, centroidsRoot(indexRoot), cents, nFiles = 1)
    val staged = asg.withColumn("gen", lit(wm)).localCheckpoint()
    CommitLog.overwrite(s, aRoot, staged, nFiles = 1, partCol = Some("cell"),
      extraMeta = Seq(renderCells(countsOf(staged))))
    val tRoot = tombstonesRoot(indexRoot)
    CommitLog.latestVersion(tRoot)
      .filter(tv => CommitLog.snapshotFiles(tRoot, tv).nonEmpty)
      .foreach { _ => CommitLog.delete(s, tRoot, lit(true)); () }
    (live.count(), CommitLog.read(s, centroidsRoot(indexRoot),
      CommitLog.latestVersion(centroidsRoot(indexRoot)).get).count())
  }

  /** Physically retire the masked postings — the REORG APPLY (PURGE)
    * twin: overwrite the assigned table with its LIVE postings (one
    * routed cell-partitioned write), then empty the tombstone table.
    * A crash between the two leaves stale tombstones masking
    * already-purged generations — inert (nothing left to mask).
    * Returns (postingsPurged, tombstonesCleared). */
  def purge(s: SparkSession, indexRoot: String): (Long, Long) = {
    val aRoot = assignedRoot(indexRoot)
    val tRoot = tombstonesRoot(indexRoot)
    // zero-action early exit: an empty (or purged-empty) tombstone
    // table is visible from manifest metadata alone
    val tv = CommitLog.latestVersion(tRoot)
      .filter(v => CommitLog.snapshotFiles(tRoot, v).nonEmpty)
      .getOrElse(return (0L, 0L))
    // ONE pass carries both counters alongside the overwrite staging
    // (r12, the r11 "three actions" nit): tombstones reduce to max
    // generation per vec_id (dead iff ANY tombstone generation exceeds
    // the posting's ⟺ the MAX does), each posting left-joins at most
    // one row, and the dead flag + both counts come off the same
    // localCheckpoint the overwrite stages from. The 1-row cross join
    // is the bounded scalar-combine idiom, not a data join.
    val t = CommitLog.read(s, tRoot, tv)
    val tAgg = t.groupBy(col("vec_id")).agg(max(col("gen")).as("_t_gen"))
      .select(col("vec_id").as("_t_vid"), col("_t_gen"))
    val all = CommitLog.read(s, aRoot, CommitLog.latestVersion(aRoot).get)
    val flagged = all.join(tAgg,
        all("vec_id") === tAgg("_t_vid") && tAgg("_t_gen") > all("gen"),
        "left_outer")
      .select(col("vec_id"), col("label"), col("v"), col("cell"), col("gen"),
        col("_t_gen").isNotNull.as("_dead"))
      .localCheckpoint()
    val cnt = flagged.agg(
        coalesce(sum(when(col("_dead"), 1L).otherwise(0L)), lit(0L)).as("purged"))
      .crossJoin(t.agg(count(lit(1)).as("nt")))
      .collect()(0)
    val (purged, nTomb) = (cnt.getLong(0), cnt.getLong(1))
    val live = flagged.filter(!col("_dead")).drop("_dead")
    // purge never changes LIVE counts — re-record them from the live
    // frame in hand (exact even for a pre-r14 index joining mid-life)
    CommitLog.overwrite(s, aRoot, live,
      nFiles = 1, partCol = Some("cell"),
      extraMeta = Seq(renderCells(countsOf(live))))
    CommitLog.delete(s, tRoot, lit(true))
    (purged, nTomb)
  }

  /** Index health telemetry (r12, VERDICT item 3) — the
    * rebuild-trigger signal for frozen-codebook drift, DESCRIBE
    * DETAIL's sibling for the index: one row with the live posting
    * count, outstanding tombstones (the mask's per-probe anti-join
    * cost), their ratio (what [[refresh]]'s auto-purge thresholds
    * on), and the CELL BALANCE — max/mean posting count over live
    * cells. A fresh k-means codebook sits near 1; sustained churn
    * under frozen centroids drifts it upward, and when it leaves the
    * operator's comfort band the honest remedy is a retrain
    * ([[create]] again) — the FAISS posture, now measurable instead
    * of folklore. */
  def detail(s: SparkSession, indexRoot: String): DataFrame = {
    val aRoot = assignedRoot(indexRoot)
    val tRoot = tombstonesRoot(indexRoot)
    val all = CommitLog.read(s, aRoot, CommitLog.latestVersion(aRoot).get)
    val nTomb = CommitLog.latestVersion(tRoot)
      .filter(v => CommitLog.snapshotFiles(tRoot, v).nonEmpty)
      .map(v => CommitLog.read(s, tRoot, v).count()).getOrElse(0L)
    maskTombstones(s, indexRoot, all)
      .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_postings_live"),
        count(lit(1)).as("n_cells"),
        coalesce(max(col("cnt")), lit(0L)).as("max_cell_postings"),
        coalesce(avg(col("cnt")), lit(0.0)).as("mean_cell_postings"))
      .select(col("n_postings_live"),
        lit(nTomb).as("n_tombstones"),
        when(col("n_postings_live") > 0,
          lit(nTomb).cast("double") / col("n_postings_live"))
          .otherwise(lit(0.0)).as("tombstone_ratio"),
        col("n_cells"), col("max_cell_postings"), col("mean_cell_postings"),
        when(col("mean_cell_postings") > 0,
          col("max_cell_postings") / col("mean_cell_postings"))
          .otherwise(lit(0.0)).as("cell_balance"))
  }
}
