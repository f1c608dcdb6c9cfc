package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-aggregate incrementally-maintained view (r11, VERDICT item 2)
  * — [[IncrementalView]] widened past the canonical COUNT+SUM pair to
  * the full distributive family per measure column:
  *
  *   n        COUNT(*)      (one per key — the key-drop arbiter)
  *   nv_m     COUNT(m)      (non-null count — SUM/AVG null-ness and
  *                           the AVG numerator/denominator are exact)
  *   total_m  SUM(m)        (DECIMAL(18,4), exact)
  *   mn_m     MIN(m)
  *   mx_m     MAX(m)
  *
  * COUNT/SUM fold as signed deltas exactly like the 2-column view.
  * MIN/MAX are only SEMI-distributive: inserts fold monotonically
  * (new mn = least(old, batch insert min)), but a delete that removes
  * the recorded extreme invalidates the monotone fold — the standard
  * bounded-recompute rule of the published IVM playbook applies
  * (Gupta & Mumick's summary-delta method for non-distributive
  * aggregates): keys whose DELETE-side batch bounds touch their
  * recorded extremes re-aggregate FROM THE SOURCE, restricted to
  * exactly those keys by a semi join; every other key folds
  * arithmetically. AVG is derivable (total_m / nv_m) so it is not
  * materialized — the public engines make the same call.
  *
  * The watermark contract, crash anatomy and idempotency are
  * [[IncrementalView]]'s verbatim: the last folded source version
  * rides the fold's own MERGE commit (manifest field `viewSrc`), and
  * the whole fold — survivors merged, zero-count keys deleted — is
  * ONE atomic commit via the merge's distributed delete-keys side.
  *
  * 100 TB posture: the arithmetic path costs changed-rows + a MERGE
  * over dirty view files, like the 2-column view. The re-aggregation
  * path reads the SOURCE at the folded version for the affected keys
  * — shuffle volume is bounded by those keys' rows (the semi join),
  * scan volume by whatever layout pruning the source offers; a
  * key-aligned layout (partition/cluster by the group key) makes the
  * re-read surgical. Deletes that never touch an extreme (the common
  * case — most deletes are retention slices, not argmin rows) never
  * pay it. */
object IncrementalViewMulti {

  private val SrcProp = "graft.view.sourceRoot"
  private val KeyProp = "graft.view.keyCol"
  private val ValsProp = "graft.view.valCols"
  private val VerProp = "graft.view.sourceVersion"
  private val VerField = "viewSrc"
  private val DimProp = "graft.view.dimRoot"
  private val DimVerProp = "graft.view.dimVersion"
  private val DimKeyProp = "graft.view.dimKey"
  private val DimVerField = "viewDim"
  private val AvgProp = "graft.view.avgCols"
  private val MomentProp = "graft.view.momentCols"
  private val SampleProp = "graft.view.sampleCols"

  /** The second-moment derivations (r13, VERDICT item 4) — VAR_POP /
    * STDDEV_POP from the maintained (total, ss, nv) triple, in ONE
    * place shared by state(), every fold and the bounded recompute,
    * so the arithmetic and recompute paths cannot disagree: the
    * exact decimal total and sum-of-squares cast through double
    * ONCE, then var = E[x²] − mean² with an explicit multiply (no
    * POW — the oracle replays the identical IEEE op sequence).
    * Negative-zero clamp: greatest(0, ·) absorbs the tiny negative
    * residue a constant column's cancellation can leave in double. */
  private def varExpr(total: Column, ss: Column, nv: Column): Column = {
    val mean = total.cast("double") / nv
    when(nv > 0, greatest(ss.cast("double") / nv - mean * mean, lit(0.0)))
  }
  private def stdExpr(total: Column, ss: Column, nv: Column): Column =
    sqrt(varExpr(total, ss, nv))

  /** SAMPLE variance/stddev (r14, VERDICT item 3) — derived AT READ
    * from the SAME maintained (total, ss, nv) triple with the
    * n/(n−1) Bessel factor; no new folded state. NULL at n ≤ 1 (the
    * SQL contract for a single-sample variance). The IEEE op
    * sequence is pinned like the population family's: the population
    * derivation's double result, ONE multiply by n, ONE divide by
    * (n−1) — the oracle replays it verbatim. */
  private def varSampExpr(total: Column, ss: Column, nv: Column): Column =
    when(nv > 1, varExpr(total, ss, nv) * nv.cast("double") /
      (nv - 1).cast("double"))
  private def stdSampExpr(total: Column, ss: Column, nv: Column): Column =
    sqrt(varSampExpr(total, ss, nv))

  /** Full per-key state at `rows` — also the bounded re-aggregation
    * kernel (recomputed keys get ALL their aggregates from here, so
    * the two paths can never disagree on shape). NULL in ANY group-key
    * column excludes the row (the log's MERGE keys by equality, where
    * NULL never matches itself — the single-key restriction, applied
    * per column). */
  private def state(keyCols: Seq[String], valCols: Seq[String],
      rows: DataFrame, avgCols: Seq[String] = Nil,
      momentCols: Seq[String] = Nil,
      sampleCols: Seq[String] = Nil): DataFrame = {
    val aggs = count(lit(1)).as("n") +: valCols.flatMap { m =>
      val total =
        sum(col(m).cast("decimal(18,4)")).cast("decimal(18,4)")
      val nv = count(col(m))
      Seq(
        nv.as(s"nv_$m"),
        total.as(s"total_$m"),
        min(col(m)).as(s"mn_$m"),
        max(col(m)).as(s"mx_$m")) ++
        // AVG is DERIVED, never independently aggregated: exactly
        // total/nv over the exact decimal total, cast through double
        // ONCE — the same derivation the fold applies, so the two
        // paths cannot disagree (r12, VERDICT item 2)
        (if (avgCols.contains(m))
          Seq(when(nv > 0, total.cast("double") / nv).as(s"avg_$m"))
        else Nil) ++
        // second moment (r13): the exact decimal sum-of-squares is
        // MAINTAINED (folds signed like total); VAR_POP/STDDEV_POP
        // derive from it via the shared varExpr/stdExpr — declared
        // per measure, the full std+var family materializes together
        // (the AVG family-materialization precedent). Sample forms
        // (r14) derive from the SAME ss with the n/(n−1) factor —
        // one maintained triple serves both families.
        (if (momentCols.contains(m) || sampleCols.contains(m)) {
          val ss = sum(col(m).cast("decimal(18,4)") *
            col(m).cast("decimal(18,4)")).cast("decimal(38,8)")
          Seq(ss.as(s"ss_$m")) ++
            (if (momentCols.contains(m))
              Seq(varExpr(total, ss, nv).as(s"var_$m"),
                stdExpr(total, ss, nv).as(s"std_$m"))
            else Nil) ++
            (if (sampleCols.contains(m))
              Seq(varSampExpr(total, ss, nv).as(s"vars_$m"),
                stdSampExpr(total, ss, nv).as(s"stds_$m"))
            else Nil)
        } else Nil)
    }
    rows.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** See [[IncrementalView.lastFolded]] — same checkpoint-floored
    * walk, same contract. */
  private def lastFolded(viewRoot: String): Long =
    // MAX of the two sources (r11 review): a vacuum can gap the
    // manifests between an old checkpoint's answer and the newest
    // fold, leaving the walk's answer BEHIND the property backstop —
    // preferring the stale one would silently double-fold
    (CommitLog.lastLongMeta(viewRoot, VerField).toSeq ++
      CommitLog.tableProperty(viewRoot, VerProp).map(_.toLong).toSeq)
      .maxOption
      .getOrElse(sys.error(s"$viewRoot is not an incremental view"))

  /** The dim version the view's state currently reflects — the same
    * MAX-of-both contract as [[lastFolded]], over the dim fold's
    * `viewDim` manifest field with the create-time property as the
    * backstop (a crash between a dim fold's commit and its property
    * write must not replay the fold against the wrong pin — though
    * the dim fold, like the fact fold, is idempotent by construction:
    * a replay re-merges identical states). */
  private def pinnedDim(viewRoot: String): Long =
    (CommitLog.lastLongMeta(viewRoot, DimVerField).toSeq ++
      CommitLog.tableProperty(viewRoot, DimVerProp).map(_.toLong).toSeq)
      .maxOption
      .getOrElse(sys.error(s"$viewRoot is not a join view"))

  /** Full compute at the source's current head; the view's version 0.
    * appendEvolved records the schema, so a fold that empties the view
    * still reads back. */
  def create(s: SparkSession, viewRoot: String, srcRoot: String,
      keyCol: String, valCols: Seq[String], nFiles: Int): Long =
    createKeyed(s, viewRoot, srcRoot, Seq(keyCol), valCols, nFiles)
  def create(s: SparkSession, viewRoot: String, srcRoot: String,
      keyCol: String, valCols: Seq[String]): Long =
    createKeyed(s, viewRoot, srcRoot, Seq(keyCol), valCols)

  /** [[create]] on a COMPOSITE group key (r11): GROUP BY k1, k2, ... —
    * the first materialized view a real user declares has more than
    * one grouping column; the fold MERGEs through the log's composite
    * key path (CommitLog.mergeKeyed). */
  def createKeyed(s: SparkSession, viewRoot: String, srcRoot: String,
      keyCols: Seq[String], valCols: Seq[String], nFiles: Int = 2,
      avgCols: Seq[String] = Nil, momentCols: Seq[String] = Nil,
      sampleCols: Seq[String] = Nil): Long = {
    require(avgCols.forall(valCols.contains),
      s"AVG columns must be declared measures: ${avgCols.diff(valCols)}")
    require(momentCols.forall(valCols.contains),
      s"STDDEV/VAR columns must be declared measures: ${momentCols.diff(valCols)}")
    require(sampleCols.forall(valCols.contains),
      s"sample STDDEV/VAR columns must be declared measures: ${sampleCols.diff(valCols)}")
    require(keyCols.nonEmpty, "multi-aggregate view needs a group key")
    require(valCols.nonEmpty, "multi-aggregate view needs at least one measure")
    keyCols.foreach(k => require(!valCols.contains(k),
      s"'$k' is a group key — it cannot also be a measure"))
    // the view's own state columns are reserved: a chained view (a
    // Multi over a Multi, r12) grouping on the upstream's `n` would
    // collide with THIS view's COUNT(*) column — name the upstream
    // column differently (e.g. key on nv_<m>, which equals n when the
    // measure is never null)
    (keyCols ++ valCols).foreach(c => require(c != "n",
      "'n' is the view's reserved COUNT(*) column — it cannot be a " +
        "group key or measure; key the upstream view on nv_<measure> instead"))
    val srcHead = CommitLog.latestVersion(srcRoot)
      .getOrElse(sys.error(s"cannot build a view over an empty table at $srcRoot"))
    val v = CommitLog.appendEvolved(s, viewRoot,
      state(keyCols, valCols, CommitLog.read(s, srcRoot, srcHead), avgCols,
        momentCols, sampleCols),
      nFiles)
    CommitLog.setTableProperty(viewRoot, SrcProp, srcRoot)
    CommitLog.setTableProperty(viewRoot, KeyProp, keyCols.mkString(","))
    CommitLog.setTableProperty(viewRoot, ValsProp, valCols.mkString(","))
    if (avgCols.nonEmpty)
      CommitLog.setTableProperty(viewRoot, AvgProp, avgCols.mkString(","))
    if (momentCols.nonEmpty)
      CommitLog.setTableProperty(viewRoot, MomentProp, momentCols.mkString(","))
    if (sampleCols.nonEmpty)
      CommitLog.setTableProperty(viewRoot, SampleProp, sampleCols.mkString(","))
    CommitLog.setTableProperty(viewRoot, VerProp, srcHead.toString)
    // a view accumulates one commit per fold — exactly the
    // long-history table the log checkpoint exists for (r11): every
    // 10th fold snapshots the history, flooring the watermark walk
    CommitLog.setTableProperty(viewRoot, "checkpointInterval", "10")
    v
  }

  /** JOIN view (r11): an aggregate over FACT ⋈ DIM — the star-schema
    * rollup ("enrich then aggregate", the canonical dashboard query).
    * The dimension is PINNED at create (its version recorded, the
    * frozen-codebook pattern): a fold enriches only the fact DELTAS
    * with one inner join against the pinned dim — Δ(R ⋈ S) = ΔR ⋈ S
    * when S is immutable, the one delta rule that needs no pair terms
    * — and then runs the ordinary multi-aggregate fold. Group keys
    * and measures may come from EITHER side. A dim that has advanced
    * past its pinned version PROPAGATES exactly when the dim carries
    * a CDF ([[foldDimAdvance]], r12: re-aggregate only the group keys
    * whose dim rows changed, then re-pin) and refuses loudly when it
    * does not (a changed mapping re-attributes HISTORY — without
    * change rows only a rebuild does that exactly); fact rows without
    * a dim match drop on BOTH the create and fold paths (inner-join
    * semantics, consistently — so incremental stays bit-for-bit equal
    * to recompute). */
  def createJoined(s: SparkSession, viewRoot: String, srcRoot: String,
      dimRoot: String, dimKey: String, keyCols: Seq[String],
      valCols: Seq[String], nFiles: Int = 2,
      avgCols: Seq[String] = Nil, momentCols: Seq[String] = Nil,
      sampleCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty && valCols.nonEmpty,
      "join view needs group keys and at least one measure")
    require(avgCols.forall(valCols.contains),
      s"AVG columns must be declared measures: ${avgCols.diff(valCols)}")
    require(momentCols.forall(valCols.contains),
      s"STDDEV/VAR columns must be declared measures: ${momentCols.diff(valCols)}")
    require(sampleCols.forall(valCols.contains),
      s"sample STDDEV/VAR columns must be declared measures: ${sampleCols.diff(valCols)}")
    val srcHead = CommitLog.latestVersion(srcRoot)
      .getOrElse(sys.error(s"cannot build a view over an empty table at $srcRoot"))
    val dimHead = CommitLog.latestVersion(dimRoot)
      .getOrElse(sys.error(s"cannot join an empty dimension at $dimRoot"))
    val dim = CommitLog.read(s, dimRoot, dimHead)
    val v = CommitLog.appendEvolved(s, viewRoot,
      state(keyCols, valCols,
        CommitLog.read(s, srcRoot, srcHead).join(dim, Seq(dimKey)), avgCols,
        momentCols, sampleCols),
      nFiles)
    CommitLog.setTableProperty(viewRoot, SrcProp, srcRoot)
    CommitLog.setTableProperty(viewRoot, KeyProp, keyCols.mkString(","))
    CommitLog.setTableProperty(viewRoot, ValsProp, valCols.mkString(","))
    if (avgCols.nonEmpty)
      CommitLog.setTableProperty(viewRoot, AvgProp, avgCols.mkString(","))
    if (momentCols.nonEmpty)
      CommitLog.setTableProperty(viewRoot, MomentProp, momentCols.mkString(","))
    if (sampleCols.nonEmpty)
      CommitLog.setTableProperty(viewRoot, SampleProp, sampleCols.mkString(","))
    CommitLog.setTableProperty(viewRoot, VerProp, srcHead.toString)
    CommitLog.setTableProperty(viewRoot, DimProp, dimRoot)
    CommitLog.setTableProperty(viewRoot, DimVerProp, dimHead.toString)
    CommitLog.setTableProperty(viewRoot, DimKeyProp, dimKey)
    CommitLog.setTableProperty(viewRoot, "checkpointInterval", "10")
    v
  }

  /** Fold the source changes since the last refresh. Returns
    * (newViewVersion, changeRowsFolded, keysReaggregated) — the last
    * counter is the bounded-recompute volume: keys whose delete-side
    * bounds hit a recorded extreme, PLUS (join views) keys
    * re-aggregated by a Δdim fold. Join views first propagate any
    * DIMENSION advance ([[foldDimAdvance]] — exact, bounded to the
    * dim-changed group keys, requires the dim's CDF), re-pinning the
    * dim at its head; then the fact deltas enrich against the NEW
    * pin. A dim that advanced WITHOUT a CDF still refuses: without
    * change rows the affected-key set is unknowable short of a full
    * diff, and a rebuild is the honest answer (r12, VERDICT item 1
    * kept the refusal for exactly this path). */
  def refresh(s: SparkSession, viewRoot: String): (Long, Long, Long) = {
    val srcRoot = CommitLog.tableProperty(viewRoot, SrcProp)
      .getOrElse(sys.error(s"$viewRoot is not an incremental view (no $SrcProp)"))
    val srcHead = CommitLog.latestVersion(srcRoot)
      .getOrElse(sys.error(s"source table vanished from $srcRoot"))
    CommitLog.tableProperty(viewRoot, DimProp) match {
      case None =>
        val from = lastFolded(viewRoot)
        val viewHead = CommitLog.latestVersion(viewRoot)
          .getOrElse(sys.error(s"view table vanished from $viewRoot"))
        if (srcHead == from) return (viewHead, 0L, 0L)
        foldCore(s, viewRoot, CommitLog.changesRows(s, srcRoot, from, srcHead),
          from, viewHead, ver => CommitLog.read(s, srcRoot, ver))
      case Some(dimRoot) =>
        val pinned = pinnedDim(viewRoot)
        val dimHead = CommitLog.latestVersion(dimRoot)
          .getOrElse(sys.error(s"dimension table vanished from $dimRoot"))
        val dimKey = CommitLog.tableProperty(viewRoot, DimKeyProp).get
        // Δdim FIRST: re-attribute the already-folded fact population
        // under the new mapping, advancing the pin — then fact deltas
        // fold against the new pin. Exact: state after both steps is
        // agg(fact@srcHead ⋈ dim@dimHead), the recompute's answer.
        val nDimKeys =
          if (dimHead == pinned) 0L
          else {
            require(CommitLog.cdfEnabled(dimRoot),
              s"dimension $dimRoot advanced to v$dimHead past the view's " +
                s"pinned v$pinned — a changed mapping re-attributes history; " +
                "without a dim CDF (enableChangeDataFeed) the affected keys " +
                "are unknowable incrementally — rebuild with createJoined, " +
                "or enable the dim's CDF for bounded Δdim propagation")
            foldDimAdvance(s, viewRoot, srcRoot, dimRoot, dimKey,
              pinned, dimHead)
          }
        val from = lastFolded(viewRoot)
        val viewHead = CommitLog.latestVersion(viewRoot)
          .getOrElse(sys.error(s"view table vanished from $viewRoot"))
        if (srcHead == from) return (viewHead, 0L, nDimKeys)
        val dim = CommitLog.read(s, dimRoot, dimHead)
        val changes = CommitLog.changesRows(s, srcRoot, from, srcHead)
        val (v, n, nRec) = foldCore(s, viewRoot,
          changes.join(dim, Seq(dimKey)), from, viewHead,
          ver => CommitLog.read(s, srcRoot, ver).join(dim, Seq(dimKey)))
        (v, n, nRec + nDimKeys)
    }
  }

  /** Δdim propagation (r12, VERDICT item 1): the dimension advanced
    * from `pinned` to `dimHead` — fold the dim's OWN changelog into
    * the view exactly, bounded to the group keys a changed dim row
    * can touch. The algebra: the view currently equals
    * agg(fact@from ⋈ dim@pinned); only fact rows whose `dimKey`
    * appears in Δdim (any change row's key — pre AND post images, so
    * a re-keyed dim row contributes both sides) can change any group
    * key's state, and the group keys they touch are the ones those
    * rows produce under the OLD mapping (state to retire) plus the
    * NEW mapping (state to build) — both derived distributively, no
    * pair-term blowup because the fact side is held constant at the
    * folded version. Exactly those keys re-aggregate from
    * fact@from ⋈ dim@dimHead restricted by a left-semi join (the
    * MIN/MAX bounded-recompute machinery verbatim); affected keys
    * with no surviving rows ride the MERGE's distributed delete side.
    * One atomic commit, `viewDim` watermark in its own manifest;
    * idempotent — a replay re-merges identical states. Returns the
    * re-aggregated key count.
    *
    * 100 TB posture: cost ∝ (fact rows joining a changed dim key) +
    * (full rows of the affected group keys) + one merge over dirty
    * view files — a 10-row dim fix on a petabyte fact re-aggregates
    * only the touched segments, never the table. A TOTAL dim remap
    * degrades to a distributed full recompute through the same plan
    * (every key affected), which is still the exact answer. */
  private def foldDimAdvance(s: SparkSession, viewRoot: String,
      srcRoot: String, dimRoot: String, dimKey: String,
      pinned: Long, dimHead: Long): Long = {
    val keyCols = CommitLog.tableProperty(viewRoot, KeyProp).get.split(',').toSeq
    val valCols = CommitLog.tableProperty(viewRoot, ValsProp).get.split(',').toSeq
    val kc = keyCols.map(col)
    val from = lastFolded(viewRoot)
    val fact = CommitLog.read(s, srcRoot, from)
    // every dim key a change row names: inserted, deleted, and both
    // sides of updates (a re-keyed dim row appears as pre+post)
    val dKeys = CommitLog.changesRows(s, dimRoot, pinned, dimHead)
      .select(col(dimKey)).filter(col(dimKey).isNotNull).distinct()
    val fAff = fact.join(dKeys, Seq(dimKey), "left_semi")
    val oldDim = CommitLog.read(s, dimRoot, pinned)
    val newDim = CommitLog.read(s, dimRoot, dimHead)
    val notNullKeys = keyCols.map(col(_).isNotNull).reduce(_ && _)
    // group keys whose state may change: what the affected fact rows
    // grouped to under the OLD mapping ∪ under the NEW one
    val affKeys = fAff.join(oldDim, Seq(dimKey)).select(kc: _*)
      .unionByName(fAff.join(newDim, Seq(dimKey)).select(kc: _*))
      .filter(notNullKeys).distinct().localCheckpoint()
    val nAff = affKeys.count()
    if (nAff == 0L) {
      // dim churn with zero joined impact (e.g. keys no fact row
      // carries): just advance the pin — nothing to merge
      CommitLog.setTableProperty(viewRoot, DimVerProp, dimHead.toString)
      return 0L
    }
    // exact new state of exactly the affected keys, from the fact at
    // the FOLDED version joined to the new dim — the same
    // full-source-scan-semi-filtered shape as the MIN/MAX recompute
    val avgCols = CommitLog.tableProperty(viewRoot, AvgProp)
      .map(_.split(',').toSeq).getOrElse(Nil)
    val momentCols = CommitLog.tableProperty(viewRoot, MomentProp)
      .map(_.split(',').toSeq).getOrElse(Nil)
    val sampleCols = CommitLog.tableProperty(viewRoot, SampleProp)
      .map(_.split(',').toSeq).getOrElse(Nil)
    val newStates = state(keyCols, valCols,
      fact.join(newDim, Seq(dimKey)).join(affKeys, keyCols, "left_semi"),
      avgCols, momentCols, sampleCols)
      .localCheckpoint() // feeds both the merge and the gone-key anti
    // affected keys with no rows under the new mapping (their users
    // left the dim, or re-mapped away) delete distributively
    val gone = affKeys.join(newStates.select(kc: _*), keyCols, "left_anti")
    val wm = CommitLog.WriterMeta(Map(DimVerField -> dimHead))
    CommitLog.mergeKeyed(s, viewRoot, newStates, keyCols,
      nInsertFiles = 1, extraMeta = wm, deleteKeys = Some(gone))
    CommitLog.setTableProperty(viewRoot, DimVerProp, dimHead.toString)
    nAff
  }

  /** Fold a batch of change rows ([[CommitLog.changesRows]]'s shape).
    * Same idempotency/atomicity contract as [[IncrementalView
    * .foldDeltas]]; additionally runs the MIN/MAX bounded recompute
    * for keys whose delete-side bounds touch their recorded extremes
    * — re-aggregated from the source AT THE FOLDED VERSION (`maxVer`),
    * never the live head, so a concurrent source commit cannot leak
    * unfolded rows into this fold's state. */
  def foldDeltas(s: SparkSession, viewRoot: String, srcRoot: String,
      changeRows: DataFrame): (Long, Long, Long) = {
    // JOIN views enrich the raw change rows (and the bounded-recompute
    // source reads) against the PINNED dim — and since r13 (VERDICT
    // item 2) the continuous path survives a dim advance WITHOUT a
    // manual refresh: one metadata read per trigger compares the
    // dim's head to the pin; if it moved, the Δdim fold propagates
    // the changed mapping exactly (bounded to the dim-changed group
    // keys, requires the dim's CDF — the refresh contract verbatim)
    // BEFORE the fact fold, so this batch's deltas enrich against the
    // NEW pin. Ordering matters: Δdim re-attributes the already-
    // folded population at the fact watermark, then the fact deltas
    // fold under the advanced mapping — state after both steps is
    // agg(fact@batchVer ⋈ dim@dimHead), the recompute's answer.
    CommitLog.tableProperty(viewRoot, DimProp) match {
      case None =>
        val from = lastFolded(viewRoot)
        val viewHead = CommitLog.latestVersion(viewRoot)
          .getOrElse(sys.error(s"view table vanished from $viewRoot"))
        foldCore(s, viewRoot, changeRows, from, viewHead,
          ver => CommitLog.read(s, srcRoot, ver))
      case Some(dimRoot) =>
        val dimKey = CommitLog.tableProperty(viewRoot, DimKeyProp).get
        val pinned = pinnedDim(viewRoot)
        val dimHead = CommitLog.latestVersion(dimRoot)
          .getOrElse(sys.error(s"dimension table vanished from $dimRoot"))
        val nDimKeys =
          if (dimHead == pinned) 0L
          else {
            require(CommitLog.cdfEnabled(dimRoot),
              s"dimension $dimRoot advanced to v$dimHead past the view's " +
                s"pinned v$pinned mid-stream — without a dim CDF " +
                "(enableChangeDataFeed) the affected keys are unknowable " +
                "incrementally; enable the dim's CDF or rebuild")
            foldDimAdvance(s, viewRoot, srcRoot, dimRoot, dimKey,
              pinned, dimHead)
          }
        // (re)read AFTER the Δdim fold — it may have committed a new
        // view version; the fact watermark is untouched by it
        val from = lastFolded(viewRoot)
        val viewHead = CommitLog.latestVersion(viewRoot)
          .getOrElse(sys.error(s"view table vanished from $viewRoot"))
        val dim = CommitLog.read(s, dimRoot, pinnedDim(viewRoot))
        val (v, n, nRec) = foldCore(s, viewRoot,
          changeRows.join(dim, Seq(dimKey)), from, viewHead,
          ver => CommitLog.read(s, srcRoot, ver).join(dim, Seq(dimKey)))
        (v, n, nRec + nDimKeys)
    }
  }

  /** The fold body shared by plain and JOIN views: `changeRows` is the
    * (possibly dim-enriched) changelog, `sourceAt` reads the (possibly
    * dim-enriched) source at a pinned version for the MIN/MAX bounded
    * recompute. */
  private def foldCore(s: SparkSession, viewRoot: String,
      changeRows: DataFrame, from: Long, viewHead: Long,
      sourceAt: Long => DataFrame): (Long, Long, Long) = {
    val keyCols = CommitLog.tableProperty(viewRoot, KeyProp).get.split(',').toSeq
    val valCols = CommitLog.tableProperty(viewRoot, ValsProp).get.split(',').toSeq
    val momentCols = CommitLog.tableProperty(viewRoot, MomentProp)
      .map(_.split(',').toSeq).getOrElse(Nil)
    val sampleCols = CommitLog.tableProperty(viewRoot, SampleProp)
      .map(_.split(',').toSeq).getOrElse(Nil)
    // ONE maintained sum-of-squares serves both derived families
    val momentAll = (momentCols ++ sampleCols).distinct
    val kc = keyCols.map(col)
    val changes = changeRows
      .filter(col("_commit_version") > from &&
        keyCols.map(col(_).isNotNull).reduce(_ && _))
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
    // ONE changelog pass: per-key deltas, insert-side and delete-side
    // bounds, and the batch totals, all from a single checkpointed agg
    val aggs = Seq(
      sum(col("_sgn")).as("dn"),
      count(lit(1)).as("_cnt"),
      max(col("_commit_version")).as("_maxv")) ++
      valCols.flatMap { m => Seq(
        sum(when(col(m).isNotNull, col("_sgn")).otherwise(0L)).as(s"dnv_$m"),
        sum(col(m).cast("decimal(18,4)") * col("_sgn")).as(s"dtotal_$m"),
        min(when(col("_sgn") === 1L, col(m))).as(s"insmn_$m"),
        max(when(col("_sgn") === 1L, col(m))).as(s"insmx_$m"),
        min(when(col("_sgn") === -1L, col(m))).as(s"delmn_$m"),
        max(when(col("_sgn") === -1L, col(m))).as(s"delmx_$m")) ++
        // signed sum-of-squares delta (r13): x² is sign-invariant, so
        // the second moment folds exactly like total — fully
        // distributive, never a recompute trigger
        (if (momentAll.contains(m))
          Seq(sum(col(m).cast("decimal(18,4)") *
            col(m).cast("decimal(18,4)") * col("_sgn")).as(s"dss_$m"))
        else Nil) }
    // r19: no separate checkpoint/collect for the deltas aggregate —
    // it feeds exactly one consumer (the fold join), whose checkpoint
    // materializes the whole pipeline once; the batch totals ride that
    // checkpoint into the guard collect (two driver actions per fold,
    // was four)
    val deltas = changes
      .select((kc ++ (col("_commit_version") +: sign.as("_sgn") +:
        valCols.map(col))): _*)
      .groupBy(kc: _*).agg(aggs.head, aggs.tail: _*)
    // the bounded-recompute trigger, per measure: a delete-side bound
    // at or past the recorded extreme (or a delete against a key the
    // view has no state for — insert+delete within one batch) breaks
    // the monotone fold for that key
    def hit(m: String): Column =
      (col(s"d.delmn_$m").isNotNull &&
        (col(s"c.mn_$m").isNull || col(s"d.delmn_$m") <= col(s"c.mn_$m"))) ||
        (col(s"d.delmx_$m").isNotNull &&
          (col(s"c.mx_$m").isNull || col(s"d.delmx_$m") >= col(s"c.mx_$m")))
    val zero = lit(java.math.BigDecimal.ZERO).cast("decimal(18,4)")
    val zero38 = lit(java.math.BigDecimal.ZERO).cast("decimal(38,8)")
    val current = CommitLog.read(s, viewRoot, viewHead)
    val perMeasure = valCols.flatMap { m =>
      val nv = coalesce(col(s"c.nv_$m"), lit(0L)) + coalesce(col(s"d.dnv_$m"), lit(0L))
      Seq(
        nv.as(s"nv_$m"),
        // SUM null-ness is exact here: nv_m tracks the non-null count
        when(nv === 0L, lit(null).cast("decimal(18,4)"))
          .otherwise((coalesce(col(s"c.total_$m"), zero) +
            coalesce(col(s"d.dtotal_$m"), zero)).cast("decimal(18,4)"))
          .as(s"total_$m"),
        // monotone insert fold (least/greatest skip nulls) — only
        // sound for keys the recompute trigger did NOT fire on
        least(col(s"c.mn_$m"), col(s"d.insmn_$m")).as(s"mn_$m"),
        greatest(col(s"c.mx_$m"), col(s"d.insmx_$m")).as(s"mx_$m")) ++
        (if (momentAll.contains(m)) Seq(
          when(nv === 0L, lit(null).cast("decimal(38,8)"))
            .otherwise((coalesce(col(s"c.ss_$m"), zero38) +
              coalesce(col(s"d.dss_$m").cast("decimal(38,8)"), zero38))
              .cast("decimal(38,8)"))
            .as(s"ss_$m"))
        else Nil)
    }
    val avgCols = CommitLog.tableProperty(viewRoot, AvgProp)
      .map(_.split(',').toSeq).getOrElse(Nil)
    val arithBase = deltas.as("d")
      .join(current.as("c"), keyCols, "left_outer")
      .select((kc ++
        ((coalesce(col("c.n"), lit(0L)) + col("d.dn")).as("n") +:
          valCols.map(hit).reduce(_ || _).as("_rec") +:
          col("d._cnt").as("_cnt") +: col("d._maxv").as("_maxv") +:
          perMeasure)): _*)
    // derived AVG/VAR/STDDEV columns re-derive from the FOLDED
    // total/ss/nv in one extra projection — same through-double
    // derivation as state() (shared varExpr/stdExpr), so the
    // arithmetic and recompute paths agree (r12; moments r13)
    val derived = avgCols.map(m =>
      when(col(s"nv_$m") > 0,
        col(s"total_$m").cast("double") / col(s"nv_$m")).as(s"avg_$m")) ++
      momentCols.flatMap(m => Seq(
        varExpr(col(s"total_$m"), col(s"ss_$m"), col(s"nv_$m")).as(s"var_$m"),
        stdExpr(col(s"total_$m"), col(s"ss_$m"), col(s"nv_$m")).as(s"std_$m"))) ++
      sampleCols.flatMap(m => Seq(
        varSampExpr(col(s"total_$m"), col(s"ss_$m"), col(s"nv_$m")).as(s"vars_$m"),
        stdSampExpr(col(s"total_$m"), col(s"ss_$m"), col(s"nv_$m")).as(s"stds_$m")))
    val arith = (if (derived.isEmpty) arithBase
      else arithBase.select(col("*") +: derived: _*))
      .localCheckpoint() // one evaluation feeds guard + all three sides
    // batch totals + guard + recompute-trigger count in ONE scalar
    // action over the checkpoint (r12, the r11 "counter consolidation"
    // nit; r19 folds the old `tot` collect in too)
    val chk = arith.agg(
      coalesce(sum(col("_cnt")), lit(0L)),
      max(col("_maxv")),
      coalesce(sum(when(col("n") < 0, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("_rec") && col("n") > 0, 1L).otherwise(0L)),
        lit(0L))).collect()(0)
    val nChanges = chk.getLong(0)
    if (nChanges == 0) return (viewHead, 0L, 0L)
    val maxVer = chk.getLong(1)
    require(chk.getLong(2) == 0L,
      "refresh: a key's count went negative — the changelog and view " +
        "state disagree (an interrupted fold, or the view edited " +
        "out-of-band); rebuild the view with create()")
    val recKeys = arith.filter(col("_rec") && col("n") > 0).select(kc: _*)
    val nRec = chk.getLong(3) // scalar: the affected-KEY count
    val stateCols = kc ++ (col("n") +: valCols.flatMap(m =>
      Seq(col(s"nv_$m"), col(s"total_$m"), col(s"mn_$m"), col(s"mx_$m")) ++
        (if (avgCols.contains(m)) Seq(col(s"avg_$m")) else Nil) ++
        (if (momentAll.contains(m)) Seq(col(s"ss_$m")) else Nil) ++
        (if (momentCols.contains(m))
          Seq(col(s"var_$m"), col(s"std_$m")) else Nil) ++
        (if (sampleCols.contains(m))
          Seq(col(s"vars_$m"), col(s"stds_$m")) else Nil)))
    val folded = arith.filter(!col("_rec") && col("n") > 0).select(stateCols: _*)
    val survivors =
      if (nRec == 0) folded
      // re-aggregate ONLY the affected keys, from the source at the
      // version this fold lands on — a distributed semi join, never a
      // collected key list
      else folded.unionByName(state(keyCols, valCols,
        sourceAt(maxVer).join(recKeys, keyCols, "left_semi"), avgCols,
        momentCols, sampleCols))
    val vanished = arith.filter(col("n") === 0).select(kc: _*)
    val wm = CommitLog.WriterMeta(Map(VerField -> maxVer))
    val (v1, _, _) = CommitLog.mergeKeyed(s, viewRoot, survivors, keyCols,
      nInsertFiles = 1, extraMeta = wm, deleteKeys = Some(vanished))
    CommitLog.setTableProperty(viewRoot, VerProp, maxVer.toString)
    (v1, nChanges, nRec)
  }
}
