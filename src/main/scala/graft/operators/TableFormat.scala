package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Det._
import graft.sources.{CommitLog, IncrementalView, Tables}
import graft.sources.CommitLog.{ProbeTree, RangeProbe}

/** B1 table-format tier (added r9, VERDICT r8 item 2; completed late
  * r9): the snapshot/commit-log layer over parquet dirs, grown into a
  * working mini-lakehouse. The mechanism lives in
  * [[graft.sources.CommitLog]] (+ [[graft.sources.TableStreamProvider]]
  * for the streaming read); these keys exercise the full lifecycle on
  * the events fixture with DETERMINISTIC histories:
  *
  *   commits:   s_table_commit (append/compact history),
  *              s_table_commit_retry (optimistic multi-writer),
  *              s_table_stream_commit (version-per-batch ingest —
  *              lives in Streams.scala beside its streaming kin)
  *   reads:     q_table_time_travel (pinned snapshots),
  *              q_table_changes (CDF delta),
  *              s_table_stream_read (DSv2 version-offset source)
  *   writes:    q_table_delete / q_table_merge / q_table_update (CoW
  *              row-level), q_table_delete_dv / q_table_update_dv
  *              (merge-on-read via deletion vectors, purged by
  *              q_sql_table_reorg), q_table_add_column /
  *              q_table_column_mapping (schema evolution + rename/drop
  *              in the log), q_table_incr_view (CDF-folded
  *              materialized view)
  *   layout:    q_table_stats_prune (manifest file skipping),
  *              q_table_manifest_segments (two-level metadata),
  *              q_table_optimize (range clustering)
  *   lifecycle: s_table_vacuum (retention reclaim)
  *
  * Every key replays in DuckDB exactly (row sets are pure predicates
  * on events; file/version counters are pinned by predicate-aligned
  * staging and explicit repartition), so the layer is oracle-checked,
  * not just spec-tested. StreamingSpec additionally pins the
  * mechanism contracts: snapshot isolation across rewrites, commit
  * atomicity and retry rebase, orphan invisibility, NULL-predicate
  * row survival, stats-column switches, schema carry-forward and
  * commit-time type rejection, and the streaming source's delta-only
  * restarts. */
object TableFormat {

  /** One deterministic three-version table per (session, fixture dir),
    * shared by both keys — same bounded-memo discipline as
    * Similarity.ivfIndexMemo. */
  private val tableMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** The query's OWN catalog scan, off its (lazily cached, immutable)
    * optimized plan — the deterministic pushdown witness (r16, VERDICT
    * item 1): `scanOf(df).plannedFiles` is a pure function of the scan
    * instance's pinned version + pushed state, so a second planning
    * pass (AQE re-plan, a re-submitted stage, harness interleaving)
    * can never change the reading — unlike the global last-write-wins
    * GraftScanStats the r15 keys read, which the driver's r15 gate
    * caught flaking. */
  private def scanOf(df: org.apache.spark.sql.DataFrame): graft.sources.GraftBatchScan = {
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
        r.scan.asInstanceOf[graft.sources.GraftBatchScan]
    }
    require(scans.size == 1,
      s"pushdown witness expects exactly one graft scan, found ${scans.size}")
    scans.head
  }

  /** THE streaming-view driver of the `s_table_view_stream*` keys: one
    * `readChangeFeed` AvailableNow stream over table `src`, each
    * micro-batch handed to `fold`. With a `witness`, the batch is
    * checkpointed LAZILY (r20): the async version lookup and the
    * fold(s) all run inside the callback and materialize the same
    * blocks on first touch (block-level get-or-compute), so a
    * dedicated eager-checkpoint job per trigger would be pure
    * overhead. The batch's max `_commit_version` is looked up on the
    * Par pool, overlapping the fold (r20, guide §2.6), and the witness
    * runs at that version after the fold — not for a batch without
    * rows. Returns when the stream has drained. */
  private def viewStream(s: SparkSession, src: String, ckPrefix: String,
      witness: Option[Long => Unit] = None)(fold: DataFrame => Unit): Unit = {
    val ck = java.nio.file.Files.createTempDirectory(ckPrefix).toString
    s.readStream.format("graft.sources.TableStreamProvider")
      .option("path", src)
      .option("readChangeFeed", "true")
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        witness match {
          case None => fold(batch)
          case Some(w) =>
            val b = batch.localCheckpoint(false)
            val verF = graft.functions.Par.async(
              b.agg(max(col("_commit_version"))).collect()(0))
            fold(b)
            val verRow = verF()
            if (!verRow.isNullAt(0)) w(verRow.getLong(0))
        }
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
  }

  private[graft] def buildEventsTable(s: SparkSession, dir: String): String = {
    if (tableMemo.size > 8) tableMemo.clear()
    tableMemo.computeIfAbsent((s, dir), _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_table")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
      CommitLog.append(s, root.toString, ev.filter(col("event_id") % 3 =!= 0), nFiles = 4)
      CommitLog.append(s, root.toString, ev.filter(col("event_id") % 3 === 0), nFiles = 4)
      CommitLog.compact(s, root.toString, nFiles = 2)
      root.toString
    })
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_table_commit" -> { (s, dir) =>
      // the commit history as data: per version, how many data files
      // the manifest names and how many rows the snapshot holds —
      // append grows the listing, compaction shrinks it, row counts
      // prove append-only then rewrite-equal semantics
      import s.implicits._
      val root = buildEventsTable(s, dir)
      val rows = (0L to CommitLog.latestVersion(root).get).map { v =>
        (v, CommitLog.snapshotFiles(root, v).size.toLong,
          CommitLog.read(s, root, v).count())
      }
      ordered(rows.toDF("version", "n_files", "n_rows"))
    },
    "q_table_changes" -> { (s, dir) =>
      // incremental (CDF-style) read: rows ADDED between v0 and v1 =
      // the scan of exactly the data files that joined the listing —
      // the nightly-ingest consumer's shape (process only the new
      // files, never re-read history). The commit-kind metadata guards
      // the range: a file diff across the v2 compaction would re-emit
      // unchanged rows, so changes() refuses it (StreamingSpec pins)
      val root = buildEventsTable(s, dir)
      ordered(CommitLog.changes(s, root, 0L, 1L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
    },
    "s_table_vacuum" -> { (s, dir) =>
      // retention vacuum — the storage-reclaim half of the layer: a
      // FRESH table (never the shared memoized one — vacuum destroys
      // old snapshots by design and must not break the sibling keys'
      // pinned reads) built with the same deterministic history, then
      // vacuumed to retain only the compacted head: the 8 append-era
      // files drop, the 2 compacted files survive, and the surviving
      // snapshot still holds every row. File counts are pinned by the
      // explicit repartition, so the whole report is oracle-checkable.
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_table_vac")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
      CommitLog.append(s, root.toString, ev.filter(col("event_id") % 3 =!= 0), nFiles = 4)
      CommitLog.append(s, root.toString, ev.filter(col("event_id") % 3 === 0), nFiles = 4)
      val head = CommitLog.compact(s, root.toString, nFiles = 2)
      val (removed, kept) = CommitLog.vacuum(root.toString, retainFrom = head)
      val rows = CommitLog.read(s, root.toString, head).count()
      ordered(Seq((removed, kept, rows))
        .toDF("n_files_removed", "n_files_kept", "n_rows_after"))
    },
    "q_table_stats_prune" -> { (s, dir) =>
      // Manifest column statistics + file skipping (added r9) — the
      // commit log's "natural next step" (CommitLog Scaladoc) made
      // real: appendWithStats records per-file min/max of event_id in
      // the MANIFEST (Delta stats JSON / Iceberg manifest bounds), so
      // a selective read prunes to overlapping files from the log
      // alone — no directory listing, no footer reads at plan time.
      // Four RANGE-ALIGNED appends (event_id quartiles, 2 files each)
      // make the accounting deterministic: the probe predicate covers
      // exactly the second quartile, so 2 of 8 files survive pruning.
      // Pruning is pure metadata — the precise predicate still runs,
      // so correctness never depends on the stats (StreamingSpec pins
      // pruned ≡ full-scan and the unprunable-file fallback).
      // The quartile cutoffs derive from one MAX(event_id) scalar
      // (metadata-grade driver round-trip, the IVF-centroid rule).
      val root = java.nio.file.Files.createTempDirectory("graft_table_st")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val (q1, q2, q3) = (m / 4, m / 2, 3 * m / 4)
      CommitLog.appendWithStats(s, root.toString,
        ev.filter(col("event_id") <= q1), nFiles = 2, statsCol = "event_id")
      CommitLog.appendWithStats(s, root.toString,
        ev.filter(col("event_id") > q1 && col("event_id") <= q2), 2, "event_id")
      CommitLog.appendWithStats(s, root.toString,
        ev.filter(col("event_id") > q2 && col("event_id") <= q3), 2, "event_id")
      val head = CommitLog.appendWithStats(s, root.toString,
        ev.filter(col("event_id") > q3), 2, "event_id")
      val (df, p) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Nil, Seq(RangeProbe("event_id", Some(q1 + 1), Some(q2)))))
      ordered(df.filter(col("event_id").between(q1 + 1, q2))
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(p.filesTotal.toLong).as("n_files_total"),
          lit(p.files.size.toLong).as("n_files_read"),
          col("n_rows"), col("sum_value")))
    },
    "q_table_manifest_segments" -> { (s, dir) =>
      // Manifest SEGMENTS (added r9) — the million-file-table metadata
      // step SCALING.md flagged after q_table_stats_prune: the Iceberg
      // manifest-list / manifest-file split. Each append writes ONE
      // immutable segment file (per-file entries + stats) and the
      // version manifest lists segment REFERENCES with aggregated
      // bounds — so commit cost is O(new files) and plan-time metadata
      // I/O prunes whole segments before any per-file entry is read.
      // Same quartile-aligned staging as q_table_stats_prune: 4
      // segments × 2 files; the probe covers exactly the second
      // quartile, so 1 of 4 segments survives the segment-level prune
      // and both its files survive the file-level one (repartition is
      // hash-based, so each file spans ~the whole quartile). All five
      // counters are pinned by construction → oracle-checkable.
      // StreamingSpec pins the mechanism: prior segment files are
      // carried by REFERENCE (byte-identical, never reopened), a
      // disjoint probe reads 0 segments, and pruned ≡ full scan.
      val root = java.nio.file.Files.createTempDirectory("graft_table_seg")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val (q1, q2, q3) = (m / 4, m / 2, 3 * m / 4)
      CommitLog.appendSegment(s, root.toString,
        ev.filter(col("event_id") <= q1), nFiles = 2, statsCol = "event_id")
      CommitLog.appendSegment(s, root.toString,
        ev.filter(col("event_id") > q1 && col("event_id") <= q2), 2, "event_id")
      CommitLog.appendSegment(s, root.toString,
        ev.filter(col("event_id") > q2 && col("event_id") <= q3), 2, "event_id")
      val head = CommitLog.appendSegment(s, root.toString,
        ev.filter(col("event_id") > q3), 2, "event_id")
      val (df, p) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Nil, Seq(RangeProbe("event_id", Some(q1 + 1), Some(q2)))))
      ordered(df.filter(col("event_id").between(q1 + 1, q2))
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(p.segsTotal.toLong).as("n_segments_total"),
          lit(p.segsRead.toLong).as("n_segments_read"),
          lit(p.filesTotal.toLong).as("n_files_total"),
          lit(p.files.size.toLong).as("n_files_read"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_seg_scan" -> { (s, dir) =>
      // SEGMENTED MANIFESTS THROUGH SQL (r16): the million-file-table
      // metadata layout (q_table_manifest_segments, r9) now serves the
      // DSv2 catalog — a `SELECT ... WHERE` on a segmented table plans
      // through the TWO-LEVEL prune (segment bounds first, per-file
      // stats inside the survivors), so plan-time metadata I/O scales
      // with the SURVIVING segment count, never the full listing.
      // Schema reads off the manifest (r17 — appendSegment records
      // it); COUNT(*)/MIN/MAX-of-stats-column and the LIMIT prefix
      // answer from per-segment metadata (r17, q_sql_table_seg_agg);
      // topn/COUNT(c)/grouping/consumption refuse (no null counts, no
      // layouts) and the ordinary exact scan runs. Staging
      // mirrors the API key: 4 quartile segments × 2 files; the
      // second-quartile probe survives 1 segment / 2 files — all
      // counters predicate-pinned, witnesses from the query's OWN
      // scan.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_seg")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val (s1, s2, s3) = (m / 4, m / 2, 3 * m / 4)
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") <= s1), nFiles = 2, statsCol = "event_id")
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s1 && col("event_id") <= s2), 2, "event_id")
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s2 && col("event_id") <= s3), 2, "event_id")
      val head = CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s3), 2, "event_id")
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val q = s.sql(s"SELECT event_id, value FROM $cat.tbl " +
        s"WHERE event_id > $s1 AND event_id <= $s2")
      val (nTotal, planned) = scanOf(q).plannedFiles
      val p = CommitLog.prune(root, head,
        ProbeTree(Nil, Seq(RangeProbe("event_id", Some(s1 + 1), Some(s2)))))
      ordered(q.agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(p.segsTotal.toLong).as("n_segments_total"),
          lit(p.segsRead.toLong).as("n_segments_read"),
          lit(nTotal.toLong).as("n_files_total"),
          lit(planned.size.toLong).as("n_files_planned"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_seg_agg" -> { (s, dir) =>
      // SEGMENTED METADATA ANSWERS (r17, VERDICT item 2): on exactly
      // the table size segmentation targets, the first queries every
      // user runs must be metadata decisions, not 10^6-file scans.
      // The version manifest now carries per-segment LIVE row and
      // byte totals (exact forever — segments are immutable, no
      // row-level deletes), so:
      //   - COUNT(*) + MIN/MAX of the stats column answer from ONE
      //     manifest parse, zero segment reads (plan-proof flag:
      //     the executed plan carries the metadata-aggregate scan);
      //   - a bare LIMIT n sizes its file prefix SEGMENT-FIRST —
      //     whole segments off their manifest row totals, only the
      //     boundary segment opens per-file counts (witness: planned
      //     files AND segments opened, both pinned by construction);
      //   - MIN/MAX of a NON-stats column refuses (no per-file stats
      //     for it by design) and the ordinary exact scan runs —
      //     the refusal is pinned by its own plan flag;
      //   - a bounds filter still scans (file survival ≠ row match)
      //     but plans only the surviving segment's files.
      // Staging: 4 quartile-aligned segments × ONE file each, so
      // per-file counts equal quartile counts and every witness is
      // derivable in the oracle from the events table alone.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_sega")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val (s1, s2, s3) = (m / 4, m / 2, 3 * m / 4)
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") <= s1), nFiles = 1, statsCol = "event_id")
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s1 && col("event_id") <= s2), 1, "event_id")
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s2 && col("event_id") <= s3), 1, "event_id")
      val head = CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s3), 1, "event_id")
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val qMeta = s.sql(s"SELECT COUNT(*) AS n_total, MIN(event_id) AS min_id, " +
        s"MAX(event_id) AS max_id FROM $cat.tbl")
      val metaFlag =
        if (qMeta.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      // MIN/MAX of a non-stats column: no per-file stats by design →
      // refuse the manifest answer, run the ordinary exact scan
      val qScan = s.sql(s"SELECT MIN(value) AS min_value FROM $cat.tbl")
      val scanFlag =
        if (qScan.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 0L
        else 1L
      val minValue = qScan.collect()(0).getDouble(0)
      // bare LIMIT: prefix = segment 1 whole + 1 file of segment 2
      val c1 = ev.filter(col("event_id") <= s1).count()
      val lim = c1 + 1
      val qLim = s.sql(s"SELECT event_id FROM $cat.tbl LIMIT $lim")
      val (nTotal, plannedLim) = scanOf(qLim).plannedFiles
      val (_, _, segsOpened) =
        CommitLog.segmentedLimitFiles(root, head, lim.toInt).get
      val nRowsLim = qLim.count()
      // bounds-filtered COUNT: scans, but only the surviving segment
      val qF = s.sql(s"SELECT COUNT(*) AS n FROM $cat.tbl " +
        s"WHERE event_id > $s1 AND event_id <= $s2")
      val (_, plannedF) = scanOf(qF).plannedFiles
      val filteredCount = qF.collect()(0).getLong(0)
      ordered(qMeta.select(
        lit(metaFlag).as("answered_from_manifest"),
        col("n_total"), col("min_id"), col("max_id"),
        lit(scanFlag).as("nonstats_minmax_scans"),
        lit(minValue).as("min_value"),
        lit(nTotal.toLong).as("n_files_total"),
        lit(plannedLim.size.toLong).as("n_limit_planned"),
        lit(segsOpened.toLong).as("n_segs_opened"),
        lit(nRowsLim).as("n_rows_limit"),
        lit(filteredCount).as("filtered_count"),
        lit(plannedF.size.toLong).as("filtered_planned")))
    },
    "q_sql_table_seg_prune_part" -> { (s, dir) =>
      // SEGMENTATION × PARTITION LAYOUTS (r18, VERDICT item 1 — the
      // round's top item): THE 100 TB table is BOTH partitioned
      // (tenant/day) AND segment-manifested, and until r18 it had to
      // choose — a segmented table recorded no layouts, losing every
      // layout-driven capability on exactly the 10^6-file shape that
      // needs them most. appendSegmentPartitioned routes rows
      // file-per-partition-tuple through the guarded staging
      // chokepoint, records per-file layouts IN the segment file and
      // the per-column layout-value UNIVERSE in the segment REF, so a
      // partition probe is a TWO-LEVEL decision like bounds already
      // are: whole segments skip off ONE manifest parse, per-file
      // layouts prune inside the survivors.
      // Staging: seg1 = days 0..3 (4 files), seg2 = days 4..6 (3
      // files), one file per day. Witnesses (all from the query's OWN
      // scan):
      //   - day='3': the universe prune opens ONLY seg1 → 1 file of 7;
      //   - day IN ('3','5'): both segments, 2 files;
      //   - day >= '5' (range ENUMERATION over the union universe):
      //     only seg2, 2 files;
      //   - a non-layout probe (user_id): nothing prunes — 7 files
      //     (the refusal witness; pre-r18 refs are spec-pinned).
      val base = java.nio.file.Files.createTempDirectory("graft_cat_segp")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      CommitLog.appendSegmentPartitioned(s, root,
        ev.filter(col("event_id") % 7 <= 3), Seq("day"),
        filesPerPartition = 1, statsCol = "event_id")
      CommitLog.appendSegmentPartitioned(s, root,
        ev.filter(col("event_id") % 7 > 3), Seq("day"),
        filesPerPartition = 1, statsCol = "event_id")
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val q = s.sql(s"SELECT event_id, value FROM $cat.tbl WHERE day = '3'")
      val (nTotal, planned) = scanOf(q).plannedFiles
      // segment-level witness off the SAME decision the scan makes
      val head = CommitLog.latestVersion(root).get
      def segsRead(parts: Seq[(String, Set[String])]): Long =
        CommitLog.prune(root, head, ProbeTree(parts, Nil)).segsRead.toLong
      val segsDay = segsRead(Seq("day" -> Set("3")))
      val qIn = s.sql(s"SELECT event_id FROM $cat.tbl WHERE day IN ('3','5')")
      val (_, plannedIn) = scanOf(qIn).plannedFiles
      val qGe = s.sql(s"SELECT event_id FROM $cat.tbl WHERE day >= '5'")
      val (_, plannedGe) = scanOf(qGe).plannedFiles
      val segsGe = segsRead(Seq("day" -> Set("5", "6")))
      val qN = s.sql(s"SELECT event_id FROM $cat.tbl WHERE user_id = 1")
      val (_, plannedN) = scanOf(qN).plannedFiles
      ordered(q.agg(count(lit(1)).as("n_rows_day"),
          dsum(col("value")).as("sum_value_day"))
        .select(lit(nTotal.toLong).as("n_files_total"),
          lit(planned.size.toLong).as("n_files_day"),
          lit(segsDay).as("n_segs_read_day"),
          lit(plannedIn.size.toLong).as("n_files_in"),
          lit(plannedGe.size.toLong).as("n_files_range"),
          lit(segsGe).as("n_segs_read_range"),
          lit(plannedN.size.toLong).as("n_files_nonlayout"),
          col("n_rows_day"), col("sum_value_day")))
    },
    "q_sql_table_seg_agg_part" -> { (s, dir) =>
      // SEGMENTED CONSUMPTION + FILTERED/GROUPED METADATA AGGREGATES
      // (r18 — the composition closing what seg_prune_part started):
      // on a partitioned+segmented table whose layout columns are
      // FULLY covered (every segment ref records their universes —
      // only the guarded r18 writer does), layout-exact filters are
      // CONSUMED like the flat path's, and the metadata aggregates
      // fold the SURVIVING files' per-file rows/stats — O(surviving
      // segments) metadata reads, never the listing:
      //   - the partition profile `GROUP BY day` answers from segment
      //     metadata (one row per recorded group incl. the NULL
      //     sentinel's);
      //   - `COUNT(*) WHERE day='5'` and the range form
      //     `MIN/MAX(event_id) WHERE day >= '5'` answer from the
      //     surviving files' entries (plan-proof flags);
      //   - `COUNT(*) WHERE day IS NOT NULL` answers via the sentinel
      //     EXCLUSION — the veto is enforced at both levels of the
      //     segmented prune, so the consumed filter's file selection
      //     IS the row set;
      //   - COUNT of a non-stats column refuses into the exact scan.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_segap")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("day", when(col("event_id") % 11 === 0, lit(null))
          .otherwise((col("event_id") % 7).cast("string")))
      CommitLog.appendSegmentPartitioned(s, root,
        ev.filter(col("event_id") % 7 <= 3), Seq("day"),
        filesPerPartition = 1, statsCol = "event_id")
      CommitLog.appendSegmentPartitioned(s, root,
        ev.filter(col("event_id") % 7 > 3), Seq("day"),
        filesPerPartition = 1, statsCol = "event_id")
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      def metaFlag(df: org.apache.spark.sql.DataFrame): Long =
        if (df.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      val qg = s.sql(s"SELECT day, COUNT(*) AS n FROM $cat.tbl GROUP BY day")
      val groupedFlag = metaFlag(qg)
      val q5 = s.sql(s"SELECT COUNT(*) AS n FROM $cat.tbl WHERE day = '5'")
      val day5Flag = metaFlag(q5)
      val nDay5 = q5.collect()(0).getLong(0)
      val qr = s.sql(s"SELECT MIN(event_id) AS mn, MAX(event_id) AS mx " +
        s"FROM $cat.tbl WHERE day >= '5'")
      val rangeFlag = metaFlag(qr)
      val rr = qr.collect()(0)
      val qn = s.sql(s"SELECT COUNT(*) AS n FROM $cat.tbl WHERE day IS NOT NULL")
      val notnullFlag = metaFlag(qn)
      val nNotNull = qn.collect()(0).getLong(0)
      val qv = s.sql(s"SELECT COUNT(value) AS n FROM $cat.tbl WHERE day = '5'")
      val refusedFlag = 1L - metaFlag(qv)
      val nValueDay5 = qv.collect()(0).getLong(0)
      ordered(qg.select(col("day"), col("n"),
        lit(groupedFlag).as("grouped_from_manifest"),
        lit(day5Flag).as("day5_from_manifest"),
        lit(nDay5).as("n_day5"),
        lit(rangeFlag).as("range_from_manifest"),
        lit(rr.getLong(0)).as("mn_range"),
        lit(rr.getLong(1)).as("mx_range"),
        lit(notnullFlag).as("notnull_from_manifest"),
        lit(nNotNull).as("n_notnull"),
        lit(refusedFlag).as("count_col_refused"),
        lit(nValueDay5).as("n_value_day5")))
    },
    "q_sql_table_seg_peek" -> { (s, dir) =>
      // FILTERED LIMIT / TopN ON SEGMENTED TABLES (r18 — consumed
      // filters compose with the segment-first peek planners): the
      // canonical interactive queries on THE partitioned+segmented
      // table are `WHERE tenant='x' LIMIT 20` and `WHERE tenant='x'
      // ORDER BY ts DESC LIMIT 100`. With every pushed filter
      // CONSUMED (file membership IS row membership), the LIMIT
      // prefixes the SURVIVING files — walking only the filter's
      // prefix segments (opened-segment witness) — and the TopN runs
      // the per-file bound envelope over the survivors. Staging:
      // seg1 = ids ≤ m/2, seg2 = ids > m/2, each partitioned by day
      // (7 files each), so day-3 survivors are TWO files with
      // DISJOINT id ranges and every witness is predicate-pinned:
      //   - LIMIT 1 plans 1 file and OPENS 1 segment;
      //   - LIMIT (day-3 rows in seg1) + 1 plans 2 files, opens 2;
      //   - TopN DESC LIMIT (day-3 rows in seg2) plans ONLY the
      //     upper file (the lower file's hi sits below the cutoff);
      //   - a non-consumable filter (value > 0) keeps Spark from
      //     pushing the peek at all — every file plans, result exact.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_segpk")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      CommitLog.appendSegmentPartitioned(s, root,
        ev.filter(col("event_id") <= m / 2), Seq("day"),
        filesPerPartition = 1, statsCol = "event_id")
      CommitLog.appendSegmentPartitioned(s, root,
        ev.filter(col("event_id") > m / 2), Seq("day"),
        filesPerPartition = 1, statsCol = "event_id")
      val head = CommitLog.latestVersion(root).get
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val cLo = ev.filter(col("event_id") % 7 === 3 &&
        col("event_id") <= m / 2).count()
      val cHi = ev.filter(col("event_id") % 7 === 3 &&
        col("event_id") > m / 2).count()
      val day3Tree = ProbeTree(Seq("day" -> Set("3")), Nil)
      val q1 = s.sql(s"SELECT event_id FROM $cat.tbl WHERE day = '3' LIMIT 1")
      val (nTotal, planned1) = scanOf(q1).plannedFiles
      val (_, _, opened1) =
        CommitLog.segmentedLimitFilesTree(root, head, 1, day3Tree).get
      val nRows1 = q1.count()
      val lim2 = cLo + 1
      val q2 = s.sql(s"SELECT event_id FROM $cat.tbl WHERE day = '3' LIMIT $lim2")
      val (_, planned2) = scanOf(q2).plannedFiles
      val (_, _, opened2) = CommitLog.segmentedLimitFilesTree(
        root, head, lim2.toInt, day3Tree).get
      val nRows2 = q2.count()
      val qt = s.sql(s"SELECT event_id FROM $cat.tbl WHERE day = '3' " +
        s"ORDER BY event_id DESC LIMIT $cHi")
      val (_, plannedT) = scanOf(qt).plannedFiles
      val (_, _, openedT) = CommitLog.segmentedTopNFilesTree(
        root, head, "event_id", asc = false, cHi.toInt, day3Tree).get
      val sumTop = qt.agg(sum(col("event_id"))).collect()(0).getLong(0)
      // a non-consumable filter keeps the peek un-pushed: every file
      // plans, the result stays exact through Spark's own operators
      val qn = s.sql(s"SELECT event_id FROM $cat.tbl WHERE value > -1e9 " +
        s"ORDER BY event_id DESC LIMIT 5")
      val (_, plannedN) = scanOf(qn).plannedFiles
      ordered(qt.agg(count(lit(1)).as("n_rows_topn"))
        .select(lit(nTotal.toLong).as("n_files_total"),
          lit(planned1.size.toLong).as("limit1_planned"),
          lit(opened1.toLong).as("limit1_opened"),
          lit(nRows1).as("n_rows_limit1"),
          lit(planned2.size.toLong).as("limit2_planned"),
          lit(opened2.toLong).as("limit2_opened"),
          lit(nRows2).as("n_rows_limit2"),
          lit(plannedT.size.toLong).as("topn_planned"),
          lit(openedT.toLong).as("topn_opened"),
          lit(sumTop).as("sum_top"),
          lit(plannedN.size.toLong).as("n_files_nonconsumed"),
          col("n_rows_topn")))
    },
    "q_sql_table_seg_topn" -> { (s, dir) =>
      // SEGMENTED TopN + COUNT(col) (r18, VERDICT item 4): the two
      // remaining refusals that mattered at 10^6 files.
      //   - `ORDER BY statsCol DESC LIMIT n` plans SEGMENT-FIRST: the
      //     manifest's per-segment bounds + row totals decide the
      //     envelope, segments past the cutoff are never OPENED, the
      //     boundary segments' per-file stats size the file plan.
      //     Staging = 4 quartile-aligned segments × 1 file; n = (top
      //     quartile) + 1 ⇒ exactly 2 segments open, 2 files plan —
      //     both counters predicate-pinned.
      //   - TopN on a NON-stats column refuses (no bounds for it) and
      //     plans everything — the retained-refusal witness.
      //   - `COUNT(statsCol)` = Σ(nRows − nNulls), ONE manifest parse
      //     (plan-proof flag); on a second table whose stats column
      //     holds REAL NULLs the subtraction is load-bearing, and
      //     TopN there refuses (a NULL sorts outside the recorded
      //     bounds — nNulls must be 0, the flat path's rule).
      val base = java.nio.file.Files.createTempDirectory("graft_cat_segt")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val (s1, s2, s3) = (m / 4, m / 2, 3 * m / 4)
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") <= s1), nFiles = 1, statsCol = "event_id")
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s1 && col("event_id") <= s2), 1, "event_id")
      CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s2 && col("event_id") <= s3), 1, "event_id")
      val head = CommitLog.appendSegment(s, root,
        ev.filter(col("event_id") > s3), 1, "event_id")
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val c4 = ev.filter(col("event_id") > s3).count()
      val lim = c4 + 1
      val qt = s.sql(s"SELECT event_id FROM $cat.tbl " +
        s"ORDER BY event_id DESC LIMIT $lim")
      val (nTotal, plannedT) = scanOf(qt).plannedFiles
      val (_, _, segsOpened) = CommitLog.segmentedTopNFiles(
        root, head, "event_id", asc = false, lim.toInt).get
      val sumTop = qt.agg(sum(col("event_id"))).collect()(0).getLong(0)
      // non-stats order column: refuse, plan everything
      val qr = s.sql(s"SELECT user_id FROM $cat.tbl ORDER BY user_id LIMIT 5")
      val (_, plannedR) = scanOf(qr).plannedFiles
      // COUNT(statsCol) from the manifest (zero nulls here)
      val qc = s.sql(s"SELECT COUNT(event_id) AS n FROM $cat.tbl")
      val countFlag =
        if (qc.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      val nCountCol = qc.collect()(0).getLong(0)
      // a stats column with REAL NULLs: the null subtraction is
      // load-bearing for COUNT(col), and TopN refuses
      val root2 = new java.io.File(base.toFile, "tbl2").toString
      val ev2 = Tables(s, dir, "events").select(col("event_id"))
        .withColumn("val2", when(col("event_id") % 11 === 0, lit(null))
          .otherwise(col("event_id")))
      CommitLog.appendSegment(s, root2,
        ev2.filter(col("event_id") <= s2), nFiles = 1, statsCol = "val2")
      CommitLog.appendSegment(s, root2,
        ev2.filter(col("event_id") > s2), nFiles = 1, statsCol = "val2")
      val qc2 = s.sql(s"SELECT COUNT(val2) AS n FROM $cat.tbl2")
      val count2Flag =
        if (qc2.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      val nCountCol2 = qc2.collect()(0).getLong(0)
      val qt2 = s.sql(s"SELECT val2 FROM $cat.tbl2 ORDER BY val2 LIMIT 3")
      val (_, plannedT2) = scanOf(qt2).plannedFiles
      ordered(qt.agg(count(lit(1)).as("n_rows_topn"))
        .select(lit(nTotal.toLong).as("n_files_total"),
          lit(plannedT.size.toLong).as("n_files_topn"),
          lit(segsOpened.toLong).as("n_segs_opened"),
          lit(sumTop).as("sum_top"),
          lit(plannedR.size.toLong).as("n_files_topn_nonstats"),
          lit(countFlag).as("count_col_from_manifest"),
          lit(nCountCol).as("n_count_col"),
          lit(count2Flag).as("count_nullable_from_manifest"),
          lit(nCountCol2).as("n_count_nullable"),
          lit(plannedT2.size.toLong).as("n_files_topn_nulls"),
          col("n_rows_topn")))
    },
    "q_table_delete" -> { (s, dir) =>
      // Copy-on-write row-level DELETE (added r9) — the GDPR/retention
      // write path the merge family lacks: only files HOLDING matching
      // rows are rewritten, everything else carries over into the new
      // manifest untouched. Staging is PREDICATE-ALIGNED so the CoW
      // file accounting is deterministic and oracle-checkable: v0
      // holds only user_id%4<2 rows (2 files), v1 appends the
      // user_id%4>=2 rows (2 more); delete(user_id%4=1) therefore
      // dirties exactly the two v0-era files (every v1-era file is
      // provably clean) — 2 carried byte-identical, 2 rewritten
      // without their matching rows. StreamingSpec pins the mechanism
      // (clean paths literally reused; pinned reader still sees
      // deleted rows; changes() refuses ranges across the delete).
      // Fresh table, never the shared memo — delete changes history.
      val root = java.nio.file.Files.createTempDirectory("graft_table_del")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      val (v, carried, rewritten) =
        CommitLog.delete(s, root.toString, col("user_id") % 4 === 1)
      ordered(CommitLog.read(s, root.toString, v)
        .agg(count(lit(1)).as("n_rows_after"),
          dsum(col("value")).as("sum_value_after"))
        .select(lit(carried).as("n_files_carried"),
          lit(rewritten).as("n_files_rewritten"),
          col("n_rows_after"), col("sum_value_after")))
    },
    "q_table_update" -> { (s, dir) =>
      // Copy-on-write row-level UPDATE (added r10) — UPDATE ... SET
      // ... WHERE, completing the DML trio beside q_table_delete /
      // q_table_merge. Predicate-aligned staging (the q_table_delete
      // layout): v0 holds only user_id%4<2 rows (2 files), v1 appends
      // the rest (2 more), so update(user_id%4=1) dirties exactly the
      // two v0-era files — 2 carried byte-identical, 2 rewritten with
      // the assignments applied ONLY to matching rows. CDF is ON for
      // this table: the update's pre/post images replay through
      // changesRows and re-aggregate here, so the changelog is
      // oracle-checked too (pre counts the matched rows, post sums
      // their boosted values). StreamingSpec pins the mechanism
      // (NULL-cond survival, post-image constraint enforcement,
      // partition-column refusal, pinned-reader isolation).
      val root = java.nio.file.Files.createTempDirectory("graft_table_upd")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      val v1 = CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      CommitLog.setTableProperty(root.toString, "enableChangeDataFeed", "true")
      val (v2, carried, rewritten) = CommitLog.update(s, root.toString,
        col("user_id") % 4 === 1,
        Seq("value" -> (col("value") + lit(1000.0)),
          "event_type" -> lit("boosted")))
      // one metadata-sized collect: the changelog aggregate is 1 row
      val c = CommitLog.changesRows(s, root.toString, v1, v2)
        .agg(
          sum(when(col("_change_type") === "update_preimage", 1L)
            .otherwise(0L)).as("n_cdf_pre"),
          sum(when(col("_change_type") === "update_postimage", 1L)
            .otherwise(0L)).as("n_cdf_post"),
          dsum(when(col("_change_type") === "update_postimage", col("value"))
            .otherwise(lit(null))).as("sum_cdf_post"))
        .collect()(0)
      ordered(CommitLog.read(s, root.toString, v2)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_type") === "boosted", 1L).otherwise(0L))
            .as("n_boosted"),
          dsum(col("value")).as("sum_value"))
        .select(lit(carried).as("n_files_carried"),
          lit(rewritten).as("n_files_rewritten"),
          col("n_rows"), col("n_boosted"), col("sum_value"),
          lit(c.getLong(0)).as("n_cdf_pre"),
          lit(c.getLong(1)).as("n_cdf_post"),
          lit(c.getDouble(2)).as("sum_cdf_post")))
    },
    "q_table_delete_dv" -> { (s, dir) =>
      // Merge-on-read delete via DELETION VECTORS (added r10) — the
      // Delta DV / Iceberg positional-delete design, the CoW trade
      // inverted: the commit rewrites NOTHING (identical file listing
      // — pinned as a counter), one pushdown scan records the doomed
      // rows' (file, row index) coordinates into a tiny dv/ sidecar,
      // and readers mask them with one broadcast anti-join until a
      // rewrite purges. Right for frequent fine-grained deletes (daily
      // GDPR erasure across thousands of files) where CoW would
      // rewrite the table week over week. Predicate-aligned staging:
      // vectors land on exactly the two v0-era files. The key then
      // COMPACTS and reports the raw physical row count — proving the
      // purge actually removed the masked bytes, not just hid them.
      // StreamingSpec pins the rest (accumulation, no re-delete,
      // CoW-after-MoR equivalence, vacuum reclaim, pinned readers).
      val root = java.nio.file.Files.createTempDirectory("graft_table_dv")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      val v1 = CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      val (v2, nFilesDv, nRowsDel) =
        CommitLog.deleteMergeOnRead(s, root.toString, col("user_id") % 4 === 1)
      val rewrote = (CommitLog.snapshotFiles(root.toString, v2).toSet !=
        CommitLog.snapshotFiles(root.toString, v1).toSet)
      val v3 = CommitLog.compact(s, root.toString, 2)
      val nRaw = s.read.parquet(CommitLog.snapshotFiles(root.toString, v3): _*).count()
      ordered(CommitLog.read(s, root.toString, v3)
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(nFilesDv).as("n_files_with_vectors"),
          lit(nRowsDel).as("n_rows_deleted"),
          lit(if (rewrote) 1L else 0L).as("n_rewrites"),
          lit(nRaw).as("n_raw_rows_after_compact"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_delete_dv" -> { (s, dir) =>
      // SQL front-end (added r10): DELETE FROM on a table that opted
      // into deletion vectors (TBLPROPERTIES enableDeletionVectors —
      // the Delta property split) routes to the merge-on-read write:
      // same statement, zero rewrites (files_rewritten pinned 0), the
      // masked head read through the DSv2 catalog scan — whose
      // per-file reader skips each file's vectored row indexes.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_dv")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev, nFiles = 4)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.tbl SET TBLPROPERTIES ('enableDeletionVectors' = 'true')")
      val r = s.sql(s"DELETE FROM $cat.tbl WHERE user_id % 4 = 1").collect()(0)
      ordered(s.sql(s"SELECT user_id, value FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("user_id") % 4 === 1, 1L).otherwise(0L)).as("n_masked_leaks"),
          dsum(col("value")).as("sum_value"))
        .select(lit(r.getLong(0)).as("head_version"),
          lit(r.getLong(1)).as("files_carried"),
          lit(r.getLong(2)).as("files_rewritten"),
          col("n_rows"), col("n_masked_leaks"), col("sum_value")))
    },
    "s_table_view_stream" -> { (s, dir) =>
      // CONTINUOUS view maintenance (added r10) — the CDF stream
      // driving IncrementalView.foldDeltas from foreachBatch: every
      // micro-batch's change rows fold into the view as they arrive,
      // so the view trails the table by one trigger instead of one
      // scheduled refresh. Exactly-once WITHOUT a side channel: folds
      // are idempotent at source-version granularity (rows at or
      // below the last folded version drop before folding), so an
      // at-least-once replay after a crashed batch folds zero rows.
      // The stream replays from version 0 — the create-time snapshot
      // (v0) is ALREADY in the view and must be skipped by exactly
      // that idempotency, which this key therefore proves. Final
      // state re-derived from pure predicates; consumed counter
      // pinned (= v1 inserts + v2 deletes, v0 filtered).
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_ivs_src")
      val vw = java.nio.file.Files.createTempDirectory("graft_ivs_view")
      src.toFile.deleteOnExit(); vw.toFile.deleteOnExit()
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      IncrementalView.create(s, vw.toString, src.toString, "event_type", "value")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("user_id") % 4 === 1)
      val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
      viewStream(s, src.toString, "graft_ivs_ck") { batch =>
        consumed.addAndGet(IncrementalView.foldDeltas(s, vw.toString, batch)._2)
        ()
      }
      val view = CommitLog.read(s, vw.toString,
        CommitLog.latestVersion(vw.toString).get)
      val full = CommitLog.read(s, src.toString,
        CommitLog.latestVersion(src.toString).get)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total"))
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total")).cast("double").as("sum_value"))
        .select(lit(consumed.get()).as("n_change_rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value")))
    },
    "s_table_view_stream_multi" -> { (s, dir) =>
      // CONTINUOUS maintenance for the MULTI-aggregate AND JOIN views
      // (r12, VERDICT item 5): ONE CDF stream drives
      // IncrementalViewMulti.foldDeltas for BOTH view kinds from
      // foreachBatch — the multi view folds the raw change rows, the
      // join view enriches them against its PINNED dim inside
      // foldDeltas. Exactly-once by fold idempotency (the replayed v0
      // create snapshot folds zero rows), one table version per
      // trigger (the TableStream admission contract), and the
      // exactness witness runs PER MICRO-BATCH: after each fold, both
      // views are compared bit-for-bit against a recompute at that
      // batch's source version — all_exact ANDs every batch's flag.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_ivsm_src")
      val dimT = java.nio.file.Files.createTempDirectory("graft_ivsm_dim")
      val vm = java.nio.file.Files.createTempDirectory("graft_ivsm_vm")
      val vj = java.nio.file.Files.createTempDirectory("graft_ivsm_vj")
      Seq(src, dimT, vm, vj).foreach(_.toFile.deleteOnExit())
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("segment",
          concat(lit("seg_"), (col("user_id") % 4).cast("string")))
      CommitLog.append(s, dimT.toString, dim, nFiles = 1)
      graft.sources.IncrementalViewMulti.create(s, vm.toString, src.toString,
        "event_type", Seq("value"))
      graft.sources.IncrementalViewMulti.createJoined(s, vj.toString,
        src.toString, dimT.toString, "user_id", Seq("segment"), Seq("value"))
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("user_id") % 4 === 1)
      val consumedM = new java.util.concurrent.atomic.AtomicLong(0L)
      val consumedJ = new java.util.concurrent.atomic.AtomicLong(0L)
      val allExact = new java.util.concurrent.atomic.AtomicBoolean(true)
      def multiState(rows: DataFrame, keyCol: String): DataFrame =
        rows.filter(col(keyCol).isNotNull).groupBy(col(keyCol))
          .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
            sum(col("value").cast("decimal(18,4)"))
              .cast("decimal(18,4)").as("total_value"),
            min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
      // the per-batch exactness witness, at THIS batch's version
      def witness(ver: Long): Unit = {
        val at = CommitLog.read(s, src.toString, ver)
        val wantM = multiState(at, "event_type")
        val gotM = CommitLog.read(s, vm.toString,
          CommitLog.latestVersion(vm.toString).get)
        val wantJ = multiState(at.join(dim, Seq("user_id"))
          .select(col("segment"), col("value")), "segment")
        val gotJ = CommitLog.read(s, vj.toString,
          CommitLog.latestVersion(vj.toString).get)
        // both comparisons in ONE job (r20, multisetUnequal)
        if (multisetUnequal(Seq(gotM -> wantM, gotJ -> wantJ))
          .nonEmpty) allExact.set(false)
      }
      viewStream(s, src.toString, "graft_ivsm_ck", Some(witness)) { b =>
        // the two views fold the SAME checkpointed batch into
        // DIFFERENT tables — independent commits, run concurrently
        // (r20, guide §2.6)
        val (nM, nJ) = graft.functions.Par.par2(
          graft.sources.IncrementalViewMulti
            .foldDeltas(s, vm.toString, src.toString, b)._2,
          graft.sources.IncrementalViewMulti
            .foldDeltas(s, vj.toString, src.toString, b)._2)
        consumedM.addAndGet(nM)
        consumedJ.addAndGet(nJ)
        ()
      }
      val viewJ = CommitLog.read(s, vj.toString,
        CommitLog.latestVersion(vj.toString).get)
      ordered(viewJ
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"))
        .select(lit(consumedM.get()).as("rows_folded_multi"),
          lit(consumedJ.get()).as("rows_folded_join"),
          lit(if (allExact.get()) 1L else 0L).as("all_batches_exact"),
          col("n_keys"), col("n_rows"), col("sum_value")))
    },
    "s_table_view_chain_stream" -> { (s, dir) =>
      // CONTINUOUS maintenance for a DEPTH-2 view CHAIN (r14, VERDICT
      // item 5): the foreachBatch loop folds the fact's CDF batch
      // into LEVEL 1 (IncrementalViewMulti.foldDeltas), then folds
      // LEVEL 1's OWN resulting changelog into LEVEL 2
      // (IncrementalView.refresh reads exactly v1's new change rows —
      // cost ∝ level-1's delta, never level-1's size), so a live
      // chain's level 2 trails the fact by ONE trigger where before
      // r14 it waited for a scheduled batch refresh. Exactly-once at
      // BOTH levels by fold idempotency (the replayed v0 create
      // snapshot folds zero rows and commits nothing, so level 2
      // sees no spurious changelog). Witness per micro-batch: both
      // levels compared bit-for-bit against recomputes at the
      // batch's source version, ANDed across batches.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_vcs_src")
      val v1 = java.nio.file.Files.createTempDirectory("graft_vcs_v1")
      val v2 = java.nio.file.Files.createTempDirectory("graft_vcs_v2")
      Seq(src, v1, v2).foreach(_.toFile.deleteOnExit())
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      graft.sources.IncrementalViewMulti.create(s, v1.toString, src.toString,
        "user_id", Seq("value"))
      CommitLog.setTableProperty(v1.toString, "enableChangeDataFeed", "true")
      IncrementalView.create(s, v2.toString, v1.toString, "nv_value", "total_value")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("user_id") % 5 === 0)
      val c1 = new java.util.concurrent.atomic.AtomicLong(0L)
      val c2 = new java.util.concurrent.atomic.AtomicLong(0L)
      val allExact = new java.util.concurrent.atomic.AtomicBoolean(true)
      def witness(ver: Long): Unit = {
        val at = CommitLog.read(s, src.toString, ver)
        val want1 = at.filter(col("user_id").isNotNull)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
            sum(col("value").cast("decimal(18,4)"))
              .cast("decimal(18,4)").as("total_value"),
            min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
        val got1 = CommitLog.read(s, v1.toString,
          CommitLog.latestVersion(v1.toString).get)
        val want2 = got1.groupBy(col("nv_value"))
          .agg(count(lit(1)).as("n"),
            sum(col("total_value").cast("decimal(18,4)"))
              .cast("decimal(18,4)").as("total"))
        val got2 = CommitLog.read(s, v2.toString,
          CommitLog.latestVersion(v2.toString).get)
        // both levels' comparisons in ONE job (r20)
        if (multisetUnequal(Seq(got1 -> want1, got2 -> want2))
          .nonEmpty) allExact.set(false)
      }
      // the version lookup overlaps the (sequentially dependent)
      // two-level fold
      viewStream(s, src.toString, "graft_vcs_ck", Some(witness)) { b =>
        c1.addAndGet(graft.sources.IncrementalViewMulti
          .foldDeltas(s, v1.toString, src.toString, b)._2)
        // level 2 folds level 1's own new changelog — per trigger
        c2.addAndGet(IncrementalView.refresh(s, v2.toString)._2)
        ()
      }
      val view2 = CommitLog.read(s, v2.toString,
        CommitLog.latestVersion(v2.toString).get)
      ordered(view2
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_users"),
          sum(col("total")).cast("double").as("sum_total"))
        .select(lit(c1.get()).as("rows_folded_v1"),
          lit(c2.get()).as("rows_folded_v2"),
          lit(if (allExact.get()) 1L else 0L).as("all_batches_exact"),
          col("n_buckets"), col("n_users"), col("sum_total")))
    },
    "s_table_view_stream_dimupd" -> { (s, dir) =>
      // CONTINUOUS maintenance SURVIVING A DIM ADVANCE (r13, VERDICT
      // item 2): the JOIN view's foreachBatch loop no longer needs a
      // manual refresh when the dimension changes mid-stream —
      // foldDeltas compares the dim head to the pin per trigger (one
      // metadata read) and, when it moved, folds Δdim exactly
      // (bounded to the dim-changed group keys, from the dim's own
      // CDF) BEFORE the batch's fact deltas, so the batch enriches
      // against the new pin. The dim UPDATE commits from INSIDE the
      // loop after the first fact batch folds — deterministic
      // mid-stream placement — and the per-batch exactness witness
      // compares the view bit-for-bit against a recompute at (fact @
      // batch version ⋈ dim @ current head), ANDed across batches.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_ivsd_src")
      val dimT = java.nio.file.Files.createTempDirectory("graft_ivsd_dim")
      val vj = java.nio.file.Files.createTempDirectory("graft_ivsd_vj")
      Seq(src, dimT, vj).foreach(_.toFile.deleteOnExit())
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      CommitLog.setTableProperty(dimT.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      val dim0 = ev.select(col("user_id")).distinct()
        .withColumn("segment",
          concat(lit("seg_"), (col("user_id") % 4).cast("string")))
      CommitLog.append(s, dimT.toString, dim0, nFiles = 1)
      graft.sources.IncrementalViewMulti.createJoined(s, vj.toString,
        src.toString, dimT.toString, "user_id", Seq("segment"), Seq("value"))
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("user_id") % 4 === 1)
      val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
      val dimReagg = new java.util.concurrent.atomic.AtomicLong(0L)
      val allExact = new java.util.concurrent.atomic.AtomicBoolean(true)
      val dimBumped = new java.util.concurrent.atomic.AtomicBoolean(false)
      // witness at THIS batch's fact version ⋈ the dim's head (the pin
      // after any Δdim fold this batch ran)
      def witness(ver: Long): Unit = {
        val at = CommitLog.read(s, src.toString, ver)
        val dimNow = CommitLog.read(s, dimT.toString,
          CommitLog.latestVersion(dimT.toString).get)
        val want = at.join(dimNow, Seq("user_id"))
          .filter(col("segment").isNotNull).groupBy(col("segment"))
          .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
            sum(col("value").cast("decimal(18,4)"))
              .cast("decimal(18,4)").as("total_value"),
            min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
        val got = CommitLog.read(s, vj.toString,
          CommitLog.latestVersion(vj.toString).get)
        if (!multisetEqual(got, want)) allExact.set(false)
        // the mid-stream dim advance: AFTER the first fact batch
        // folded and verified — the NEXT trigger must propagate it
        if (ver >= 1L && dimBumped.compareAndSet(false, true)) {
          CommitLog.update(s, dimT.toString, col("user_id") % 4 === 2,
            Seq("segment" -> lit("seg_moved")))
          ()
        }
      }
      viewStream(s, src.toString, "graft_ivsd_ck", Some(witness)) { b =>
        val (_, n, nRec) = graft.sources.IncrementalViewMulti
          .foldDeltas(s, vj.toString, src.toString, b)
        consumed.addAndGet(n); dimReagg.addAndGet(nRec)
        ()
      }
      val viewJ = CommitLog.read(s, vj.toString,
        CommitLog.latestVersion(vj.toString).get)
      ordered(viewJ
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"))
        .select(lit(consumed.get()).as("rows_folded"),
          // ≥2: the Δdim fold re-aggregated BOTH sides of the remap
          // (seg_2 retired + seg_moved built). The raw counter also
          // carries the delete batch's MIN/MAX bounded-recompute keys,
          // whose exact count is the fold's business — the flag pins
          // that propagation HAPPENED without over-specifying it.
          lit(if (dimReagg.get() >= 2L) 1L else 0L).as("dim_propagated"),
          lit(if (allExact.get()) 1L else 0L).as("all_batches_exact"),
          col("n_keys"), col("n_rows"), col("sum_value")))
    },
    "q_table_incr_view" -> { (s, dir) =>
      // Incrementally-maintained materialized view (added r10) — the
      // CDF surface paying off: a per-key COUNT+SUM view refreshed by
      // folding the changelog's signed deltas (insert/post +, delete/
      // pre −) into the view state with one MERGE, instead of
      // rescanning the source. The history runs the full DML mix
      // (append, CoW delete, CoW update) after view creation; ONE
      // refresh folds all of it, the report pins the rows consumed
      // (= changed rows exactly — pure predicates) AND that the
      // incremental state equals a from-scratch recompute bit-for-bit
      // (the exactness claim, checked as a multiset-equality flag).
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_iv_src")
      val vw = java.nio.file.Files.createTempDirectory("graft_iv_view")
      src.toFile.deleteOnExit(); vw.toFile.deleteOnExit()
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      IncrementalView.create(s, vw.toString, src.toString, "event_type", "value")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("user_id") % 4 === 1)
      CommitLog.update(s, src.toString, col("user_id") % 4 === 2,
        Seq("value" -> (col("value") + lit(1000.0))))
      val (vv, consumed) = IncrementalView.refresh(s, vw.toString)
      val view = CommitLog.read(s, vw.toString, vv)
      val full = CommitLog.read(s, src.toString,
        CommitLog.latestVersion(src.toString).get)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total"))
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total")).cast("double").as("sum_value"))
        .select(lit(consumed).as("n_change_rows_consumed"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value")))
    },
    "q_table_incr_view_minmax" -> { (s, dir) =>
      // Multi-aggregate incremental view (r11, VERDICT item 2): per
      // key COUNT(*) + per measure COUNT/SUM/MIN/MAX over TWO measure
      // columns, maintained from the changelog. COUNT/SUM fold as
      // signed deltas; MIN/MAX fold monotonically on inserts and
      // re-aggregate ONLY the keys whose delete-side bounds touch a
      // recorded extreme (the published bounded-recompute rule) — a
      // sparse delete slice (event_id % 97) plus an update whose
      // pre-images may hold per-key maxima exercise both the monotone
      // and the recompute paths in one refresh. The report pins the
      // rows consumed AND a bit-for-bit equality flag against a
      // from-scratch recompute; StreamingSpec pins the recompute-path
      // key count from a handcrafted fixture.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_ivmm_src")
      val vw = java.nio.file.Files.createTempDirectory("graft_ivmm_view")
      src.toFile.deleteOnExit(); vw.toFile.deleteOnExit()
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      graft.sources.IncrementalViewMulti.create(s, vw.toString, src.toString,
        "event_type", Seq("value", "user_id"))
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("event_id") % 97 === 0)
      CommitLog.update(s, src.toString, col("user_id") % 4 === 2,
        Seq("value" -> (col("value") + lit(1000.0))))
      val (vv, consumed, _) = graft.sources.IncrementalViewMulti.refresh(s, vw.toString)
      val view = CommitLog.read(s, vw.toString, vv)
      val cur = CommitLog.read(s, src.toString,
        CommitLog.latestVersion(src.toString).get)
      val full = cur.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("nv_value"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_value"),
          min(col("value")).as("mn_value"), max(col("value")).as("mx_value"),
          count(col("user_id")).as("nv_user_id"),
          sum(col("user_id").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_user_id"),
          min(col("user_id")).as("mn_user_id"), max(col("user_id")).as("mx_user_id"))
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("mn_value")).as("min_value"),
          max(col("mx_value")).as("max_value"),
          sum(col("nv_user_id")).as("n_user_nonnull"),
          min(col("mn_user_id")).as("min_user"),
          max(col("mx_user_id")).as("max_user"))
        .select(lit(consumed).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"), col("min_value"),
          col("max_value"), col("n_user_nonnull"), col("min_user"),
          col("max_user")))
    },
    "q_table_incr_view_join" -> { (s, dir) =>
      // JOIN view (r11): an aggregate over FACT ⋈ DIM — the
      // star-schema rollup. The dimension (user_id → segment) is
      // PINNED at create; folds enrich only the fact DELTAS with one
      // inner join against it (Δ(R ⋈ S) = ΔR ⋈ S for immutable S) and
      // run the ordinary multi-aggregate fold — the group key comes
      // from the DIM side, the measure from the fact. Full DML mix on
      // the fact, one refresh, bit-for-bit equality vs a recompute of
      // fact-head ⋈ dim. StreamingSpec pins the dim-advance refusal.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val fact = java.nio.file.Files.createTempDirectory("graft_ivj_f")
      val dimT = java.nio.file.Files.createTempDirectory("graft_ivj_d")
      val vw = java.nio.file.Files.createTempDirectory("graft_ivj_v")
      Seq(fact, dimT, vw).foreach(_.toFile.deleteOnExit())
      CommitLog.setTableProperty(fact.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, fact.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("segment",
          concat(lit("seg_"), (col("user_id") % 4).cast("string")))
      CommitLog.append(s, dimT.toString, dim, nFiles = 1)
      graft.sources.IncrementalViewMulti.createJoined(s, vw.toString,
        fact.toString, dimT.toString, "user_id",
        Seq("segment"), Seq("value"))
      CommitLog.append(s, fact.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, fact.toString, col("user_id") % 7 === 3)
      CommitLog.update(s, fact.toString, col("user_id") % 4 === 2,
        Seq("value" -> (col("value") + lit(1000.0))))
      val (vv, consumed, _) =
        graft.sources.IncrementalViewMulti.refresh(s, vw.toString)
      val view = CommitLog.read(s, vw.toString, vv)
      val full = CommitLog.read(s, fact.toString,
        CommitLog.latestVersion(fact.toString).get)
        .join(dim, Seq("user_id"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_value"),
          min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("mn_value")).as("min_value"),
          max(col("mx_value")).as("max_value"))
        .select(lit(consumed).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"),
          col("min_value"), col("max_value")))
    },
    "q_table_incr_view_join_dimupd" -> { (s, dir) =>
      // Δdim propagation for JOIN views (r12, VERDICT item 1): the
      // pinned dimension ADVANCES — a segment remap (SCD-style dim
      // update), a dim delete (users leave), and no-impact churn (new
      // dim rows no fact row joins) — and refresh folds the dim's OWN
      // changelog exactly: only group keys touched by changed dim
      // rows re-aggregate (old-mapping keys retire, new-mapping keys
      // build — a left-semi against fact@folded ⋈ dim@head), the pin
      // advances, and THEN the fact deltas fold against the new pin.
      // rows_folded pins the enriched fact-delta count (inner-join
      // drops the deleted users' rows) by pure predicates;
      // equals_full_recompute pins bit-for-bit equality vs
      // fact-head ⋈ dim-head. StreamingSpec keeps the no-CDF refusal.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val fact = java.nio.file.Files.createTempDirectory("graft_ivjd_f")
      val dimT = java.nio.file.Files.createTempDirectory("graft_ivjd_d")
      val vw = java.nio.file.Files.createTempDirectory("graft_ivjd_v")
      Seq(fact, dimT, vw).foreach(_.toFile.deleteOnExit())
      CommitLog.setTableProperty(fact.toString, "enableChangeDataFeed", "true")
      CommitLog.setTableProperty(dimT.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, fact.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      val dim = ev.select(col("user_id")).distinct()
        .filter(col("user_id").isNotNull)
        .withColumn("segment",
          concat(lit("seg_"), (col("user_id") % 4).cast("string")))
      CommitLog.append(s, dimT.toString, dim, nFiles = 1)
      graft.sources.IncrementalViewMulti.createJoined(s, vw.toString,
        fact.toString, dimT.toString, "user_id",
        Seq("segment"), Seq("value"))
      // the dim advances: remap, leave, and join-less churn
      CommitLog.update(s, dimT.toString, col("user_id") % 3 === 1,
        Seq("segment" -> lit("seg_x")))
      CommitLog.delete(s, dimT.toString, col("user_id") % 5 === 0)
      CommitLog.append(s, dimT.toString,
        dim.select((col("user_id") + 1000000L).as("user_id"),
          lit("seg_ghost").as("segment")), nFiles = 1)
      // and the fact advances too — folds against the NEW pin
      CommitLog.append(s, fact.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      val (vv, consumed, _) =
        graft.sources.IncrementalViewMulti.refresh(s, vw.toString)
      val view = CommitLog.read(s, vw.toString, vv)
      val dimHead = CommitLog.read(s, dimT.toString,
        CommitLog.latestVersion(dimT.toString).get)
      val full = CommitLog.read(s, fact.toString,
        CommitLog.latestVersion(fact.toString).get)
        .join(dimHead, Seq("user_id"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_value"),
          min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("mn_value")).as("min_value"),
          max(col("mx_value")).as("max_value"))
        .select(lit(consumed).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"),
          col("min_value"), col("max_value")))
    },
    "q_sql_table_incr_view_multi" -> { (s, dir) =>
      // SQL front-end for the MULTI-aggregate view (r11): composite
      // group keys + the canonical COUNT/SUM/MIN/MAX measure family in
      // ONE statement (the restricted-canonical-form discipline of the
      // MERGE statement), the source's DML as statements, one REFRESH
      // folding it all — REFRESH dispatches on the view's recorded
      // shape, so both view kinds share the statement surface.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mvm")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "t").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev, nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')")
      s.sql(
        s"""CREATE MATERIALIZED VIEW $cat.v AS
          |SELECT event_type, user_id, COUNT(*) AS n,
          |  COUNT(value) AS nv_value, SUM(value) AS total_value,
          |  MIN(value) AS mn_value, MAX(value) AS mx_value
          |FROM $cat.t GROUP BY event_type, user_id""".stripMargin)
      s.sql(s"DELETE FROM $cat.t WHERE user_id % 7 = 3")
      s.sql(s"UPDATE $cat.t SET value = value + 1000.0 WHERE user_id % 4 = 2")
      val r = s.sql(s"REFRESH MATERIALIZED VIEW $cat.v").collect()(0)
      val view = s.sql(s"SELECT * FROM $cat.v")
      val full = s.sql(
        s"""SELECT event_type, user_id, COUNT(*) AS n,
          |  COUNT(value) AS nv_value,
          |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total_value,
          |  MIN(value) AS mn_value, MAX(value) AS mx_value
          |FROM $cat.t GROUP BY event_type, user_id""".stripMargin)
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("mn_value")).as("min_value"),
          max(col("mx_value")).as("max_value"))
        .select(lit(r.getLong(1)).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"),
          col("min_value"), col("max_value")))
    },
    "q_sql_table_incr_view_avg" -> { (s, dir) =>
      // AVG + family-subset MV statement (r12, VERDICT item 2): the
      // first statement a real analyst writes — an AVG, a SUM, no
      // MIN/MAX, reordered. The parser accepts any order/subset of
      // the canonical per-measure family plus AVG; the engine
      // materializes the full family (maintenance needs nv/total/
      // mn/mx for exactness under deletes) plus avg_value as a
      // DERIVED column — total/nv over the exact decimal total, the
      // ONE derivation shared by create, every fold, and the bounded
      // recompute, so the statement's AVG stays bit-for-bit equal to
      // a full recompute through arbitrary DML. The oracle replays
      // the derivation through DuckDB's string-hop double cast.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mva")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "t").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev, nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')")
      s.sql(
        s"""CREATE MATERIALIZED VIEW $cat.v AS
          |SELECT event_type, COUNT(*) AS n,
          |  AVG(value) AS avg_value, SUM(value) AS total_value
          |FROM $cat.t GROUP BY event_type""".stripMargin)
      s.sql(s"DELETE FROM $cat.t WHERE user_id % 7 = 3")
      s.sql(s"UPDATE $cat.t SET value = value + 1000.0 WHERE user_id % 4 = 2")
      val r = s.sql(s"REFRESH MATERIALIZED VIEW $cat.v").collect()(0)
      val view = s.sql(s"SELECT * FROM $cat.v")
      val full = s.sql(
        s"""SELECT event_type, COUNT(*) AS n,
          |  COUNT(value) AS nv_value,
          |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total_value,
          |  MIN(value) AS mn_value, MAX(value) AS mx_value,
          |  CASE WHEN COUNT(value) > 0 THEN
          |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
          |      AS DOUBLE) / COUNT(value) END AS avg_value
          |FROM $cat.t GROUP BY event_type""".stripMargin)
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("avg_value")).as("min_avg"),
          max(col("avg_value")).as("max_avg"))
        .select(lit(r.getLong(1)).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"),
          col("min_avg"), col("max_avg")))
    },
    "q_sql_table_incr_view_stddev" -> { (s, dir) =>
      // STDDEV/VAR in the IVM family (r13, VERDICT item 4): the MV
      // statement accepts STDDEV_POP/VAR_POP; the engine maintains
      // the exact decimal SUM-OF-SQUARES per declared measure — it
      // folds SIGNED like total (x² is sign-invariant), fully
      // distributive, never a recompute trigger — and derives
      // var_/std_ at read from (total, ss, nv) in the ONE shared
      // derivation (varExpr), so the statement's STDDEV stays
      // bit-for-bit equal to a full recompute through the full DML
      // mix. Sample forms (STDDEV/VARIANCE/VAR_SAMP) refuse by name.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mvs")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "t").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev, nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')")
      s.sql(
        s"""CREATE MATERIALIZED VIEW $cat.v AS
          |SELECT event_type, COUNT(*) AS n,
          |  STDDEV_POP(value) AS std_value, VAR_POP(value) AS var_value,
          |  SUM(value) AS total_value
          |FROM $cat.t GROUP BY event_type""".stripMargin)
      s.sql(s"DELETE FROM $cat.t WHERE user_id % 7 = 3")
      s.sql(s"UPDATE $cat.t SET value = value + 1000.0 WHERE user_id % 4 = 2")
      val r = s.sql(s"REFRESH MATERIALIZED VIEW $cat.v").collect()(0)
      val view = s.sql(s"SELECT * FROM $cat.v")
      // the recompute replays the EXACT derivation: decimal total and
      // sum-of-squares cast through double once, explicit multiply,
      // GREATEST-0 clamp — identical IEEE op sequence to varExpr
      val full = s.sql(
        s"""SELECT event_type, n, nv_value, total_value, mn_value,
          |  mx_value, ss_value,
          |  CASE WHEN nv_value > 0 THEN GREATEST(
          |    CAST(ss_value AS DOUBLE) / nv_value -
          |    (CAST(total_value AS DOUBLE) / nv_value) *
          |    (CAST(total_value AS DOUBLE) / nv_value), 0.0D) END AS var_value,
          |  CASE WHEN nv_value > 0 THEN SQRT(GREATEST(
          |    CAST(ss_value AS DOUBLE) / nv_value -
          |    (CAST(total_value AS DOUBLE) / nv_value) *
          |    (CAST(total_value AS DOUBLE) / nv_value), 0.0D)) END AS std_value
          |FROM (
          |  SELECT event_type, COUNT(*) AS n, COUNT(value) AS nv_value,
          |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total_value,
          |    MIN(value) AS mn_value, MAX(value) AS mx_value,
          |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
          |      AS DECIMAL(38,8)) AS ss_value
          |  FROM $cat.t GROUP BY event_type)""".stripMargin)
      val exact =
        if (multisetEqual(view.selectExpr(full.columns: _*), full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("std_value")).as("min_std"),
          max(col("std_value")).as("max_std"),
          max(col("var_value")).as("max_var"))
        .select(lit(r.getLong(1)).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"),
          col("min_std"), col("max_std"), col("max_var")))
    },
    "q_sql_table_incr_view_stddev_samp" -> { (s, dir) =>
      // SAMPLE variance in the IVM family (r14, VERDICT item 3): the
      // MV statement accepts STDDEV/STDDEV_SAMP/VARIANCE/VAR_SAMP;
      // NO new folded state — the sample forms derive AT READ from
      // the SAME maintained (total, ss, nv) triple with the n/(n−1)
      // Bessel factor, in ONE shared derivation (varSampExpr): the
      // population derivation's double result, one multiply by n,
      // one divide by (n−1), NULL at n ≤ 1 — so the statement's
      // STDDEV stays bit-for-bit equal to a full recompute through
      // the full DML mix, and the r13 sample-form refusals flip to
      // positives.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mvss")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "t").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev, nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')")
      s.sql(
        s"""CREATE MATERIALIZED VIEW $cat.v AS
          |SELECT event_type, COUNT(*) AS n,
          |  STDDEV_SAMP(value) AS stds_value, VARIANCE(value) AS vars_value,
          |  SUM(value) AS total_value
          |FROM $cat.t GROUP BY event_type""".stripMargin)
      s.sql(s"DELETE FROM $cat.t WHERE user_id % 7 = 3")
      s.sql(s"UPDATE $cat.t SET value = value + 1000.0 WHERE user_id % 4 = 2")
      val r = s.sql(s"REFRESH MATERIALIZED VIEW $cat.v").collect()(0)
      val view = s.sql(s"SELECT * FROM $cat.v")
      // the recompute replays the EXACT derivation: the population
      // variance's op sequence, then × n / (n−1) — identical IEEE
      // order to varSampExpr
      val full = s.sql(
        s"""SELECT event_type, n, nv_value, total_value, mn_value,
          |  mx_value, ss_value,
          |  CASE WHEN nv_value > 1 THEN GREATEST(
          |    CAST(ss_value AS DOUBLE) / nv_value -
          |    (CAST(total_value AS DOUBLE) / nv_value) *
          |    (CAST(total_value AS DOUBLE) / nv_value), 0.0D)
          |    * CAST(nv_value AS DOUBLE) / CAST(nv_value - 1 AS DOUBLE)
          |    END AS vars_value,
          |  CASE WHEN nv_value > 1 THEN SQRT(GREATEST(
          |    CAST(ss_value AS DOUBLE) / nv_value -
          |    (CAST(total_value AS DOUBLE) / nv_value) *
          |    (CAST(total_value AS DOUBLE) / nv_value), 0.0D)
          |    * CAST(nv_value AS DOUBLE) / CAST(nv_value - 1 AS DOUBLE))
          |    END AS stds_value
          |FROM (
          |  SELECT event_type, COUNT(*) AS n, COUNT(value) AS nv_value,
          |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total_value,
          |    MIN(value) AS mn_value, MAX(value) AS mx_value,
          |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
          |      AS DECIMAL(38,8)) AS ss_value
          |  FROM $cat.t GROUP BY event_type)""".stripMargin)
      val exact =
        if (multisetEqual(view.selectExpr(full.columns: _*), full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("stds_value")).as("min_stds"),
          max(col("stds_value")).as("max_stds"),
          max(col("vars_value")).as("max_vars"))
        .select(lit(r.getLong(1)).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"),
          col("min_stds"), col("max_stds"), col("max_vars")))
    },
    "q_sql_table_incr_view_join" -> { (s, dir) =>
      // SQL front-end for the JOIN view (r11): `CREATE MATERIALIZED
      // VIEW v AS SELECT seg, COUNT(*) ... FROM cat.f JOIN cat.d ON
      // f.user_id = d.user_id GROUP BY seg` — the star-schema rollup
      // as ONE statement with the dimension pinned at create; the
      // fact's DML as statements; one REFRESH folds the fact deltas
      // through the pinned-dim join.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mvj")
      base.toFile.deleteOnExit()
      val fRoot = new java.io.File(base.toFile, "f").toString
      val dRoot = new java.io.File(base.toFile, "d").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, fRoot, ev, nFiles = 2)
      val dim = ev.select(col("user_id")).distinct()
        .withColumn("segment",
          concat(lit("seg_"), (col("user_id") % 4).cast("string")))
      CommitLog.append(s, dRoot, dim, nFiles = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.f SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')")
      s.sql(
        s"""CREATE MATERIALIZED VIEW $cat.v AS
          |SELECT segment, COUNT(*) AS n,
          |  COUNT(value) AS nv_value, SUM(value) AS total_value,
          |  MIN(value) AS mn_value, MAX(value) AS mx_value
          |FROM $cat.f JOIN $cat.d ON f.user_id = d.user_id
          |GROUP BY segment""".stripMargin)
      s.sql(s"DELETE FROM $cat.f WHERE user_id % 7 = 3")
      s.sql(s"UPDATE $cat.f SET value = value + 1000.0 WHERE user_id % 4 = 2")
      val r = s.sql(s"REFRESH MATERIALIZED VIEW $cat.v").collect()(0)
      val view = s.sql(s"SELECT * FROM $cat.v")
      val full = s.sql(
        s"""SELECT segment, COUNT(*) AS n,
          |  COUNT(value) AS nv_value,
          |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total_value,
          |  MIN(value) AS mn_value, MAX(value) AS mx_value
          |FROM $cat.f JOIN $cat.d ON f.user_id = d.user_id
          |GROUP BY segment""".stripMargin)
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("mn_value")).as("min_value"),
          max(col("mx_value")).as("max_value"))
        .select(lit(r.getLong(1)).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"),
          col("min_value"), col("max_value")))
    },
    "q_table_incr_view_multikey" -> { (s, dir) =>
      // Multi-GROUP-KEY incremental view (r11, the verdict's "first
      // real materialized view has multiple group keys"): GROUP BY
      // (event_type, user_id) maintained from the changelog, folding
      // through the log's COMPOSITE-key MERGE (CommitLog.mergeKeyed —
      // match on equality of every key column, vanished composite
      // keys dropped through the same distributed delete-keys side).
      // Full DML mix, one refresh, bit-for-bit equality vs recompute.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_ivmk_src")
      val vw = java.nio.file.Files.createTempDirectory("graft_ivmk_view")
      src.toFile.deleteOnExit(); vw.toFile.deleteOnExit()
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      graft.sources.IncrementalViewMulti.createKeyed(s, vw.toString, src.toString,
        Seq("event_type", "user_id"), Seq("value"))
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("user_id") % 7 === 3)
      CommitLog.update(s, src.toString, col("user_id") % 4 === 2,
        Seq("value" -> (col("value") + lit(1000.0))))
      val (vv, consumed, _) =
        graft.sources.IncrementalViewMulti.refresh(s, vw.toString)
      val view = CommitLog.read(s, vw.toString, vv)
      val full = CommitLog.read(s, src.toString,
        CommitLog.latestVersion(src.toString).get)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_value"),
          min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
      val exact = if (multisetEqual(view, full)) 1L else 0L
      ordered(view
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_value")).cast("double").as("sum_value"),
          min(col("mn_value")).as("min_value"),
          max(col("mx_value")).as("max_value"))
        .select(lit(consumed).as("rows_folded"),
          lit(exact).as("equals_full_recompute"),
          col("n_keys"), col("n_rows"), col("sum_value"),
          col("min_value"), col("max_value")))
    },
    "q_table_view_chain" -> { (s, dir) =>
      // Views COMPOSE (r11, VERDICT item 8): the fold's MERGE commit
      // emits its own CDF rows when the VIEW table enables the feed,
      // so a second-level view folds the first's changelog — a
      // per-user multi-aggregate view over the source, then a
      // count-histogram view ("how many users have k events, and
      // their total spend") over THAT view. One source DML batch
      // (append + a key-vanishing delete) propagates through both
      // levels as deltas: level 1 re-merges affected users, level 2
      // consumes exactly level 1's pre/post/insert/delete rows —
      // rows_folded_v2 pins that count against pure predicates, and
      // both levels carry equals-full-recompute flags.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_vc_src")
      val v1 = java.nio.file.Files.createTempDirectory("graft_vc_v1")
      val v2 = java.nio.file.Files.createTempDirectory("graft_vc_v2")
      Seq(src, v1, v2).foreach(_.toFile.deleteOnExit())
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      graft.sources.IncrementalViewMulti.create(s, v1.toString, src.toString,
        "user_id", Seq("value"))
      CommitLog.setTableProperty(v1.toString, "enableChangeDataFeed", "true")
      IncrementalView.create(s, v2.toString, v1.toString, "nv_value", "total_value")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("user_id") % 5 === 0)
      graft.sources.IncrementalViewMulti.refresh(s, v1.toString)
      val (v2v, c2) = IncrementalView.refresh(s, v2.toString)
      val v1head = CommitLog.read(s, v1.toString,
        CommitLog.latestVersion(v1.toString).get)
      val srcHead = CommitLog.read(s, src.toString,
        CommitLog.latestVersion(src.toString).get)
      val full1 = srcHead.filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_value"),
          min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
      val view2 = CommitLog.read(s, v2.toString, v2v)
      val full2 = v1head.groupBy(col("nv_value"))
        .agg(count(lit(1)).as("n"),
          sum(col("total_value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total"))
      // both levels' witnesses in ONE job (r20, multisetUnequal):
      // nothing mutates between the two comparisons
      val uneq = multisetUnequal(Seq(v1head -> full1, view2 -> full2))
      val exact1 = if (!uneq(0)) 1L else 0L
      val exact2 = if (!uneq(1)) 1L else 0L
      ordered(view2.agg(count(lit(1)).as("n_buckets"),
        sum(col("n")).as("n_users"),
        sum(col("total")).cast("double").as("sum_total"))
        .select(lit(c2).as("rows_folded_v2"),
          lit(exact1).as("v1_exact"), lit(exact2).as("v2_exact"),
          col("n_buckets"), col("n_users"), col("sum_total")))
    },
    "q_table_view_chain3" -> { (s, dir) =>
      // Chain depth 3 with MULTI-measure at every level (r12, VERDICT
      // item 6): source → per-user multi view (v1) → bucket view over
      // v1's changelog (v2: "users with k non-null values", grouped
      // on nv_value — v1's mergeKeyed fold EMITS the CDF v2 consumes)
      // → v3 over v2's changelog (grouped on nv_total_value) — a
      // mergeKeyed fold consuming a mergeKeyed fold consuming a
      // mergeKeyed fold. One source DML batch (append + a
      // user-vanishing delete) propagates through all three levels as
      // deltas; rows_folded is pinned PER LEVEL against pure
      // predicates (level 2: per-user pre/post/insert/delete row
      // accounting; level 3: per-bucket born/died/survived), and all
      // three levels carry equals-full-recompute flags.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val src = java.nio.file.Files.createTempDirectory("graft_vc3_src")
      val v1 = java.nio.file.Files.createTempDirectory("graft_vc3_v1")
      val v2 = java.nio.file.Files.createTempDirectory("graft_vc3_v2")
      val v3 = java.nio.file.Files.createTempDirectory("graft_vc3_v3")
      Seq(src, v1, v2, v3).foreach(_.toFile.deleteOnExit())
      CommitLog.setTableProperty(src.toString, "enableChangeDataFeed", "true")
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      graft.sources.IncrementalViewMulti.create(s, v1.toString, src.toString,
        "user_id", Seq("value"))
      CommitLog.setTableProperty(v1.toString, "enableChangeDataFeed", "true")
      graft.sources.IncrementalViewMulti.createKeyed(s, v2.toString, v1.toString,
        Seq("nv_value"), Seq("total_value"))
      CommitLog.setTableProperty(v2.toString, "enableChangeDataFeed", "true")
      graft.sources.IncrementalViewMulti.createKeyed(s, v3.toString, v2.toString,
        Seq("nv_total_value"), Seq("total_total_value"))
      CommitLog.append(s, src.toString, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.delete(s, src.toString, col("user_id") % 5 === 0)
      val (_, c1, _) = graft.sources.IncrementalViewMulti.refresh(s, v1.toString)
      val (_, c2, _) = graft.sources.IncrementalViewMulti.refresh(s, v2.toString)
      val (_, c3, _) = graft.sources.IncrementalViewMulti.refresh(s, v3.toString)
      val v1head = CommitLog.read(s, v1.toString,
        CommitLog.latestVersion(v1.toString).get)
      val v2head = CommitLog.read(s, v2.toString,
        CommitLog.latestVersion(v2.toString).get)
      val v3head = CommitLog.read(s, v3.toString,
        CommitLog.latestVersion(v3.toString).get)
      val full1 = CommitLog.read(s, src.toString,
        CommitLog.latestVersion(src.toString).get)
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_value"),
          min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
      val full2 = v1head.groupBy(col("nv_value"))
        .agg(count(lit(1)).as("n"),
          count(col("total_value")).as("nv_total_value"),
          sum(col("total_value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_total_value"),
          min(col("total_value")).as("mn_total_value"),
          max(col("total_value")).as("mx_total_value"))
      val full3 = v2head.groupBy(col("nv_total_value"))
        .agg(count(lit(1)).as("n"),
          count(col("total_total_value")).as("nv_total_total_value"),
          sum(col("total_total_value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_total_total_value"),
          min(col("total_total_value")).as("mn_total_total_value"),
          max(col("total_total_value")).as("mx_total_total_value"))
      def eq(a: DataFrame, b: DataFrame): Long =
        if (multisetEqual(a, b)) 1L else 0L
      ordered(v3head
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total_total_total_value")).cast("double").as("sum_total"))
        .select(lit(c1).as("rows_folded_v1"), lit(c2).as("rows_folded_v2"),
          lit(c3).as("rows_folded_v3"),
          lit(eq(v1head, full1)).as("v1_exact"),
          lit(eq(v2head, full2)).as("v2_exact"),
          lit(eq(v3head, full3)).as("v3_exact"),
          col("n_keys"), col("n_rows"), col("sum_total")))
    },
    "q_table_type_widening" -> { (s, dir) =>
      // TYPE WIDENING (r12 — Delta's type-widening feature): the
      // table starts (int, float), an evolved append carrying
      // (bigint, double) WIDENS the recorded schema — existing narrow
      // files read NATIVELY under it (this Spark's parquet readers
      // upcast int32/float at scan; zero rewrite, pinned by the
      // version anatomy: no compaction, no CoW, just appends) — and a
      // subsequent PLAIN append with the old narrow types still
      // lands (its files stage narrow, the scan upcasts), so old
      // writers survive the widen. Head schema pinned by name;
      // aggregates replay the float-rounding exactly.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft_widen")
      root.toFile.deleteOnExit()
      val narrow1 = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_id").cast("int").as("event_id"),
          col("user_id"), col("value").cast("float").as("value"))
      CommitLog.appendEvolved(s, root.toString, narrow1, nFiles = 2)
      val wide = ev.filter(col("event_id") % 2 =!= 0)
      CommitLog.appendEvolved(s, root.toString, wide, nFiles = 2)
      // the old narrow writer keeps working through the PLAIN path
      val narrow2 = ev.filter(col("event_id") <= 500)
        .select((col("event_id") + 10000000L).cast("int").as("event_id"),
          col("user_id"), col("value").cast("float").as("value"))
      CommitLog.append(s, root.toString, narrow2, nFiles = 1)
      val head = CommitLog.latestVersion(root.toString).get
      val got = CommitLog.read(s, root.toString, head)
      val types = got.schema.fields
        .map(f => f.name + ":" + f.dataType.simpleString).mkString(",")
      ordered(got.agg(count(lit(1)).as("n_rows"),
        dsum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .select(lit(head).as("head_version"), lit(types).as("head_schema"),
          col("n_rows"), col("sum_value"), col("min_value"),
          col("max_value")))
    },
    "q_sql_table_merge_delete" -> { (s, dir) =>
      // MIXED-clause MERGE (r12) — the CDC-apply statement: the
      // source carries an op marker; `WHEN MATCHED AND s.op = 'D'
      // THEN DELETE` drops matched targets, the canonical upsert pair
      // handles the rest, and the `WHEN NOT MATCHED AND s.op <> 'D'`
      // guard keeps unmatched delete-markers from inserting (the
      // documented Delta CDC MERGE pattern). The marker column drives
      // routing but never lands — the write projects to the target's
      // schema. One statement, one atomic commit: deletes, updates
      // and inserts together.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mgd")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "t").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      CommitLog.append(s, root, ev, nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val feed = ev.filter(col("user_id") % 5 === 1)
        .withColumn("op", lit("D"))                     // matched deletes
        .unionByName(ev.limit(50)
          .withColumn("event_id", col("event_id") + 2000000000L)
          .withColumn("op", lit("D")))                  // unmatched: no-op
        .unionByName(ev.filter(col("user_id") % 5 === 2)
          .withColumn("value", col("value") + lit(1000.0))
          .withColumn("op", lit("U")))                  // matched updates
        .unionByName(ev.filter(col("user_id") % 5 === 3)
          .withColumn("event_id", col("event_id") + 1000000000L)
          .withColumn("op", lit("I")))                  // unmatched inserts
      val view = "cdc_src_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      feed.createOrReplaceTempView(view)
      val r = s.sql(
        s"""MERGE INTO $cat.t t USING $view s
          |ON t.event_id = s.event_id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin)
        .collect()(0)
      ordered(s.sql(s"SELECT * FROM $cat.t")
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"),
          sum(when(col("user_id") % 5 === 1, 1L).otherwise(0L))
            .as("n_deleted_remaining"),
          sum(when(col("event_id") >= 1000000000L, 1L).otherwise(0L))
            .as("n_inserted"))
        .select(lit(r.getLong(0)).as("head_version"),
          col("n_rows"), col("sum_value"),
          col("n_deleted_remaining"), col("n_inserted")))
    },
    "q_table_generated_cols" -> { (s, dir) =>
      // GENERATED columns (r12 — Delta's GENERATED ALWAYS AS): table
      // property `generated.day` = 'event_id % 7'; a writer that
      // OMITS the column gets it computed, one that SUPPLIES it is
      // validated against the expression (divergence fails the WRITE
      // by name — spec-pinned). The headline use is the DERIVED
      // PARTITION LAYOUT: both appends partition by the generated
      // column, so a day-scoped read prunes to 2 of 14 files from
      // log metadata alone — the writer never computed a day value.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft_gencol")
      root.toFile.deleteOnExit()
      CommitLog.setTableProperty(root.toString, "generated.day", "event_id % 7")
      // writer 1 omits the column — computed, then routed by it
      CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 === 0), "day", filesPerPartition = 1)
      // writer 2 supplies it correctly — validated, then routed
      CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 =!= 0)
          .withColumn("day", expr("event_id % 7")),
        "day", filesPerPartition = 1)
      val head = CommitLog.latestVersion(root.toString).get
      val (pruned, p) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Seq("day" -> Set("3")), Nil))
      val full = CommitLog.read(s, root.toString, head)
      val mism = full.filter(!(col("day") <=> expr("event_id % 7"))).count()
      ordered(pruned.filter(col("day") === 3)
        .agg(count(lit(1)).as("n_rows_day3"), dsum(col("value")).as("sum_value_day3"))
        .select(lit(p.filesTotal).as("files_total"), lit(p.files.size).as("files_read"),
          lit(mism).as("n_mismatch"),
          col("n_rows_day3"), col("sum_value_day3")))
    },
    "q_table_default_cols" -> { (s, dir) =>
      // DEFAULT columns (r13 — the SQL/Delta column DEFAULT,
      // completing the column-feature trio with GENERATED and
      // IDENTITY): table property `default.<col>` = a CONSTANT
      // expression. Fill-on-OMISSION only: a write without the
      // column gets the default, a write that supplies it — even an
      // explicit NULL — is taken as written (validation is
      // GENERATED's contract, not DEFAULT's); a default referencing
      // other columns refuses by name. Composes with GENERATED: the
      // derived `day` fills on every one of the three writes.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft_defc")
      root.toFile.deleteOnExit()
      CommitLog.setTableProperty(root.toString, "default.source", "'backfill'")
      CommitLog.setTableProperty(root.toString, "generated.day", "event_id % 7")
      // omitted → default fills
      CommitLog.append(s, root.toString,
        ev.filter(col("event_id") % 3 === 0), nFiles = 1)
      // supplied → kept verbatim
      CommitLog.append(s, root.toString,
        ev.filter(col("event_id") % 3 === 1)
          .withColumn("source", lit("live")), nFiles = 1)
      // explicit NULL → stays NULL (fill means omission, not null)
      CommitLog.append(s, root.toString,
        ev.filter(col("event_id") % 3 === 2)
          .withColumn("source", lit(null).cast("string")), nFiles = 1)
      val head = CommitLog.latestVersion(root.toString).get
      val full = CommitLog.read(s, root.toString, head)
      val dayMism = full.filter(!(col("day") <=> expr("event_id % 7"))).count()
      ordered(full.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("source") === "backfill", 1L).otherwise(0L)).as("n_backfill"),
        sum(when(col("source") === "live", 1L).otherwise(0L)).as("n_live"),
        sum(when(col("source").isNull, 1L).otherwise(0L)).as("n_null"),
        dsum(col("value")).as("sum_value"))
        .select(lit(dayMism).as("n_day_mismatch"), col("n_rows"),
          col("n_backfill"), col("n_live"), col("n_null"), col("sum_value")))
    },
    "q_table_identity_cols" -> { (s, dir) =>
      // IDENTITY column (r13 — Delta's GENERATED ALWAYS AS IDENTITY):
      // table property `identity.<col>` = "start,step"; the column is
      // ALWAYS system-assigned — omitted on write, allocated
      // hwm + step·(1..n) per commit (unique, monotone across
      // commits, the high-water mark riding the manifest so a
      // compaction can never cause id reuse), supplied values refuse
      // by name. WHICH row gets WHICH id follows partition order and
      // is not part of the contract — so the key pins the ID SET
      // algebra (count, distinct, min, max, arithmetic-series sum),
      // which is exact regardless of assignment order.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft_idc")
      root.toFile.deleteOnExit()
      CommitLog.setTableProperty(root.toString, "identity.row_id", "1000,2")
      CommitLog.append(s, root.toString,
        ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      CommitLog.append(s, root.toString,
        ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      // supplying the identity column refuses by name, nothing lands
      val headBefore = CommitLog.latestVersion(root.toString).get
      val refused =
        try {
          CommitLog.append(s, root.toString,
            ev.limit(3).withColumn("row_id", lit(1L)), nFiles = 1)
          0L
        } catch {
          case e: IllegalArgumentException if e.getMessage.contains("IDENTITY") => 1L
        }
      val unchanged =
        if (CommitLog.latestVersion(root.toString).get == headBefore) 1L else 0L
      val full = CommitLog.read(s, root.toString,
        CommitLog.latestVersion(root.toString).get)
      ordered(full.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("row_id")).as("n_distinct_ids"),
        min(col("row_id")).as("min_id"),
        max(col("row_id")).as("max_id"),
        sum(col("row_id")).as("sum_ids"),
        dsum(col("value")).as("sum_value"))
        .select(lit(refused).as("supplied_refused"),
          lit(unchanged).as("head_unchanged"),
          col("n_rows"), col("n_distinct_ids"), col("min_id"),
          col("max_id"), col("sum_ids"), col("sum_value")))
    },
    "q_table_auto_compact" -> { (s, dir) =>
      // AUTO-COMPACT policy (r12) — the small-file problem closed by
      // policy instead of a cron job: table property `autoCompact`
      // (file-count threshold) + `autoCompact.target`; each append
      // checks the NEW snapshot's file count and compacts inline when
      // it crosses — op="compact" in the log, so the history is an
      // honest record (3 appends, then the triggered compaction as
      // its own version). Pinned: the head version (proves exactly
      // ONE compaction fired, exactly after the crossing append), the
      // head file count (= target), the pre-compaction file count (a
      // pinned time-travel read), and the data surviving untouched.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft_autoc")
      root.toFile.deleteOnExit()
      CommitLog.setTableProperty(root.toString, "autoCompact", "5")
      CommitLog.setTableProperty(root.toString, "autoCompact.target", "2")
      CommitLog.append(s, root.toString, ev.filter(col("event_id") % 3 === 0), nFiles = 2)
      CommitLog.append(s, root.toString, ev.filter(col("event_id") % 3 === 1), nFiles = 2)
      // this append crosses the threshold (6 >= 5) → inline compact
      CommitLog.append(s, root.toString, ev.filter(col("event_id") % 3 === 2), nFiles = 2)
      val head = CommitLog.latestVersion(root.toString).get
      val filesBefore = CommitLog.snapshotFiles(root.toString, head - 1).size
      val filesHead = CommitLog.snapshotFiles(root.toString, head).size
      val ops = CommitLog.history(root.toString).map(_._2)
      ordered(CommitLog.read(s, root.toString, head)
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(head).as("head_version"),
          lit(ops.count(_ == "append").toLong).as("n_appends"),
          lit(ops.count(_ == "compact").toLong).as("n_compacts"),
          lit(filesBefore.toLong).as("n_files_before"),
          lit(filesHead.toLong).as("n_files_head"),
          col("n_rows"), col("sum_value")))
    },
    "q_table_merge_evolve" -> { (s, dir) =>
      // MERGE with automatic schema evolution (r11, VERDICT item 7 —
      // Delta autoMerge): the update rows carry a NEW `score` column;
      // the merge widens the schema (metadata-only commit), replaced
      // and inserted rows land with scores, and every untouched row
      // null-fills the column under the log schema. head_version pins
      // the commit anatomy (create, widen, merge = v2); the aggregates
      // replay the merged state including the null-fill.
      // StreamingSpec's named negative pins that a RETYPED column
      // fails before anything stages.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft_mrgev")
      root.toFile.deleteOnExit()
      CommitLog.appendEvolved(s, root.toString, ev, nFiles = 2)
      val ups = ev.filter(col("user_id") % 4 === 1)
        .withColumn("score", col("value") * lit(2.0))
        .withColumn("value", col("value") + lit(1000.0))
        .unionByName(ev.filter(col("user_id") % 4 === 2)
          .withColumn("event_id", col("event_id") + lit(1000000000L))
          .withColumn("score", lit(-1.0)))
      val (v, _, _) = CommitLog.mergeEvolved(s, root.toString, ups, "event_id", 2)
      val head = CommitLog.read(s, root.toString, v)
      ordered(head.agg(
        count(lit(1)).as("n_rows"),
        dsum(col("value")).as("sum_value"),
        count(col("score")).as("n_score_nonnull"),
        dsum(col("score")).as("sum_score"))
        .select(lit(v).as("head_version"), col("n_rows"), col("sum_value"),
          col("n_score_nonnull"), col("sum_score")))
    },
    "q_table_history_checkpoint" -> { (s, dir) =>
      // Log CHECKPOINT (r11, VERDICT item 4) — the million-commit
      // axis: with checkpointInterval=7 set, every 7th commit
      // snapshots one compact summary row per version, and every
      // history-shaped read (DESCRIBE HISTORY, TIMESTAMP AS OF, the
      // views' watermark walks) parses only the manifests AFTER the
      // checkpoint. 24 commits here → auto-checkpoints at v7/14/21 →
      // the history walk parses TWO manifests (v22, v23) instead of
      // 24; at 10^5 commits the same walk parses <= interval. Time
      // travel to v0 stays exact (checkpoints are metadata cache,
      // manifests stay the read authority).
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("graft_ckpt")
      root.toFile.deleteOnExit()
      CommitLog.setTableProperty(root.toString, "checkpointInterval", "7")
      (0 until 24).foreach { i =>
        CommitLog.append(s, root.toString,
          ev.filter(col("event_id") % 24 === i), nFiles = 1)
      }
      val (rows, parsed) = CommitLog.historySummaries(root.toString)
      val ckptV = CommitLog.lastCheckpointVersion(root.toString).getOrElse(-1L)
      val v0 = CommitLog.read(s, root.toString, 0L)
      val head = CommitLog.read(s, root.toString,
        CommitLog.latestVersion(root.toString).get)
      ordered(head.agg(count(lit(1)).as("n_rows_head"),
        dsum(col("value")).as("sum_value"))
        .select(lit(rows.size.toLong).as("n_versions"),
          lit(parsed).as("manifests_parsed"),
          lit(ckptV).as("ckpt_version"),
          lit(v0.count()).as("n_rows_v0"),
          col("n_rows_head"), col("sum_value")))
    },
    "q_sql_table_detail" -> { (s, dir) =>
      // SQL front-end (added late r10): DESCRIBE DETAIL — the Delta
      // table-metadata summary as ONE row from the log alone (no data
      // I/O): head version, live files, partition column, vectored
      // files, retained versions, property count. The fixture stacks
      // every metadata dimension at once — a partitioned table (5
      // event types × 1 file × 2 appends), a property, and a
      // merge-on-read delete whose vectors touch every file — and the
      // report joins the summary with the MASKED head read, so the
      // statement's counters and the data they describe replay
      // against the oracle together.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_det")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.appendPartitioned(s, root, ev.filter(col("event_id") % 2 === 0),
        "event_type", filesPerPartition = 1)
      CommitLog.appendPartitioned(s, root, ev.filter(col("event_id") % 2 =!= 0),
        "event_type", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.tbl SET TBLPROPERTIES ('enableDeletionVectors' = 'true')")
      s.sql(s"DELETE FROM $cat.tbl WHERE user_id % 4 = 1")
      val d = s.sql(s"DESCRIBE DETAIL $cat.tbl").collect()(0)
      ordered(s.sql(s"SELECT user_id, value FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(d.getLong(0)).as("head_version"),
          lit(d.getLong(1)).as("n_files"),
          lit(d.getString(2)).as("partition_col"),
          lit(d.getLong(3)).as("n_files_with_vectors"),
          lit(d.getLong(4)).as("n_versions_retained"),
          lit(d.getLong(5)).as("n_properties"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_incr_view" -> { (s, dir) =>
      // SQL front-end (added r10): CREATE MATERIALIZED VIEW / REFRESH
      // MATERIALIZED VIEW — the canonical per-key COUNT+SUM aggregate
      // maintained from the changelog, entirely through SQL: the view
      // is created as a statement, the source then takes the full
      // row-level DML mix AS STATEMENTS (DELETE FROM + UPDATE), one
      // REFRESH folds it all (rows_folded pinned against pure
      // predicates), and the view reads back through the same catalog
      // — tables and their derived views live under one namespace.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mv")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "t").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev, nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')")
      s.sql(
        s"""CREATE MATERIALIZED VIEW $cat.v AS
          |SELECT event_type, COUNT(*) AS n, SUM(value) AS total
          |FROM $cat.t GROUP BY event_type""".stripMargin)
      s.sql(s"DELETE FROM $cat.t WHERE user_id % 4 = 1")
      s.sql(s"UPDATE $cat.t SET value = value + 1000.0 WHERE user_id % 4 = 2")
      val r = s.sql(s"REFRESH MATERIALIZED VIEW $cat.v").collect()(0)
      ordered(s.sql(s"SELECT n, total FROM $cat.v")
        .agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          sum(col("total")).cast("double").as("sum_value"))
        .select(lit(r.getLong(1)).as("rows_folded"),
          col("n_keys"), col("n_rows"), col("sum_value")))
    },
    "q_table_update_dv" -> { (s, dir) =>
      // Merge-on-read UPDATE (added r10) — q_table_update's deletion-
      // vector twin: matched rows' OLD versions are masked by a
      // vector (cost ∝ matched rows), their NEW versions append as
      // fresh files — zero rewrites, pinned by the carried-file-set
      // counter. A point update of 100 rows scattered across 10k wide
      // files writes one sidecar + one small file instead of 10k
      // rewrites. Semantics identical to the CoW form: the SAME
      // oracle aggregates (snapshot AND replayed CDF changelog) must
      // hold, plus the MoR counters.
      val root = java.nio.file.Files.createTempDirectory("graft_table_udv")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      val v1 = CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      CommitLog.setTableProperty(root.toString, "enableChangeDataFeed", "true")
      val (v2, nFilesDv, nUpd) = CommitLog.updateMergeOnRead(s, root.toString,
        col("user_id") % 4 === 1,
        Seq("value" -> (col("value") + lit(1000.0)),
          "event_type" -> lit("boosted")))
      val prior = CommitLog.snapshotFiles(root.toString, v1).toSet
      val now = CommitLog.snapshotFiles(root.toString, v2).toSet
      val added = (now -- prior).size.toLong
      val carriedAll = if (prior.subsetOf(now)) 1L else 0L
      val c = CommitLog.changesRows(s, root.toString, v1, v2)
        .agg(
          sum(when(col("_change_type") === "update_preimage", 1L)
            .otherwise(0L)).as("n_cdf_pre"),
          sum(when(col("_change_type") === "update_postimage", 1L)
            .otherwise(0L)).as("n_cdf_post"),
          dsum(when(col("_change_type") === "update_postimage", col("value"))
            .otherwise(lit(null))).as("sum_cdf_post"))
        .collect()(0)
      ordered(CommitLog.read(s, root.toString, v2)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_type") === "boosted", 1L).otherwise(0L))
            .as("n_boosted"),
          dsum(col("value")).as("sum_value"))
        .select(lit(nFilesDv).as("n_files_with_vectors"),
          lit(nUpd).as("n_rows_updated"),
          lit(added).as("n_files_added"),
          lit(carriedAll).as("all_prior_files_carried"),
          col("n_rows"), col("n_boosted"), col("sum_value"),
          lit(c.getLong(0)).as("n_cdf_pre"),
          lit(c.getLong(1)).as("n_cdf_post"),
          lit(c.getDouble(2)).as("sum_cdf_post")))
    },
    "q_sql_table_reorg" -> { (s, dir) =>
      // SQL front-end (added r10): REORG TABLE ... APPLY (PURGE) —
      // the selective physical purge behind deletion vectors: rewrite
      // ONLY the vectored files (masked read → clean replacements,
      // vectors retired), carry everything else byte-identical; where
      // compact is total, reorg is surgical. Predicate-aligned: the
      // MoR delete vectors exactly the two v0-era files, so the purge
      // rewrites 2 of 4; the report pins the raw physical row count
      // (purge proven, not assumed) and that a second REORG is a
      // no-op publishing nothing.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_reorg")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.tbl SET TBLPROPERTIES ('enableDeletionVectors' = 'true')")
      s.sql(s"DELETE FROM $cat.tbl WHERE user_id % 4 = 1")
      val r = s.sql(s"REORG TABLE $cat.tbl APPLY (PURGE)").collect()(0)
      val nRaw = s.read.parquet(CommitLog.snapshotFiles(root,
        CommitLog.latestVersion(root).get): _*).count()
      val r2 = s.sql(s"REORG TABLE $cat.tbl APPLY (PURGE)").collect()(0)
      ordered(s.sql(s"SELECT value FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(r.getLong(0)).as("head_version"),
          lit(r.getLong(1)).as("files_carried"),
          lit(r.getLong(2)).as("files_rewritten"),
          lit(nRaw).as("n_raw_rows_after_purge"),
          lit(r2.getLong(0)).as("noop_head_version"),
          lit(r2.getLong(2)).as("noop_files_rewritten"),
          col("n_rows"), col("sum_value")))
    },
    "q_table_column_mapping" -> { (s, dir) =>
      // Column mapping (added r10) — RENAME COLUMN / DROP COLUMN as
      // METADATA-ONLY commits, the Delta columnMapping.mode=name
      // design: logical names live in the log schema, each field's
      // immutable PHYSICAL parquet name rides in field metadata, so a
      // rename re-lists the head's files verbatim (zero data I/O, no
      // rewrite debt, in-flight streams unaffected) and a drop stops
      // projecting the column (bytes linger until any rewrite purges
      // them — REORG's job, not ALTER's). The key proves the whole
      // lifecycle STAYS correct under mapping: rename value→amount,
      // drop event_type, then a CoW delete whose rewrite stages
      // physical names and reads back logically. Counters pinned by
      // predicate-aligned staging (the q_table_delete layout).
      // StreamingSpec pins the mechanism (metadata-only file sets,
      // versioned schemas, stats following renames, physical-clash
      // avoidance, constraint guards, stream skip).
      val root = java.nio.file.Files.createTempDirectory("graft_table_map")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      val v1 = CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      val v2 = CommitLog.renameColumn(s, root.toString, "value", "amount")
      val v3 = CommitLog.dropColumn(s, root.toString, "event_type")
      // metadata-only proof, folded into the report as a counter
      val newFiles = (CommitLog.snapshotFiles(root.toString, v3).toSet --
        CommitLog.snapshotFiles(root.toString, v1).toSet).size.toLong
      val (v4, carried, rewritten) =
        CommitLog.delete(s, root.toString, col("user_id") % 4 === 1)
      ordered(CommitLog.read(s, root.toString, v4)
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("amount")).as("sum_amount"))
        .select(lit(v2).as("rename_version"),
          lit(newFiles).as("n_new_files_metadata_ops"),
          lit(carried).as("n_files_carried"),
          lit(rewritten).as("n_files_rewritten"),
          col("n_rows"), col("sum_amount")))
    },
    "q_table_optimize" -> { (s, dir) =>
      // Range-cluster OPTIMIZE (added r9) — the layout-maintenance
      // command that makes the manifest stats EFFECTIVE: the table is
      // built as two ingest-ordered appends (user_id halves, each file
      // hash-scattered in event_id, so every file's [min,max] spans
      // ~the whole id range and the second-quartile probe must read
      // 8 of 8 files despite the stats being present); OPTIMIZE then
      // rewrites the snapshot into quartile-aligned files (explicit
      // integer cutoffs from one MAX scalar — deterministic, never a
      // sampled RangePartitioner) and the SAME probe prunes to 2 of 8
      // from the log alone. Before/after counters are pinned by
      // construction → the whole report is oracle-checkable.
      // StreamingSpec pins the mechanism: optimize is data-neutral
      // (pre ≡ post full read), pinned readers at the pre-optimize
      // version are untouched, and changes() refuses ranges across it.
      val root = java.nio.file.Files.createTempDirectory("graft_table_opt")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val (q1, q2, q3) = (m / 4, m / 2, 3 * m / 4)
      CommitLog.appendWithStats(s, root.toString,
        ev.filter(col("user_id") % 2 === 0), nFiles = 4, statsCol = "event_id")
      val v1 = CommitLog.appendWithStats(s, root.toString,
        ev.filter(col("user_id") % 2 === 1), 4, "event_id")
      val probe = ProbeTree(Nil, Seq(RangeProbe("event_id", Some(q1 + 1), Some(q2))))
      val bef = CommitLog.prune(root.toString, v1, probe)
      val v2 = CommitLog.optimize(s, root.toString, "event_id",
        cutoffs = Seq(q1, q2, q3), filesPerBucket = 2)
      val (df, aft) = CommitLog.prunedScan(s, root.toString, v2, probe)
      ordered(df.filter(col("event_id").between(q1 + 1, q2))
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(bef.filesTotal.toLong).as("files_before"),
          lit(bef.files.size.toLong).as("files_read_before"),
          lit(aft.filesTotal.toLong).as("files_after"),
          lit(aft.files.size.toLong).as("files_read_after"),
          col("n_rows"), col("sum_value")))
    },
    "s_table_commit_retry" -> { (s, dir) =>
      // Optimistic multi-writer commit (added r9) — two concurrent
      // ingest jobs append disjoint halves of events to the SAME empty
      // table through appendWithRetry: both stage their data once,
      // race for each version, and the loser rebases (winner's
      // complete listing + its own staged files) and retries. Either
      // interleaving yields the identical final table — 2 versions,
      // 8 files, every row exactly once — so the key is
      // oracle-checkable despite the real race. StreamingSpec pins the
      // retry path deterministically via the beforeCommit test seam
      // (a forced mid-commit competitor) and that staged data is
      // written once even when the commit retries.
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_table_mw")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
      val halves = Seq(col("event_id") % 2 === 0, col("event_id") % 2 === 1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val futs = halves.map { h =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long =
              CommitLog.appendWithRetry(s, root.toString, ev.filter(h), nFiles = 4)
          })
        }
        futs.foreach(_.get())
      } finally pool.shutdown()
      val head = CommitLog.latestVersion(root.toString).get
      val rows = CommitLog.read(s, root.toString, head)
        .agg(count(lit(1)), dsum(col("value"))).collect()(0)
      ordered(Seq((head + 1, CommitLog.snapshotFiles(root.toString, head).size.toLong,
          rows.getLong(0), rows.getDouble(1)))
        .toDF("n_versions", "n_files", "n_rows", "sum_value"))
    },
    "q_table_merge" -> { (s, dir) =>
      // Copy-on-write MERGE through the log (added late r9) — Delta
      // MERGE INTO, completing the write trio (append/delete/merge)
      // and distinct from q_merge_upsert (which computes merge
      // SEMANTICS on dataframes; this key commits them ATOMICALLY
      // with CoW file accounting). Staging is predicate-aligned like
      // q_table_delete: v0 holds user_id%4<2 (2 files), v1 appends
      // the rest (2 more); updates REPLACE every user_id%4=1 row
      // (value+1000 — those keys live only in the v0-era files, so
      // exactly 2 files dirty, 2 carry byte-identical) and INSERT
      // id-shifted copies of the user_id%4=3 rows (match nothing).
      // One atomic commit publishes carried + rewritten + staged
      // update files; the counters and the post-merge aggregate are
      // pinned by construction → oracle-checkable. StreamingSpec pins
      // the mechanism (clean paths reused, pinned pre-merge reader,
      // changes() refusal across op="merge").
      val root = java.nio.file.Files.createTempDirectory("graft_table_mrg")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      val replaced = ev.filter(col("user_id") % 4 === 1)
        .withColumn("value", col("value") + lit(1000.0))
      val inserts = ev.filter(col("user_id") % 4 === 3)
        .withColumn("event_id", col("event_id") + lit(1000000000L))
      val updates = replaced.unionByName(inserts)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val (v, carried, rewritten) =
        CommitLog.merge(s, root.toString, updates, "event_id", nInsertFiles = 2)
      ordered(CommitLog.read(s, root.toString, v)
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(carried).as("n_files_carried"),
          lit(rewritten).as("n_files_rewritten"),
          col("n_rows"), col("sum_value")))
    },
    "q_table_add_column" -> { (s, dir) =>
      // Schema evolution through the log (added late r9) — the Delta
      // schema-in-the-log design, distinct from q_scan_schema_evolution
      // (which pays mergeSchema FOOTER reads: at 10^5 files that is
      // 10^5 metadata opens at plan time): v0 appends events without
      // the tier column, the evolved append commits a manifest whose
      // UNION schema adds value_tier, and the head read projects
      // nulls for it over the v0-era files from the LOG schema alone
      // — zero footer reads, the scan schema is pinned by metadata.
      // Output: per-tier counts + exact value sums, the null tier
      // being exactly the pre-evolution rows. StreamingSpec pins the
      // contracts: pinned readers keep their version's schema, a
      // retyped column fails at COMMIT time, and post-evolution
      // plain appends carry the evolved schema forward.
      val root = java.nio.file.Files.createTempDirectory("graft_table_evo")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      val evolved = ev.filter(col("event_id") % 2 === 1)
        .withColumn("value_tier",
          when(col("value") >= 50.0, "high").otherwise("low"))
      val head = CommitLog.appendEvolved(s, root.toString, evolved, nFiles = 2)
      ordered(CommitLog.read(s, root.toString, head)
        .groupBy(col("value_tier"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
    },
    "s_table_stream_read" -> { (s, dir) =>
      // Streaming READ from the commit log (added late r9) — the
      // read-side weld completing what s_table_stream_commit started:
      // a real DataSource-V2 MicroBatchStream
      // ([[graft.sources.TableStreamProvider]], format "graft-table")
      // whose offsets ARE the log's version numbers. Three appends
      // stage the table; one AvailableNow drain delivers each
      // version's added files as its own micro-batch (per-file input
      // partitions, log-metadata planning — never a directory
      // listing) and the union equals the head snapshot exactly, so
      // the key is oracle-checked like its write-side twin.
      // StreamingSpec pins the incremental contracts: a checkpointed
      // restart after a fourth append emits ONLY the delta,
      // compaction versions are skipped (data-neutral), and a delete
      // version fails the stream unless ignoreChanges accepts the
      // documented re-emission.
      val root = java.nio.file.Files.createTempDirectory("graft_tsr")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      (0 until 3).foreach(i => CommitLog.append(s, root.toString,
        ev.filter(col("event_id") % 3 === i), nFiles = 2))
      val out = java.nio.file.Files.createTempDirectory("graft_tsr_out").toString
      val ck = java.nio.file.Files.createTempDirectory("graft_tsr_ck").toString
      // fully-qualified provider class: resolution via Class.forName —
      // immune to a classpath missing the META-INF/services resource
      // (plain `sbt compile` does not copy resources; `format(
      // "graft-table")` also works whenever the resource is present)
      val q = s.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      ordered(s.read.parquet(out).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value")))
    },
    "s_table_stream_segmented" -> { (s, dir) =>
      // STREAMING A SEGMENTED TABLE (r18, VERDICT item 2 — the r17
      // hard refusal lifted): large-scale ingest lands in segments,
      // and the version-diff reader is structurally SIMPLER there —
      // each version appends exactly ONE immutable segment, so the
      // per-trigger admission unit IS the new segment (one manifest
      // parse + one segment read per version, never a listing).
      // Staging: 3 appendSegmentPartitioned versions (day layout, one
      // file per day per segment). Two streams drain AvailableNow
      // through the CATALOG name (readStream.table):
      //   - the full stream's union equals the head snapshot exactly
      //     (the oracle-checked equality);
      //   - a `partitionFilter.day=3` subscription is HONORED (the
      //     r18 pin): per-segment layout entries prune each admitted
      //     version to the day's file — 21 candidates, 3 planned —
      //     with the same advisory semantics as the flat source.
      // StreamingSpec pins the incremental contracts: a checkpointed
      // restart after a 4th segment emits ONLY that segment's rows,
      // and readChangeFeed on a segmented table refuses loudly.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_segs")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      (0 until 3).foreach(i => CommitLog.appendSegmentPartitioned(s, root,
        ev.filter(col("event_id") % 3 === i), Seq("day"),
        filesPerPartition = 1, statsCol = "event_id"))
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val out = java.nio.file.Files.createTempDirectory("graft_segs_out").toString
      val ck = java.nio.file.Files.createTempDirectory("graft_segs_ck").toString
      s.readStream.table(s"$cat.tbl")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
      graft.sources.GraftStreamPrune.reset(root)
      val out2 = java.nio.file.Files.createTempDirectory("graft_segs_out2").toString
      val ck2 = java.nio.file.Files.createTempDirectory("graft_segs_ck2").toString
      s.readStream.option("partitionFilter.day", "3").table(s"$cat.tbl")
        .writeStream.format("parquet")
        .option("path", out2).option("checkpointLocation", ck2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
      val (cand, planned) = graft.sources.GraftStreamPrune.totals(root)
      val day3 = s.read.parquet(out2)
        .agg(count(lit(1)).as("n_rows_day3")).collect()(0).getLong(0)
      ordered(s.read.parquet(out).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"))
        .withColumn("n_candidates", lit(cand))
        .withColumn("n_planned", lit(planned))
        .withColumn("n_rows_day3", lit(day3)))
    },
    "s_table_stream_pruned" -> { (s, dir) =>
      // STREAMING PARTITION SUBSCRIPTION (r15): reader option
      // `partitionFilter.day=3` restricts EVERY admitted version to
      // the files whose recorded layout matches — a CDC consumer
      // subscribed to one partition of a 100 TB fact table reads that
      // partition's delta per trigger, not the version's. Pruning is
      // plan-time log metadata (same intersection semantics as the
      // batch pushdown; unrecorded files stay — must-read), and the
      // cumulative (candidate, planned) accounting is the witness:
      // 2 appends x 7 day-partitions = 14 candidates, 2 planned.
      // StreamingSpec pins the checkpointed-restart delta and the
      // mixed-generation must-read.
      val root = java.nio.file.Files.createTempDirectory("graft_tsp")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 === 0), "day", filesPerPartition = 1)
      CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
      graft.sources.GraftStreamPrune.reset(root.toString)
      val out = java.nio.file.Files.createTempDirectory("graft_tsp_out").toString
      val ck = java.nio.file.Files.createTempDirectory("graft_tsp_ck").toString
      val q = s.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root.toString)
        .option("partitionFilter.day", "3")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val (cand, planned) = graft.sources.GraftStreamPrune.totals(root.toString)
      ordered(s.read.parquet(out)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"))
        .select(lit(cand).as("n_files_candidate"),
          lit(planned).as("n_files_planned"),
          col("n_rows"), col("n_users"), col("sum_value")))
    },
    "s_table_stream_cdf" -> { (s, dir) =>
      // Streaming CHANGE-DATA-FEED (added r10) — readChangeFeed=true
      // on the DSv2 source: the stream IS the changelog, each
      // micro-batch one version's row-level changes tagged
      // _change_type/_commit_version (appends replay added files
      // insert-tagged; delete/merge replay their recorded cdf/ files;
      // the Delta streaming-CDF surface). Same deterministic history
      // as q_table_cdf; one AvailableNow drain must deliver the
      // complete changelog — the aggregate hash-matches q_table_cdf's
      // oracle exactly.
      val root = java.nio.file.Files.createTempDirectory("graft_tscdf")
      root.toFile.deleteOnExit()
      CommitLog.setTableProperty(root.toString, "enableChangeDataFeed", "true")
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      CommitLog.delete(s, root.toString, col("user_id") % 4 === 1)
      val updates = ev.filter(col("user_id") % 4 === 2)
        .withColumn("value", col("value") + lit(1000.0))
        .unionByName(ev.filter(col("user_id") % 4 === 3)
          .withColumn("event_id", col("event_id") + lit(1000000000L)))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.merge(s, root.toString, updates, "event_id", nInsertFiles = 2)
      val out = java.nio.file.Files.createTempDirectory("graft_tscdf_out").toString
      val ck = java.nio.file.Files.createTempDirectory("graft_tscdf_ck").toString
      val q = s.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root.toString)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      ordered(s.read.parquet(out)
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
    },
    "s_table_stream_sql" -> { (s, dir) =>
      // Streaming read by TABLE NAME (added r10): `spark.readStream
      // .table("cat.tbl")` — the catalog table doubles as the
      // streaming source (MICRO_BATCH_READ on GraftCatalogTable,
      // delegating to the same TableMicroBatchStream the standalone
      // format runs), so batch SQL, streaming, and the maintenance
      // statements all address ONE table name; no path or format
      // string at the call site. Three appends stage the table; one
      // AvailableNow drain must union to the head snapshot exactly.
      val base = java.nio.file.Files.createTempDirectory("graft_tss")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      (0 until 3).foreach(i => CommitLog.append(s, root,
        ev.filter(col("event_id") % 3 === i), nFiles = 2))
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val out = java.nio.file.Files.createTempDirectory("graft_tss_out").toString
      val ck = java.nio.file.Files.createTempDirectory("graft_tss_ck").toString
      val q = s.readStream.table(s"$cat.tbl")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      ordered(s.read.parquet(out).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value")))
    },
    "q_table_restore" -> { (s, dir) =>
      // RESTORE (added late r9) — time travel upgraded from read-only
      // pinning to a writable ROLLBACK: v0 appends the even-user rows,
      // v1 appends the rest, a (mistaken) delete at v2 drops every
      // user_id%4=1 row — and restore(v1) commits a NEW head whose
      // manifest re-lists v1's files verbatim. Zero data I/O (one
      // manifest read, one commit); history stays append-only — the
      // bad v2 remains readable for audit. The report pins the
      // lifecycle: head version (3 = restore is a NEW commit, never a
      // history rewrite), restored row count == pre-delete count, and
      // the deleted subset is back in full. StreamingSpec pins the
      // mechanism: restored file list is v1's verbatim (byte-identical
      // carry), v2 still readable, changes() refuses across the
      // restore.
      val root = java.nio.file.Files.createTempDirectory("graft_table_rst")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      val v1 = CommitLog.append(s, root.toString,
        ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      CommitLog.delete(s, root.toString, col("user_id") % 4 === 1)
      val head = CommitLog.restore(root.toString, v1)
      ordered(CommitLog.read(s, root.toString, head)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("user_id") % 4 === 1, 1L).otherwise(0L)).as("n_restored_subset"),
          dsum(col("value")).as("sum_value"))
        .select(lit(head).as("head_version"), col("n_rows"),
          col("n_restored_subset"), col("sum_value")))
    },
    "q_table_partition_prune" -> { (s, dir) =>
      // PARTITIONED tables through the commit log (added r10, VERDICT
      // r9 item 2 — "the first thing a real user builds"): each data
      // file's partition value lives in the MANIFEST (Delta's
      // partitionValues design), so a partition-scoped read is a pure
      // log-metadata decision — no directory listing, no Hive path
      // convention, and the column stays IN the files so every other
      // reader (time travel, CoW, the streaming source) works
      // unchanged. Two partitioned appends (event_id halves × 5
      // event_type partitions × 2 files) stage 20 files with carried
      // entries; the two-partition probe reads exactly its 8 files.
      // Distinct from q_scan_partition_prune (Hive directory layout,
      // Catalyst PartitionFilters): HERE planning never lists a
      // directory — PlanSpec pins df.inputFiles == the 8 manifest
      // survivors. All counters pinned by construction →
      // oracle-checkable.
      val root = java.nio.file.Files.createTempDirectory("graft_table_pp")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 2)
      val head = CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 === 1), "event_type", filesPerPartition = 2)
      val (df, p) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Seq("event_type" -> Set("click", "purchase")), Nil))
      ordered(df.filter(col("event_type").isin("click", "purchase"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(p.filesTotal.toLong).as("n_files_total"),
          lit(p.files.size.toLong).as("n_files_read"),
          col("n_rows"), col("sum_value")))
    },
    "q_table_partition_evolve" -> { (s, dir) =>
      // PARTITION SPEC EVOLUTION (r13, VERDICT item 6 — Iceberg's
      // design): the layout changes for FUTURE appends while old
      // files keep THEIR recorded layout; each file prunes under its
      // own generation's column, and a file from the OTHER generation
      // is simply unprunable for that query (pruning may only widen,
      // never drop a row). Zero data I/O at evolution time. Gen-1:
      // even event_ids under event_type (5 values × 1 file); the
      // repartitionLayout property gates the evolution (a different
      // partition column WITHOUT it still refuses — one active spec);
      // gen-2: odd event_ids under day = event_id % 7 (7 values × 1
      // file). The event_type probe reads its 1 gen-1 file + all 7
      // gen-2 files; the day probe reads its 1 gen-2 file + all 5
      // gen-1 files — both counters pinned by construction, both
      // reads exact after the precise predicate.
      val root = java.nio.file.Files.createTempDirectory("graft_table_pe")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
      CommitLog.setTableProperty(root.toString, "repartitionLayout", "day")
      val head = CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
      val (dfT, pT) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Seq("event_type" -> Set("click")), Nil))
      val (dfD, pD) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Seq("day" -> Set("3")), Nil))
      ordered(dfT.filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n_click"), dsum(col("value")).as("sum_click"))
        // 1-row × 1-row: a broadcast scalar pairing, not a data join
        .crossJoin(dfD.filter(col("day") === "3")
          .agg(count(lit(1)).as("n_day3"), dsum(col("value")).as("sum_day3")))
        .select(lit(pT.filesTotal.toLong).as("n_files_total"),
          lit(pT.files.size.toLong).as("files_read_type"),
          lit(pD.files.size.toLong).as("files_read_day"),
          col("n_click"), col("sum_click"), col("n_day3"), col("sum_day3")))
    },
    "q_table_partition_evolve_multi" -> { (s, dir) =>
      // MULTI-COLUMN partition specs (r14, VERDICT item 2 — Iceberg
      // specs are multi-field): per-file layouts carry an ORDERED
      // (column, value) pair list, and a probe INTERSECTS each
      // file's own columns — a composite-spec file prunes on every
      // probed column it carries, a single-column file prunes on its
      // one, and an unrecorded column can never prune (widen-only).
      // Gen-1: even event_ids under (event_type) — 5 values × 1 file;
      // the evolution to "day,bucket" gates on repartitionLayout
      // naming the comma-joined NEW spec; gen-2: odd event_ids under
      // (day = id%7, bucket = user%2) — 14 tuples × 1 file. The
      // composite probe (day=3, bucket=0) reads 1 gen-2 file + the 5
      // unprunable gen-1 files; the day-only probe reads day-3's TWO
      // gen-2 files (bucket unprobed — intersection, not equality) +
      // 5; the event_type probe reads 1 gen-1 + all 14 gen-2. All
      // three counters pinned by construction; every read exact
      // after the precise predicate.
      val root = java.nio.file.Files.createTempDirectory("graft_table_pem")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
        .withColumn("bucket", (col("user_id") % 2).cast("string"))
      CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
      CommitLog.setTableProperty(root.toString, "repartitionLayout", "day,bucket")
      val head = CommitLog.appendPartitionedCols(s, root.toString,
        ev.filter(col("event_id") % 2 === 1), Seq("day", "bucket"),
        filesPerPartition = 1)
      val (dfM, pM) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Seq("day" -> Set("3"), "bucket" -> Set("0")), Nil))
      val (dfD, pD) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Seq("day" -> Set("3")), Nil))
      val (dfT, pT) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Seq("event_type" -> Set("click")), Nil))
      ordered(dfM.filter(col("day") === "3" && col("bucket") === "0")
        .agg(count(lit(1)).as("n_d3b0"), dsum(col("value")).as("sum_d3b0"))
        // 1-row × 1-row: broadcast scalar pairings, not data joins
        .crossJoin(dfD.filter(col("day") === "3")
          .agg(count(lit(1)).as("n_day3")))
        .crossJoin(dfT.filter(col("event_type") === "click")
          .agg(count(lit(1)).as("n_click")))
        .select(lit(pM.filesTotal.toLong).as("n_files_total"),
          lit(pM.files.size.toLong).as("files_read_multi"),
          lit(pD.files.size.toLong).as("files_read_day"),
          lit(pT.files.size.toLong).as("files_read_type"),
          col("n_d3b0"), col("sum_d3b0"), col("n_day3"), col("n_click")))
    },
    "q_table_stats_prune_ts" -> { (s, dir) =>
      // Typed multi-column manifest statistics (added r10, VERDICT r9
      // item 5 — "most real predicates are on TIME"): per-file
      // min/max/nullCount for timestamp, string and long columns at
      // once (timestamps as epoch micros, exact integers). Four
      // TS-WEEK-aligned appends (2 files each) stage 8 files; the
      // week-2 probe prunes to its 2 files from the log alone. The
      // report also replays the manifest's NULL COUNTS: maybe_type is
      // NULL exactly where value < 50, so the summed per-file nulls
      // must equal the oracle's row count — null metadata is
      // oracle-checked, not just present. Fixed calendar cutoffs
      // (events spans Jan 2024) keep the staging deterministic.
      val root = java.nio.file.Files.createTempDirectory("graft_table_ts")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .withColumn("maybe_type",
          when(col("value") >= 50.0, col("event_type")))
      val wk = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(d => java.sql.Timestamp.valueOf(d + " 00:00:00"))
      val statCols = Seq("ts", "event_type", "maybe_type", "event_id")
      CommitLog.appendWithColumnStats(s, root.toString,
        ev.filter(col("ts") < wk(0)), 2, statCols)
      CommitLog.appendWithColumnStats(s, root.toString,
        ev.filter(col("ts") >= wk(0) && col("ts") < wk(1)), 2, statCols)
      CommitLog.appendWithColumnStats(s, root.toString,
        ev.filter(col("ts") >= wk(1) && col("ts") < wk(2)), 2, statCols)
      val head = CommitLog.appendWithColumnStats(s, root.toString,
        ev.filter(col("ts") >= wk(2)), 2, statCols)
      def micros(t: java.sql.Timestamp): Long =
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      val (df, p) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Nil, Seq(RangeProbe("ts", Some(micros(wk(0))), Some(micros(wk(1)) - 1L)))))
      // null counts come from the LOG, not a scan — summed across files
      val aux = CommitLog.auxOf(root.toString, head)
      val nNulls = aux.stats2.values.map(_("maybe_type").nulls.get).sum
      ordered(df.filter(col("ts") >= wk(0) && col("ts") < wk(1))
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(p.filesTotal.toLong).as("n_files_total"),
          lit(p.files.size.toLong).as("n_files_read"),
          lit(nNulls).as("n_nulls_logged"),
          col("n_rows"), col("sum_value")))
    },
    "q_table_optimize_zorder" -> { (s, dir) =>
      // Multi-dimensional cluster OPTIMIZE (added r10, VERDICT r9
      // item 4) — Delta OPTIMIZE ZORDER BY: the single-key optimize
      // (q_table_optimize) bounds ONE column per file; here the
      // rewrite tiles the (event_id × user_id) plane — 4 event_id
      // quartiles × 2 user_id halves, cells enumerated in z-curve
      // order (the q_layout_zorder interleave over cell indices) —
      // and records typed per-file stats on BOTH dims, so a
      // conjunctive probe prunes on both at once: before (two
      // hash-scattered appends, every file spans both domains) the
      // 2-D probe reads 8 of 8; after, exactly its 1 tile of 8.
      // Cutoffs are explicit integers from two MAX scalars
      // (metadata-grade, never a sampled RangePartitioner) → all
      // counters pinned → oracle-checkable.
      val root = java.nio.file.Files.createTempDirectory("graft_table_zo")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val mr = ev.agg(max(col("event_id")), max(col("user_id"))).collect()(0)
      val (m, u) = (mr.getLong(0), mr.getLong(1))
      val (q1, q2, q3, uh) = (m / 4, m / 2, 3 * m / 4, u / 2)
      CommitLog.appendWithColumnStats(s, root.toString,
        ev.filter(col("user_id") % 2 === 0), 4, Seq("event_id", "user_id"))
      val v1 = CommitLog.appendWithColumnStats(s, root.toString,
        ev.filter(col("user_id") % 2 === 1), 4, Seq("event_id", "user_id"))
      val probes = ProbeTree(Nil, Seq(RangeProbe("event_id", Some(q1 + 1), Some(q2)),
        RangeProbe("user_id", Some(uh + 1), Some(u))))
      val bef = CommitLog.prune(root.toString, v1, probes)
      val v2 = CommitLog.optimizeClustered(s, root.toString,
        dims = Seq("event_id" -> Seq(q1, q2, q3), "user_id" -> Seq(uh)),
        filesPerCell = 1)
      val (df, aft) = CommitLog.prunedScan(s, root.toString, v2, probes)
      ordered(df.filter(col("event_id").between(q1 + 1, q2) &&
          col("user_id").between(uh + 1, u))
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(bef.filesTotal.toLong).as("files_before"),
          lit(bef.files.size.toLong).as("files_read_before"),
          lit(aft.filesTotal.toLong).as("files_after"),
          lit(aft.files.size.toLong).as("files_read_after"),
          col("n_rows"), col("sum_value")))
    },
    "q_table_cdf" -> { (s, dir) =>
      // Row-level change-data-feed (added r10, VERDICT r9 item 3) —
      // changes() upgraded from refusal to EMISSION across
      // data-changing commits, the Delta table_changes() surface: a
      // downstream incremental consumer replays every insert, delete
      // and update pre/post image with its commit version. The
      // history: two appends (user_id%4 halves), a delete
      // (user_id%4=1 — the GDPR shape), then a merge that REPLACES
      // every user_id%4=2 row (value+1000) and INSERTS id-shifted
      // clones of the %4=3 rows. Appends replay from their added
      // files (zero extra storage); delete/merge replay from the cdf/
      // files their CoW pass recorded at commit time (cost ∝ changed
      // rows). The whole changelog is pure predicates over events →
      // oracle-checkable. StreamingSpec pins the mechanism (CDF ≡
      // snapshot diff per version, pre-CDF refusal preserved, vacuum
      // reclaims cdf files).
      val root = java.nio.file.Files.createTempDirectory("graft_table_cdf")
      root.toFile.deleteOnExit()
      // CDF is opt-in per table (default OFF — the Delta contract);
      // this is the table with a changelog consumer, so turn it on
      CommitLog.setTableProperty(root.toString, "enableChangeDataFeed", "true")
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      CommitLog.append(s, root.toString, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      CommitLog.delete(s, root.toString, col("user_id") % 4 === 1)
      val replaced = ev.filter(col("user_id") % 4 === 2)
        .withColumn("value", col("value") + lit(1000.0))
      val inserts = ev.filter(col("user_id") % 4 === 3)
        .withColumn("event_id", col("event_id") + lit(1000000000L))
      val updates = replaced.unionByName(inserts)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val (head, _, _) =
        CommitLog.merge(s, root.toString, updates, "event_id", nInsertFiles = 2)
      ordered(CommitLog.changesRows(s, root.toString, -1L, head)
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
    },
    "q_sql_table_time_travel" -> { (s, dir) =>
      // SQL front-end #1 (added r10, VERDICT r9 "missing" #4): the
      // commit log behind a DataSource-V2 TableCatalog
      // (graft.sources.GraftCatalog), so Spark's OWN `VERSION AS OF`
      // syntax time-travels the table — no bespoke API at the query
      // site. The pinned scan plans from version 0's manifest
      // (explicit file list, one input partition per file, column
      // pruning pushed into the shared per-file reader) even though
      // the live table has been appended to since. A fresh catalog
      // name per invocation keeps Spark's catalog-instance cache
      // from pinning a stale base dir across re-runs.
      val base = java.nio.file.Files.createTempDirectory("graft_cat")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      CommitLog.append(s, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      ordered(s.sql(s"SELECT event_type, user_id, value FROM $cat.tbl VERSION AS OF 0")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value")))
    },
    "q_sql_table_insert" -> { (s, dir) =>
      // SQL front-end #2 (added r10): CREATE TABLE publishes an empty
      // version-0 manifest carrying the schema (the log is the schema
      // authority from the first commit), and INSERT INTO appends
      // THROUGH the log via the V1 write fallback — each statement
      // one atomic snapshot commit, rows invisible until the manifest
      // publishes. Two inserts land the events halves; the final
      // SELECT reads the head snapshot back through the same catalog
      // scan. The spec pins the log mechanics (3 versions, schema
      // rejection on a retyped insert).
      val base = java.nio.file.Files.createTempDirectory("graft_cat_ins")
      base.toFile.deleteOnExit()
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      Tables(s, dir, "events").createOrReplaceTempView("graft_sql_ins_src")
      s.sql(s"CREATE TABLE $cat.ing (event_id BIGINT, event_type STRING, value DOUBLE)")
      s.sql(s"""INSERT INTO $cat.ing
        |SELECT event_id, event_type, value FROM graft_sql_ins_src
        |WHERE event_id % 2 = 0""".stripMargin)
      s.sql(s"""INSERT INTO $cat.ing
        |SELECT event_id, event_type, value FROM graft_sql_ins_src
        |WHERE event_id % 2 <> 0""".stripMargin)
      ordered(s.sql(s"SELECT event_type, value FROM $cat.ing")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
    },
    "q_sql_table_restore" -> { (s, dir) =>
      // SQL front-end #3 (added r10): the maintenance statement ANSI
      // SQL has no words for, injected via the parser extension
      // (graft.plans.GraftSqlParser — the Delta DeltaSqlParser
      // pattern, registered once in spark.sql.extensions): after a
      // mistaken delete, `RESTORE TABLE t TO VERSION AS OF 1` rolls
      // the table back as ONE SQL statement returning the new head,
      // and the follow-up SELECT sees every deleted row again. The
      // statement routes to the same CommitLog.restore the Scala API
      // exposes — one surface, two front doors.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_rst")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      CommitLog.delete(s, root, col("user_id") % 4 === 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val head = s.sql(s"RESTORE TABLE $cat.tbl TO VERSION AS OF 1")
        .collect()(0).getLong(0)
      ordered(s.sql(s"SELECT user_id, value FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("user_id") % 4 === 1, 1L).otherwise(0L)).as("n_restored_subset"),
          dsum(col("value")).as("sum_value"))
        .select(lit(head).as("head_version"), col("n_rows"),
          col("n_restored_subset"), col("sum_value")))
    },
    "q_sql_table_maintenance" -> { (s, dir) =>
      // SQL front-end #4 (added r10): OPTIMIZE ... ZORDER BY and
      // VACUUM ... RETAIN n VERSIONS as statements. OPTIMIZE derives
      // its grid from one per-column MIN/MAX scalar (4 integer ranges
      // per dimension → 16 one-file cells for two columns, stats
      // recorded on both dims); VACUUM RETAIN 1 then reclaims exactly
      // the 8 pre-optimize files while the head's 16 stay readable
      // with every row intact. All counters pinned by uniform-id
      // staging → oracle-checkable.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mnt")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("user_id") % 2 === 0), nFiles = 4)
      CommitLog.append(s, root, ev.filter(col("user_id") % 2 === 1), nFiles = 4)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val opt = s.sql(s"OPTIMIZE $cat.tbl ZORDER BY (event_id, user_id)")
        .collect()(0)
      val vac = s.sql(s"VACUUM $cat.tbl RETAIN 1 VERSIONS").collect()(0)
      ordered(s.sql(s"SELECT value FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(opt.getLong(1)).as("opt_files"),
          lit(vac.getLong(0)).as("files_removed"),
          lit(vac.getLong(1)).as("files_kept"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_dml" -> { (s, dir) =>
      // SQL front-end #5 (added r10): DELETE FROM and MERGE INTO as
      // statements — Spark PARSES both natively but cannot EXECUTE
      // them against a plain V2 table (they need the row-level
      // operation API), so the graft forms intercept in the parser
      // extension (gated on the identifier naming a registered graft
      // catalog; everything else delegates verbatim) and route to the
      // same CoW delete/merge the Scala API exposes. The history is
      // q_table_cdf's: delete the user_id%4=1 rows (the GDPR shape),
      // then a canonical upsert (UPDATE SET * / INSERT *) that
      // replaces every %4=2 row (value+1000) and inserts id-shifted
      // clones of the %4=3 rows — the final state is pure predicates
      // over events, fully oracle-checkable.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_dml")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"DELETE FROM $cat.tbl WHERE user_id % 4 = 1")
      val updates = ev.filter(col("user_id") % 4 === 2)
        .withColumn("value", col("value") + lit(1000.0))
        .unionByName(ev.filter(col("user_id") % 4 === 3)
          .withColumn("event_id", col("event_id") + lit(1000000000L)))
      val view = "graft_dml_src_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      updates.createOrReplaceTempView(view)
      val head = s.sql(
        s"""MERGE INTO $cat.tbl t USING $view s ON t.event_id = s.event_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .collect()(0).getLong(0)
      ordered(s.sql(s"SELECT event_id, value FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_id") >= 1000000000L, 1L).otherwise(0L))
            .as("n_inserted_clones"),
          dsum(col("value")).as("sum_value"))
        .select(lit(head).as("head_version"), col("n_rows"),
          col("n_inserted_clones"), col("sum_value")))
    },
    "q_sql_table_update" -> { (s, dir) =>
      // SQL front-end (added r10): UPDATE ... SET ... WHERE as a
      // statement — the third row-level DML next to q_sql_table_dml's
      // DELETE FROM / MERGE INTO, intercepted by the parser extension
      // (gated on a registered graft catalog; every other UPDATE
      // delegates verbatim) and routed to CommitLog.update's CoW
      // write. The SET list deliberately exercises the top-level
      // comma splitter: a function call carrying a comma INSIDE an
      // assignment (greatest(value, 50.0)) plus a second string
      // assignment. Predicate-aligned staging as in q_table_update:
      // the %4=2 predicate dirties exactly the two v1-era files.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_upd")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val r = s.sql(
        s"""UPDATE $cat.tbl SET value = greatest(value, 50.0),
          |event_type = 'floored' WHERE user_id % 4 = 2""".stripMargin)
        .collect()(0)
      ordered(s.sql(s"SELECT event_type, value FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_type") === "floored", 1L).otherwise(0L))
            .as("n_floored"),
          dsum(col("value")).as("sum_value"))
        .select(lit(r.getLong(0)).as("head_version"),
          lit(r.getLong(1)).as("files_carried"),
          lit(r.getLong(2)).as("files_rewritten"),
          col("n_rows"), col("n_floored"), col("sum_value")))
    },
    "q_sql_table_rename_drop" -> { (s, dir) =>
      // SQL front-end (added r10): ALTER TABLE RENAME COLUMN / DROP
      // COLUMN — Spark's OWN ALTER statements routed through the V2
      // catalog's alterTable (TableChange.RenameColumn/DeleteColumn)
      // into the commit log's metadata-only column-mapping commits.
      // The key drives the full SQL arc: rename, INSERT INTO under
      // the NEW name (physical files stay byte-compatible), drop,
      // then aggregates the head through the mapped DSv2 scan AND
      // re-reads version 0 under the ORIGINAL name — schemas are
      // versioned, so both eras replay against the oracle at once.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_map")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("user_id") % 2 === 0), nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"ALTER TABLE $cat.tbl RENAME COLUMN value TO amount")
      // a post-rename writer speaks the new name; the files it stages
      // store the immutable physical one
      val odd = ev.filter(col("user_id") % 2 =!= 0)
        .withColumnRenamed("value", "amount")
      val view = "graft_map_src_" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      odd.createOrReplaceTempView(view)
      s.sql(s"INSERT INTO $cat.tbl SELECT * FROM $view")
      s.sql(s"ALTER TABLE $cat.tbl DROP COLUMN event_type")
      val nCols = s.sql(s"SELECT * FROM $cat.tbl").columns.length.toLong
      val v0 = s.sql(
        s"SELECT CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s, COUNT(*) AS n " +
          s"FROM $cat.tbl VERSION AS OF 0").collect()(0)
      ordered(s.sql(s"SELECT amount FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"), dsum(col("amount")).as("sum_amount"))
        .select(lit(nCols).as("n_cols_head"), col("n_rows"), col("sum_amount"),
          lit(v0.getLong(1)).as("n_rows_v0"),
          lit(v0.getDouble(0)).as("sum_value_v0")))
    },
    "q_sql_table_vacuum_hours" -> { (s, dir) =>
      // SQL front-end #13 (added r10): VACUUM ... RETAIN n HOURS —
      // time-based retention, the public formats' ACTUAL contract
      // (Delta's default is 7 days; version counts are the internal
      // mechanism). The floor resolves from the manifests' commit
      // timestamps: RETAIN 0 HOURS keeps only versions committed
      // "now or later" — deterministically just the head — so the
      // two appends' four pre-compaction files reclaim and exactly
      // the compacted file survives. DESCRIBE HISTORY after proves
      // the manifests are gone too (1 row), and the head snapshot
      // reads back complete — vacuum never touches live data.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_vh")
      base.toFile.deleteOnExit()
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val root = new java.io.File(base.toFile, "vh").toString
      CommitLog.append(s, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      CommitLog.append(s, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.compact(s, root, nFiles = 1)
      val r = s.sql(s"VACUUM $cat.vh RETAIN 0 HOURS").collect()(0)
      val nHist = s.sql(s"DESCRIBE HISTORY $cat.vh").count()
      ordered(s.sql(s"SELECT event_id, value FROM $cat.vh")
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(r.getLong(0)).as("retain_from"),
          lit(r.getLong(1)).as("files_removed"),
          lit(r.getLong(2)).as("files_kept"),
          lit(nHist).as("n_history_rows"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_optimize_where" -> { (s, dir) =>
      // SQL front-end #12 (added r10): OPTIMIZE ... WHERE — the
      // partition-scoped compaction (Delta's statement). Three
      // partitioned appends leave every partition with 3 small files;
      // compacting ONLY 'click' rewrites its 3 files into 1 and
      // carries every other file verbatim — the daily
      // compact-yesterday's-partition pattern. Prune counters prove
      // both halves from the log alone: the click probe reads 1 file
      // after, the error probe still reads its 3 untouched ones; the
      // data is byte-identical (data-neutral op), pinned by
      // n_rows/sum_value over the post-optimize head.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_ow")
      base.toFile.deleteOnExit()
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val root = new java.io.File(base.toFile, "ow").toString
      (0 to 2).foreach(k => CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") % 3 === k), "event_type", filesPerPartition = 1))
      val before = CommitLog.snapshotFiles(root, 2L).size.toLong
      val r = s.sql(s"OPTIMIZE $cat.ow WHERE event_type = 'click'").collect()(0)
      val head = r.getLong(0)
      val after = CommitLog.snapshotFiles(root, head).size.toLong
      def filesRead(v: String): Int =
        CommitLog.prune(root, head, ProbeTree(Seq("event_type" -> Set(v)), Nil)).files.size
      val (readClick, readError) = (filesRead("click"), filesRead("error"))
      ordered(s.sql(s"SELECT event_type, value FROM $cat.ow")
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(head).as("head_version"),
          lit(before).as("files_before"), lit(after).as("files_after"),
          lit(r.getLong(1)).as("files_selected"),
          lit(r.getLong(2)).as("files_staged"),
          lit(readClick.toLong).as("files_read_click"),
          lit(readError.toLong).as("files_read_error"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_clone" -> { (s, dir) =>
      // SQL front-end #11 (added r10): SHALLOW CLONE — the zero-copy
      // table fork (Delta's CREATE TABLE ... SHALLOW CLONE). The
      // clone's v0 REFERENCES the source snapshot's files (../-relative
      // manifest entries — pinned by n_local_before=0: not one data
      // file exists under the clone root until it diverges); carried
      // partition values make a partition probe prune 1-of-N on the
      // fresh clone; a CoW DELETE on the clone rewrites ONLY the dirty
      // file into the clone's own data/ dir (n_local_after=1) and the
      // source never observes it, while a post-clone append to the
      // SOURCE is invisible to the clone — isolation pinned in both
      // directions by the row counts.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_clone")
      base.toFile.deleteOnExit()
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val srcRoot = new java.io.File(base.toFile, "src").toString
      CommitLog.appendPartitioned(s, srcRoot, ev, "event_type", filesPerPartition = 1)
      s.sql(s"CREATE TABLE $cat.cl SHALLOW CLONE $cat.src")
      val cloneRoot = new java.io.File(base.toFile, "cl").toString
      def localFiles(): Long =
        Option(new java.io.File(cloneRoot, "data").listFiles())
          .map(_.count(_.getName.endsWith(".parquet")).toLong).getOrElse(0L)
      val nRef = CommitLog.snapshotFiles(cloneRoot, 0L).size.toLong
      val localBefore = localFiles()
      // partition values carried: the 'error' probe prunes 1-of-N
      val (pdf, p) = CommitLog.prunedScan(s, cloneRoot, 0L,
        ProbeTree(Seq("event_type" -> Set("error")), Nil))
      val errAgg = pdf.filter(col("event_type") === "error")
        .agg(count(lit(1)).as("n_err_rows"))
      // diverge the CLONE: CoW delete rewrites only the dirty file
      val del = s.sql(s"DELETE FROM $cat.cl " +
        "WHERE event_type = 'click' AND event_id % 2 = 0").collect()(0)
      val localAfter = localFiles()
      // diverge the SOURCE: the clone must not see this append
      CommitLog.appendPartitioned(s, srcRoot,
        ev.filter(col("event_id") % 7 === 0), "event_type", filesPerPartition = 1)
      val cloneAgg = s.sql(s"SELECT event_type, value FROM $cat.cl")
        .agg(count(lit(1)).as("clone_n_rows"), dsum(col("value")).as("clone_sum_value"))
      val srcAgg = s.sql(s"SELECT event_id FROM $cat.src")
        .agg(count(lit(1)).as("src_n_rows"))
      ordered(cloneAgg.crossJoin(srcAgg).crossJoin(errAgg)
        .select(lit(del.getLong(0)).as("head_clone"),
          lit(CommitLog.latestVersion(srcRoot).get).as("head_src"),
          lit(nRef).as("n_files_referenced"),
          lit(p.filesTotal.toLong).as("n_files_total"),
          lit(p.files.size.toLong).as("n_files_read"),
          lit(del.getLong(1)).as("files_carried"),
          lit(del.getLong(2)).as("files_rewritten"),
          lit(localBefore).as("n_local_before"),
          lit(localAfter).as("n_local_after"),
          col("n_err_rows"), col("clone_n_rows"), col("clone_sum_value"),
          col("src_n_rows")))
    },
    "q_sql_table_ctas" -> { (s, dir) =>
      // SQL front-end #10 (added r10): CREATE TABLE AS SELECT — the
      // statement every SQL-first user reaches for before INSERT.
      // Spark's non-atomic CTAS over a plain TableCatalog is
      // createTable (v0 manifest carrying the QUERY's schema) + one
      // insert commit (v1); PARTITIONED BY routes the insert through
      // appendPartitioned, so the CTAS result's manifest carries
      // per-file partition values and a partition probe prunes from
      // log metadata alone — pinned here by the files_total/files_read
      // counters (one file per partition value, one read for 'click').
      val base = java.nio.file.Files.createTempDirectory("graft_cat_ctas")
      base.toFile.deleteOnExit()
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      Tables(s, dir, "events").createOrReplaceTempView("graft_sql_ctas_src")
      s.sql(s"""CREATE TABLE $cat.ct PARTITIONED BY (event_type) AS
        |SELECT event_id, event_type, value FROM graft_sql_ctas_src
        |WHERE event_id % 3 = 0""".stripMargin)
      val root = new java.io.File(base.toFile, "ct").toString
      val head = CommitLog.latestVersion(root).get
      val (pdf, p) = CommitLog.prunedScan(s, root, head,
        ProbeTree(Seq("event_type" -> Set("click")), Nil))
      val full = s.sql(s"SELECT event_type, value FROM $cat.ct")
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
      val click = pdf.filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n_click"), dsum(col("value")).as("sum_click"))
      ordered(full.crossJoin(click)
        .select(lit(head).as("head_version"),
          lit(p.filesTotal.toLong).as("n_files_total"),
          lit(p.files.size.toLong).as("n_files_read"),
          col("n_rows"), col("sum_value"), col("n_click"), col("sum_click")))
    },
    "q_sql_table_constraints" -> { (s, dir) =>
      // SQL front-end #9 (added r10): CHECK constraints — Delta's
      // TBLPROPERTIES surface (`constraint.<name>` = a boolean SQL
      // expression), enforced on EVERY row-adding write path before
      // anything stages: a violating INSERT fails atomically (no
      // version published, no files staged), a NULL check PASSES
      // (SQL-standard three-valued semantics), and clean inserts are
      // untouched. The rejected statement's atomicity is pinned by
      // the head version in the result.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_ck")
      base.toFile.deleteOnExit()
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      Tables(s, dir, "events").createOrReplaceTempView("graft_sql_ck_src")
      s.sql(s"CREATE TABLE $cat.ck (event_id BIGINT, value DOUBLE)")
      s.sql(s"ALTER TABLE $cat.ck SET TBLPROPERTIES " +
        "('constraint.id_nonneg' = 'event_id >= 0')")
      s.sql(s"INSERT INTO $cat.ck SELECT event_id, value FROM graft_sql_ck_src")
      // a violating insert fails the WRITE and publishes nothing
      val rejected =
        try {
          s.sql(s"""INSERT INTO $cat.ck
            |SELECT -event_id - 1 AS event_id, value
            |FROM graft_sql_ck_src""".stripMargin)
          0L
        } catch {
          case e: Exception
            if String.valueOf(e.getMessage).contains("id_nonneg") ||
              Option(e.getCause).exists(c =>
                String.valueOf(c.getMessage).contains("id_nonneg")) => 1L
        }
      // NULL checks pass (three-valued CHECK semantics)
      s.sql(s"INSERT INTO $cat.ck VALUES (CAST(NULL AS BIGINT), 0.5)")
      val head = CommitLog.latestVersion(
        new java.io.File(base.toFile, "ck").toString).get
      ordered(s.sql(s"SELECT event_id, value FROM $cat.ck")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("n_null_ids"),
          sum(when(col("event_id") < 0, 1L).otherwise(0L)).as("n_negative"),
          dsum(col("value")).as("sum_value"))
        .select(lit(head).as("head_version"), lit(rejected).as("rejected"),
          col("n_rows"), col("n_null_ids"), col("n_negative"), col("sum_value")))
    },
    "q_sql_table_history" -> { (s, dir) =>
      // SQL front-end #8 (added r10): DESCRIBE HISTORY — the audit
      // surface every public table format ships, one row per RETAINED
      // version (version, operation, n_files), pure log metadata.
      // History staged: two appends (2 then +2 files), a compaction
      // to 1 file, a restore to v1 (re-lists its 4) — every count
      // pinned by explicit nFiles, fully oracle-checkable.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_hist")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      CommitLog.append(s, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
      CommitLog.compact(s, root, nFiles = 1)
      CommitLog.restore(root, 1L)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      ordered(s.sql(s"DESCRIBE HISTORY $cat.tbl")
        .select(col("version"), col("operation"), col("n_files")))
    },
    "q_sql_table_evolve" -> { (s, dir) =>
      // SQL front-end #7 (added r10): the table-lifecycle statements
      // that CHANGE a table's shape — INSERT OVERWRITE (one
      // op="overwrite" snapshot commit; changes()/streaming treat it
      // as the data-changing rewrite it is) and ALTER TABLE ADD
      // COLUMNS (a metadata-only evolveSchema commit: zero data I/O,
      // pre-evolution rows null-fill the new column). History: create,
      // insert the %3=0 rows, OVERWRITE with the %3<>0 rows, add a
      // grade column, insert the %3=0 rows again WITH grades — five
      // versions, final state pure predicates over events.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_evo")
      base.toFile.deleteOnExit()
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      Tables(s, dir, "events").createOrReplaceTempView("graft_sql_evo_src")
      s.sql(s"CREATE TABLE $cat.evo (event_id BIGINT, event_type STRING, value DOUBLE)")
      s.sql(s"""INSERT INTO $cat.evo
        |SELECT event_id, event_type, value FROM graft_sql_evo_src
        |WHERE event_id % 3 = 0""".stripMargin)
      s.sql(s"""INSERT OVERWRITE $cat.evo
        |SELECT event_id, event_type, value FROM graft_sql_evo_src
        |WHERE event_id % 3 <> 0""".stripMargin)
      s.sql(s"ALTER TABLE $cat.evo ADD COLUMNS (grade BIGINT)")
      s.sql(s"""INSERT INTO $cat.evo
        |SELECT event_id, event_type, value, event_id % 5 AS grade
        |FROM graft_sql_evo_src WHERE event_id % 3 = 0""".stripMargin)
      val head = CommitLog.latestVersion(
        new java.io.File(base.toFile, "evo").toString).get
      ordered(s.sql(s"SELECT event_id, value, grade FROM $cat.evo")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("grade").isNull, 1L).otherwise(0L)).as("n_null_grade"),
          sum(col("grade")).as("sum_grade"),
          dsum(col("value")).as("sum_value"))
        .select(lit(head).as("head_version"), col("n_rows"),
          col("n_null_grade"), col("sum_grade"), col("sum_value")))
    },
    "q_sql_table_cdf" -> { (s, dir) =>
      // SQL front-end #6 (added r10): the change-data-feed as a
      // TABLE-VALUED FUNCTION — `SELECT ... FROM table_changes(
      // 'cat.tbl', from, to)`, Delta's CDF query surface, registered
      // via SparkSessionExtensions.injectTableFunction: resolution
      // maps the literal args onto CommitLog.changesRows' plan
      // (manifest reads only; data stays lazy). Same history as
      // q_table_cdf — appends, GDPR delete, replace+insert merge on a
      // CDF-enabled table — replayed entirely through SQL.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_cdf")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val cat0 = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat0", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat0.base", base.toString)
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
      // the CDF opt-in set entirely through SQL (ALTER TABLE ... SET
      // TBLPROPERTIES → the log's properties file) before the first
      // data-changing commit
      s.sql(s"ALTER TABLE $cat0.tbl SET TBLPROPERTIES " +
        "('enableChangeDataFeed' = 'true')")
      CommitLog.append(s, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
      CommitLog.delete(s, root, col("user_id") % 4 === 1)
      val updates = ev.filter(col("user_id") % 4 === 2)
        .withColumn("value", col("value") + lit(1000.0))
        .unionByName(ev.filter(col("user_id") % 4 === 3)
          .withColumn("event_id", col("event_id") + lit(1000000000L)))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val (head, _, _) = CommitLog.merge(s, root, updates, "event_id", nInsertFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      ordered(s.sql(
        s"SELECT * FROM table_changes('$cat.tbl', -1, $head)")
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
    },
    "q_table_time_travel" -> { (s, dir) =>
      // read AS OF v0 after the append and the compaction both
      // committed: the pinned scan sees only v0's file list, so the
      // result is the pre-append subset even though the live table
      // has been rewritten twice since
      val root = buildEventsTable(s, dir)
      ordered(CommitLog.read(s, root, 0L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value")))
    },
    "q_sql_table_pruned_scan" -> { (s, dir) =>
      // DSv2 FILTER PUSHDOWN (r15, VERDICT item 2 — "SQL reads
      // through the catalog skip NOTHING"): the catalog ScanBuilder
      // now implements SupportsPushDownFilters, translating the
      // pushed IN into a layout-value probe, so `SELECT ... WHERE
      // event_type IN (...)` PLANS only the matching-partition files
      // — the same manifest skipping the Scala API always had,
      // reached from plain SQL. Counters are observable publicly:
      // one input partition per planned file, so rdd partitions =
      // files read (4 of 10: 2 probed values x 2 appends). Pruning
      // is advisory — every filter re-runs row-level post-scan, so
      // the aggregate is exact regardless.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_ps")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") % 2 === 1), "event_type", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val q = s.sql(s"SELECT user_id, value FROM $cat.tbl " +
        "WHERE event_type IN ('click', 'purchase')")
      val nRead = q.rdd.getNumPartitions.toLong
      val total = CommitLog.snapshotFiles(root,
        CommitLog.latestVersion(root).get).size.toLong
      ordered(q.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          dsum(col("value")).as("sum_value"))
        .select(lit(total).as("n_files_total"), lit(nRead).as("n_files_read"),
          col("n_rows"), col("n_users"), col("sum_value")))
    },
    "q_sql_table_pruned_scan_multi" -> { (s, dir) =>
      // LAYOUT x STATS INTERSECTION through SQL (r15, VERDICT items
      // 2+6): a composite-spec table (day, bucket) that DECLARES its
      // stats contract once (TBLPROPERTIES statsColumns), so both
      // SQL INSERTs record typed per-file event_id bounds alongside
      // their layouts — and the three-predicate SELECT prunes on BOTH
      // sources in ONE scan: layout alone keeps the probed combo in
      // both halves, stats alone keep the whole first half, the
      // intersection keeps exactly their common file. The oracle
      // derives every counter from pure predicates (files = distinct
      // non-empty (day, bucket, half) combos), so the accounting is
      // scale-robust, not a hardcoded constant.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_psm")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
        .withColumn("bucket", (col("user_id") % 2).cast("string"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"""CREATE TABLE $cat.tbl (event_id BIGINT, user_id BIGINT,
        |event_type STRING, value DOUBLE, day STRING, bucket STRING)
        |PARTITIONED BY (day, bucket)
        |TBLPROPERTIES ('statsColumns' = 'event_id')""".stripMargin)
      ev.createOrReplaceTempView("graft_ps_multi_src")
      s.sql(s"INSERT INTO $cat.tbl SELECT * FROM graft_ps_multi_src " +
        s"WHERE event_id <= ${m / 2}")
      s.sql(s"INSERT INTO $cat.tbl SELECT * FROM graft_ps_multi_src " +
        s"WHERE event_id > ${m / 2}")
      val head = CommitLog.latestVersion(root).get
      val total = CommitLog.snapshotFiles(root, head).size.toLong
      val q = s.sql(s"SELECT event_id, value FROM $cat.tbl " +
        s"WHERE day = '3' AND bucket = '0' AND event_id <= ${m / 2}")
      val readCombined = q.rdd.getNumPartitions.toLong
      // single-source probes for contrast (API-level, same manifest)
      val readLayout = CommitLog.prune(root, head,
        ProbeTree(Seq("day" -> Set("3"), "bucket" -> Set("0")), Nil)).files.size
      val readStats = CommitLog.prune(root, head,
        ProbeTree(Nil, Seq(RangeProbe("event_id", None, Some(m / 2))))).files.size
      ordered(q.agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(total).as("n_files_total"),
          lit(readCombined).as("files_read_combined"),
          lit(readLayout.toLong).as("files_read_layout"),
          lit(readStats.toLong).as("files_read_stats"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_prune_or" -> { (s, dir) =>
      // OR-PREDICATE FILE PRUNING (r16, VERDICT item 2): a pushed
      // disjunction whose EVERY branch translates prunes to the UNION
      // of the branches' file sets — `WHERE day='1' OR (day='5' AND
      // event_id<=k)` on a day×half staged table plans 3 of 14 files
      // (day-1 both halves ∪ day-5 first half), where r15 planned all
      // 14. Branch probes compose layout AND stats sources; a branch
      // that translates to NOTHING (the `value` predicate — no layout,
      // no declared stats) admits everything, so the disjunction
      // contributes no probe at all and the scan reads every file —
      // the same refusal discipline as a partially-translated IN.
      // Pruning stays advisory (every filter re-runs row-level), and
      // witnesses read each query's OWN scan (r16 item 1). Oracle
      // counters are predicate-derived — scale-robust.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_por")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      CommitLog.setTableProperty(root, "statsColumns", "event_id")
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") <= m / 2), "day", filesPerPartition = 1)
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val qOr = s.sql(s"SELECT event_id, value FROM $cat.tbl " +
        s"WHERE day = '1' OR (day = '5' AND event_id <= ${m / 2})")
      val (nTotal, plannedOr) = scanOf(qOr).plannedFiles
      val qOpaque = s.sql(s"SELECT event_id, value FROM $cat.tbl " +
        "WHERE day = '1' OR value > 0.5")
      val (_, plannedOpaque) = scanOf(qOpaque).plannedFiles
      val nOpaqueRows = qOpaque.count()
      ordered(qOr.agg(count(lit(1)).as("n_rows_or"),
          dsum(col("value")).as("sum_value_or"))
        .select(lit(nTotal.toLong).as("n_files_total"),
          lit(plannedOr.size.toLong).as("n_files_or"),
          lit(plannedOpaque.size.toLong).as("n_files_opaque"),
          col("n_rows_or"), lit(nOpaqueRows).as("n_rows_opaque"),
          col("sum_value_or")))
    },
    "q_sql_table_prune_ts" -> { (s, dir) =>
      // TIMESTAMP PARTITION PROBES (r16, VERDICT item 3; r17: probes
      // render under the RECORDED zone): layout values are Spark's own
      // `CAST(col AS STRING)` text produced under the one session zone
      // the table recorded at staging (`layout.timeZone` — the staging
      // chokepoint refuses cross-zone appends), and a probe's filter
      // value is absolute micros — so rendering the probe under the
      // RECORDED zone reproduces the staged spelling for a reader in
      // ANY session zone. On THE 100 TB layout (the time-partitioned
      // table) cross-zone readers now prune instead of reading
      // everything. Witnessed three ways, each from the query's OWN
      // scan: (a) the session-zone probe plans one day; (b) a CLONED
      // session under a DIFFERENT zone probing the SAME instant (an
      // explicit-offset literal) plans the same one day and returns
      // the same rows; (c) the drifted session re-parsing the NAIVE
      // text denotes a different instant — no recorded day spells it,
      // zero files plan, zero rows return (exact, not a refusal).
      // Staging: day_ts = date_trunc(ts) partitions × two event_id
      // halves; probe = the MIN day. Oracle counters are
      // predicate-derived. The drift probes run on s.newSession()
      // (r17, ADVICE: never mutate the shared session's zone mid-key).
      val base = java.nio.file.Files.createTempDirectory("graft_cat_pts")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("ts"))
        .withColumn("day_ts", date_trunc("day", col("ts")))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") <= m / 2), "day_ts", filesPerPartition = 1)
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") > m / 2), "day_ts", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      // the probe literal renders through SPARK under the SESSION zone
      // (r16 review find: java.sql.Timestamp.toString renders in the
      // JVM default zone, which the harness need not pin) — parsed
      // back under the same session zone it denotes the minimum day
      val d0 = ev.agg(date_format(min(col("day_ts")),
        "yyyy-MM-dd HH:mm:ss").as("d0")).collect()(0).getString(0)
      // the SAME instant with an explicit UTC offset — denotes the
      // minimum day regardless of the parsing session's zone
      val d0off = ev.agg(date_format(min(col("day_ts")),
        "yyyy-MM-dd HH:mm:ssxxx").as("d")).collect()(0).getString(0)
      val q = s.sql(s"SELECT event_id, value FROM $cat.tbl " +
        s"WHERE day_ts = TIMESTAMP '$d0'")
      val (nTotal, planned) = scanOf(q).plannedFiles
      val tz0 = s.conf.get("spark.sql.session.timeZone")
      // the drift zone is chosen by UTC OFFSET at the probed local
      // datetime, never by name equality (r18, ADVICE): a session
      // zone offset-equal to a hardcoded candidate (America/Toronto
      // vs America/New_York) would re-parse the naive text to the
      // SAME instant, one file would plan, and the pinned
      // n_files_foreign_instant=0 would false-fail. Offsets are
      // compared AT the local datetime (DST rules apply there), and
      // the candidate list always holds a differing offset: at most
      // one candidate can share the session's offset at any instant.
      val ldt0 = java.time.LocalDateTime.parse(d0,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val off0 = java.time.ZoneId.of(tz0).getRules.getOffset(ldt0)
      val tzOther = Seq("Asia/Tokyo", "America/New_York", "Australia/Eucla")
        .find(z => java.time.ZoneId.of(z).getRules.getOffset(ldt0) != off0).get
      // a CLONED session under the drifted zone — the shared session's
      // conf is never touched, so concurrent planning stays safe
      val s2 = s.newSession()
      s2.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s2.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s2.conf.set("spark.sql.session.timeZone", tzOther)
      val qSame = s2.sql(s"SELECT event_id FROM $cat.tbl " +
        s"WHERE day_ts = TIMESTAMP '$d0off'")
      val plannedSame = scanOf(qSame).plannedFiles._2.size
      val nRowsSame = qSame.count()
      val plannedForeign = scanOf(s2.sql(s"SELECT event_id FROM $cat.tbl " +
        s"WHERE day_ts = TIMESTAMP '$d0'")).plannedFiles._2.size
      ordered(q.agg(count(lit(1)).as("n_rows_day"),
          dsum(col("value")).as("sum_value_day"))
        .select(lit(nTotal.toLong).as("n_files_total"),
          lit(planned.size.toLong).as("n_files_day"),
          lit(plannedSame.toLong).as("n_files_othertz"),
          lit(nRowsSame).as("n_rows_othertz"),
          lit(plannedForeign.toLong).as("n_files_foreign_instant"),
          col("n_rows_day"), col("sum_value_day")))
    },
    "q_sql_table_prune_prefix" -> { (s, dir) =>
      // PREFIX PROBES BY ENUMERATION (r17, VERDICT item 7): `WHERE col
      // LIKE 'a%'` on an identity layout column keeps exactly the
      // recorded groups whose staged text matches the prefix — the
      // manifest's value universe is enumerable, so no successor
      // arithmetic, no encoding assumptions, any charset. On a 100 TB
      // table partitioned by tenant/source-prefix this turns the
      // "one tenant family" query into a partition read. The same
      // prefix on a NON-layout string column (no stats recorded here)
      // skips nothing and scans — refusal retained. Staging: 4 groups
      // a0/a1/b0/b1 × one file, single append; 'a%' keeps 2 of 4.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_pfx")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("grp", concat(
          when(col("event_id") % 4 < 2, lit("a")).otherwise(lit("b")),
          (col("event_id") % 2).cast("string")))
      CommitLog.appendPartitioned(s, root, ev, "grp", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val q = s.sql(s"SELECT event_id, value FROM $cat.tbl WHERE grp LIKE 'a%'")
      val (nTotal, planned) = scanOf(q).plannedFiles
      // a prefix on a NON-layout column contributes no probe — scans
      val qn = s.sql(s"SELECT event_id FROM $cat.tbl WHERE event_type LIKE 'z%'")
      val (_, plannedN) = scanOf(qn).plannedFiles
      // a prefix NO recorded group matches prunes to zero files
      val qz = s.sql(s"SELECT event_id FROM $cat.tbl WHERE grp LIKE 'zz%'")
      val (_, plannedZ) = scanOf(qz).plannedFiles
      val nz = qz.count()
      ordered(q.agg(count(lit(1)).as("n_rows_prefix"),
          dsum(col("value")).as("sum_value_prefix"))
        .select(lit(nTotal.toLong).as("n_files_total"),
          lit(planned.size.toLong).as("n_files_prefix"),
          lit(plannedN.size.toLong).as("n_files_nonlayout"),
          lit(plannedZ.size.toLong).as("n_files_nomatch"),
          lit(nz).as("n_rows_nomatch"),
          col("n_rows_prefix"), col("sum_value_prefix")))
    },
    "q_sql_table_prune_range" -> { (s, dir) =>
      // RANGE / SUFFIX / SUBSTRING PROBES BY ENUMERATION, AND THEIR
      // CONSUMPTION (r18, VERDICT item 3 — the r17 prefix enumeration
      // generalized): on an identity layout column of a guard-stamped
      // table the recorded value universe is enumerable, so
      //   - `grp >= 'b0'` keeps exactly the recorded groups at or
      //     above the cutoff in SPARK's string order (UTF-8 binary);
      //   - `LIKE '%1'` / `LIKE '%0%'` keep exactly the matching
      //     groups (plain string match on the recorded text);
      //   - on a LONG layout column the universe parses back and
      //     `num <= 10` matches NUMERICALLY — "10" sorts before "5"
      //     as text, so the 11-group answer is only right if the
      //     enumeration compares under the column's semantics;
      //   - file membership IS row membership on these columns, so
      //     the filters are CONSUMED (no residual) and compose into
      //     the metadata aggregates: `COUNT(*) WHERE grp >= 'b0'` is
      //     ONE manifest parse (plan-proof flag);
      //   - a cutoff past every recorded group is a real zero-file
      //     probe; the null-sentinel group never matches a range.
      // On THE 100 TB layout (tenant/day partitioning) this turns
      // "tenants from b0 on" / "days up to 10" queries into
      // partition-set reads with zero row-level re-evaluation.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_rng")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "t1").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("grp", concat(
          when(col("event_id") % 4 < 2, lit("a")).otherwise(lit("b")),
          (col("event_id") % 2).cast("string")))
      CommitLog.appendPartitioned(s, root, ev, "grp", filesPerPartition = 1)
      // t2: LONG layout num in 0..12 plus a NULL (sentinel) group
      val root2 = new java.io.File(base.toFile, "t2").toString
      val ev2 = Tables(s, dir, "events")
        .select(col("event_id"), col("value"))
        .withColumn("num", when(col("event_id") % 11 === 0, lit(null))
          .otherwise((col("event_id") % 13).cast("long")))
      CommitLog.appendPartitioned(s, root2, ev2, "num", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      def residuals(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.optimizedPlan.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
        }.size.toLong
      // string range, consumed: UTF-8 order keeps b0, b1 (2 of 4)
      val q = s.sql(s"SELECT event_id, value FROM $cat.t1 WHERE grp >= 'b0'")
      val (nTotal, planned) = scanOf(q).plannedFiles
      val residRange = residuals(q)
      // suffix and substring enumerations
      val qs = s.sql(s"SELECT event_id FROM $cat.t1 WHERE grp LIKE '%1'")
      val (_, plannedS) = scanOf(qs).plannedFiles
      val nRowsSuffix = qs.count()
      val qc = s.sql(s"SELECT event_id FROM $cat.t1 WHERE grp LIKE '%0%'")
      val (_, plannedC) = scanOf(qc).plannedFiles
      // composed: the consumed range filter feeds the metadata
      // aggregate — one manifest parse, zero data I/O
      val qm = s.sql(s"SELECT COUNT(*) AS n FROM $cat.t1 WHERE grp >= 'b0'")
      val metaFlag =
        if (qm.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      val nCountRange = qm.collect()(0).getLong(0)
      // numeric range on the LONG layout: matches numerically
      val qn = s.sql(s"SELECT event_id FROM $cat.t2 WHERE num <= 10")
      val (nTotalNum, plannedN) = scanOf(qn).plannedFiles
      val nRowsNum = qn.count()
      // a cutoff past every recorded group: zero files, zero rows
      val qz = s.sql(s"SELECT event_id FROM $cat.t1 WHERE grp >= 'zz'")
      val (_, plannedZ) = scanOf(qz).plannedFiles
      val nz = qz.count()
      ordered(q.agg(count(lit(1)).as("n_rows_range"),
          dsum(col("value")).as("sum_value_range"))
        .select(lit(nTotal.toLong).as("n_files_total"),
          lit(planned.size.toLong).as("n_files_range"),
          lit(residRange).as("n_residual_range"),
          lit(metaFlag).as("count_from_manifest"),
          lit(nCountRange).as("n_count_range"),
          lit(plannedS.size.toLong).as("n_files_suffix"),
          lit(nRowsSuffix).as("n_rows_suffix"),
          lit(plannedC.size.toLong).as("n_files_contains"),
          lit(nTotalNum.toLong).as("n_files_total_num"),
          lit(plannedN.size.toLong).as("n_files_numrange"),
          lit(nRowsNum).as("n_rows_numrange"),
          lit(plannedZ.size.toLong).as("n_files_nomatch"),
          lit(nz).as("n_rows_nomatch"),
          col("n_rows_range"), col("sum_value_range")))
    },
    "q_table_prune_combined" -> { (s, dir) =>
      // API-LEVEL pruning unification (r15, VERDICT item 6): ONE
      // read whose keep decision intersects the file's own layout
      // entry AND its typed stats — prunedScan — pinned
      // TIGHTER than either source alone (1 file vs 2 layout-only vs
      // 7 stats-only on the 14-file day x half grid). Counters are
      // predicate-derived in the oracle, so they hold at any scale.
      val root = java.nio.file.Files.createTempDirectory("graft_table_pc")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      CommitLog.setTableProperty(root.toString, "statsColumns", "event_id")
      CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") <= m / 2), "day", filesPerPartition = 1)
      val head = CommitLog.appendPartitioned(s, root.toString,
        ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
      val range = RangeProbe("event_id", None, Some(m / 2))
      val (dfC, pC) = CommitLog.prunedScan(s, root.toString, head,
        ProbeTree(Seq("day" -> Set("3")), Seq(range)))
      val readL = CommitLog.prune(root.toString, head,
        ProbeTree(Seq("day" -> Set("3")), Nil)).files.size
      val readS = CommitLog.prune(root.toString, head, ProbeTree(Nil, Seq(range))).files.size
      ordered(dfC.filter(col("day") === "3" && col("event_id") <= m / 2)
        .agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(pC.filesTotal.toLong).as("n_files_total"),
          lit(pC.files.size.toLong).as("files_read_combined"),
          lit(readL.toLong).as("files_read_layout"),
          lit(readS.toLong).as("files_read_stats"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_show_partitions" -> { (s, dir) =>
      // SHOW PARTITIONS from the manifest (r15): the live partition
      // inventory — one row per recorded layout tuple with its file
      // count and metadata row count — zero data I/O, no directory
      // listing (on object storage at 100 TB, LIST is the enemy).
      // A composite (day, bucket) table; the oracle derives the full
      // inventory from pure predicates (one file per non-empty value
      // tuple, rows = the tuple's row count), so the statement's
      // output replays exactly. n_bytes is inherently
      // non-replayable (physical encoding) — projected away here,
      // spec-checked instead.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_shp")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
        .withColumn("bucket", (col("user_id") % 2).cast("string"))
      CommitLog.appendPartitionedCols(s, root, ev,
        Seq("day", "bucket"), filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      ordered(s.sql(s"SHOW PARTITIONS $cat.tbl")
        .select(col("partition"), col("n_files"),
          col("n_rows_metadata").as("n_rows")))
    },
    "q_sql_table_agg_pushdown" -> { (s, dir) =>
      // METADATA AGGREGATES (r15): the unfiltered COUNT(*)/MIN/MAX —
      // the first query anyone runs on a new table — answers from
      // the MANIFEST alone (footer-derived per-file row counts,
      // exact per-column bounds), zero data I/O: on 100 TB that is
      // one manifest parse instead of a full scan. Complete pushdown
      // only where exact — deletion vectors, missing stats, GROUP
      // BY, DISTINCT or any residual filter refuse and scan
      // (CatalogSpec pins each refusal). The key emits a plan-proof
      // flag: answered_from_manifest = 1 certifies the executed plan
      // carried the metadata-aggregate scan, not a data read.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_agp")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      CommitLog.setTableProperty(root, "statsColumns", "event_id")
      CommitLog.append(s, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
      CommitLog.append(s, root, ev.filter(col("event_id") % 2 === 1), nFiles = 2)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val q = s.sql(s"""SELECT COUNT(*) AS n_rows,
        |COUNT(event_id) AS n_ids, MIN(event_id) AS min_id,
        |MAX(event_id) AS max_id FROM $cat.tbl""".stripMargin)
      val fromManifest =
        if (q.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      ordered(q.select(lit(fromManifest).as("answered_from_manifest"),
        col("n_rows"), col("n_ids"), col("min_id"), col("max_id")))
    },
    "q_sql_table_agg_pushdown_filtered" -> { (s, dir) =>
      // FILTERED METADATA AGGREGATES (r16, VERDICT item 4):
      // `SELECT COUNT(*)/COUNT(c)/MIN(c)/MAX(c) ... WHERE day='3'` is
      // ONE manifest parse when the filter is exactly layout-
      // answerable — the ScanBuilder CONSUMES it (file membership on
      // an identity layout column every live file records IS row
      // membership), no residual remains, so Spark offers the
      // aggregation and the answer folds only the surviving files'
      // footer counts and bounds. A filter that is NOT layout-exact
      // (the event_id range here) stays residual and the same
      // aggregate takes the ordinary scan — both paths pinned by
      // plan-proof flags, both value sets oracle-checked.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_agf")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      CommitLog.setTableProperty(root, "statsColumns", "event_id")
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") <= m / 2), "day", filesPerPartition = 1)
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val q = s.sql(s"""SELECT COUNT(*) AS n_rows, COUNT(event_id) AS n_ids,
        |MIN(event_id) AS min_id, MAX(event_id) AS max_id
        |FROM $cat.tbl WHERE day = '3'""".stripMargin)
      val fromManifest =
        if (q.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      // a non-layout filter keeps a residual → the ordinary exact scan
      val qScan = s.sql(s"SELECT COUNT(*) AS n FROM $cat.tbl " +
        s"WHERE event_id <= ${m / 2}")
      val scanRefused =
        if (qScan.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 0L
        else 1L
      val nHalf = qScan.collect()(0).getLong(0)
      // GROUPED metadata aggregate under a consumed OR (r17, VERDICT
      // item 5): the partition profile WITH a where-clause — `GROUP BY
      // day WHERE day='1' OR day='5'` — is one manifest parse too:
      // both OR branches are layout-exact, the whole disjunction is
      // consumed, and the per-group answer folds only the two
      // surviving days' files
      val qg = s.sql(s"""SELECT day, COUNT(*) AS n FROM $cat.tbl
        |WHERE day = '1' OR day = '5' GROUP BY day""".stripMargin)
      val groupedOrMeta =
        if (qg.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      val gRows = qg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      ordered(q.select(lit(fromManifest).as("answered_from_manifest"),
        lit(scanRefused).as("range_filter_scans"),
        col("n_rows"), col("n_ids"), col("min_id"), col("max_id"),
        lit(nHalf).as("n_rows_half"),
        lit(groupedOrMeta).as("grouped_or_from_manifest"),
        lit(gRows.size.toLong).as("n_groups_or"),
        lit(gRows.getOrElse("1", 0L)).as("n_rows_day1"),
        lit(gRows.getOrElse("5", 0L)).as("n_rows_day5")))
    },
    "q_sql_table_agg_pushdown_grouped" -> { (s, dir) =>
      // GROUPED METADATA AGGREGATES (r15): the canonical PARTITION
      // PROFILE — `SELECT day, COUNT(*), COUNT(c), MIN(c), MAX(c)
      // GROUP BY day` — answers from the manifest alone when the
      // grouping columns are layout columns every live file records:
      // the groups ARE the layout tuples, per-group counts sum the
      // group's footer rows minus its nullCounts, bounds fold its
      // per-file stats. On a 100 TB table the first exploration query
      // after "how big is it" becomes one manifest parse, zero data
      // I/O. Refusals (CatalogSpec): non-layout grouping expressions,
      // deletion vectors, missing stats — each falls back to the
      // exact ordinary scan. answered_from_manifest certifies the
      // executed plan carried the metadata-aggregate scan.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_agg")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("day", col("event_id") % 7)
      CommitLog.setTableProperty(root, "statsColumns", "event_id")
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") % 2 === 0), "day", filesPerPartition = 1)
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val q = s.sql(s"""SELECT day, COUNT(*) AS n_rows,
        |COUNT(event_id) AS n_ids, MIN(event_id) AS min_id,
        |MAX(event_id) AS max_id FROM $cat.tbl GROUP BY day""".stripMargin)
      val fromManifest =
        if (q.queryExecution.executedPlan.toString.contains("metadata-aggregate")) 1L
        else 0L
      ordered(q.select(lit(fromManifest).as("answered_from_manifest"),
        col("day"), col("n_rows"), col("n_ids"), col("min_id"), col("max_id")))
    },
    "q_sql_table_join_spj" -> { (s, dir) =>
      // STORAGE-PARTITIONED JOIN (r15): two catalog tables
      // co-partitioned on day join on (day, user_id) and aggregate BY
      // day with ZERO exchanges end-to-end — the scan reports
      // KeyGroupedPartitioning over the manifest's layouts
      // (SupportsReportPartitioning; each planned partition announces
      // its tuple via HasPartitionKey), so the planner PROVES both
      // sides arrive join-ready off storage and the downstream GROUP
      // BY reuses the same clustering. At 100 TB this is the
      // difference between re-shuffling two fact tables and reading
      // them in place. The proof run disables broadcast (so the
      // zero-exchange plan is the partitioning reasoning, not table
      // size) and restores every session conf after; zero_shuffle = 1
      // certifies the FINAL adaptive plan carried no Exchange.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_spj")
      base.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"CREATE TABLE $cat.f1 (event_id BIGINT, user_id BIGINT, " +
        "value DOUBLE, day BIGINT) PARTITIONED BY (day)")
      s.sql(s"CREATE TABLE $cat.f2 (day BIGINT, user_id BIGINT, " +
        "weight BIGINT) PARTITIONED BY (day)")
      ev.createOrReplaceTempView("graft_spj_src")
      s.sql(s"INSERT INTO $cat.f1 SELECT event_id, user_id, value, " +
        "event_id % 7 AS day FROM graft_spj_src")
      s.sql(s"INSERT INTO $cat.f2 SELECT event_id % 7 AS day, user_id, " +
        "COUNT(*) AS weight FROM graft_spj_src GROUP BY 1, 2")
      val q = s.sql(
        s"""SELECT t1.day AS day, COUNT(*) AS n_pairs,
           |  CAST(CAST(SUM(CAST(t1.value AS DECIMAL(18,4)) * t2.weight)
           |    AS STRING) AS DOUBLE) AS weighted
           |FROM $cat.f1 t1 JOIN $cat.f2 t2
           |  ON t1.day = t2.day AND t1.user_id = t2.user_id
           |GROUP BY t1.day""".stripMargin)
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val zeroShuffle =
        try {
          q.collect() // pins q's physical plan under the opt-in confs
          if (q.queryExecution.executedPlan.toString.contains("Exchange")) 0L
          else 1L
        } finally saved.foreach { case (k, ov) =>
          ov match {
            case Some(v) => s.conf.set(k, v)
            case None => s.conf.unset(k)
          }
        }
      ordered(q.select(lit(zeroShuffle).as("zero_shuffle_proof"),
        col("day"), col("n_pairs"), col("weighted")))
    },
    "q_sql_table_join_spj_bucket" -> { (s, dir) =>
      // HASH-BUCKET co-partitioning (r15 — Iceberg's bucket
      // transform, the HIGH-CARDINALITY key workhorse): two catalog
      // tables `PARTITIONED BY (bucket(8, user_id))` join on user_id
      // and aggregate BY user_id with ZERO exchanges — the catalog's
      // V2 bucket FUNCTION (FunctionCatalog) reproduces the writer's
      // routing (pmod(murmur3, n), Spark's seed) so the planner
      // proves co-partitioning where an identity spec never could
      // (day has 7 values; user_id has millions). The same spec makes
      // `user_id = v` a POINT LOOKUP: the probed value's bucket is
      // computable at plan time, so the scan reads ONE bucket's file.
      // zero_shuffle certifies the final adaptive plan of the
      // join+agg carried no Exchange; the point-lookup counters ride
      // the same output row.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_spjb")
      base.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events").select(col("user_id"), col("value"))
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"CREATE TABLE $cat.b1 (user_id BIGINT, value DOUBLE) " +
        "PARTITIONED BY (bucket(8, user_id))")
      s.sql(s"CREATE TABLE $cat.b2 (user_id BIGINT, weight BIGINT) " +
        "PARTITIONED BY (bucket(8, user_id))")
      ev.createOrReplaceTempView("graft_spjb_src")
      s.sql(s"INSERT INTO $cat.b1 SELECT user_id, value FROM graft_spjb_src")
      s.sql(s"INSERT INTO $cat.b2 SELECT user_id, COUNT(*) AS weight " +
        "FROM graft_spjb_src GROUP BY user_id")
      val q1 = s.sql(
        s"""SELECT t1.user_id AS user_id, COUNT(*) AS n,
           |  SUM(CAST(t1.value AS DECIMAL(18,4)) * t2.weight) AS w
           |FROM $cat.b1 t1 JOIN $cat.b2 t2 ON t1.user_id = t2.user_id
           |GROUP BY t1.user_id""".stripMargin)
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.graft.preserveDataGrouping" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val zeroShuffle =
        try {
          q1.collect()
          if (q1.queryExecution.executedPlan.toString.contains("Exchange")) 0L
          else 1L
        } finally saved.foreach { case (k, ov) =>
          ov match {
            case Some(v) => s.conf.set(k, v)
            case None => s.conf.unset(k)
          }
        }
      // point lookup on the bucketed key: one bucket's one file
      val minUser = ev.agg(min(col("user_id"))).collect()(0).getLong(0)
      val qp = s.sql(s"SELECT value FROM $cat.b1 WHERE user_id = $minUser")
      val nPoint = qp.collect().length.toLong
      // witness from the point query's OWN scan (r16, VERDICT item 1
      // hazard class) — not the global last-write-wins GraftScanStats
      val (_, plannedPoint) = scanOf(qp).plannedFiles
      ordered(q1.agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_pairs"),
          sum(col("w")).cast("string").cast("double").as("weighted"))
        .select(lit(zeroShuffle).as("zero_shuffle_proof"),
          col("n_users"), col("n_pairs"), col("weighted"),
          lit(plannedPoint.size.toLong).as("files_read_point"),
          lit(nPoint).as("n_rows_point")))
    },
    "q_sql_table_limit_pushdown" -> { (s, dir) =>
      // LIMIT PUSHDOWN (r15): the manifest's footer-derived per-file
      // row counts turn an unfiltered `LIMIT n` into a FILE-COUNT
      // decision — the scan plans only the file-list prefix covering
      // n rows. On a 100 TB table the canonical `SELECT ... LIMIT 20`
      // peek reads one file instead of every file. Staging: five
      // INSERTs (one file each — spark.graft.insert.files=1), one per
      // event_id % 5 slice, so the manifest order and per-file counts
      // are pure predicates; LIMIT = LIVE slices 0+1 plus one row →
      // the scan must plan exactly 3 of 5 files. A merge-on-read
      // DELETE masks the even half of slice 0 first (r16, VERDICT
      // item 7): the prefix decision uses LIVE counts — footer
      // counts minus the manifest-carried masked counts — so the
      // pushdown keeps working on a DV'd table instead of refusing.
      // Pushdown stays PARTIAL (Spark's own limit truncates), so it
      // can never change results — only file counts.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_lim")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"))
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"CREATE TABLE $cat.tbl (event_id BIGINT, value DOUBLE)")
      ev.createOrReplaceTempView("graft_lim_src")
      val savedN = s.conf.getOption("spark.graft.insert.files")
      s.conf.set("spark.graft.insert.files", "1")
      try (0 until 5).foreach { i =>
        s.sql(s"INSERT INTO $cat.tbl SELECT event_id, value " +
          s"FROM graft_lim_src WHERE event_id % 5 = $i")
      } finally savedN match {
        case Some(v) => s.conf.set("spark.graft.insert.files", v)
        case None => s.conf.unset("spark.graft.insert.files")
      }
      // mask the even half of slice 0 — the prefix decision must use
      // live counts (the DV'd file sits exactly at the prefix head)
      CommitLog.deleteMergeOnRead(s, root, col("event_id") % 10 === 0)
      val lim = ev.filter(col("event_id") % 5 <= 1 &&
        col("event_id") % 10 =!= 0).count() + 1
      val q = s.sql(s"SELECT event_id FROM $cat.tbl LIMIT $lim")
      val nReturned = q.collect().length.toLong
      // witness from the query's OWN scan instance (r16, VERDICT item
      // 1) — deterministic under any number of planning passes
      val (nTotal, planned) = scanOf(q).plannedFiles
      ordered(s.range(1).select(
        lit(nTotal.toLong).as("n_files_total"),
        lit(planned.size.toLong).as("n_files_planned"),
        lit(nReturned).as("n_rows_returned")))
    },
    "q_sql_table_topn_pushdown" -> { (s, dir) =>
      // TopN PUSHDOWN (r15): `ORDER BY c LIMIT n` over a declared
      // stats column plans only the files whose recorded [min,max]
      // CAN contain the global top n — sort files by the relevant
      // bound, prefix-cover n rows, keep everything overlapping the
      // cutoff. `SELECT ... ORDER BY ts DESC LIMIT 100` on a 100 TB
      // time-ordered table reads the tail files, not the table.
      // Staging: five RANGE-sliced INSERTs (event_id DIV w, one file
      // each) give disjoint per-file bounds, so the planned counts
      // are pure predicates: ASC LIMIT |slice0|+1 → exactly 2 files,
      // DESC LIMIT 1 → exactly 1. Partial pushdown (Spark's
      // TakeOrderedAndProject still runs) and zero-null/no-DV
      // refusals keep the decision file-count-only; the returned
      // top-n SUM is the value witness.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_topn")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events").select(col("event_id"), col("value"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val w = m / 5 + 1
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"CREATE TABLE $cat.tbl (event_id BIGINT, value DOUBLE) " +
        "TBLPROPERTIES ('statsColumns' = 'event_id')")
      ev.createOrReplaceTempView("graft_topn_src")
      val savedN = s.conf.getOption("spark.graft.insert.files")
      s.conf.set("spark.graft.insert.files", "1")
      try (0 until 5).foreach { i =>
        s.sql(s"INSERT INTO $cat.tbl SELECT event_id, value " +
          s"FROM graft_topn_src WHERE event_id DIV $w = $i")
      } finally savedN match {
        case Some(v) => s.conf.set("spark.graft.insert.files", v)
        case None => s.conf.unset("spark.graft.insert.files")
      }
      val lim = ev.filter(col("event_id") < w).count() + 1
      val q = s.sql(s"SELECT event_id FROM $cat.tbl ORDER BY event_id LIMIT $lim")
      val got = q.collect()
      val qd = s.sql(s"SELECT event_id FROM $cat.tbl ORDER BY event_id DESC LIMIT 1")
      val gotD = qd.collect()
      // witnesses from each query's OWN scan instance (r16, VERDICT
      // item 1) — deterministic under any number of planning passes
      val (nTotal, plannedAsc) = scanOf(q).plannedFiles
      val (_, plannedDesc) = scanOf(qd).plannedFiles
      ordered(s.range(1).select(
        lit(nTotal.toLong).as("n_files_total"),
        lit(plannedAsc.size.toLong).as("n_files_planned_asc"),
        lit(plannedDesc.size.toLong).as("n_files_planned_desc"),
        lit(got.length.toLong).as("n_rows_returned"),
        lit(got.map(_.getLong(0)).sum).as("sum_topn"),
        lit(gotD(0).getLong(0)).as("max_desc")))
    },
    "q_sql_table_topn_multi" -> { (s, dir) =>
      // MULTI-COLUMN TopN PUSHDOWN (r16, VERDICT item 6): `ORDER BY
      // event_id, user_id LIMIT n` pushes the FIRST column's envelope
      // — every top-n row has event_id within the first-column
      // cutoff, and the envelope keeps every file overlapping it, so
      // tie-break columns can never pull a row from a pruned file.
      // r15 refused any multi-column sort and read everything.
      // Staging mirrors q_sql_table_topn_pushdown (five range-sliced
      // one-file INSERTs → disjoint per-file event_id bounds):
      // ASC LIMIT |slice0|+1 plans exactly 2 of 5 files, the
      // two-column DESC LIMIT 1 exactly 1. Witnesses read each
      // query's OWN scan; Spark's TakeOrderedAndProject still does
      // the real multi-column sort (partial pushdown).
      val base = java.nio.file.Files.createTempDirectory("graft_cat_tnm")
      base.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      val w = m / 5 + 1
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"CREATE TABLE $cat.tbl (event_id BIGINT, user_id BIGINT, value DOUBLE) " +
        "TBLPROPERTIES ('statsColumns' = 'event_id')")
      ev.createOrReplaceTempView("graft_topnm_src")
      val savedN = s.conf.getOption("spark.graft.insert.files")
      s.conf.set("spark.graft.insert.files", "1")
      try (0 until 5).foreach { i =>
        s.sql(s"INSERT INTO $cat.tbl SELECT event_id, user_id, value " +
          s"FROM graft_topnm_src WHERE event_id DIV $w = $i")
      } finally savedN match {
        case Some(v) => s.conf.set("spark.graft.insert.files", v)
        case None => s.conf.unset("spark.graft.insert.files")
      }
      val lim = ev.filter(col("event_id") < w).count() + 1
      val q = s.sql(s"SELECT event_id, user_id FROM $cat.tbl " +
        s"ORDER BY event_id, user_id LIMIT $lim")
      val got = q.collect()
      val qd = s.sql(s"SELECT event_id, user_id FROM $cat.tbl " +
        "ORDER BY event_id DESC, user_id DESC LIMIT 1")
      val gotD = qd.collect()
      val (nTotal, plannedAsc) = scanOf(q).plannedFiles
      val (_, plannedDesc) = scanOf(qd).plannedFiles
      ordered(s.range(1).select(
        lit(nTotal.toLong).as("n_files_total"),
        lit(plannedAsc.size.toLong).as("n_files_planned_asc"),
        lit(plannedDesc.size.toLong).as("n_files_planned_desc"),
        lit(got.length.toLong).as("n_rows_returned"),
        lit(got.map(_.getLong(0)).sum).as("sum_topn"),
        lit(gotD(0).getLong(0)).as("max_desc")))
    },
    "q_sql_table_prune_estimate" -> { (s, dir) =>
      // PRUNE ESTIMATE (r15, VERDICT item 7 — "a SQL surface for
      // layout probes"): the scan's file-skipping decision as ONE
      // inspectable statement row, zero data I/O — the statement
      // plans the equivalent filtered SELECT through the ordinary
      // optimizer and reads the catalog scan's metadata-only
      // accounting, so estimate and execution share ONE pruning
      // engine by construction. The key pins exactly that: the
      // estimate's n_files_read equals the real SELECT's planned
      // partition count, on a composite layout × stats probe.
      val base = java.nio.file.Files.createTempDirectory("graft_cat_pe")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .withColumn("day", (col("event_id") % 7).cast("string"))
      val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
      CommitLog.setTableProperty(root, "statsColumns", "event_id")
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") <= m / 2), "day", filesPerPartition = 1)
      CommitLog.appendPartitioned(s, root,
        ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      val est = s.sql(s"PRUNE ESTIMATE $cat.tbl " +
        s"WHERE day = '3' AND event_id <= ${m / 2}").collect()(0)
      val q = s.sql(s"SELECT event_id, value FROM $cat.tbl " +
        s"WHERE day = '3' AND event_id <= ${m / 2}")
      val planned = q.rdd.getNumPartitions.toLong
      ordered(q.agg(count(lit(1)).as("n_rows"), dsum(col("value")).as("sum_value"))
        .select(lit(est.getLong(0)).as("head_version"),
          lit(est.getLong(1)).as("n_files_total"),
          lit(est.getLong(2)).as("n_files_read"),
          lit(planned).as("n_files_planned"),
          col("n_rows"), col("sum_value")))
    },
    "q_sql_table_merge_evolve" -> { (s, dir) =>
      // MERGE INTO ... WITH SCHEMA EVOLUTION (r15, VERDICT item 5 —
      // Delta's clause, Delta's placement): the source carries a NEW
      // column (score); the clause widens the table schema as one
      // metadata-only commit (CommitLog.evolveToInclude — retypes
      // refuse by name; CatalogSpec pins the negative), then the
      // ordinary shared merge path lands matched updates and
      // unmatched inserts. Pre-merge rows null-fill the new column —
      // the schema-evolution read contract. CREATE records the
      // schema at v0, which is what makes the clause LOAD-BEARING:
      // without it the same merge refuses (CatalogSpec pins that
      // negative). head = v3 (create, insert, evolve, merge).
      val base = java.nio.file.Files.createTempDirectory("graft_cat_mev")
      base.toFile.deleteOnExit()
      val root = new java.io.File(base.toFile, "tbl").toString
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val cat = "gcat" + java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.base", base.toString)
      s.sql(s"CREATE TABLE $cat.tbl (event_id BIGINT, event_type STRING, value DOUBLE)")
      ev.createOrReplaceTempView("graft_merge_evo_base")
      s.sql(s"INSERT INTO $cat.tbl SELECT * FROM graft_merge_evo_base")
      // matched updates (ids % 3 = 0) + unmatched inserts (shifted
      // ids % 3 = 1), every source row carrying the new column
      val srcDf = ev.filter(col("event_id") % 3 === 0)
        .unionByName(ev.filter(col("event_id") % 3 === 1)
          .withColumn("event_id", col("event_id") + 1000000000L))
        .withColumn("value", col("value") + 1000.0)
        .withColumn("score", (col("event_id") % 100).cast("double"))
      srcDf.createOrReplaceTempView("graft_merge_evo_src")
      val head = s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.tbl t
        |USING graft_merge_evo_src s ON t.event_id = s.event_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        .collect()(0).getLong(0)
      ordered(s.sql(s"SELECT event_id, value, score FROM $cat.tbl")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("score").isNotNull, 1L).otherwise(0L)).as("n_scored"),
          dsum(col("value")).as("sum_value"),
          dsum(col("score")).as("sum_score"))
        .select(lit(head).as("head_version"), col("n_rows"),
          col("n_scored"), col("sum_value"), col("sum_score")))
    },
    "s_table_dv_rebase" -> { (s, dir) =>
      // MERGE-ON-READ COMMIT REBASE under a forced lost race (r15,
      // VERDICT item 3 — the one r14 feature with no registry key):
      // a deletion-vector UPDATE computes its masks, then LOSES the
      // optimistic commit to a blind append injected via
      // beforeCommit; the DV writer REBASES — its vectors attach to
      // files that existed at ITS base, the winner's file carries
      // through untouched — and both effects land (head = v2: the
      // winner's append is v1, the rebased update v2). A REWRITE
      // winner would still refuse (positional vectors cannot survive
      // compaction of the files they mask — StreamingSpec pins the
      // refusal); this key pins the POSITIVE path end-to-end with a
      // deterministic late row so the final state replays in SQL.
      // Final listing = 2 base files + the winner's late file + the
      // update's post-image file (MoR: masks + appended post-images).
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_table_dvr")
      root.toFile.deleteOnExit()
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      CommitLog.append(s, root.toString, ev, nFiles = 2)
      val late = Seq((777000001L, 13L, "click", 185.22))
        .toDF("event_id", "user_id", "event_type", "value")
      var injected = false
      val (v, _, nUpd) = CommitLog.updateMergeOnRead(s, root.toString,
        col("user_id") % 2 === 0 && col("event_id") % 5 =!= 0,
        Seq("value" -> lit(-8.0)),
        beforeCommit = () => if (!injected) {
          injected = true
          CommitLog.append(s, root.toString, late, nFiles = 1); ()
        })
      val aux = CommitLog.auxOf(root.toString, v)
      ordered(CommitLog.read(s, root.toString, v)
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_id") === 777000001L, 1L).otherwise(0L))
            .as("n_late_survivors"),
          dsum(col("value")).as("sum_value"))
        .select(lit(v).as("head_version"),
          lit(CommitLog.snapshotFiles(root.toString, v).size.toLong).as("n_files"),
          lit(aux.dvs.count(_._2.nonEmpty).toLong).as("n_files_with_vectors"),
          lit(nUpd).as("n_updated"),
          col("n_rows"), col("n_late_survivors"), col("sum_value")))
    }
  )

  def oracle: Map[String, String] = Map(
    "q_sql_table_pruned_scan" ->
      ("""SELECT CAST(10 AS BIGINT) AS n_files_total,
        |  CAST(4 AS BIGINT) AS n_files_read,
        |  COUNT(*) AS n_rows,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type IN ('click', 'purchase')""".stripMargin +
        orderByAll("n_files_total", "n_files_read", "n_rows", "n_users", "sum_value")),
    "q_sql_table_pruned_scan_multi" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |f AS (SELECT DISTINCT event_id % 7 AS d, user_id % 2 AS bk,
        |        event_id <= (SELECT m // 2 FROM b) AS h1 FROM events)
        |SELECT (SELECT COUNT(*) FROM f) AS n_files_total,
        |  (SELECT COUNT(*) FROM f WHERE d = 3 AND bk = 0 AND h1) AS files_read_combined,
        |  (SELECT COUNT(*) FROM f WHERE d = 3 AND bk = 0) AS files_read_layout,
        |  (SELECT COUNT(*) FROM f WHERE h1) AS files_read_stats,
        |  (SELECT COUNT(*) FROM events, b
        |    WHERE event_id % 7 = 3 AND user_id % 2 = 0 AND event_id <= m // 2) AS n_rows,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events, b
        |    WHERE event_id % 7 = 3 AND user_id % 2 = 0 AND event_id <= m // 2) AS sum_value""".stripMargin +
        orderByAll("n_files_total", "files_read_combined", "files_read_layout",
          "files_read_stats", "n_rows", "sum_value")),
    "q_sql_table_prune_or" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |f AS (SELECT DISTINCT CAST(event_id % 7 AS VARCHAR) AS d,
        |        event_id <= (SELECT m // 2 FROM b) AS h1 FROM events)
        |SELECT (SELECT COUNT(*) FROM f) AS n_files_total,
        |  (SELECT COUNT(*) FROM f WHERE d = '1' OR (d = '5' AND h1)) AS n_files_or,
        |  (SELECT COUNT(*) FROM f) AS n_files_opaque,
        |  (SELECT COUNT(*) FROM events, b
        |    WHERE event_id % 7 = 1
        |      OR (event_id % 7 = 5 AND event_id <= m // 2)) AS n_rows_or,
        |  (SELECT COUNT(*) FROM events
        |    WHERE event_id % 7 = 1 OR value > 0.5) AS n_rows_opaque,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events, b
        |    WHERE event_id % 7 = 1
        |      OR (event_id % 7 = 5 AND event_id <= m // 2)) AS sum_value_or""".stripMargin +
        orderByAll("n_files_total", "n_files_or", "n_files_opaque",
          "n_rows_or", "n_rows_opaque", "sum_value_or")),
    "q_sql_table_prune_ts" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |d0 AS (SELECT MIN(date_trunc('day', ts)) AS d FROM events),
        |f AS (SELECT DISTINCT date_trunc('day', ts) AS d,
        |        event_id <= (SELECT m // 2 FROM b) AS h1 FROM events)
        |SELECT (SELECT COUNT(*) FROM f) AS n_files_total,
        |  (SELECT COUNT(*) FROM f WHERE d = (SELECT d FROM d0)) AS n_files_day,
        |  (SELECT COUNT(*) FROM f WHERE d = (SELECT d FROM d0)) AS n_files_othertz,
        |  (SELECT COUNT(*) FROM events
        |    WHERE date_trunc('day', ts) = (SELECT d FROM d0)) AS n_rows_othertz,
        |  CAST(0 AS BIGINT) AS n_files_foreign_instant,
        |  (SELECT COUNT(*) FROM events
        |    WHERE date_trunc('day', ts) = (SELECT d FROM d0)) AS n_rows_day,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events
        |    WHERE date_trunc('day', ts) = (SELECT d FROM d0)) AS sum_value_day""".stripMargin +
        orderByAll("n_files_total", "n_files_day", "n_files_othertz",
          "n_rows_othertz", "n_files_foreign_instant",
          "n_rows_day", "sum_value_day")),
    "q_sql_table_prune_prefix" ->
      ("""SELECT CAST(4 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_prefix,
        |  CAST(4 AS BIGINT) AS n_files_nonlayout,
        |  CAST(0 AS BIGINT) AS n_files_nomatch,
        |  CAST(0 AS BIGINT) AS n_rows_nomatch,
        |  COUNT(*) AS n_rows_prefix,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    AS sum_value_prefix
        |FROM events WHERE event_id % 4 < 2""".stripMargin +
        orderByAll("n_files_total", "n_files_prefix", "n_files_nonlayout",
          "n_files_nomatch", "n_rows_nomatch",
          "n_rows_prefix", "sum_value_prefix")),
    "q_sql_table_prune_range" ->
      ("""SELECT CAST(4 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_range,
        |  CAST(0 AS BIGINT) AS n_residual_range,
        |  CAST(1 AS BIGINT) AS count_from_manifest,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 4 >= 2) AS n_count_range,
        |  CAST(2 AS BIGINT) AS n_files_suffix,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 1) AS n_rows_suffix,
        |  CAST(2 AS BIGINT) AS n_files_contains,
        |  (SELECT COUNT(DISTINCT event_id % 13) FROM events
        |     WHERE event_id % 11 <> 0) +
        |    (SELECT CAST(COUNT(*) > 0 AS BIGINT) FROM events
        |     WHERE event_id % 11 = 0) AS n_files_total_num,
        |  (SELECT COUNT(DISTINCT event_id % 13) FROM events
        |     WHERE event_id % 11 <> 0 AND event_id % 13 <= 10) AS n_files_numrange,
        |  (SELECT COUNT(*) FROM events
        |     WHERE event_id % 11 <> 0 AND event_id % 13 <= 10) AS n_rows_numrange,
        |  CAST(0 AS BIGINT) AS n_files_nomatch,
        |  CAST(0 AS BIGINT) AS n_rows_nomatch,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 4 >= 2) AS n_rows_range,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |     FROM events WHERE event_id % 4 >= 2) AS sum_value_range""".stripMargin +
        orderByAll("n_files_total", "n_files_range", "n_residual_range",
          "count_from_manifest", "n_count_range", "n_files_suffix",
          "n_rows_suffix", "n_files_contains", "n_files_total_num",
          "n_files_numrange", "n_rows_numrange", "n_files_nomatch",
          "n_rows_nomatch", "n_rows_range", "sum_value_range")),
    "q_table_prune_combined" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |f AS (SELECT DISTINCT event_id % 7 AS d,
        |        event_id <= (SELECT m // 2 FROM b) AS h1 FROM events)
        |SELECT (SELECT COUNT(*) FROM f) AS n_files_total,
        |  (SELECT COUNT(*) FROM f WHERE d = 3 AND h1) AS files_read_combined,
        |  (SELECT COUNT(*) FROM f WHERE d = 3) AS files_read_layout,
        |  (SELECT COUNT(*) FROM f WHERE h1) AS files_read_stats,
        |  (SELECT COUNT(*) FROM events, b
        |    WHERE event_id % 7 = 3 AND event_id <= m // 2) AS n_rows,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events, b
        |    WHERE event_id % 7 = 3 AND event_id <= m // 2) AS sum_value""".stripMargin +
        orderByAll("n_files_total", "files_read_combined", "files_read_layout",
          "files_read_stats", "n_rows", "sum_value")),
    "q_sql_table_show_partitions" ->
      ("""SELECT 'day=' || CAST(event_id % 7 AS VARCHAR) ||
        |    '/bucket=' || CAST(user_id % 2 AS VARCHAR) AS partition,
        |  CAST(1 AS BIGINT) AS n_files,
        |  COUNT(*) AS n_rows
        |FROM events
        |GROUP BY event_id % 7, user_id % 2""".stripMargin +
        orderByAll("partition", "n_files", "n_rows")),
    "q_sql_table_agg_pushdown" ->
      ("""SELECT CAST(1 AS BIGINT) AS answered_from_manifest,
        |  COUNT(*) AS n_rows,
        |  COUNT(event_id) AS n_ids,
        |  MIN(event_id) AS min_id,
        |  MAX(event_id) AS max_id
        |FROM events""".stripMargin +
        orderByAll("answered_from_manifest", "n_rows", "n_ids", "min_id", "max_id")),
    "q_sql_table_agg_pushdown_filtered" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events)
        |SELECT CAST(1 AS BIGINT) AS answered_from_manifest,
        |  CAST(1 AS BIGINT) AS range_filter_scans,
        |  COUNT(*) AS n_rows,
        |  COUNT(event_id) AS n_ids,
        |  MIN(event_id) AS min_id,
        |  MAX(event_id) AS max_id,
        |  (SELECT COUNT(*) FROM events, b WHERE event_id <= m // 2) AS n_rows_half,
        |  CAST(1 AS BIGINT) AS grouped_or_from_manifest,
        |  CAST(2 AS BIGINT) AS n_groups_or,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 7 = 1) AS n_rows_day1,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 7 = 5) AS n_rows_day5
        |FROM events WHERE CAST(event_id % 7 AS VARCHAR) = '3'""".stripMargin +
        orderByAll("answered_from_manifest", "range_filter_scans", "n_rows",
          "n_ids", "min_id", "max_id", "n_rows_half",
          "grouped_or_from_manifest", "n_groups_or",
          "n_rows_day1", "n_rows_day5")),
    "q_sql_table_agg_pushdown_grouped" ->
      ("""SELECT CAST(1 AS BIGINT) AS answered_from_manifest,
        |  event_id % 7 AS day,
        |  COUNT(*) AS n_rows,
        |  COUNT(event_id) AS n_ids,
        |  MIN(event_id) AS min_id,
        |  MAX(event_id) AS max_id
        |FROM events GROUP BY event_id % 7""".stripMargin +
        orderByAll("answered_from_manifest", "day", "n_rows", "n_ids",
          "min_id", "max_id")),
    "q_sql_table_join_spj" ->
      ("""WITH t2 AS (SELECT event_id % 7 AS day, user_id, COUNT(*) AS weight
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS zero_shuffle_proof,
        |  e.event_id % 7 AS day,
        |  COUNT(*) AS n_pairs,
        |  CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,4)) * t2.weight)
        |    AS VARCHAR) AS DOUBLE) AS weighted
        |FROM events e JOIN t2
        |  ON e.event_id % 7 = t2.day AND e.user_id = t2.user_id
        |GROUP BY e.event_id % 7""".stripMargin +
        orderByAll("zero_shuffle_proof", "day", "n_pairs", "weighted")),
    "q_sql_table_join_spj_bucket" ->
      ("""WITH t2 AS (SELECT user_id, COUNT(*) AS weight
        |  FROM events GROUP BY user_id),
        |j AS (SELECT e.user_id, COUNT(*) AS n,
        |    SUM(CAST(e.value AS DECIMAL(18,4)) * t2.weight) AS w
        |  FROM events e JOIN t2 ON e.user_id = t2.user_id
        |  GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS zero_shuffle_proof,
        |  (SELECT COUNT(*) FROM j) AS n_users,
        |  (SELECT CAST(SUM(n) AS BIGINT) FROM j) AS n_pairs,
        |  (SELECT CAST(CAST(SUM(w) AS VARCHAR) AS DOUBLE) FROM j) AS weighted,
        |  CAST(1 AS BIGINT) AS files_read_point,
        |  (SELECT COUNT(*) FROM events
        |    WHERE user_id = (SELECT MIN(user_id) FROM events)) AS n_rows_point""".stripMargin +
        orderByAll("zero_shuffle_proof", "n_users", "n_pairs", "weighted",
          "files_read_point", "n_rows_point")),
    "q_sql_table_limit_pushdown" ->
      ("""WITH live AS (SELECT event_id FROM events WHERE event_id % 10 <> 0),
        |s AS (SELECT event_id % 5 AS b, COUNT(*) AS n
        |  FROM live GROUP BY 1),
        |c AS (SELECT b, n, SUM(n) OVER (ORDER BY b) AS cum FROM s),
        |l AS (SELECT CAST((SELECT cum FROM c WHERE b = 1) + 1 AS BIGINT) AS lim)
        |SELECT (SELECT COUNT(*) FROM s) AS n_files_total,
        |  (SELECT COUNT(*) FROM c, l WHERE cum - n < lim) AS n_files_planned,
        |  (SELECT lim FROM l) AS n_rows_returned""".stripMargin +
        orderByAll("n_files_total", "n_files_planned", "n_rows_returned")),
    "q_sql_table_topn_pushdown" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |s AS (SELECT event_id // ((SELECT m FROM b) // 5 + 1) AS sl, event_id
        |  FROM events),
        |l AS (SELECT COUNT(*) + 1 AS lim FROM s WHERE sl = 0),
        |c AS (SELECT sl, COUNT(*) AS n, MIN(event_id) AS mn,
        |    MAX(event_id) AS mx FROM s GROUP BY sl),
        |cc AS (SELECT sl, n, mn, mx, SUM(n) OVER (ORDER BY mx) AS cum FROM c),
        |k AS (SELECT MIN(mx) AS cutoff FROM cc WHERE cum >= (SELECT lim FROM l)),
        |r AS (SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) AS rn FROM s)
        |SELECT (SELECT COUNT(*) FROM c) AS n_files_total,
        |  (SELECT COUNT(*) FROM cc WHERE mn <= (SELECT cutoff FROM k))
        |    AS n_files_planned_asc,
        |  (SELECT COUNT(*) FROM c WHERE mx >= (SELECT MAX(mn) FROM c))
        |    AS n_files_planned_desc,
        |  (SELECT lim FROM l) AS n_rows_returned,
        |  (SELECT CAST(SUM(event_id) AS BIGINT) FROM r WHERE rn <= (SELECT lim FROM l))
        |    AS sum_topn,
        |  (SELECT m FROM b) AS max_desc""".stripMargin +
        orderByAll("n_files_total", "n_files_planned_asc",
          "n_files_planned_desc", "n_rows_returned", "sum_topn", "max_desc")),
    "q_sql_table_topn_multi" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |s AS (SELECT event_id // ((SELECT m FROM b) // 5 + 1) AS sl, event_id
        |  FROM events),
        |l AS (SELECT COUNT(*) + 1 AS lim FROM s WHERE sl = 0),
        |c AS (SELECT sl, COUNT(*) AS n, MIN(event_id) AS mn,
        |    MAX(event_id) AS mx FROM s GROUP BY sl),
        |cc AS (SELECT sl, n, mn, mx, SUM(n) OVER (ORDER BY mx) AS cum FROM c),
        |k AS (SELECT MIN(mx) AS cutoff FROM cc WHERE cum >= (SELECT lim FROM l)),
        |r AS (SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id) AS rn FROM s)
        |SELECT (SELECT COUNT(*) FROM c) AS n_files_total,
        |  (SELECT COUNT(*) FROM cc WHERE mn <= (SELECT cutoff FROM k))
        |    AS n_files_planned_asc,
        |  (SELECT COUNT(*) FROM c WHERE mx >= (SELECT MAX(mn) FROM c))
        |    AS n_files_planned_desc,
        |  (SELECT lim FROM l) AS n_rows_returned,
        |  (SELECT CAST(SUM(event_id) AS BIGINT) FROM r WHERE rn <= (SELECT lim FROM l))
        |    AS sum_topn,
        |  (SELECT m FROM b) AS max_desc""".stripMargin +
        orderByAll("n_files_total", "n_files_planned_asc",
          "n_files_planned_desc", "n_rows_returned", "sum_topn", "max_desc")),
    "q_sql_table_prune_estimate" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |f AS (SELECT DISTINCT event_id % 7 AS d,
        |        event_id <= (SELECT m // 2 FROM b) AS h1 FROM events)
        |SELECT CAST(1 AS BIGINT) AS head_version,
        |  (SELECT COUNT(*) FROM f) AS n_files_total,
        |  (SELECT COUNT(*) FROM f WHERE d = 3 AND h1) AS n_files_read,
        |  (SELECT COUNT(*) FROM f WHERE d = 3 AND h1) AS n_files_planned,
        |  (SELECT COUNT(*) FROM events, b
        |    WHERE event_id % 7 = 3 AND event_id <= m // 2) AS n_rows,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events, b
        |    WHERE event_id % 7 = 3 AND event_id <= m // 2) AS sum_value""".stripMargin +
        orderByAll("head_version", "n_files_total", "n_files_read",
          "n_files_planned", "n_rows", "sum_value")),
    "q_sql_table_merge_evolve" ->
      ("""WITH fin AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 3 = 0 THEN value + 1000.0 ELSE value END AS value,
        |    CASE WHEN event_id % 3 = 0
        |         THEN CAST(event_id % 100 AS DOUBLE) END AS score
        |  FROM events
        |  UNION ALL
        |  SELECT event_id + 1000000000, value + 1000.0,
        |    CAST((event_id + 1000000000) % 100 AS DOUBLE)
        |  FROM events WHERE event_id % 3 = 1)
        |SELECT CAST(3 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN score IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_scored,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
        |  CAST(CAST(SUM(CAST(score AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_score
        |FROM fin""".stripMargin +
        orderByAll("head_version", "n_rows", "n_scored", "sum_value", "sum_score")),
    "s_table_dv_rebase" ->
      ("""WITH fin AS (
        |  SELECT event_id,
        |    CASE WHEN user_id % 2 = 0 AND event_id % 5 <> 0
        |         THEN -8.0 ELSE value END AS value
        |  FROM events
        |  UNION ALL SELECT 777000001, 185.22)
        |SELECT CAST(2 AS BIGINT) AS head_version,
        |  CAST(4 AS BIGINT) AS n_files,
        |  CAST(2 AS BIGINT) AS n_files_with_vectors,
        |  (SELECT COUNT(*) FROM events
        |    WHERE user_id % 2 = 0 AND event_id % 5 <> 0) AS n_updated,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN event_id = 777000001 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late_survivors,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM fin""".stripMargin +
        orderByAll("head_version", "n_files", "n_files_with_vectors", "n_updated",
          "n_rows", "n_late_survivors", "sum_value")),
    "s_table_commit" ->
      ("""WITH h AS (
        |  SELECT CAST(0 AS BIGINT) AS version, CAST(4 AS BIGINT) AS n_files,
        |    (SELECT COUNT(*) FROM events WHERE event_id % 3 <> 0) AS n_rows
        |  UNION ALL
        |  SELECT 1, 8, (SELECT COUNT(*) FROM events)
        |  UNION ALL
        |  SELECT 2, 2, (SELECT COUNT(*) FROM events))
        |SELECT version, n_files, n_rows FROM h""".stripMargin +
        orderByAll("version", "n_files", "n_rows")),
    "q_table_changes" ->
      ("""SELECT event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 3 = 0
        |GROUP BY event_type""".stripMargin +
        orderByAll("event_type", "n", "sum_value")),
    "s_table_vacuum" ->
      ("""SELECT CAST(8 AS BIGINT) AS n_files_removed,
        |  CAST(2 AS BIGINT) AS n_files_kept,
        |  (SELECT COUNT(*) FROM events) AS n_rows_after""".stripMargin +
        orderByAll("n_files_removed", "n_files_kept", "n_rows_after")),
    "q_table_stats_prune" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events)
        |SELECT CAST(8 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_read,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE event_id > m // 4 AND event_id <= m // 2""".stripMargin +
        orderByAll("n_files_total", "n_files_read", "n_rows", "sum_value")),
    "q_table_manifest_segments" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events)
        |SELECT CAST(4 AS BIGINT) AS n_segments_total,
        |  CAST(1 AS BIGINT) AS n_segments_read,
        |  CAST(8 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_read,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE event_id > m // 4 AND event_id <= m // 2""".stripMargin +
        orderByAll("n_segments_total", "n_segments_read", "n_files_total",
          "n_files_read", "n_rows", "sum_value")),
    "q_sql_table_seg_scan" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events)
        |SELECT CAST(4 AS BIGINT) AS n_segments_total,
        |  CAST(1 AS BIGINT) AS n_segments_read,
        |  CAST(8 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_planned,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE event_id > m // 4 AND event_id <= m // 2""".stripMargin +
        orderByAll("n_segments_total", "n_segments_read", "n_files_total",
          "n_files_planned", "n_rows", "sum_value")),
    "q_sql_table_seg_agg" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |c1 AS (SELECT COUNT(*) AS n FROM events, b WHERE event_id <= m // 4),
        |c2 AS (SELECT COUNT(*) AS n FROM events, b
        |  WHERE event_id > m // 4 AND event_id <= m // 2)
        |SELECT CAST(1 AS BIGINT) AS answered_from_manifest,
        |  (SELECT COUNT(*) FROM events) AS n_total,
        |  (SELECT MIN(event_id) FROM events) AS min_id,
        |  (SELECT MAX(event_id) FROM events) AS max_id,
        |  CAST(1 AS BIGINT) AS nonstats_minmax_scans,
        |  (SELECT MIN(value) FROM events) AS min_value,
        |  CAST(4 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_limit_planned,
        |  CAST(2 AS BIGINT) AS n_segs_opened,
        |  (SELECT CAST(n + 1 AS BIGINT) FROM c1) AS n_rows_limit,
        |  (SELECT n FROM c2) AS filtered_count,
        |  CAST(1 AS BIGINT) AS filtered_planned""".stripMargin +
        orderByAll("answered_from_manifest", "n_total", "min_id", "max_id",
          "nonstats_minmax_scans", "min_value", "n_files_total",
          "n_limit_planned", "n_segs_opened", "n_rows_limit",
          "filtered_count", "filtered_planned")),
    "q_sql_table_seg_prune_part" ->
      ("""SELECT (SELECT COUNT(DISTINCT event_id % 7) FROM events) AS n_files_total,
        |  CAST(1 AS BIGINT) AS n_files_day,
        |  CAST(1 AS BIGINT) AS n_segs_read_day,
        |  CAST(2 AS BIGINT) AS n_files_in,
        |  CAST(2 AS BIGINT) AS n_files_range,
        |  CAST(1 AS BIGINT) AS n_segs_read_range,
        |  (SELECT COUNT(DISTINCT event_id % 7) FROM events) AS n_files_nonlayout,
        |  COUNT(*) AS n_rows_day,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    AS sum_value_day
        |FROM events WHERE event_id % 7 = 3""".stripMargin +
        orderByAll("n_files_total", "n_files_day", "n_segs_read_day",
          "n_files_in", "n_files_range", "n_segs_read_range",
          "n_files_nonlayout", "n_rows_day", "sum_value_day")),
    "q_sql_table_seg_peek" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |lo AS (SELECT COUNT(*) AS c FROM events, b
        |  WHERE event_id % 7 = 3 AND event_id <= m // 2),
        |hi AS (SELECT COUNT(*) AS c, CAST(SUM(event_id) AS BIGINT) AS s
        |  FROM events, b WHERE event_id % 7 = 3 AND event_id > m // 2)
        |SELECT CAST(14 AS BIGINT) AS n_files_total,
        |  CAST(1 AS BIGINT) AS limit1_planned,
        |  CAST(1 AS BIGINT) AS limit1_opened,
        |  CAST(1 AS BIGINT) AS n_rows_limit1,
        |  CAST(2 AS BIGINT) AS limit2_planned,
        |  CAST(2 AS BIGINT) AS limit2_opened,
        |  (SELECT c + 1 FROM lo) AS n_rows_limit2,
        |  CAST(1 AS BIGINT) AS topn_planned,
        |  CAST(2 AS BIGINT) AS topn_opened,
        |  (SELECT s FROM hi) AS sum_top,
        |  CAST(14 AS BIGINT) AS n_files_nonconsumed,
        |  (SELECT c FROM hi) AS n_rows_topn""".stripMargin +
        orderByAll("n_files_total", "limit1_planned", "limit1_opened",
          "n_rows_limit1", "limit2_planned", "limit2_opened",
          "n_rows_limit2", "topn_planned", "topn_opened", "sum_top",
          "n_files_nonconsumed", "n_rows_topn")),
    "q_sql_table_seg_agg_part" ->
      ("""WITH d AS (SELECT CASE WHEN event_id % 11 = 0 THEN NULL
        |    ELSE CAST(event_id % 7 AS VARCHAR) END AS day,
        |    event_id, value FROM events)
        |SELECT day, COUNT(*) AS n,
        |  CAST(1 AS BIGINT) AS grouped_from_manifest,
        |  CAST(1 AS BIGINT) AS day5_from_manifest,
        |  (SELECT COUNT(*) FROM d WHERE day = '5') AS n_day5,
        |  CAST(1 AS BIGINT) AS range_from_manifest,
        |  (SELECT MIN(event_id) FROM d WHERE day >= '5') AS mn_range,
        |  (SELECT MAX(event_id) FROM d WHERE day >= '5') AS mx_range,
        |  CAST(1 AS BIGINT) AS notnull_from_manifest,
        |  (SELECT COUNT(*) FROM d WHERE day IS NOT NULL) AS n_notnull,
        |  CAST(1 AS BIGINT) AS count_col_refused,
        |  (SELECT COUNT(value) FROM d WHERE day = '5') AS n_value_day5
        |FROM d GROUP BY day""".stripMargin +
        orderByAll("day", "n", "grouped_from_manifest", "day5_from_manifest",
          "n_day5", "range_from_manifest", "mn_range", "mx_range",
          "notnull_from_manifest", "n_notnull", "count_col_refused",
          "n_value_day5")),
    "q_sql_table_seg_topn" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events),
        |c4 AS (SELECT COUNT(*) AS n FROM events, b
        |  WHERE event_id > 3 * m // 4),
        |r AS (SELECT event_id,
        |  ROW_NUMBER() OVER (ORDER BY event_id DESC) AS rn FROM events),
        |top AS (SELECT event_id FROM r WHERE rn <= (SELECT n + 1 FROM c4))
        |SELECT CAST(4 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_topn,
        |  CAST(2 AS BIGINT) AS n_segs_opened,
        |  (SELECT CAST(SUM(event_id) AS BIGINT) FROM top) AS sum_top,
        |  CAST(4 AS BIGINT) AS n_files_topn_nonstats,
        |  CAST(1 AS BIGINT) AS count_col_from_manifest,
        |  (SELECT COUNT(event_id) FROM events) AS n_count_col,
        |  CAST(1 AS BIGINT) AS count_nullable_from_manifest,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 11 <> 0)
        |    AS n_count_nullable,
        |  CAST(2 AS BIGINT) AS n_files_topn_nulls,
        |  (SELECT COUNT(*) FROM top) AS n_rows_topn""".stripMargin +
        orderByAll("n_files_total", "n_files_topn", "n_segs_opened",
          "sum_top", "n_files_topn_nonstats", "count_col_from_manifest",
          "n_count_col", "count_nullable_from_manifest", "n_count_nullable",
          "n_files_topn_nulls", "n_rows_topn")),
    "q_table_delete" ->
      ("""SELECT CAST(2 AS BIGINT) AS n_files_carried,
        |  CAST(2 AS BIGINT) AS n_files_rewritten,
        |  COUNT(*) AS n_rows_after,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value_after
        |FROM events WHERE user_id % 4 <> 1""".stripMargin +
        orderByAll("n_files_carried", "n_files_rewritten", "n_rows_after",
          "sum_value_after")),
    "q_table_update" ->
      ("""WITH u AS (
        |  SELECT CASE WHEN user_id % 4 = 1 THEN value + 1000.0 ELSE value END AS value,
        |    CASE WHEN user_id % 4 = 1 THEN 'boosted' ELSE event_type END AS event_type
        |  FROM events)
        |SELECT CAST(2 AS BIGINT) AS n_files_carried,
        |  CAST(2 AS BIGINT) AS n_files_rewritten,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN event_type = 'boosted' THEN 1 ELSE 0 END) AS BIGINT) AS n_boosted,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1) AS n_cdf_pre,
        |  (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1) AS n_cdf_post,
        |  (SELECT CAST(CAST(SUM(CAST(value + 1000.0 AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events WHERE user_id % 4 = 1) AS sum_cdf_post
        |FROM u""".stripMargin +
        orderByAll("n_files_carried", "n_files_rewritten", "n_rows",
          "n_boosted", "sum_value", "n_cdf_pre", "n_cdf_post",
          "sum_cdf_post")),
    "q_sql_table_update" ->
      ("""WITH u AS (
        |  SELECT CASE WHEN user_id % 4 = 2 THEN GREATEST(value, 50.0) ELSE value END AS value,
        |    CASE WHEN user_id % 4 = 2 THEN 'floored' ELSE event_type END AS event_type
        |  FROM events)
        |SELECT CAST(2 AS BIGINT) AS head_version,
        |  CAST(2 AS BIGINT) AS files_carried,
        |  CAST(2 AS BIGINT) AS files_rewritten,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN event_type = 'floored' THEN 1 ELSE 0 END) AS BIGINT) AS n_floored,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM u""".stripMargin +
        orderByAll("head_version", "files_carried", "files_rewritten",
          "n_rows", "n_floored", "sum_value")),
    "q_sql_table_detail" ->
      ("""SELECT CAST(2 AS BIGINT) AS head_version,
        |  CAST(10 AS BIGINT) AS n_files,
        |  'event_type' AS partition_col,
        |  CAST(10 AS BIGINT) AS n_files_with_vectors,
        |  CAST(3 AS BIGINT) AS n_versions_retained,
        |  CAST(2 AS BIGINT) AS n_properties,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id % 4 <> 1""".stripMargin +
        orderByAll("head_version", "n_files", "partition_col",
          "n_files_with_vectors", "n_versions_retained", "n_properties",
          "n_rows", "sum_value")),
    "q_sql_table_incr_view" ->
      ("""WITH f AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 4 <> 1),
        |g AS (SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total FROM f GROUP BY 1)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1) +
        |    2 * (SELECT COUNT(*) FROM events WHERE user_id % 4 = 2)
        |  AS BIGINT) AS rows_folded,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value""".stripMargin +
        orderByAll("rows_folded", "n_keys", "n_rows", "sum_value")),
    "q_sql_table_incr_view_join" ->
      ("""WITH f AS (
        |  SELECT 'seg_' || CAST(user_id % 4 AS VARCHAR) AS segment,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 7 <> 3),
        |g AS (SELECT segment, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total,
        |    MIN(value) AS mn, MAX(value) AS mx
        |  FROM f GROUP BY 1)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE user_id % 7 = 3) +
        |    2 * (SELECT COUNT(*) FROM events
        |         WHERE user_id % 4 = 2 AND user_id % 7 <> 3)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(mn) FROM g) AS min_value,
        |  (SELECT MAX(mx) FROM g) AS max_value""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_value", "max_value")),
    "q_table_incr_view_join" ->
      ("""WITH f AS (
        |  SELECT 'seg_' || CAST(user_id % 4 AS VARCHAR) AS segment,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value,
        |    user_id, event_id
        |  FROM events WHERE user_id % 7 <> 3),
        |g AS (SELECT segment, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total,
        |    MIN(value) AS mn, MAX(value) AS mx
        |  FROM f GROUP BY 1)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 <> 0) +
        |    (SELECT COUNT(*) FROM events WHERE user_id % 7 = 3) +
        |    2 * (SELECT COUNT(*) FROM events
        |         WHERE user_id % 4 = 2 AND user_id % 7 <> 3)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(mn) FROM g) AS min_value,
        |  (SELECT MAX(mx) FROM g) AS max_value""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_value", "max_value")),
    "q_table_incr_view_join_dimupd" ->
      ("""WITH d AS (
        |  SELECT DISTINCT user_id,
        |    CASE WHEN user_id % 3 = 1 THEN 'seg_x'
        |         ELSE 'seg_' || CAST(user_id % 4 AS VARCHAR) END AS segment
        |  FROM events
        |  WHERE user_id IS NOT NULL AND user_id % 5 <> 0),
        |f AS (
        |  SELECT d.segment, e.value
        |  FROM events e JOIN d ON e.user_id = d.user_id),
        |g AS (SELECT segment, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total,
        |    MIN(value) AS mn, MAX(value) AS mx
        |  FROM f GROUP BY 1)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events
        |     WHERE event_id % 2 <> 0 AND user_id % 5 <> 0)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(mn) FROM g) AS min_value,
        |  (SELECT MAX(mx) FROM g) AS max_value""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_value", "max_value")),
    "q_sql_table_incr_view_avg" ->
      ("""WITH f AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 7 <> 3),
        |g AS (SELECT event_type, COUNT(*) AS n, COUNT(value) AS nv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total
        |  FROM f GROUP BY 1),
        |a AS (SELECT event_type, n, nv, total,
        |    CASE WHEN nv > 0
        |      THEN CAST(CAST(total AS STRING) AS DOUBLE) / nv END AS avgv
        |  FROM g)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE user_id % 7 = 3) +
        |    2 * (SELECT COUNT(*) FROM events
        |         WHERE user_id % 4 = 2 AND user_id % 7 <> 3)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM a) AS n_keys,
        |  CAST((SELECT SUM(n) FROM a) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM a) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(avgv) FROM a) AS min_avg,
        |  (SELECT MAX(avgv) FROM a) AS max_avg""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_avg", "max_avg")),
    "q_sql_table_incr_view_stddev" ->
      ("""WITH f AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 7 <> 3),
        |g AS (SELECT event_type, COUNT(*) AS n, COUNT(value) AS nv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
        |      AS DECIMAL(38,8)) AS ss
        |  FROM f GROUP BY 1),
        |a AS (SELECT event_type, n, nv, total,
        |    CASE WHEN nv > 0 THEN GREATEST(
        |      CAST(CAST(ss AS STRING) AS DOUBLE) / nv -
        |      (CAST(CAST(total AS STRING) AS DOUBLE) / nv) *
        |      (CAST(CAST(total AS STRING) AS DOUBLE) / nv), 0.0) END AS varv
        |  FROM g)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE user_id % 7 = 3) +
        |    2 * (SELECT COUNT(*) FROM events
        |         WHERE user_id % 4 = 2 AND user_id % 7 <> 3)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM a) AS n_keys,
        |  CAST((SELECT SUM(n) FROM a) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM a) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(SQRT(varv)) FROM a) AS min_std,
        |  (SELECT MAX(SQRT(varv)) FROM a) AS max_std,
        |  (SELECT MAX(varv) FROM a) AS max_var""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_std", "max_std", "max_var")),
    "q_sql_table_incr_view_stddev_samp" ->
      ("""WITH f AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 7 <> 3),
        |g AS (SELECT event_type, COUNT(*) AS n, COUNT(value) AS nv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
        |      AS DECIMAL(38,8)) AS ss
        |  FROM f GROUP BY 1),
        |a AS (SELECT event_type, n, nv, total,
        |    CASE WHEN nv > 1 THEN GREATEST(
        |      CAST(CAST(ss AS STRING) AS DOUBLE) / nv -
        |      (CAST(CAST(total AS STRING) AS DOUBLE) / nv) *
        |      (CAST(CAST(total AS STRING) AS DOUBLE) / nv), 0.0)
        |      * CAST(nv AS DOUBLE) / CAST(nv - 1 AS DOUBLE) END AS varsv
        |  FROM g)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE user_id % 7 = 3) +
        |    2 * (SELECT COUNT(*) FROM events
        |         WHERE user_id % 4 = 2 AND user_id % 7 <> 3)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM a) AS n_keys,
        |  CAST((SELECT SUM(n) FROM a) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM a) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(SQRT(varsv)) FROM a) AS min_stds,
        |  (SELECT MAX(SQRT(varsv)) FROM a) AS max_stds,
        |  (SELECT MAX(varsv) FROM a) AS max_vars""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_stds", "max_stds", "max_vars")),
    "q_sql_table_incr_view_multi" ->
      ("""WITH f AS (
        |  SELECT event_type, user_id,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 7 <> 3),
        |g AS (SELECT event_type, user_id, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total,
        |    MIN(value) AS mn, MAX(value) AS mx
        |  FROM f GROUP BY 1, 2)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE user_id % 7 = 3) +
        |    2 * (SELECT COUNT(*) FROM events
        |         WHERE user_id % 4 = 2 AND user_id % 7 <> 3)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(mn) FROM g) AS min_value,
        |  (SELECT MAX(mx) FROM g) AS max_value""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_value", "max_value")),
    "q_table_incr_view_multikey" ->
      ("""WITH f AS (
        |  SELECT event_type, user_id,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 7 <> 3),
        |g AS (SELECT event_type, user_id, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total,
        |    MIN(value) AS mn, MAX(value) AS mx
        |  FROM f GROUP BY 1, 2)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 <> 0) +
        |    (SELECT COUNT(*) FROM events WHERE user_id % 7 = 3) +
        |    2 * (SELECT COUNT(*) FROM events
        |         WHERE user_id % 4 = 2 AND user_id % 7 <> 3)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(mn) FROM g) AS min_value,
        |  (SELECT MAX(mx) FROM g) AS max_value""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_value", "max_value")),
    "q_table_view_chain3" ->
      ("""WITH u1 AS (
        |  SELECT user_id, COUNT(*) AS n, COUNT(value) AS nv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total
        |  FROM events WHERE user_id % 5 <> 0 GROUP BY 1),
        |v2f AS (
        |  SELECT nv, COUNT(*) AS n, COUNT(total) AS nvt,
        |    CAST(SUM(CAST(total AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS tott
        |  FROM u1 GROUP BY 1),
        |v3f AS (
        |  SELECT nvt, COUNT(*) AS n,
        |    CAST(SUM(CAST(tott AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS tottt
        |  FROM v2f GROUP BY 1),
        |ub AS (SELECT user_id, COUNT(value) AS nv FROM events
        |  WHERE event_id % 2 = 0 GROUP BY 1),
        |ou AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_id % 2 <> 0 AND user_id % 5 <> 0),
        |cu AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_id % 2 <> 0 OR user_id % 5 = 0),
        |bdelta AS (
        |  SELECT ub.nv FROM ub JOIN cu ON ub.user_id = cu.user_id
        |  UNION
        |  SELECT u1.nv FROM u1 JOIN cu ON u1.user_id = cu.user_id)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 <> 0) +
        |    (SELECT COUNT(*) FROM events WHERE user_id % 5 = 0)
        |  AS BIGINT) AS rows_folded_v1,
        |  CAST(
        |    (SELECT COUNT(*) FROM ub WHERE user_id % 5 = 0) +
        |    2 * (SELECT COUNT(*) FROM ou
        |         WHERE user_id IN (SELECT user_id FROM ub)) +
        |    (SELECT COUNT(*) FROM ou
        |     WHERE user_id NOT IN (SELECT user_id FROM ub))
        |  AS BIGINT) AS rows_folded_v2,
        |  CAST(COALESCE((SELECT SUM(
        |    CASE WHEN nv IN (SELECT nv FROM ub)
        |          AND nv IN (SELECT nv FROM u1) THEN 2 ELSE 1 END)
        |    FROM bdelta), 0) AS BIGINT) AS rows_folded_v3,
        |  CAST(1 AS BIGINT) AS v1_exact,
        |  CAST(1 AS BIGINT) AS v2_exact,
        |  CAST(1 AS BIGINT) AS v3_exact,
        |  (SELECT COUNT(*) FROM v3f) AS n_keys,
        |  CAST((SELECT SUM(n) FROM v3f) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(tottt) FROM v3f) AS STRING) AS DOUBLE) AS sum_total""".stripMargin +
        orderByAll("rows_folded_v1", "rows_folded_v2", "rows_folded_v3",
          "v1_exact", "v2_exact", "v3_exact", "n_keys", "n_rows",
          "sum_total")),
    "q_table_view_chain" ->
      ("""WITH old_u AS (SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 0),
        |aff AS (SELECT DISTINCT user_id FROM events
        |        WHERE event_id % 2 <> 0 OR user_id % 5 = 0),
        |surv AS (SELECT user_id FROM aff WHERE user_id % 5 <> 0),
        |g AS (SELECT user_id, COUNT(value) AS nv,
        |        SUM(CAST(value AS DECIMAL(18,4))) AS total
        |      FROM events WHERE user_id % 5 <> 0 GROUP BY 1),
        |h AS (SELECT nv, COUNT(*) AS n, SUM(total) AS total_sum FROM g GROUP BY 1)
        |SELECT CAST(
        |    2 * (SELECT COUNT(*) FROM surv
        |         WHERE user_id IN (SELECT user_id FROM old_u))
        |    + (SELECT COUNT(*) FROM surv
        |       WHERE user_id NOT IN (SELECT user_id FROM old_u))
        |    + (SELECT COUNT(*) FROM aff
        |       WHERE user_id % 5 = 0 AND user_id IN (SELECT user_id FROM old_u))
        |  AS BIGINT) AS rows_folded_v2,
        |  CAST(1 AS BIGINT) AS v1_exact,
        |  CAST(1 AS BIGINT) AS v2_exact,
        |  (SELECT COUNT(*) FROM h) AS n_buckets,
        |  CAST((SELECT SUM(n) FROM h) AS BIGINT) AS n_users,
        |  CAST(CAST((SELECT SUM(total_sum) FROM h) AS STRING) AS DOUBLE) AS sum_total""".stripMargin +
        orderByAll("rows_folded_v2", "v1_exact", "v2_exact",
          "n_buckets", "n_users", "sum_total")),
    "q_table_type_widening" ->
      ("""WITH fin AS (
        |  SELECT CAST(CAST(value AS REAL) AS DOUBLE) AS value
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT value FROM events WHERE event_id % 2 <> 0
        |  UNION ALL
        |  SELECT CAST(CAST(value AS REAL) AS DOUBLE) AS value
        |  FROM events WHERE event_id <= 500)
        |SELECT CAST(2 AS BIGINT) AS head_version,
        |  'event_id:bigint,user_id:bigint,value:double' AS head_schema,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value
        |FROM fin""".stripMargin +
        orderByAll("head_version", "head_schema", "n_rows", "sum_value",
          "min_value", "max_value")),
    "q_sql_table_merge_delete" ->
      ("""WITH fin AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN user_id % 5 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 5 <> 1
        |  UNION ALL
        |  SELECT event_id + 1000000000, user_id, value
        |  FROM events WHERE user_id % 5 = 3)
        |SELECT CAST(1 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
        |  CAST(0 AS BIGINT) AS n_deleted_remaining,
        |  CAST((SELECT COUNT(*) FROM events WHERE user_id % 5 = 3)
        |    AS BIGINT) AS n_inserted
        |FROM fin""".stripMargin +
        orderByAll("head_version", "n_rows", "sum_value",
          "n_deleted_remaining", "n_inserted")),
    "q_table_generated_cols" ->
      ("""SELECT CAST(14 AS BIGINT) AS files_total,
        |  CAST(2 AS BIGINT) AS files_read,
        |  CAST(0 AS BIGINT) AS n_mismatch,
        |  COUNT(*) AS n_rows_day3,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value_day3
        |FROM events WHERE event_id % 7 = 3""".stripMargin +
        orderByAll("files_total", "files_read", "n_mismatch",
          "n_rows_day3", "sum_value_day3")),
    "q_table_default_cols" ->
      ("""SELECT CAST(0 AS BIGINT) AS n_day_mismatch,
        |  (SELECT COUNT(*) FROM events) AS n_rows,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 3 = 0) AS n_backfill,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 3 = 1) AS n_live,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 3 = 2) AS n_null,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events) AS sum_value""".stripMargin +
        orderByAll("n_day_mismatch", "n_rows", "n_backfill", "n_live",
          "n_null", "sum_value")),
    "q_table_identity_cols" ->
      ("""WITH c AS (SELECT COUNT(*) AS n FROM events)
        |SELECT CAST(1 AS BIGINT) AS supplied_refused,
        |  CAST(1 AS BIGINT) AS head_unchanged,
        |  (SELECT n FROM c) AS n_rows,
        |  (SELECT n FROM c) AS n_distinct_ids,
        |  CAST(1000 AS BIGINT) AS min_id,
        |  CAST(998 + 2 * (SELECT n FROM c) AS BIGINT) AS max_id,
        |  CAST((SELECT n * (999 + n) FROM c) AS BIGINT) AS sum_ids,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events) AS sum_value""".stripMargin +
        orderByAll("supplied_refused", "head_unchanged", "n_rows",
          "n_distinct_ids", "min_id", "max_id", "sum_ids", "sum_value")),
    "q_table_auto_compact" ->
      ("""SELECT CAST(3 AS BIGINT) AS head_version,
        |  CAST(3 AS BIGINT) AS n_appends,
        |  CAST(1 AS BIGINT) AS n_compacts,
        |  CAST(6 AS BIGINT) AS n_files_before,
        |  CAST(2 AS BIGINT) AS n_files_head,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin +
        orderByAll("head_version", "n_appends", "n_compacts",
          "n_files_before", "n_files_head", "n_rows", "sum_value")),
    "q_table_merge_evolve" ->
      ("""WITH m AS (
        |  SELECT CASE WHEN user_id % 4 = 1 THEN value + 1000.0 ELSE value END AS value,
        |    CASE WHEN user_id % 4 = 1 THEN value * 2.0 ELSE NULL END AS score
        |  FROM events
        |  UNION ALL
        |  SELECT value, -1.0 AS score FROM events WHERE user_id % 4 = 2)
        |SELECT CAST(2 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
        |  CAST(COUNT(score) AS BIGINT) AS n_score_nonnull,
        |  CAST(CAST(SUM(CAST(score AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_score
        |FROM m""".stripMargin +
        orderByAll("head_version", "n_rows", "sum_value",
          "n_score_nonnull", "sum_score")),
    "q_table_history_checkpoint" ->
      ("""SELECT CAST(24 AS BIGINT) AS n_versions,
        |  CAST(2 AS BIGINT) AS manifests_parsed,
        |  CAST(21 AS BIGINT) AS ckpt_version,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 24 = 0) AS n_rows_v0,
        |  COUNT(*) AS n_rows_head,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin +
        orderByAll("n_versions", "manifests_parsed", "ckpt_version",
          "n_rows_v0", "n_rows_head", "sum_value")),
    "q_table_incr_view_minmax" ->
      ("""WITH f AS (
        |  SELECT event_type, user_id,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE event_id % 97 <> 0),
        |g AS (SELECT event_type, COUNT(*) AS n, COUNT(value) AS nv,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total,
        |    MIN(value) AS mn, MAX(value) AS mx,
        |    COUNT(user_id) AS nvu, MIN(user_id) AS mnu, MAX(user_id) AS mxu
        |  FROM f GROUP BY 1)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 <> 0) +
        |    (SELECT COUNT(*) FROM events WHERE event_id % 97 = 0) +
        |    2 * (SELECT COUNT(*) FROM events
        |         WHERE user_id % 4 = 2 AND event_id % 97 <> 0)
        |  AS BIGINT) AS rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT MIN(mn) FROM g) AS min_value,
        |  (SELECT MAX(mx) FROM g) AS max_value,
        |  CAST((SELECT SUM(nvu) FROM g) AS BIGINT) AS n_user_nonnull,
        |  (SELECT MIN(mnu) FROM g) AS min_user,
        |  (SELECT MAX(mxu) FROM g) AS max_user""".stripMargin +
        orderByAll("rows_folded", "equals_full_recompute", "n_keys",
          "n_rows", "sum_value", "min_value", "max_value",
          "n_user_nonnull", "min_user", "max_user")),
    "s_table_view_stream" ->
      ("""WITH f AS (
        |  SELECT event_type, value FROM events WHERE user_id % 4 <> 1),
        |g AS (SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total FROM f GROUP BY 1)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 <> 0) +
        |    (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1)
        |  AS BIGINT) AS n_change_rows_folded,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value""".stripMargin +
        orderByAll("n_change_rows_folded", "equals_full_recompute",
          "n_keys", "n_rows", "sum_value")),
    "s_table_view_stream_multi" ->
      ("""WITH f AS (
        |  SELECT 'seg_' || CAST(user_id % 4 AS VARCHAR) AS segment, value
        |  FROM events WHERE user_id % 4 <> 1),
        |g AS (SELECT segment, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total FROM f GROUP BY 1),
        |c AS (SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 <> 0) +
        |    (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1)
        |  AS BIGINT) AS folded)
        |SELECT (SELECT folded FROM c) AS rows_folded_multi,
        |  (SELECT folded FROM c) AS rows_folded_join,
        |  CAST(1 AS BIGINT) AS all_batches_exact,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value""".stripMargin +
        orderByAll("rows_folded_multi", "rows_folded_join",
          "all_batches_exact", "n_keys", "n_rows", "sum_value")),
    "s_table_view_stream_dimupd" ->
      ("""WITH f AS (
        |  SELECT CASE WHEN user_id % 4 = 2 THEN 'seg_moved'
        |    ELSE 'seg_' || CAST(user_id % 4 AS VARCHAR) END AS segment, value
        |  FROM events WHERE user_id % 4 <> 1),
        |g AS (SELECT segment, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total FROM f GROUP BY 1),
        |c AS (SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 <> 0) +
        |    (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1)
        |  AS BIGINT) AS folded)
        |SELECT (SELECT folded FROM c) AS rows_folded,
        |  CAST(1 AS BIGINT) AS dim_propagated,
        |  CAST(1 AS BIGINT) AS all_batches_exact,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value""".stripMargin +
        orderByAll("rows_folded", "dim_propagated",
          "all_batches_exact", "n_keys", "n_rows", "sum_value")),
    // depth-2 chain, continuous: v1 folds the fact CDF (odd appends +
    // the %5 delete; the replayed v0 create snapshot folds nothing),
    // v2 folds v1's OWN merge changelog — per trigger that is
    // pre+post per updated user, insert per new user, delete per
    // vanished user, all derivable from pure predicates
    "s_table_view_chain_stream" ->
      ("""WITH f AS (SELECT user_id, value FROM events WHERE user_id % 5 <> 0),
        |g AS (SELECT user_id, COUNT(value) AS nv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total
        |  FROM f GROUP BY 1),
        |h AS (SELECT nv, COUNT(*) AS n,
        |    SUM(CAST(total AS DECIMAL(18,4))) AS total2 FROM g GROUP BY 1),
        |eu AS (SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 0),
        |ou AS (SELECT DISTINCT user_id FROM events WHERE event_id % 2 = 1)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 = 1) +
        |    (SELECT COUNT(*) FROM events WHERE user_id % 5 = 0)
        |  AS BIGINT) AS rows_folded_v1,
        |  CAST(
        |    2 * (SELECT COUNT(*) FROM ou WHERE user_id IN (SELECT user_id FROM eu)) +
        |    (SELECT COUNT(*) FROM ou WHERE user_id NOT IN (SELECT user_id FROM eu)) +
        |    (SELECT COUNT(DISTINCT user_id) FROM events WHERE user_id % 5 = 0)
        |  AS BIGINT) AS rows_folded_v2,
        |  CAST(1 AS BIGINT) AS all_batches_exact,
        |  (SELECT COUNT(*) FROM h) AS n_buckets,
        |  CAST((SELECT SUM(n) FROM h) AS BIGINT) AS n_users,
        |  CAST(CAST((SELECT SUM(total2) FROM h) AS STRING) AS DOUBLE) AS sum_total""".stripMargin +
        orderByAll("rows_folded_v1", "rows_folded_v2",
          "all_batches_exact", "n_buckets", "n_users", "sum_total")),
    "q_table_incr_view" ->
      ("""WITH f AS (
        |  SELECT event_type,
        |    CASE WHEN user_id % 4 = 2 THEN value + 1000.0 ELSE value END AS value
        |  FROM events WHERE user_id % 4 <> 1),
        |g AS (SELECT event_type, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,4))) AS total FROM f GROUP BY 1)
        |SELECT CAST(
        |    (SELECT COUNT(*) FROM events WHERE event_id % 2 <> 0) +
        |    (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1) +
        |    2 * (SELECT COUNT(*) FROM events WHERE user_id % 4 = 2)
        |  AS BIGINT) AS n_change_rows_consumed,
        |  CAST(1 AS BIGINT) AS equals_full_recompute,
        |  (SELECT COUNT(*) FROM g) AS n_keys,
        |  CAST((SELECT SUM(n) FROM g) AS BIGINT) AS n_rows,
        |  CAST(CAST((SELECT SUM(total) FROM g) AS STRING) AS DOUBLE) AS sum_value""".stripMargin +
        orderByAll("n_change_rows_consumed", "equals_full_recompute",
          "n_keys", "n_rows", "sum_value")),
    "q_table_update_dv" ->
      ("""WITH u AS (
        |  SELECT CASE WHEN user_id % 4 = 1 THEN value + 1000.0 ELSE value END AS value,
        |    CASE WHEN user_id % 4 = 1 THEN 'boosted' ELSE event_type END AS event_type
        |  FROM events)
        |SELECT CAST(2 AS BIGINT) AS n_files_with_vectors,
        |  (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1) AS n_rows_updated,
        |  CAST(1 AS BIGINT) AS n_files_added,
        |  CAST(1 AS BIGINT) AS all_prior_files_carried,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN event_type = 'boosted' THEN 1 ELSE 0 END) AS BIGINT) AS n_boosted,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
        |  (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1) AS n_cdf_pre,
        |  (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1) AS n_cdf_post,
        |  (SELECT CAST(CAST(SUM(CAST(value + 1000.0 AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events WHERE user_id % 4 = 1) AS sum_cdf_post
        |FROM u""".stripMargin +
        orderByAll("n_files_with_vectors", "n_rows_updated", "n_files_added",
          "all_prior_files_carried", "n_rows", "n_boosted", "sum_value",
          "n_cdf_pre", "n_cdf_post", "sum_cdf_post")),
    "q_sql_table_reorg" ->
      ("""SELECT CAST(3 AS BIGINT) AS head_version,
        |  CAST(2 AS BIGINT) AS files_carried,
        |  CAST(2 AS BIGINT) AS files_rewritten,
        |  COUNT(*) AS n_raw_rows_after_purge,
        |  CAST(3 AS BIGINT) AS noop_head_version,
        |  CAST(0 AS BIGINT) AS noop_files_rewritten,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id % 4 <> 1""".stripMargin +
        orderByAll("head_version", "files_carried", "files_rewritten",
          "n_raw_rows_after_purge", "noop_head_version",
          "noop_files_rewritten", "n_rows", "sum_value")),
    "q_table_delete_dv" ->
      ("""SELECT CAST(2 AS BIGINT) AS n_files_with_vectors,
        |  (SELECT COUNT(*) FROM events WHERE user_id % 4 = 1) AS n_rows_deleted,
        |  CAST(0 AS BIGINT) AS n_rewrites,
        |  COUNT(*) AS n_raw_rows_after_compact,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id % 4 <> 1""".stripMargin +
        orderByAll("n_files_with_vectors", "n_rows_deleted", "n_rewrites",
          "n_raw_rows_after_compact", "n_rows", "sum_value")),
    "q_sql_table_delete_dv" ->
      ("""SELECT CAST(1 AS BIGINT) AS head_version,
        |  CAST(4 AS BIGINT) AS files_carried,
        |  CAST(0 AS BIGINT) AS files_rewritten,
        |  COUNT(*) AS n_rows,
        |  CAST(0 AS BIGINT) AS n_masked_leaks,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id % 4 <> 1""".stripMargin +
        orderByAll("head_version", "files_carried", "files_rewritten",
          "n_rows", "n_masked_leaks", "sum_value")),
    "q_table_column_mapping" ->
      ("""SELECT CAST(2 AS BIGINT) AS rename_version,
        |  CAST(0 AS BIGINT) AS n_new_files_metadata_ops,
        |  CAST(2 AS BIGINT) AS n_files_carried,
        |  CAST(2 AS BIGINT) AS n_files_rewritten,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_amount
        |FROM events WHERE user_id % 4 <> 1""".stripMargin +
        orderByAll("rename_version", "n_new_files_metadata_ops",
          "n_files_carried", "n_files_rewritten", "n_rows", "sum_amount")),
    "q_sql_table_rename_drop" ->
      ("""SELECT CAST(3 AS BIGINT) AS n_cols_head,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_amount,
        |  (SELECT COUNT(*) FROM events WHERE user_id % 2 = 0) AS n_rows_v0,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events WHERE user_id % 2 = 0) AS sum_value_v0
        |FROM events""".stripMargin +
        orderByAll("n_cols_head", "n_rows", "sum_amount", "n_rows_v0",
          "sum_value_v0")),
    "q_table_optimize" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m FROM events)
        |SELECT CAST(8 AS BIGINT) AS files_before,
        |  CAST(8 AS BIGINT) AS files_read_before,
        |  CAST(8 AS BIGINT) AS files_after,
        |  CAST(2 AS BIGINT) AS files_read_after,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE event_id > m // 4 AND event_id <= m // 2""".stripMargin +
        orderByAll("files_before", "files_read_before", "files_after",
          "files_read_after", "n_rows", "sum_value")),
    "s_table_commit_retry" ->
      ("""SELECT CAST(2 AS BIGINT) AS n_versions,
        |  CAST(8 AS BIGINT) AS n_files,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin +
        orderByAll("n_versions", "n_files", "n_rows", "sum_value")),
    "q_table_merge" ->
      ("""WITH m AS (
        |  SELECT value FROM events WHERE user_id % 4 <> 1
        |  UNION ALL SELECT value + 1000 FROM events WHERE user_id % 4 = 1
        |  UNION ALL SELECT value FROM events WHERE user_id % 4 = 3)
        |SELECT CAST(2 AS BIGINT) AS n_files_carried,
        |  CAST(2 AS BIGINT) AS n_files_rewritten,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM m""".stripMargin +
        orderByAll("n_files_carried", "n_files_rewritten", "n_rows", "sum_value")),
    "q_table_add_column" ->
      ("""SELECT CASE WHEN event_id % 2 = 0 THEN NULL
        |    WHEN value >= 50.0 THEN 'high' ELSE 'low' END AS value_tier,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1""".stripMargin +
        orderByAll("value_tier", "n", "sum_value")),
    "s_table_stream_read" ->
      ("""SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin +
        orderByAll("event_type", "n", "n_users", "sum_value")),
    "s_table_stream_segmented" ->
      ("""WITH f AS (SELECT DISTINCT event_id % 7 AS d, event_id % 3 AS t
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    AS sum_value,
        |  (SELECT COUNT(*) FROM f) AS n_candidates,
        |  (SELECT COUNT(*) FROM f WHERE d = 3) AS n_planned,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 7 = 3) AS n_rows_day3
        |FROM events GROUP BY event_type""".stripMargin +
        orderByAll("event_type", "n", "n_users", "sum_value",
          "n_candidates", "n_planned", "n_rows_day3")),
    "s_table_stream_pruned" ->
      ("""WITH f AS (SELECT DISTINCT event_id % 7 AS d, event_id % 2 AS h
        |  FROM events)
        |SELECT (SELECT COUNT(*) FROM f) AS n_files_candidate,
        |  (SELECT COUNT(*) FROM f WHERE d = 3) AS n_files_planned,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 7 = 3) AS n_rows,
        |  (SELECT COUNT(DISTINCT user_id) FROM events
        |    WHERE event_id % 7 = 3) AS n_users,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) FROM events WHERE event_id % 7 = 3) AS sum_value""".stripMargin +
        orderByAll("n_files_candidate", "n_files_planned", "n_rows",
          "n_users", "sum_value")),
    "s_table_stream_cdf" ->
      ("""WITH ch AS (
        |  SELECT 0 AS commit_version, 'insert' AS change_type, value
        |  FROM events WHERE user_id % 4 < 2
        |  UNION ALL SELECT 1, 'insert', value FROM events WHERE user_id % 4 >= 2
        |  UNION ALL SELECT 2, 'delete', value FROM events WHERE user_id % 4 = 1
        |  UNION ALL SELECT 3, 'update_preimage', value
        |  FROM events WHERE user_id % 4 = 2
        |  UNION ALL SELECT 3, 'update_postimage', value + 1000
        |  FROM events WHERE user_id % 4 = 2
        |  UNION ALL SELECT 3, 'insert', value FROM events WHERE user_id % 4 = 3)
        |SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM ch GROUP BY commit_version, change_type""".stripMargin +
        orderByAll("commit_version", "change_type", "n", "sum_value")),
    "s_table_stream_sql" ->
      ("""SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin +
        orderByAll("event_type", "n", "n_users", "sum_value")),
    "q_table_restore" ->
      ("""SELECT CAST(3 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN user_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_restored_subset,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin +
        orderByAll("head_version", "n_rows", "n_restored_subset", "sum_value")),
    "q_sql_table_time_travel" ->
      ("""SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type""".stripMargin +
        orderByAll("event_type", "n", "n_users", "sum_value")),
    "q_sql_table_insert" ->
      ("""SELECT event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin +
        orderByAll("event_type", "n", "sum_value")),
    "q_sql_table_restore" ->
      ("""SELECT CAST(3 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN user_id % 4 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_restored_subset,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin +
        orderByAll("head_version", "n_rows", "n_restored_subset", "sum_value")),
    "q_sql_table_maintenance" ->
      ("""SELECT CAST(16 AS BIGINT) AS opt_files,
        |  CAST(8 AS BIGINT) AS files_removed,
        |  CAST(16 AS BIGINT) AS files_kept,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin +
        orderByAll("opt_files", "files_removed", "files_kept",
          "n_rows", "sum_value")),
    "q_sql_table_dml" ->
      ("""WITH final AS (
        |  SELECT event_id, value FROM events WHERE user_id % 4 = 0
        |  UNION ALL
        |  SELECT event_id, value + 1000 AS value FROM events WHERE user_id % 4 = 2
        |  UNION ALL
        |  SELECT event_id, value FROM events WHERE user_id % 4 = 3
        |  UNION ALL
        |  SELECT event_id + 1000000000 AS event_id, value
        |  FROM events WHERE user_id % 4 = 3
        |)
        |SELECT CAST(3 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN event_id >= 1000000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inserted_clones,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM final""".stripMargin +
        orderByAll("head_version", "n_rows", "n_inserted_clones", "sum_value")),
    "q_table_partition_prune" ->
      ("""SELECT CAST(20 AS BIGINT) AS n_files_total,
        |  CAST(8 AS BIGINT) AS n_files_read,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type IN ('click', 'purchase')""".stripMargin +
        orderByAll("n_files_total", "n_files_read", "n_rows", "sum_value")),
    "q_table_partition_evolve" ->
      ("""SELECT CAST(12 AS BIGINT) AS n_files_total,
        |  CAST(8 AS BIGINT) AS files_read_type,
        |  CAST(6 AS BIGINT) AS files_read_day,
        |  (SELECT COUNT(*) FROM events WHERE event_type = 'click') AS n_click,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events WHERE event_type = 'click') AS sum_click,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 7 = 3) AS n_day3,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events WHERE event_id % 7 = 3) AS sum_day3""".stripMargin +
        orderByAll("n_files_total", "files_read_type", "files_read_day",
          "n_click", "sum_click", "n_day3", "sum_day3")),
    "q_table_partition_evolve_multi" ->
      ("""SELECT CAST(19 AS BIGINT) AS n_files_total,
        |  CAST(6 AS BIGINT) AS files_read_multi,
        |  CAST(7 AS BIGINT) AS files_read_day,
        |  CAST(15 AS BIGINT) AS files_read_type,
        |  (SELECT COUNT(*) FROM events
        |    WHERE event_id % 7 = 3 AND user_id % 2 = 0) AS n_d3b0,
        |  (SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    FROM events WHERE event_id % 7 = 3 AND user_id % 2 = 0) AS sum_d3b0,
        |  (SELECT COUNT(*) FROM events WHERE event_id % 7 = 3) AS n_day3,
        |  (SELECT COUNT(*) FROM events WHERE event_type = 'click') AS n_click""".stripMargin +
        orderByAll("n_files_total", "files_read_multi", "files_read_day",
          "files_read_type", "n_d3b0", "sum_d3b0", "n_day3", "n_click")),
    "q_table_stats_prune_ts" ->
      ("""SELECT CAST(8 AS BIGINT) AS n_files_total,
        |  CAST(2 AS BIGINT) AS n_files_read,
        |  (SELECT COUNT(*) FROM events WHERE value < 50.0) AS n_nulls_logged,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'""".stripMargin +
        orderByAll("n_files_total", "n_files_read", "n_nulls_logged",
          "n_rows", "sum_value")),
    "q_table_optimize_zorder" ->
      ("""WITH b AS (SELECT MAX(event_id) AS m, MAX(user_id) AS u FROM events)
        |SELECT CAST(8 AS BIGINT) AS files_before,
        |  CAST(8 AS BIGINT) AS files_read_before,
        |  CAST(8 AS BIGINT) AS files_after,
        |  CAST(1 AS BIGINT) AS files_read_after,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE event_id > m // 4 AND event_id <= m // 2
        |  AND user_id > u // 2 AND user_id <= u""".stripMargin +
        orderByAll("files_before", "files_read_before", "files_after",
          "files_read_after", "n_rows", "sum_value")),
    "q_sql_table_vacuum_hours" ->
      ("""SELECT CAST(2 AS BIGINT) AS retain_from,
        |  CAST(4 AS BIGINT) AS files_removed,
        |  CAST(1 AS BIGINT) AS files_kept,
        |  CAST(1 AS BIGINT) AS n_history_rows,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    AS sum_value
        |FROM events""".stripMargin +
        orderByAll("retain_from", "files_removed", "files_kept",
          "n_history_rows", "n_rows", "sum_value")),
    "q_sql_table_optimize_where" ->
      ("""SELECT CAST(3 AS BIGINT) AS head_version,
        |  CAST(COUNT(DISTINCT CASE WHEN event_id % 3 = 0 THEN event_type END)
        |     + COUNT(DISTINCT CASE WHEN event_id % 3 = 1 THEN event_type END)
        |     + COUNT(DISTINCT CASE WHEN event_id % 3 = 2 THEN event_type END)
        |    AS BIGINT) AS files_before,
        |  CAST(COUNT(DISTINCT CASE WHEN event_id % 3 = 0 THEN event_type END)
        |     + COUNT(DISTINCT CASE WHEN event_id % 3 = 1 THEN event_type END)
        |     + COUNT(DISTINCT CASE WHEN event_id % 3 = 2 THEN event_type END)
        |     - COUNT(DISTINCT CASE WHEN event_type = 'click' THEN event_id % 3 END)
        |     + 1 AS BIGINT) AS files_after,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'click' THEN event_id % 3 END)
        |    AS BIGINT) AS files_selected,
        |  CAST(1 AS BIGINT) AS files_staged,
        |  CAST(1 AS BIGINT) AS files_read_click,
        |  CAST(COUNT(DISTINCT CASE WHEN event_type = 'error' THEN event_id % 3 END)
        |    AS BIGINT) AS files_read_error,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
        |    AS sum_value
        |FROM events""".stripMargin +
        orderByAll("head_version", "files_before", "files_after",
          "files_selected", "files_staged", "files_read_click",
          "files_read_error", "n_rows", "sum_value")),
    "q_sql_table_clone" ->
      ("""SELECT CAST(1 AS BIGINT) AS head_clone,
        |  CAST(1 AS BIGINT) AS head_src,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_files_referenced,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_files_total,
        |  CAST(1 AS BIGINT) AS n_files_read,
        |  CAST(COUNT(DISTINCT event_type) - 1 AS BIGINT) AS files_carried,
        |  CAST(1 AS BIGINT) AS files_rewritten,
        |  CAST(0 AS BIGINT) AS n_local_before,
        |  CAST(1 AS BIGINT) AS n_local_after,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_err_rows,
        |  CAST(SUM(CASE WHEN event_type = 'click' AND event_id % 2 = 0
        |    THEN 0 ELSE 1 END) AS BIGINT) AS clone_n_rows,
        |  CAST(CAST(SUM(CASE WHEN event_type = 'click' AND event_id % 2 = 0
        |    THEN NULL ELSE CAST(value AS DECIMAL(18,4)) END) AS STRING) AS DOUBLE)
        |    AS clone_sum_value,
        |  CAST(COUNT(*) + SUM(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS src_n_rows
        |FROM events""".stripMargin +
        orderByAll("head_clone", "head_src", "n_files_referenced",
          "n_files_total", "n_files_read", "files_carried", "files_rewritten",
          "n_local_before", "n_local_after", "n_err_rows", "clone_n_rows",
          "clone_sum_value", "src_n_rows")),
    "q_sql_table_ctas" ->
      ("""SELECT CAST(1 AS BIGINT) AS head_version,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_files_total,
        |  CAST(1 AS BIGINT) AS n_files_read,
        |  COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(CAST(SUM(CASE WHEN event_type = 'click'
        |    THEN CAST(value AS DECIMAL(18,4)) END) AS STRING) AS DOUBLE) AS sum_click
        |FROM events WHERE event_id % 3 = 0""".stripMargin +
        orderByAll("head_version", "n_files_total", "n_files_read",
          "n_rows", "sum_value", "n_click", "sum_click")),
    "q_sql_table_constraints" ->
      ("""SELECT CAST(2 AS BIGINT) AS head_version,
        |  CAST(1 AS BIGINT) AS rejected,
        |  COUNT(*) + 1 AS n_rows,
        |  CAST(1 AS BIGINT) AS n_null_ids,
        |  CAST(0 AS BIGINT) AS n_negative,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) + CAST(0.5 AS DECIMAL(18,4))
        |    AS STRING) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin +
        orderByAll("head_version", "rejected", "n_rows", "n_null_ids",
          "n_negative", "sum_value")),
    "q_sql_table_history" ->
      ("""SELECT version, operation, n_files FROM (VALUES
        |  (CAST(0 AS BIGINT), 'append',  CAST(2 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'append',  CAST(4 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'compact', CAST(1 AS BIGINT)),
        |  (CAST(3 AS BIGINT), 'restore', CAST(4 AS BIGINT))
        |) AS t(version, operation, n_files)""".stripMargin +
        orderByAll("version", "operation", "n_files")),
    "q_sql_table_evolve" ->
      ("""WITH final AS (
        |  SELECT event_id, value, CAST(NULL AS BIGINT) AS grade
        |  FROM events WHERE event_id % 3 <> 0
        |  UNION ALL
        |  SELECT event_id, value, event_id % 5 AS grade
        |  FROM events WHERE event_id % 3 = 0
        |)
        |SELECT CAST(4 AS BIGINT) AS head_version,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN grade IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_grade,
        |  CAST(SUM(grade) AS BIGINT) AS sum_grade,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM final""".stripMargin +
        orderByAll("head_version", "n_rows", "n_null_grade",
          "sum_grade", "sum_value")),
    "q_sql_table_cdf" ->
      ("""WITH ch AS (
        |  SELECT 0 AS commit_version, 'insert' AS change_type, value
        |  FROM events WHERE user_id % 4 < 2
        |  UNION ALL SELECT 1, 'insert', value FROM events WHERE user_id % 4 >= 2
        |  UNION ALL SELECT 2, 'delete', value FROM events WHERE user_id % 4 = 1
        |  UNION ALL SELECT 3, 'update_preimage', value
        |  FROM events WHERE user_id % 4 = 2
        |  UNION ALL SELECT 3, 'update_postimage', value + 1000
        |  FROM events WHERE user_id % 4 = 2
        |  UNION ALL SELECT 3, 'insert', value FROM events WHERE user_id % 4 = 3)
        |SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM ch GROUP BY commit_version, change_type""".stripMargin +
        orderByAll("commit_version", "change_type", "n", "sum_value")),
    "q_table_cdf" ->
      ("""WITH ch AS (
        |  SELECT 0 AS commit_version, 'insert' AS change_type, value
        |  FROM events WHERE user_id % 4 < 2
        |  UNION ALL SELECT 1, 'insert', value FROM events WHERE user_id % 4 >= 2
        |  UNION ALL SELECT 2, 'delete', value FROM events WHERE user_id % 4 = 1
        |  UNION ALL SELECT 3, 'update_preimage', value
        |  FROM events WHERE user_id % 4 = 2
        |  UNION ALL SELECT 3, 'update_postimage', value + 1000
        |  FROM events WHERE user_id % 4 = 2
        |  UNION ALL SELECT 3, 'insert', value FROM events WHERE user_id % 4 = 3)
        |SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
        |  COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM ch GROUP BY commit_version, change_type""".stripMargin +
        orderByAll("commit_version", "change_type", "n", "sum_value")),
    "q_table_time_travel" ->
      ("""SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS STRING) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 3 <> 0
        |GROUP BY event_type""".stripMargin +
        orderByAll("event_type", "n", "n_users", "sum_value"))
  )
}
