package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Streaming SOURCE over the [[CommitLog]] table — the read-side weld
  * between the streaming tier and the table layer (the public Delta
  * streaming-source design; s_table_stream_commit is the write-side
  * twin). The commit log's version numbers ARE the offset space, and
  * each micro-batch admits exactly ONE version (the natural batch
  * granule): a consumer reads each appended row exactly once,
  * checkpoints restart at an exact version boundary, a long backlog
  * drains as per-version batches (incremental checkpoint progress,
  * never one table-sized batch), and backfill-then-tail is one
  * unchanged query.
  *
  * Commit-kind semantics mirror the public source's:
  *   - "append" versions emit their added files;
  *   - data-neutral rewrites ("compact"/"optimize") are SKIPPED — a
  *     file-level diff across them would re-emit unchanged rows;
  *   - data-CHANGING rewrites ("delete"/"merge") FAIL the stream with
  *     a clear error unless `ignoreChanges=true` (emit the version's
  *     added files, accepting the documented re-emission of carried
  *     rows) or the query starts past them via `startingVersion`.
  *
  * Options: `path` (table root, required), `startingVersion` (first
  * version a FRESH checkpoint consumes; the recovery lever after a
  * vacuum dropped old manifests, and the Delta option of the same
  * name), `ignoreChanges`.
  *
  * Schema comes from the LOG when the table is schema-evolved (no
  * footer reads), else from the head snapshot. Segmented tables
  * (appendSegment) stream since r18 through
  * [[SegmentedTableMicroBatchStream]] — the admission unit is the
  * version's new segment. The per-file PartitionReader decodes parquet through
  * the parquet-hadoop Group API with a BY-NAME projection pushed into
  * the requested read schema (column pruning — unselected columns are
  * never decoded), and supports flat primitive schemas (long/int/
  * double/float/string/boolean/timestamp as INT64-µs or legacy INT96);
  * nested columns fail fast instead of mis-decoding. Pre-evolution
  * files (missing an added column) project nulls exactly like the
  * batch reader under the log schema.
  *
  * 100 TB posture: planning is pure log metadata — each planned batch
  * parses its version's manifest ONCE (op + file diff in one read,
  * never a directory listing); one input partition per added file
  * gives full read parallelism; a micro-batch's volume is one
  * version's delta, never the table. */
class TableStreamProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-table needs option(\"path\", <table root>)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = rootOf(options)
    val head = CommitLog.latestVersion(root).getOrElse(
      throw new IllegalArgumentException(s"graft-table: no commit log under $root"))
    // segmented tables stream since r18; their schema reads off the
    // manifest (recorded by every r17+ segment writer), with a
    // one-footer-per-segment union infer for pre-r17 legacy tables
    val base = CommitLog.snapshotSchemaOf(root, head).getOrElse {
      if (CommitLog.isSegmented(root, head)) {
        val files = CommitLog.segmentsOf(root, head)
          .flatMap(sr => CommitLog.segmentEntries(root, sr.path)._1.headOption)
          .map(f => new java.io.File(root, f).toString)
        require(files.nonEmpty,
          s"graft-table: $root has no recorded schema and no data files")
        // mergeSchema: one footer per segment only unions with it
        SparkSession.active.read.option("mergeSchema", "true")
          .parquet(files: _*).schema
      } else CommitLog.read(SparkSession.active, root, head).schema
    }
    // readChangeFeed=true (Delta's streaming-CDF option): the stream
    // IS the changelog, so the relation schema carries the two CDF
    // metadata columns
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      StructType(base.fields.toSeq :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("_commit_version", LongType))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // option keys keep the user's casing here — re-wrap so PATH /
    // Path resolve instead of silently streaming an empty ./ table
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftStreamTable(schema, rootOf(opts))
  }
}

class GraftStreamTable(tableSchema: StructType, root: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft-table($root)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val ignoreChanges =
      Option(options.get("ignoreChanges")).exists(_.toBoolean)
    val startingVersion =
      Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L)
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var projected: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        // preserve a deterministic projection; empty (count-only)
        // falls back to the narrowest single column
        projected =
          if (requiredSchema.fields.isEmpty)
            StructType(tableSchema.fields.take(1))
          else requiredSchema
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = projected
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          val segmented = CommitLog.latestVersion(root)
            .exists(v => CommitLog.isSegmented(root, v))
          if (Option(options.get("readChangeFeed")).exists(_.toBoolean)) {
            require(!segmented, "graft-table: readChangeFeed is not " +
              "supported on a SEGMENTED table — segments record no CDF " +
              "files (append-only; the plain stream IS the insert feed)")
            new TableCdfMicroBatchStream(root, projected, startingVersion)
          } else if (segmented)
            new SegmentedTableMicroBatchStream(root, projected,
              startingVersion, GraftStreamPrune.parse(options))
          else
            new TableMicroBatchStream(root, projected, ignoreChanges,
              startingVersion, GraftStreamPrune.parse(options))
        }
      }
    }
  }
}

/** Offset = last fully-delivered VERSION (startingVersion-1 = nothing
  * consumed yet). */
case class TableVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** Streaming PARTITION SUBSCRIPTION (r15): reader options
  * `partitionFilter.<col>` = comma-separated layout values (the
  * staged CAST-to-STRING text) restrict every admitted version to the
  * files whose RECORDED layout matches — a CDC consumer subscribed to
  * one partition of a 100 TB fact table reads that partition's delta
  * per trigger, not the version's. Same intersection semantics as the
  * batch prune: a file without a layout entry for a probed column is
  * UNPRUNABLE (always emitted — mixed-generation manifests stay
  * correct), so the option is file-level and advisory; pair it with
  * the equivalent row-level filter for exactness, exactly like batch
  * pushdown residuals. */
object GraftStreamPrune {
  def parse(options: CaseInsensitiveStringMap): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    options.asCaseSensitiveMap().asScala.toMap.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT)
          .startsWith("partitionfilter.") =>
        k.substring("partitionFilter.".length) ->
          v.split(',').map(_.trim).filter(_.nonEmpty).toSet
    }
  }
  /** Per-(root, version) planning accounting across a stream's
    * triggers: (candidate files, planned files) — the key's
    * observable witness that pruning happened at PLAN time. Keyed by
    * VERSION and overwritten on re-plan (Spark plans a micro-batch's
    * partitions more than once), so totals stay the deterministic
    * per-version sums. A diagnostic surface, not an engine input:
    * bounded to the most recent versions per root (a long-running
    * continuous stream must not grow driver memory without bound),
    * and concurrent streams with DIFFERENT subscriptions over one
    * root interleave last-writer-wins per version. */
  private val MaxVersions = 4096
  private val stats =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, (Long, Long)]]()
  /** One warning per (root, column): a partitionFilter suffix that no
    * generation's layout records prunes NOTHING (safe — pruning is
    * advisory — but the user asked for a subset and gets the full
    * firehose, so say so once instead of silently). */
  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[sources] def warnUnmatched(root: String, col: String): Unit =
    if (warned.add(s"$root#$col"))
      System.err.println(s"[graft-table] partitionFilter.$col matches no " +
        s"recorded layout column under $root — the subscription prunes " +
        "nothing (check the column name/casing)")
  def reset(root: String): Unit = { stats.remove(root); () }
  def record(root: String, version: Long, candidates: Int, planned: Int): Unit = {
    stats.merge(root, Map(version -> ((candidates.toLong, planned.toLong))),
      (a, b) => {
        val m = a ++ b
        if (m.size <= MaxVersions) m
        else m.toSeq.sortBy(_._1).takeRight(MaxVersions).toMap
      })
    ()
  }
  def totals(root: String): (Long, Long) =
    stats.getOrDefault(root, Map.empty).values
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}

class TableMicroBatchStream(root: String, schema: StructType,
    ignoreChanges: Boolean, startingVersion: Long,
    partFilters: Map[String, Set[String]] = Map.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def head: Long = CommitLog.latestVersion(root).getOrElse(-1L)

  // AvailableNow snapshots the head so the drain has a fixed end even
  // if writers keep committing during the run
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(head)

  override def initialOffset(): Offset = TableVersionOffset(startingVersion - 1)

  /** A widen commit is metadata-only for a reader whose pinned
    * projection ALREADY carries the post-widen types — a stream
    * started after the widen, or a RESTART of a stopped query (each
    * run re-infers the schema, so the restarted run pins the widened
    * one and resumes from its checkpoint): narrow files decode
    * exactly through the reader's upcast/rescale path, so the commit
    * is skipped like rename_column. Only a genuinely-narrow pin must
    * stop (r14, ADVICE — the unconditional throw made a widened
    * table permanently unstreamable from any startingVersion at or
    * below the widen). Metadata columns (_change_type,
    * _commit_version on the CDF stream) are the reader's own, never
    * the table's — excluded from the comparison. */
  protected def pinMatchesPostWiden(schema: StructType, v: Long): Boolean =
    CommitLog.snapshotSchemaOf(root, v).exists { post =>
      val byName = post.fields.map(f => f.name -> f.dataType).toMap
      schema.fields
        .filterNot(f => f.name == "_change_type" || f.name == "_commit_version")
        .forall(f => byName.get(f.name).contains(f.dataType))
    }
  override def latestOffset(): Offset =
    TableVersionOffset(availableNowEnd.getOrElse(head))
  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): admit
  // ONE VERSION per micro-batch — the natural granule. A backlog of N
  // versions drains as N batches with checkpoint progress after each,
  // never one table-sized batch whose mid-failure restarts the whole
  // backfill; AvailableNow loops until the prepared end.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TableVersionOffset].v
    val end = availableNowEnd.getOrElse(head)
    TableVersionOffset(math.min(s + 1, end))
  }
  override def deserializeOffset(json: String): Offset =
    TableVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TableVersionOffset].v
    val e = end.asInstanceOf[TableVersionOffset].v
    // one manifest parse per version: fold carries the previous
    // version's file set for the diff (op + files come from the same
    // read). Two vacuum-adjacent cases at the seed (r10):
    //   - a FRESH checkpoint at startingVersion = the retention floor
    //     (the documented recovery lever) finds manifest(s) vacuumed:
    //     seed EMPTY so the first admitted version emits its full
    //     listing — Delta's startingVersion semantics; without this
    //     the retained base snapshot could never be consumed, only
    //     versions >= retainFrom+1;
    //   - a RESUMED checkpoint whose offset predates the retention
    //     floor must fail with a NAMED error (not an opaque
    //     FileNotFound downstream): its next delta is unrecoverable,
    //     and silently emitting a full listing would duplicate every
    //     retained row into the sink.
    var before: Set[String] =
      if (s < 0) Set.empty
      else if (CommitLog.manifestExists(root, s))
        CommitLog.readManifest(root, s)._2.toSet
      else if (s == startingVersion - 1) Set.empty
      else throw new IllegalStateException(
        s"graft-table: checkpoint resumes at version ${s + 1} but " +
          s"version $s's manifest was vacuumed — the file diff is " +
          "unrecoverable. Start a FRESH checkpoint with " +
          "startingVersion at or above the vacuum retention floor.")
    ((s + 1) to e).flatMap { v =>
      val (op, rel) = CommitLog.readManifest(root, v)
      val files = rel.toSet
      val addedRel = rel.filterNot(before)
      before = files
      val added = op match {
        case "append" | "clone" => addedRel
        case "compact" | "optimize" => Nil // data-neutral rewrite: skip
        // a type widen changes the LOG schema: a NARROW pin must stop
        // (later appends may stage physically-wider files it cannot
        // decode — the public sources' schema-change contract), but a
        // pin already at the post-widen types passes through
        // unaffected (see pinMatchesPostWiden)
        case "widen" =>
          if (pinMatchesPostWiden(schema, v)) Nil
          else throw new IllegalStateException(
            s"graft-table: version $v widens a column type — this " +
              "stream's pinned schema no longer matches; restart the " +
              "query (the restarted run pins the widened schema and " +
              "resumes from its checkpoint), or start a fresh " +
              s"checkpoint with startingVersion=${v + 1}")
        // a rename is metadata-only AND physically invisible (column
        // mapping keeps parquet names immutable) — this stream's
        // pinned schema stays valid, skip. A DROP falls to `changing`:
        // files after it lack the column, silently null-filling an
        // in-flight aggregate — fail unless ignoreChanges
        case "rename_column" => Nil
        case changing =>
          if (ignoreChanges) addedRel
          else throw new IllegalStateException(
            s"graft-table: version $v is a '$changing' commit — a file " +
              "diff across a data-changing rewrite re-emits carried " +
              "rows; set ignoreChanges=true to accept that (the public " +
              s"sources' contract) or start a fresh checkpoint with " +
              s"startingVersion=${v + 1}")
      }
      // partition subscription (r15): prune the admitted delta by
      // each file's OWN recorded layout — unrecorded files stay
      // (must-read), so a translation gap only widens, never drops
      val planned =
        if (partFilters.isEmpty || added.isEmpty) added
        else {
          val aux = CommitLog.auxOf(root, v)
          // resolve subscription columns against the RECORDED layout
          // columns case-insensitively (r16, ADVICE — the option key
          // arrives through a case-preserving map, so
          // `partitionFilter.DAY` silently pruned nothing against a
          // `day` layout); a suffix matching NO recorded column warns
          // once instead of silently emitting the full firehose
          val recorded = (aux.partCol.toSeq.flatMap(_.split(',')) ++
            aux.layouts.values.flatMap(_.map(_._1))).toSet
          val byLower = recorded.groupBy(_.toLowerCase(java.util.Locale.ROOT))
          // two subscription keys resolving to ONE column (DAY + day)
          // INTERSECT — conjunction semantics; a last-write-wins map
          // would silently drop a filter (r16 review find)
          val resolved = partFilters.toSeq.map { case (c, vs) =>
            byLower.get(c.toLowerCase(java.util.Locale.ROOT)) match {
              case Some(cols) if cols.size == 1 => cols.head -> vs
              case Some(_) => c -> vs // ambiguous casing: keep verbatim
              case None => GraftStreamPrune.warnUnmatched(root, c); c -> vs
            }
          }.groupMapReduce(_._1)(_._2)(_ intersect _)
          val keep = added.filter { f =>
            aux.layoutOf(f) match {
              case Some(pairs) => pairs.forall { case (c, vv) =>
                resolved.get(c).forall(_.contains(vv)) }
              case None => true
            }
          }
          GraftStreamPrune.record(root, v, added.size, keep.size)
          keep
        }
      planned.map(f =>
        TableFilePartition(new java.io.File(root, f).toString, v))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TableFileReaderFactory(schema)
}

/** Streaming source over a SEGMENTED table (r18, VERDICT item 2 —
  * GraftCatalog's hard refusal lifted): large-scale ingest lands in
  * segments, and segments make the incremental reader structurally
  * SIMPLER than the flat one — each version appends exactly ONE
  * immutable segment and carries the prior refs verbatim, so the
  * per-version admission unit IS the new segment(s): diff the ref
  * path sets (one manifest parse), list the new segments' files (one
  * metadata read per new segment), emit one partition per file. No
  * data-changing / schema-changing commit kinds exist on segmented
  * tables (appendSegment[Partitioned] are the only writers), so the
  * flat source's ignoreChanges/widen machinery has nothing to do
  * here. Offsets are the same log versions; the vacuum-adjacent
  * resume rules mirror the flat source exactly. The `partitionFilter`
  * option is HONORED (r18 pin): admitted files prune by their
  * segment-recorded layout entries with the flat source's advisory
  * semantics — a file without an entry always emits, so a
  * subscription can only narrow what it provably may. */
class SegmentedTableMicroBatchStream(root: String, schema: StructType,
    startingVersion: Long, partFilters: Map[String, Set[String]] = Map.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def head: Long = CommitLog.latestVersion(root).getOrElse(-1L)
  @volatile private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(head)
  override def initialOffset(): Offset = TableVersionOffset(startingVersion - 1)
  override def latestOffset(): Offset =
    TableVersionOffset(availableNowEnd.getOrElse(head))
  // one VERSION (= one segment) per micro-batch, the flat source's
  // admission granule: a backlog drains with checkpoint progress
  // after each version, never as one table-sized batch
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TableVersionOffset].v
    val end = availableNowEnd.getOrElse(head)
    TableVersionOffset(math.min(s + 1, end))
  }
  override def deserializeOffset(json: String): Offset =
    TableVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TableVersionOffset].v
    val e = end.asInstanceOf[TableVersionOffset].v
    var before: Set[String] =
      if (s < 0) Set.empty
      else if (CommitLog.manifestExists(root, s))
        CommitLog.segmentsOf(root, s).map(_.path).toSet
      else if (s == startingVersion - 1) Set.empty
      else throw new IllegalStateException(
        s"graft-table: checkpoint resumes at version ${s + 1} but " +
          s"version $s's manifest was vacuumed — the segment diff is " +
          "unrecoverable. Start a FRESH checkpoint with " +
          "startingVersion at or above the vacuum retention floor.")
    ((s + 1) to e).flatMap { v =>
      val segs = CommitLog.segmentsOf(root, v)
      val added = segs.filterNot(sr => before(sr.path))
      before = segs.map(_.path).toSet
      // accumulate the version's (candidate, planned) accounting across
      // ALL its new segments and record ONCE — record() is keyed per
      // version last-writer-wins, so a per-segment record would lose
      // all but the last segment of a multi-segment batch (the vacuum
      // -floor seed admits many segments in one version — r18 review
      // find)
      var cand = 0
      var plan = 0
      val parts = added.flatMap { sr =>
        val files = CommitLog.segmentEntries(root, sr.path)._1
        val planned =
          if (partFilters.isEmpty) files
          else {
            // same advisory subscription semantics as the flat source:
            // resolve option suffixes against the RECORDED layout
            // columns case-insensitively, intersect duplicate keys,
            // warn once on a column no segment records
            val lay = CommitLog.segmentLayouts(root, sr.path)
            val recorded = lay.values.flatten.map(_._1).toSet
            val byLower = recorded.groupBy(_.toLowerCase(java.util.Locale.ROOT))
            val resolved = partFilters.toSeq.map { case (c, vs) =>
              byLower.get(c.toLowerCase(java.util.Locale.ROOT)) match {
                case Some(cols) if cols.size == 1 => cols.head -> vs
                case Some(_) => c -> vs // ambiguous casing: keep verbatim
                case None => GraftStreamPrune.warnUnmatched(root, c); c -> vs
              }
            }.groupMapReduce(_._1)(_._2)(_ intersect _)
            val keep = files.filter { f =>
              lay.get(f) match {
                case Some(pairs) => pairs.forall { case (c, vv) =>
                  resolved.get(c).forall(_.contains(vv)) }
                case None => true
              }
            }
            cand += files.size
            plan += keep.size
            keep
          }
        planned.map(f =>
          TableFilePartition(new java.io.File(root, f).toString, v))
      }
      if (partFilters.nonEmpty) GraftStreamPrune.record(root, v, cand, plan)
      parts
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TableFileReaderFactory(schema)
}

case class TableFilePartition(path: String, version: Long,
    dvPaths: Seq[String] = Nil) extends InputPartition

/** One KEY-GROUPED input partition (r15 storage-partitioned joins):
  * ALL surviving files of one partition-value tuple, each with its
  * deletion-vector sidecars. [[org.apache.spark.sql.connector.read.HasPartitionKey]]
  * is what lets Spark's planner prove two graft tables co-partitioned
  * on the join keys need NO exchange — `key` holds the tuple's
  * Catalyst-internal values (UTF8String / Int / Long / Boolean /
  * date-days), typed by the table schema's partition columns, so
  * Spark's partition-value grouping compares them natively. */
case class TableFilesPartition(files: Seq[(String, Seq[String])],
    version: Long, key: Array[Any]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(key)
}

class TableFileReaderFactory(schema: StructType) extends PartitionReaderFactory {
  /** One file, deletion vectors applied. Column mapping: project the
    * file's PHYSICAL names; InternalRow is positional, so rows
    * surface under the logical schema as-is. */
  private def fileReader(path: String, dvPaths: Seq[String]): PartitionReader[InternalRow] = {
    val base = new GroupParquetReader(path, CommitLog.physicalSchema(schema))
    if (dvPaths.isEmpty) base
    else {
      // deletion vectors: skip this file's masked row indexes while
      // counting physical rows — the sequential read order IS the
      // row_index coordinate the vectors record
      val skip = DvSidecar.skipSet(dvPaths, new java.io.File(path).getName)
      new PartitionReader[InternalRow] {
        private var idx = -1L
        override def next(): Boolean = {
          while (base.next()) {
            idx += 1
            if (!skip.contains(idx)) return true
          }
          false
        }
        override def get(): InternalRow = base.get()
        override def close(): Unit = base.close()
      }
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: TableFilePartition => fileReader(p.path, p.dvPaths)
      case g: TableFilesPartition =>
        // a key-grouped partition chains its files' readers lazily —
        // one open file at a time, same per-file masking
        new PartitionReader[InternalRow] {
          private val it = g.files.iterator
          private var cur: PartitionReader[InternalRow] = _
          override def next(): Boolean = {
            var res = false
            var done = false
            while (!done) {
              if (cur == null) {
                if (!it.hasNext) done = true
                else { val (p, dvs) = it.next(); cur = fileReader(p, dvs) }
              }
              if (!done) {
                if (cur.next()) { res = true; done = true }
                else { cur.close(); cur = null }
              }
            }
            res
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
    }
}

/** Loads a file's deletion-vector entries from dv/ sidecars (columns
  * f: data file name, i: physical row index) into a skip set — DV
  * volume ∝ deleted rows, executor-local and per-file. */
object DvSidecar {
  def skipSet(dvPaths: Seq[String], fileName: String): java.util.HashSet[java.lang.Long] = {
    val out = new java.util.HashSet[java.lang.Long]()
    val dvSchema = StructType(Seq(
      StructField("f", StringType), StructField("i", LongType)))
    dvPaths.foreach { dv =>
      val r = new GroupParquetReader(dv, dvSchema)
      try {
        while (r.next()) {
          val row = r.get()
          if (!row.isNullAt(0) && row.getUTF8String(0).toString == fileName)
            out.add(row.getLong(1))
        }
      } finally r.close()
    }
    out
  }
}

/** Row-by-row parquet decode via the parquet-hadoop Group API — flat
  * primitive schemas only (nested types fail fast). The requested
  * columns project BY NAME against each file's own schema, pushed into
  * the parquet read schema so unselected columns are never decoded;
  * pre-evolution files (missing an added column) project nulls exactly
  * like the batch reader under the log schema. Timestamps decode from
  * both INT64-µs (spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS)
  * and the INT96 legacy default (Julian day + nano-of-day). */
class GroupParquetReader(path: String, schema: StructType)
    extends PartitionReader[InternalRow] {
  import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
  import org.apache.parquet.hadoop.example.GroupReadSupport
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.schema.{MessageType, PrimitiveType}

  schema.fields.foreach { f =>
    require(f.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | StringType |
           BooleanType | TimestampType | TimestampNTZType => true
      // wide decimals (precision > 18, e.g. the IVM sum-of-squares at
      // DECIMAL(38,8)) decode through the byte-array branch below —
      // big-endian two's-complement, the parquet spec's encoding
      case d: org.apache.spark.sql.types.DecimalType => d.precision <= 38
      case _ => false
    }, s"graft-table reader supports flat primitive columns; '${f.name}' is ${f.dataType}")
  }

  // a COPY of the shared conf: its resources are already parsed, and
  // the read schema set below must not leak into other readers
  private val conf = new org.apache.hadoop.conf.Configuration(CommitLog.hadoopConf)
  private val hPath = new org.apache.hadoop.fs.Path(path)

  // column pruning: request only the selected fields, typed exactly as
  // THIS file stores them (a requested schema with foreign physical
  // types would fail; by-name subset of the file's own always matches)
  private val fileSchema: MessageType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(hPath, conf),
      CommitLog.footerReadOptions)
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }
  private val wanted = schema.fields.map(_.name).toSet
  private val requested: MessageType = {
    import scala.jdk.CollectionConverters._
    new MessageType(fileSchema.getName,
      fileSchema.getFields.asScala.filter(f => wanted(f.getName)).asJava)
  }
  conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
    requested.toString)

  private val reader: ParquetReader[Group] = ParquetReader
    .builder(new GroupReadSupport(), hPath).withConf(conf).build()
  private var current: Group = _

  override def next(): Boolean = { current = reader.read(); current != null }

  /** INT96 → micros-since-epoch: 12 bytes little-endian = nano-of-day
    * (8) + Julian day (4); 2440588 = the Unix epoch's Julian day. */
  private def int96Micros(bytes: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = bb.getLong
    val julianDay = bb.getInt
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }

  override def get(): InternalRow = {
    val g = current
    val gType = g.getType
    new GenericInternalRow(schema.fields.map { f =>
      val idx = if (gType.containsField(f.name)) gType.getFieldIndex(f.name) else -1
      if (idx < 0 || g.getFieldRepetitionCount(idx) == 0) null
      else f.dataType match {
        // TYPE WIDENING (r12): a file may store a NARROWER physical
        // type than the log schema requests (int32 under a widened
        // bigint, float under double) — decode by the file's physical
        // type and upcast, the same contract Spark's native parquet
        // readers honor for the batch path
        case LongType =>
          gType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
            case PrimitiveType.PrimitiveTypeName.INT32 =>
              g.getInteger(idx, 0).toLong
            case _ => g.getLong(idx, 0)
          }
        case IntegerType => g.getInteger(idx, 0)
        case DoubleType =>
          gType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
            case PrimitiveType.PrimitiveTypeName.FLOAT =>
              g.getFloat(idx, 0).toDouble
            case _ => g.getDouble(idx, 0)
          }
        case FloatType => g.getFloat(idx, 0)
        case BooleanType => g.getBoolean(idx, 0)
        case StringType => UTF8String.fromString(g.getString(idx, 0))
        case TimestampType | TimestampNTZType =>
          gType.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
            case PrimitiveType.PrimitiveTypeName.INT96 =>
              int96Micros(g.getInt96(idx, 0).getBytes)
            case _ => g.getLong(idx, 0) // INT64 micros
          }
        case d: org.apache.spark.sql.types.DecimalType =>
          // precision ≤ 18 stores the unscaled value: INT64 (Spark's
          // default) or INT32 for tiny precisions; byte-array-backed
          // decimals decode from big-endian two's-complement. The
          // unscaled value is at the FILE's recorded scale — under a
          // widened log schema (r12) that may be smaller than the
          // requested scale, so rescale exactly (scale growth only,
          // never lossy by the widening lattice).
          val pt = gType.getType(idx).asPrimitiveType()
          val fileScale = pt.getLogicalTypeAnnotation match {
            case dec: org.apache.parquet.schema.LogicalTypeAnnotation
              .DecimalLogicalTypeAnnotation => dec.getScale
            case _ => d.scale
          }
          val unscaled = pt.getPrimitiveTypeName match {
            case PrimitiveType.PrimitiveTypeName.INT64 =>
              java.math.BigDecimal.valueOf(g.getLong(idx, 0), fileScale)
            case PrimitiveType.PrimitiveTypeName.INT32 =>
              java.math.BigDecimal.valueOf(g.getInteger(idx, 0).toLong, fileScale)
            case _ =>
              new java.math.BigDecimal(
                new java.math.BigInteger(g.getBinary(idx, 0).getBytes),
                fileScale)
          }
          org.apache.spark.sql.types.Decimal(
            unscaled.setScale(d.scale), d.precision, d.scale)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
    }.toArray[Any])
  }

  override def close(): Unit = reader.close()
}

/** Streaming CHANGE-DATA-FEED (r10) — `readStream.format("graft.sources
  * .TableStreamProvider").option("readChangeFeed", "true")`, the Delta
  * streaming-CDF surface: each micro-batch delivers version v's
  * row-level changes, tagged `_change_type` + `_commit_version`.
  * Per-version sources mirror the batch changesRows contract exactly:
  * appends replay their added files insert-tagged (zero extra
  * storage), delete/merge/overwrite replay the cdf/ files their CoW
  * commit recorded (type read from the file), compact/optimize are
  * data-neutral and emit nothing, a version from a CDF-disabled
  * writer fails with the enableChangeDataFeed error, and restore
  * REFUSES (its changelog is a snapshot diff — derivable in batch,
  * not as a file-sourced stream; start a fresh checkpoint past it).
  * Offsets are the same log versions as the plain stream, so the
  * incremental-consumer checkpointing story is unchanged. */
class TableCdfMicroBatchStream(root: String, schema: StructType,
    startingVersion: Long)
    extends TableMicroBatchStream(root, schema, ignoreChanges = false,
      startingVersion) {

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TableVersionOffset].v
    val e = end.asInstanceOf[TableVersionOffset].v
    var before: Set[String] =
      if (s < 0) Set.empty
      else if (CommitLog.manifestExists(root, s))
        CommitLog.readManifest(root, s)._2.toSet
      else if (s == startingVersion - 1) Set.empty
      else throw new IllegalStateException(
        s"graft-table CDF: checkpoint resumes at version ${s + 1} but " +
          s"version $s's manifest was vacuumed — the changelog is " +
          "unrecoverable. Start a FRESH checkpoint with startingVersion " +
          "at or above the vacuum retention floor.")
    ((s + 1) to e).flatMap { v =>
      val (op, rel) = CommitLog.readManifest(root, v)
      val addedRel = rel.filterNot(before)
      before = rel.toSet
      op match {
        case "append" | "clone" =>
          addedRel.map(f => TableCdfPartition(
            new java.io.File(root, f).toString, v, inject = "insert"): InputPartition)
        case "compact" | "optimize" => Nil
        case "rename_column" => Nil // metadata-only; physical layout unchanged
        case "widen" =>
          if (pinMatchesPostWiden(schema, v)) Nil
          else throw new IllegalStateException(
            s"graft-table CDF: version $v widens a column type — this " +
              "stream's pinned schema no longer matches; restart the " +
              "query (the restarted run pins the widened schema and " +
              "resumes from its checkpoint), or start a fresh " +
              s"checkpoint with startingVersion=${v + 1}")
        case "drop_column" => throw new IllegalStateException(
          s"graft-table CDF: version $v drops a column — this stream's " +
            "pinned schema no longer matches; start a fresh checkpoint " +
            s"with startingVersion=${v + 1}")
        case "restore" => throw new IllegalStateException(
          s"graft-table CDF: version $v is a restore — its changelog is " +
            "a snapshot diff (CommitLog.changesRows serves it in batch); " +
            s"start a fresh checkpoint with startingVersion=${v + 1}")
        case changing =>
          CommitLog.cdfFilesOf(root, v) match {
            case Some(fs) => fs.map(f => TableCdfPartition(
              new java.io.File(root, f).toString, v, inject = null): InputPartition)
            case None => throw new IllegalStateException(
              s"graft-table CDF: version $v is a '$changing' commit " +
                "without recorded changes — set table property " +
                "enableChangeDataFeed=true before data-changing commits")
          }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TableCdfReaderFactory(schema)
}

case class TableCdfPartition(path: String, version: Long, inject: String)
    extends InputPartition

/** Reads a data or cdf file and serves the projected columns plus the
  * two CDF metadata columns: `_commit_version` comes from the
  * partition, `_change_type` from the file when it records one (cdf
  * files do) or the partition's injected tag (append files →
  * "insert"). Column pruning still reaches the parquet read schema
  * for the data columns. */
class TableCdfReaderFactory(projected: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[TableCdfPartition]
    val dataCols = projected.fields.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version")
    val wantType = projected.fieldNames.contains("_change_type")
    // column mapping: cdf and data files store PHYSICAL names; the
    // inner reader projects those, rows map back positionally
    val physData = dataCols.map(f =>
      StructField(CommitLog.physicalName(f), f.dataType, f.nullable))
    val readSchema = StructType(
      if (wantType) physData.toSeq :+ StructField("_change_type", StringType)
      else physData.toSeq)
    val idxOf: Map[String, Int] = dataCols.map(_.name).zipWithIndex.toMap
    val inner = new GroupParquetReader(p.path, readSchema)
    val typeIdx = if (wantType) readSchema.length - 1 else -1
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val row = inner.get()
        new GenericInternalRow(projected.fields.map { f =>
          f.name match {
            case "_commit_version" => p.version
            case "_change_type" =>
              val fromFile = row.get(typeIdx, StringType)
              if (fromFile != null) fromFile
              else if (p.inject != null) UTF8String.fromString(p.inject)
              else null
            case n => row.get(idxOf(n), f.dataType)
          }
        }.toArray[Any])
      }
      override def close(): Unit = inner.close()
    }
  }
}
