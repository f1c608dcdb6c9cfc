package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import graft.sources.{CommitLog, SchemaRegistry}

/** `ingest`: the paper's catch-up consume. Each repetition drains a fresh
  * backlog of Kafka-shaped frames files with one `Trigger.AvailableNow`
  * query (`maxFilesPerTrigger` 1). Every micro-batch decodes its payloads
  * through the schema registry with quarantine on and publishes the good
  * rows as commit-log version `batchId` (appendBatchPartitioned on
  * `event_type`). */
object Ingest {
  val files = 15
  val rowsPerFile = 1000
  val badShare = 0.01
  val setupFiles = 1
  val warmupFiles = 10
  val setupReps = 3
  /** Timed micro-batches per second of `--seconds`. The drain count
    * follows from `--seconds` alone, never from the engine's speed, so
    * every run takes its percentiles over the same number of batches; at
    * this rate a run times about `--seconds` on a 4-core host. */
  val batchesPerSecond = 2.0

  /** Drains a run times: at least two (30 batches), so the tail (ten
    * batches beyond it) sits above the median. */
  def drains(seconds: Double): Int =
    math.max(2, math.ceil(seconds * batchesPerSecond / files).toInt)

  val frameSchema: StructType = StructType(Seq(
    StructField("partition", IntegerType), StructField("offset", LongType),
    StructField("timestamp", TimestampType), StructField("value", BinaryType)))

  val triggerKeys: Seq[String] = Seq("latestOffset", "getBatch", "queryPlanning",
    "walCommit", "addBatch", "commitOffsets")

  final case class Drain(wallNs: Long, progress: Seq[StreamingQueryProgress],
      root: String, rows: Long, bytes: Long)

  def root(ctx: Ctx, rep: Int): String =
    new File(Gen.repDir(ctx.work, "ingest", ctx.seed, rep)).getAbsolutePath + "/table"

  /** Run one AvailableNow query over the backlog into a fresh table root,
    * with spans around the trigger loop, each micro-batch and each layer
    * call when tracing is on. Returns the finished query and its wall. */
  def query(ctx: Ctx, s: SparkSession, b: Gen.Backlog, rep: Int): (StreamingQuery, Long) = {
    val tr = ctx.tracer
    val table = root(ctx, rep)
    ctx.nanos {
      tr.span("trigger", s"drain r$rep") {
        val parent = tr.current
        val q = s.readStream.schema(frameSchema).option("maxFilesPerTrigger", 1)
          .parquet(b.dir).writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            tr.adopt(parent) {
              tr.span("op", s"batch $id", isOp = true) {
                val good = tr.span("SchemaRegistry", "decode") {
                  SchemaRegistry.decode(batch, "events", quarantine = true,
                    keep = Seq("partition", "offset"))
                    .filter(col(SchemaRegistry.corruptCol).isNull)
                    .drop(SchemaRegistry.corruptCol)
                }
                tr.span("CommitLog", "appendBatchPartitioned") {
                  CommitLog.appendBatchPartitioned(s, table, good,
                    partCol = "event_type", filesPerPartition = 1, batchId = id)
                }
              }
            }
            ()
          }
          .option("checkpointLocation", new File(table).getParent + "/checkpoint")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
    }
  }

  /** Drain one backlog, then check the table against the generator's
    * counts; None when the drain threw or a check failed. */
  def drain(ctx: Ctx, s: SparkSession, b: Gen.Backlog, rep: Int): Option[Drain] = {
    val table = root(ctx, rep)
    try {
      val (q, wall) = query(ctx, s, b, rep)
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val ok = ctx.check(s"ingest r$rep", progress.size.toLong) {
        val head = CommitLog.latestVersion(table)
        val got = CommitLog.read(s, table, head.get)
          .agg(count(lit(1)), sum(col("value"))).collect()(0)
        val checks = Seq(
          "batches" -> (progress.size == files(b)),
          "versions" -> (head.contains(files(b) - 1L)),
          // every frame is either committed or quarantined, so the good
          // row count also pins the quarantined count to the planted one
          "rows" -> (got.getLong(0) == b.goodRows),
          "value sum" -> (got.getDouble(1) == b.goodValueSum))
        checks.filterNot(_._2).foreach(c => ctx.log(s"ingest r$rep check failed: ${c._1}"))
        checks.forall(_._2)
      }
      if (!ok) None
      else Some(Drain(wall, progress, table, b.goodRows, dirBytes(new File(table))))
    } catch {
      case e: Throwable => ctx.threw(s"ingest r$rep", files(b), e); None
    }
  }

  private def files(b: Gen.Backlog): Int = b.files.size

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def batchMs(p: StreamingQueryProgress): Double =
    p.durationMs.get("triggerExecution").toDouble

  def run(ctx: Ctx): Outcome = {
    val s = ctx.spark
    def backlog(rep: Int, n: Int) =
      Gen.backlog(s, ctx.work, ctx.seed, rep, n, rowsPerFile, badShare)
    // set-up: a 10-file warm-up drain, then a short drain repeated at
    // fresh paths (query start, first commits). Batches keep speeding up
    // for about 20 batches after the first (JIT); a 2-file warm-up left
    // the first timed drain 20-37 % slower, the more so under other load.
    val warmS = query(ctx, s, backlog(999, warmupFiles), 999)._2 / 1e9
    val setup = (1 to setupReps).map { i =>
      val b = backlog(1000 + i, setupFiles)
      query(ctx, s, b, 1000 + i)._2 / 1e9
    }
    ctx.log(f"ingest: set-up done, warm-up $warmS%.2f s")
    val backlogs = (0 until drains(ctx.seconds)).map(rep => backlog(rep, files))
    ctx.log(s"ingest: ${backlogs.size} backlogs written")
    // traced runs alternate untraced and traced drains, so the
    // difference between the two is the tracing overhead
    val drained = backlogs.zipWithIndex.flatMap { case (b, rep) =>
      val traced = ctx.trace && rep % 2 == 1
      ctx.tracer.enabled = traced
      val d = ctx.tracer.span("workload", "ingest")(drain(ctx, s, b, rep))
      ctx.tracer.enabled = false
      d.map(_ -> traced)
    }
    val all = drained.map(_._1)
    val batches = all.flatMap(_.progress.map(batchMs))
    val walls = all.map(_.wallNs / 1e6)
    val rows = all.map(_.rows).sum
    val e2e = if (all.isEmpty) Map.empty[String, Double] else Map(
      "throughput_per_s" -> rows / (all.map(_.wallNs).sum / 1e9),
      "op_p50_ms" -> Stats.median(batches),
      "op_tail_ms" -> ctx.tail("ingest batches", batches),
      "op2_p50_ms" -> Stats.median(walls),
      "bytes_per_row" -> all.map(_.bytes).sum.toDouble / rows)
    all.foreach(d => ctx.log(s"ingest drain: ${d.wallNs / 1000000} ms, batches ms " +
      d.progress.map(p => batchMs(p).toLong).mkString(" ")))
    val layers = if (!ctx.trace) Map.empty[String, Double] else traced(ctx, drained)
    Outcome(warmS, setup, e2e, layers)
  }

  private def traced(ctx: Ctx, drains: Seq[(Drain, Boolean)]): Map[String, Double] = {
    val spans = ctx.tracer.spans
    val common = Layers.common(ctx, spans)
    val (byspan, _) = Layers.attribute(spans, Layers.finishedJobs(ctx))
    val tracedD = drains.filter(_._2).map(_._1)
    val untracedD = drains.filterNot(_._2).map(_._1)
    val prog = tracedD.flatMap(_.progress)
    def med(k: String): Double =
      Stats.medianOr0(prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val appends = spans.filter(_.layer == "CommitLog")
    val appendMs = appends.map(_.dur / 1e6)
    val appendJobs = appends.map(a => Layers.jobsUnder(spans, byspan, a.id))
    val last = tracedD.lastOption.orElse(untracedD.lastOption)
    val (manifestBytes, filesLive, versions) = last.map { d =>
      val head = CommitLog.latestVersion(d.root).get
      (new File(d.root, f"_graft_log/v$head%09d.json").length().toDouble,
        CommitLog.snapshotFiles(d.root, head).size.toDouble, head + 1.0)
    }.getOrElse((0.0, 0.0, 1.0))
    val overhead = if (tracedD.isEmpty || untracedD.isEmpty) 0.0
      else Stats.median(tracedD.flatMap(_.progress.map(batchMs))) /
        Stats.median(untracedD.flatMap(_.progress.map(batchMs))) - 1.0
    val decode = decodeNsPerRow(ctx)
    val baseline = local1Baseline(ctx)
    common ++ triggerKeys.map(k => s"trigger.${k}_ms" -> med(k)) ++ decode ++ baseline ++ Map(
      "trigger.batches" -> prog.size.toDouble,
      "CommitLog.append_p50_ms" -> Stats.medianOr0(appendMs),
      "CommitLog.append_tail_ms" -> (if (appendMs.isEmpty) 0.0 else Stats.tail(appendMs)._2),
      "CommitLog.append_jobs" -> Stats.medianOr0(appendJobs.map(_.size.toDouble)),
      "CommitLog.append_gap_ms" ->
        Stats.medianOr0(appends.zip(appendJobs).map { case (a, js) => Layers.gapMs(a, js) }),
      "CommitLog.manifest_bytes" -> manifestBytes,
      "CommitLog.files_live" -> filesLive,
      "CommitLog.files_per_version" -> filesLive / versions,
      "trace.overhead_frac" -> overhead)
  }

  /** Decode cost per row, net of a scan of the same cached frames. */
  private def decodeNsPerRow(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    val b = Gen.backlog(s, ctx.work, ctx.seed, 3000, files, rowsPerFile, badShare)
    val raw = s.read.schema(frameSchema).parquet(b.dir).cache()
    val n = raw.count()
    val decoded = SchemaRegistry.decode(raw, "events", quarantine = true)
    def time(df: => DataFrame): Double =
      Stats.median((1 to 5).map(_ => ctx.nanos(df.collect())._2.toDouble))
    val base = time(raw.agg(sum(length(col("value")))))
    val dec = time(decoded.agg(sum(col("value")), count(col(SchemaRegistry.corruptCol))))
    val bad = decoded.filter(col(SchemaRegistry.corruptCol).isNotNull).count()
    raw.unpersist()
    Map("SchemaRegistry.decode_ns_per_row" -> math.max(0.0, dec - base) / n,
      "SchemaRegistry.quarantined_frac" -> bad.toDouble / n)
  }

  /** The single-thread baseline: one more drain on a local[1] session. */
  private def local1Baseline(ctx: Ctx): Map[String, Double] = {
    ctx.drainListener()
    ctx.spark.stop()
    val s = Main.session(ctx.work, 1)
    val rep = 2000
    val b = Gen.backlog(s, ctx.work, ctx.seed, rep, files, rowsPerFile, badShare)
    val (q, wall) = query(ctx, s, b, rep)
    val head = CommitLog.latestVersion(root(ctx, rep))
    val got = CommitLog.read(s, root(ctx, rep), head.get).count()
    ctx.check("ingest local[1] baseline")(got == b.goodRows)
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(batchMs)
    Map("baseline.local1_rows_per_s" -> b.goodRows / (wall / 1e9),
      "baseline.local1_batch_p50_ms" -> Stats.medianOr0(batches))
  }
}
