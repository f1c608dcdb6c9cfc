package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]: the set-up work done
  * once (`warmS`, a warm-up pass over the timed code paths) and the
  * durations of the engine set-up repeated at fresh paths (`setupReps`),
  * in seconds; `e2e` and `layers` are metric name → value. */
final case class Outcome(warmS: Double, setupReps: Seq[Double],
    e2e: Map[String, Double], layers: Map[String, Double])

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val jobs: JobTracker, val work: String, val seed: Long,
    val seconds: Double, val trace: Boolean) {
  val problems = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  /** Count `n` attempted operations whose result `ok` vouches for; if it
    * is false or throws, all `n` failed. */
  def check(what: String, n: Long = 1)(ok: => Boolean): Boolean = {
    attempted += n
    val good = try ok catch {
      case e: Throwable =>
        problems += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!good) {
      failed += n
      if (problems.size < 20) problems += s"$what: wrong result"
    }
    good
  }

  /** Record a failure of `n` operations that threw before they could be checked. */
  def threw(what: String, n: Long, e: Throwable): Unit = {
    attempted += n
    failed += n
    if (problems.size < 20) problems += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
  }

  def nanos[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = body
    (a, System.nanoTime() - t0)
  }

  /** The tail of `xs`, logged with the percentile the sample size gives. */
  def tail(what: String, xs: Seq[Double]): Double = {
    val (p, v) = Stats.tail(xs)
    log(f"$what: tail is p$p%.1f of ${xs.size} samples")
    v
  }

  def drainListener(): Unit = org.apache.spark.ListenerDrain(spark.sparkContext)

  /** A progress line, stamped with seconds since JVM start. */
  def log(msg: String): Unit = println(f"[perfbench ${Main.sinceStartS()}%.1fs] $msg")
}

/** Layer accounting over the spans and jobs of a traced window. */
object Layers {
  val layers: Seq[String] = Seq("workload", "op", "trigger", "SchemaRegistry",
    "CommitLog", "GraftCatalog", "GraftSqlParser", "Dedup", "Similarity")

  final case class JobAgg(jobs: Int, tasks: Long, gcNs: Long, schedNs: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      inputBytes: Long, inputRecords: Long)

  /** Span id each finished job belongs to: its job group when the job
    * started inside that span, otherwise the innermost span open at the
    * job's start (pool threads reused by the engine can carry a stale
    * group). Returns the attribution and the count of re-attributed jobs. */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec]): (Map[Int, Seq[JobRec]], Int) = {
    val byId = spans.map(s => s.id -> s).toMap
    var moved = 0
    val pairs = jobs.flatMap { j =>
      val g = scala.util.Try(j.group.toInt).toOption.flatMap(byId.get)
      g match {
        case Some(s) if s.start <= j.start && j.start <= s.end => Some(s.id -> j)
        case _ =>
          val open = spans.filter(s => s.start <= j.start && j.start <= s.end)
          if (open.isEmpty) None
          else { moved += 1; Some(open.maxBy(_.start).id -> j) }
      }
    }
    (pairs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }, moved)
  }

  def descendants(spans: Seq[Span], root: Int): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(c => go(c.id))
    go(root)
  }

  def agg(js: Seq[JobRec]): JobAgg = JobAgg(js.size, js.map(_.tasks).sum,
    js.map(_.gcNs).sum, js.map(_.schedNs).sum, js.map(_.shuffleWriteBytes).sum,
    js.map(_.shuffleReadBytes).sum, js.map(_.spillBytes).sum,
    js.map(_.inputBytes).sum, js.map(_.inputRecords).sum)

  /** Jobs of a span and everything under it. */
  def jobsUnder(spans: Seq[Span], byspan: Map[Int, Seq[JobRec]], root: Int): Seq[JobRec] =
    descendants(spans, root).toSeq.flatMap(id => byspan.getOrElse(id, Nil))

  /** Wall of a span not covered by any Spark job under it (ms). */
  def gapMs(s: Span, js: Seq[JobRec]): Double =
    (s.dur - Intervals.covered(js.map(j => (j.start, j.end)), s.start, s.end)) / 1e6

  /** Every finished job, once the listener has seen all events. */
  def finishedJobs(ctx: Ctx): Seq[JobRec] = {
    ctx.drainListener()
    import scala.jdk.CollectionConverters._
    ctx.jobs.jobs.values().asScala.toSeq.filter(_.end > 0)
  }

  /** Self time per layer (s) and the `spark.*` runtime metrics over the
    * operation spans of the traced window. */
  def common(ctx: Ctx, spans: Seq[Span]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val (byspan, moved) = attribute(spans, finishedJobs(ctx))
    val self = Intervals.selfTimes(spans)
    val selfBy = layers.map(l => s"self.${l}_s" ->
      spans.filter(_.layer == l).map(s => self(s.id)).sum / 1e9).toMap
    val ops = spans.filter(s => s.layer == "op")
    val opJobs = ops.flatMap(o => jobsUnder(spans, byspan, o.id)).distinct
    val a = agg(opJobs)
    val opStages = opJobs.flatMap(_.stages).toSet
    val skews = ctx.jobs.shuffleStageRuns.asScala.toSeq.collect {
      case (st, runs) if opStages.contains(st) && runs.size >= 2 =>
        val m = Stats.median(runs.toSeq.map(_.toDouble))
        if (m > 0) runs.max / m else 1.0
    }
    val opWall = ops.map(_.dur).sum
    val opJobWall = ops.map(o => Intervals.covered(
      jobsUnder(spans, byspan, o.id).map(j => (j.start, j.end)), o.start, o.end)).sum
    selfBy ++ Map(
      "spark.jobs" -> a.jobs.toDouble,
      "spark.tasks" -> a.tasks.toDouble,
      "spark.job_wall_s" -> opJobWall / 1e9,
      "spark.driver_gap_s" -> (opWall - opJobWall) / 1e9,
      "spark.shuffle_write_bytes" -> a.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> a.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> a.spillBytes.toDouble,
      "spark.task_gc_s" -> a.gcNs / 1e9,
      "spark.sched_delay_s" -> a.schedNs / 1e9,
      "spark.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "trace.ops" -> ops.size.toDouble,
      "trace.spans" -> spans.size.toDouble,
      "trace.jobs_reattributed" -> moved.toDouble)
  }
}

object Env {
  /** (steal, total) jiffies of the host from the first /proc/stat line. */
  def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    } finally src.close()
  } catch { case _: Throwable => None }

  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => 0.0
    }
}

/** One benchmark run:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workdir> <source digest>`.
  * Prints the environment stamp, then the result object as the last line. */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "ingest" -> Ingest.run,
    "table_mix" -> TableMix.run,
    "llm_dedup" -> LlmDedup.run)

  /** Task slots of the session (`local[N]`). Every workload is bound by
    * the driver thread, not by task parallelism, and two slots leave the
    * other cores of a 4-core host to the driver, JIT and GC threads: other
    * load on the host then slows a run about half as much as at local[4]. */
  val taskSlots = 2

  def sinceStartS(): Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.catalog.bench", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.bench.base", new File(work, "catalog").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorExprs.register(s)
    s
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(x: String): String =
    "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Spark leaves non-daemon threads behind, so the process ends with
    * halt: 0 after the result line, 1 (and no result) on any failure. */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    Runtime.getRuntime.halt(code)
  }

  def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, digest) = args
    val fn = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val cpus = math.min(taskSlots, nproc)
    val steal0 = Env.cpuTicks()
    val spark = session(work, cpus)
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = sinceStartS()
    val jobs = new JobTracker
    spark.sparkContext.addSparkListener(jobs)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext, enabled = false), jobs,
      work, seedS.toLong, secondsS.toDouble, traceS == "1")
    val parallelism = spark.sparkContext.defaultParallelism
    ctx.log(f"session ready after $sessionS%.1f s")
    val out = fn(ctx)
    val steal = Env.stealShare(steal0, Env.cpuTicks())
    val setupS = sessionS + out.warmS + Stats.median(out.setupReps)
    val env = Map(
      "env.nproc" -> nproc.toDouble, "env.local_n" -> cpus.toDouble,
      "env.default_parallelism" -> parallelism.toDouble,
      "env.steal_share" -> steal,
      "env.xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "env.seed" -> ctx.seed.toDouble)
    ctx.problems.foreach(p => println(s"[perfbench] problem: $p"))
    println(s"""{"env":{"workload":${str(workload)},"seed":${ctx.seed},""" +
      s""""nproc":$nproc,"local":"local[$cpus]","default_parallelism":""" +
      s"""${env("env.default_parallelism").toLong},"steal_share":${num(steal)},""" +
      s""""xmx_mb":${env("env.xmx_mb").toLong},""" +
      s""""source_digest":${str(digest)},""" +
      s""""trace":${ctx.trace},"warm_s":${num(out.warmS)},"setup_reps_s":[${out.setupReps.map(num).mkString(",")}],""" +
      s""""session_s":${num(sessionS)}}}""")
    val metrics: Seq[(String, Double, String)] =
      if (!ctx.trace) {
        val e2e = out.e2e + ("setup_s" -> setupS)
        val missing = Spec.e2eUnits.keySet -- e2e.keySet
        require(missing.isEmpty, s"metrics not produced: ${missing.toSeq.sorted.mkString(", ")}")
        e2e.toSeq.map { case (k, v) => (k, v, Spec.e2eUnits(k)) }
      } else {
        val got = out.layers ++ env
        val missing = Spec.producedBy(workload) -- got.keySet
        require(missing.isEmpty, s"metrics not produced: ${missing.toSeq.sorted.mkString(", ")}")
        Spec.layer.map { case (k, u, _) => (k, got.getOrElse(k, 0.0), u) }
      }
    val body = metrics.sortBy(_._1).map { case (k, v, u) =>
      s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}"""
    }.mkString(",")
    val correct = ctx.failed == 0 && ctx.problems.isEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted)},""" +
      s""""failed":${ctx.failed},"metrics":{$body}}""")
  }
}
