package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a workload, an operation (one statement, one
  * micro-batch, one pipeline stage) or a call into an engine layer.
  * Times are System.nanoTime. `op` is the id of the operation span the
  * interval belongs to (0 outside any operation). */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** Interval arithmetic for spans and jobs. */
object Intervals {
  /** Total length of the union of `xs` clipped to [lo, hi]. Overlapping
    * intervals (parallel child spans, concurrent jobs) count once. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(cs, s.start, s.end))
    }.toMap
  }
}

/** Percentiles over a sample of timings. */
object Stats {
  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The median, or 0 for an empty sample (a layer the run never called). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest percentile with at least ten samples beyond it:
    * (n − 10) / n; p50 when fewer than 20 samples leave no higher one. */
  def tailPct(n: Int): Double = if (n >= 20) 100.0 * (n - 10) / n else 50.0

  /** (percentile, value) of the tail: the sample with exactly ten above
    * it, or the median for fewer than 20 samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size >= 20) (tailPct(xs.size), xs.sorted.apply(xs.size - 11))
    else (50.0, median(xs))
}

/** Per-job record filled by [[JobTracker]]. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  @volatile var end: Long = -1L
  var stages: Seq[Int] = Nil
  var tasks = 0L
  var gcNs = 0L
  var schedNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
}

/** Benchmark-owned listener: attributes every Spark job to the span
  * whose id was the thread's job group when the job was submitted. Job
  * and task times are converted to the System.nanoTime clock spans use. */
final class JobTracker extends SparkListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long) = ms * 1000000L + offsetNs
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  /** Task run times of stages that read shuffle output, for skew. */
  val shuffleStageRuns =
    new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val r = new JobRec(e.jobId, g, ns(e.time))
    r.stages = e.stageIds
    e.stageIds.foreach(st => stageJob.put(st, r))
    jobs.put(e.jobId, r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = ns(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (r != null && m != null) r.synchronized {
      r.tasks += 1
      r.gcNs += m.jvmGCTime * 1000000L
      val overhead = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      r.schedNs += math.max(0L, overhead) * 1000000L
      r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      r.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      r.inputBytes += m.inputMetrics.bytesRead
      r.inputRecords += m.inputMetrics.recordsRead
      if (m.shuffleReadMetrics.totalBlocksFetched > 0)
        shuffleStageRuns.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
          .synchronized { shuffleStageRuns.get(e.stageId) += m.executorRunTime }
    }
  }
}

/** Span recorder. With `enabled` false every call just runs its body, so
  * the end-to-end runs carry no tracing cost beyond one branch. */
final class Tracer(sc: SparkContext, @volatile var enabled: Boolean) {
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq.sortBy(_.start)
  }

  /** The span id jobs submitted now on this thread would be attributed to. */
  def current: Int = stack.get().headOption.map(_._1).getOrElse(0)

  /** Run `body` on this thread as if inside span `parent`: the
    * streaming foreachBatch body runs on the query's own thread, where
    * the caller's span stack is not visible. */
  def adopt[A](parent: Int)(body: => A): A =
    if (!enabled) body else {
      val outer = stack.get()
      stack.set(List((parent, 0)))
      try body finally stack.set(outer)
    }

  /** Record `body` as a span; `isOp` starts a new operation. Jobs the
    * body submits carry the span id as their job group. */
  def span[A](layer: String, name: String, isOp: Boolean = false)(body: => A): A =
    if (!enabled) body else {
      val outer = stack.get()
      val id = nextId.incrementAndGet()
      val (parent, parentOp) = outer.headOption.getOrElse((0, 0))
      val op = if (isOp) id else parentOp
      stack.set((id, op) :: outer)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, op, layer, name, t0, System.nanoTime()))
        stack.set(outer)
        if (parent == 0) sc.clearJobGroup()
        else sc.setJobGroup(parent.toString, "", interruptOnCancel = false)
      }
    }
}
