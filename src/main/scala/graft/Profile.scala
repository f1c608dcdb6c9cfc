package graft

import java.util.Locale
import scala.collection.mutable

import org.apache.spark.scheduler._

/** Job-level profiler for one key (r19 optimization round).
  *
  * Runs the named keys once each (after a warm-up rep) with a listener
  * that records every Spark job's wall time and description, then
  * prints, per key: total wall, summed job wall, the driver-side gap
  * (wall − jobs — planning, commit I/O, manifest work), and the top
  * jobs by duration. This answers the guide §1 question — where does
  * the time actually go — at a granularity the bench can't.
  *
  * Usage: tools/run.sh graft.Profile k1[,k2] [warmups]
  */
object Profile {
  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  final case class JobRec(id: Int, desc: String, started: Long,
      var finished: Long = -1L, var tasks: Int = 0, var taskTimeMs: Long = 0L,
      var deserMs: Long = 0L, var runMs: Long = 0L, var gcMs: Long = 0L,
      var resultSerMs: Long = 0L, var schedDelayMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val keys = args.headOption
      .getOrElse(sys.error("usage: Profile k1[,k2] [warmups]"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val warmups = args.lift(1).map(_.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    val jobs = mutable.Map[Int, JobRec]()
    val execDesc = mutable.Map[Long, String]()
    var recording = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc.synchronized { execDesc(s.executionId) = s.description }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execDesc.synchronized { execDesc.get(id.toLong) })
          .orElse(e.stageInfos.lastOption.map { si =>
            val firstGraft = si.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("Profile"))
              .getOrElse("").trim
            s"${si.name.takeWhile(_ != ' ')} @ $firstGraft"
          })
          .getOrElse("")
        jobs.synchronized { jobs(e.jobId) = JobRec(e.jobId, d, e.time) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.finished = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          // attribute the task to the most recent unfinished job (local
          // mode runs keys single-threaded; good enough for profiling)
          jobs.values.toSeq.sortBy(-_.started)
            .find(j => j.finished < 0 || e.taskInfo.finishTime <= j.finished)
            .foreach { j =>
              j.tasks += 1
              val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
              j.taskTimeMs += wall
              Option(e.taskMetrics).foreach { m =>
                j.deserMs += m.executorDeserializeTime
                j.runMs += m.executorRunTime
                j.gcMs += m.jvmGCTime
                j.resultSerMs += m.resultSerializationTime
                j.schedDelayMs += math.max(0L, wall - m.executorDeserializeTime -
                  m.executorRunTime - m.resultSerializationTime)
              }
            }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    keys.foreach { k =>
      val fn = SparkEntry.queries.getOrElse(k, sys.error(s"unknown key $k"))
      (1 to warmups).foreach(_ => fn(spark, sfDir).count())
      jobs.synchronized(jobs.clear())
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      recording = false
      Thread.sleep(200) // let the listener bus drain
      val js = jobs.synchronized(jobs.values.toSeq.sortBy(_.started))
      val jobWall = js.filter(_.finished > 0)
        .map(j => (j.finished - j.started) / 1e3).sum
      println(s"\n=== $k wall=${num(wall)}s jobs=${js.size} " +
        s"jobWall=${num(jobWall)}s driverGap=${num(wall - jobWall)}s")
      // group by call site: count and total duration per site
      js.filter(_.finished > 0)
        .groupBy(_.desc)
        .map { case (d, g) =>
          (d, g.size, g.map(j => (j.finished - j.started) / 1e3).sum,
            g.map(_.tasks).sum, g.map(_.deserMs).sum / 1e3,
            g.map(_.runMs).sum / 1e3, g.map(_.gcMs).sum / 1e3,
            g.map(_.schedDelayMs).sum / 1e3) }
        .toSeq.sortBy(-_._3).take(30)
        .foreach { case (d, n, t, tk, de, ru, gc, sd) =>
          println(f"  n=$n%3d total=${num(t)}%8ss tasks=$tk%4d " +
            f"deser=$de%6.2f run=$ru%6.2f gc=$gc%5.2f sched=$sd%6.2f  ${d.take(80)}")
        }
    }
    spark.stop()
  }
}
