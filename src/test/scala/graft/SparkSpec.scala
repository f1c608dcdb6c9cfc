package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs: UTC, small shuffle fan-out —
  * mirrors the driver's Verify config (SURVEY.md §0.1). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // fork-free local FS (r20): without libhadoop every local file
      // create/mkdir forks a chmod process — see graft.sources.LocalFs
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.VectorExprs.register(s)
    s
  }

  /** Spark jobs started while `body` runs, counted by a listener on a
    * tagged local property; a fence job after `body` flushes the bus. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val probe = "graft.test.jobProbe"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(probe))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(probe, "body")
      body
      sc.setLocalProperty(probe, "fence")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains("fence"), "listener never saw the fence job")
      seen.toArray.count(_ == "body")
    } finally {
      sc.setLocalProperty(probe, null)
      sc.removeSparkListener(listener)
    }
  }

  override def afterAll(): Unit = {
    // shared across suites in one JVM; do not stop
    super.afterAll()
  }
}
