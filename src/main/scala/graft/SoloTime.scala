package graft

import java.util.Locale

/** Quiet-window A/B timing harness (r19 optimization round).
  *
  * [[Bench]] measures every key ONCE (median-of-3 only on suspicion),
  * which is the driver's contract but far too noisy for adjudicating a
  * single optimization: solo single-shot readings on this box swing
  * ±50% with scheduler/steal windows. This main runs the NAMED keys N
  * times each inside one warm JVM and prints per-key min / median /
  * all readings — min-of-N in one process is the stable
  * floor-semantics yardstick the A/B needs. The timed action is the
  * same `.count()` Bench uses, so readings are comparable with
  * BENCH_FLOORS.json and the driver's numbers.
  *
  * Usage: tools/run.sh graft.SoloTime k1,k2 [reps]
  * (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS — the Bench contract)
  */
object SoloTime {
  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val keys = args.headOption
      .getOrElse(sys.error("usage: SoloTime k1,k2[,..] [reps]"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    keys.foreach { k =>
      val fn = SparkEntry.queries.getOrElse(k, sys.error(s"unknown key $k"))
      val ts = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$k rep $i")
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val sorted = ts.sorted
      println(s"[solo] $k min=${num(sorted.head)} " +
        s"median=${num(sorted(sorted.size / 2))} " +
        s"all=${ts.map(num).mkString(",")}")
    }
    spark.stop()
  }
}
