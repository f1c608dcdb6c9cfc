package perfbench

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Runs every check; exits non-zero if any failed. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val good = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (good) "ok  " else "FAIL"} $name")
    if (!good) failures += 1
  }

  private def files(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk) else Seq(f)
    walk(new File(dir))
  }

  private def bytes(dir: String): Seq[(String, Seq[Byte])] =
    files(dir).map(f => f.getPath.stripPrefix(dir) -> Files.readAllBytes(f.toPath).toSeq)

  def main(args: Array[String]): Unit = {
    val work = new File(args(0)).getAbsolutePath

    check("tail percentile: the highest with at least ten samples beyond it") {
      Stats.tailPct(1000) == 99.0 && Stats.tailPct(100) == 90.0 &&
        Stats.tailPct(40) == 75.0 && Stats.tailPct(20) == 50.0 &&
        Stats.tailPct(19) == 50.0 && Stats.tailPct(5) == 50.0
    }
    check("tail value leaves exactly ten samples above it") {
      Seq(20, 30, 42, 100).forall { n =>
        val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
        xs.count(_ > Stats.tail(xs)._2) == 10
      } && Stats.tail(Seq(1.0, 2.0, 3.0, 4.0)) == ((50.0, 2.5))
    }
    check("interval union counts overlapping and out-of-range parts once") {
      Intervals.covered(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0L, 100L) == 50L &&
        Intervals.covered(Seq((0L, 10L), (10L, 20L)), 0L, 100L) == 20L &&
        Intervals.covered(Nil, 0L, 100L) == 0L
    }
    check("self time subtracts the union of direct children only") {
      val spans = Seq(
        Span(1, 0, 1, "op", "root", 0L, 100L),
        // two overlapping children, as from parallel jobs on pool threads
        Span(2, 1, 1, "CommitLog", "a", 10L, 30L),
        Span(3, 1, 1, "CommitLog", "b", 20L, 50L),
        Span(4, 3, 1, "GraftCatalog", "c", 25L, 45L),
        Span(5, 1, 1, "Dedup", "d", 90L, 100L))
      val self = Intervals.selfTimes(spans)
      self == Map(1 -> 50L, 2 -> 20L, 3 -> 10L, 4 -> 20L, 5 -> 10L) &&
        self.values.sum == 110L // = root 100 + the 10 the children overlap
    }

    val spark = Main.session(new File(work, "spark").getPath, 2)
    try {
      def gen(dir: String, seed: Long, rep: Int): Unit = {
        Gen.backlog(spark, dir, seed, rep, files = 3, rowsPerFile = 200, badShare = 0.05)
        Gen.lineitem(spark, dir, seed, rep, chunks = 2, ordersPerChunk = 50)
        Gen.corpus(spark, dir, seed, rep, docs = 200, families = 5, decoys = 5)
        Gen.vectors(spark, dir, seed, rep, n = 100, pairs = 5, eps = 0.1)
      }
      gen(s"$work/a", 7, 0)
      gen(s"$work/b", 7, 0)
      gen(s"$work/c", 8, 0)
      check("generator: same seed gives byte-identical inputs") {
        val (a, b) = (bytes(s"$work/a/inputs/ingest/s7"), bytes(s"$work/b/inputs/ingest/s7"))
        a.nonEmpty && a == b &&
          bytes(s"$work/a/inputs/table_mix/s7") == bytes(s"$work/b/inputs/table_mix/s7") &&
          bytes(s"$work/a/inputs/llm_dedup/s7") == bytes(s"$work/b/inputs/llm_dedup/s7")
      }
      check("generator: another seed gives different inputs") {
        Seq("ingest", "table_mix", "llm_dedup").forall { w =>
          bytes(s"$work/a/inputs/$w/s7").map(_._2) != bytes(s"$work/c/inputs/$w/s8").map(_._2)
        }
      }
      gen(s"$work/a", 7, 1)
      check("two repetitions share no input path") {
        Seq("ingest", "table_mix", "llm_dedup").forall { w =>
          val r0 = Gen.repDir(s"$work/a", w, 7, 0)
          val r1 = Gen.repDir(s"$work/a", w, 7, 1)
          val p0 = files(r0).map(_.getAbsolutePath).toSet
          val p1 = files(r1).map(_.getAbsolutePath).toSet
          p0.nonEmpty && p1.nonEmpty && (p0 & p1).isEmpty &&
            !r0.startsWith(r1 + "/") && !r1.startsWith(r0 + "/")
        }
      }
      check("planted corpus pairs sit on the intended side of J = 0.8") {
        val c = Gen.corpus(spark, s"$work/d", 3, 0, docs = 200, families = 5, decoys = 5)
        c.planted.size == 15 && c.decoys.size == 5 &&
          c.planted.forall { case (x, y) => LlmDedup.jaccard(c.texts(x), c.texts(y)) >= 0.8 } &&
          c.decoys.forall { case (x, y) =>
            val j = LlmDedup.jaccard(c.texts(x), c.texts(y)); j < 0.8 && j > 0.75 }
      }
    } finally spark.stop()

    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File("BENCHMARK.json"))
    check("BENCHMARK.json names the metrics, units and workloads the harness prints") {
      def pairs(key: String) = root.get(key).elements().asScala
        .map(n => n.get("name").asText() -> n.get("unit").asText()).toMap
      pairs("end_to_end") == Spec.e2eUnits &&
        pairs("per_layer") == Spec.layerUnits &&
        root.get("workloads").elements().asScala.map(_.get("name").asText()).toSet ==
          Main.workloads.keySet
    }
    check("run_seconds gives the sample counts the workload whys state") {
      val secs = root.get("run_seconds").asDouble()
      Ingest.drains(secs) * Ingest.files == 30 && TableMix.statements(secs) == 40 &&
        LlmDedup.reps(secs) == 2
    }
    if (failures > 0) println(s"$failures self-test(s) failed")
    else println("""{"selftest":"passed"}""")
    System.out.flush()
    Runtime.getRuntime.halt(if (failures > 0) 1 else 0)
  }
}
