package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main — one JSON line on stdout, full detail in the
  * BENCH.json sidecar.
  *
  * Robustness contract (r6, after the r5 driver run recorded 406 s of
  * mostly external box load against a ~130 s floor):
  *
  *  - `BENCH_FLOORS.json` records each key's best observed solo
  *    seconds (monotone min, updated in place by every run), giving
  *    every key a noise yardstick that persists across rounds;
  *  - a key whose first run exceeds `floor * 3 + 0.5 s` is re-run to
  *    median-of-3, so one scheduler hiccup or a window of external
  *    load cannot write a 10× outlier into the round record — the
  *    extra cost is bounded by how many keys were actually inflated;
  *  - keys whose MEDIAN still exceeds the re-run threshold are
  *    re-measured ONCE MORE at end-of-run (r7: transient load windows
  *    have usually passed by the tail — both r6 driver flags were
  *    later proven ambient). A late in-band measurement becomes the
  *    key's record; a key stays in `flagged` only when the late
  *    re-measure ALSO exceeds threshold — sustained inflation is
  *    reported, never averaged away;
  *  - a throwing key lands in `errors` (stdout: names; sidecar: first
  *    exception line) — it can never hide inside a plausible total
  *    (the old behavior mapped a throw to a silent fast time);
  *  - `value` stays the sum of recorded per-key times (comparable
  *    across rounds); `wall` is the actual wall clock including
  *    re-runs;
  *  - hypervisor steal (/proc/stat field 8) is sampled around every
  *    key and the whole run: `steal_pct` on the stdout line, per-key
  *    `steal` entries (≥ 2%) in the sidecar — r6 measured burst
  *    windows slowing keys 8–14× with guest load ≈ 0, so a slow
  *    number without its steal share is unadjudicable.
  */
object Bench {
  /** Locale-stable 3-decimal format: f"$v%.3f" uses the JVM default
    * locale and emits `1,234` under comma-decimal locales (de_DE, ...),
    * which is invalid JSON and breaks the driver parse. */
  private def num(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  /** 3-decimal format rounded DOWN — floors must stay a monotone min
    * of observations, and %.3f's half-up would persist 0.0006 as
    * 0.001, slightly ABOVE the observed best (re-amplified 3× by
    * threshold()). */
  private def numDown(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(math.floor(v * 1000) / 1000))

  /** Minimal JSON string escape. Sidecar `errors` entries are raw
    * exception first-lines, which in Spark 4 routinely contain double
    * quotes ([UNRESOLVED_COLUMN] ... "name") — unescaped they would
    * malform BENCH.json exactly on the error path it exists to
    * surface. */
  private[graft] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }

  /** One measured key: every timed run (first + any re-runs), the
    * first error message seen if any run threw, and the hypervisor
    * steal share during the measurement (r6: steal bursts proved to
    * inflate keys 8–14× with guest load ≈ 0 — the number that
    * adjudicates whether a slow time is the engine or the host). */
  final case class KeyResult(name: String, times: List[Double],
      error: Option[String], stealPct: Double = 0.0,
      // set when late adjudication replaced an inflated sweep median:
      // the discarded sweep value, preserved for the sidecar record
      sweepMedian: Option[Double] = None) {
    def median: Double = { val s = times.sorted; s(s.size / 2) }
    def best: Double = times.min
  }

  /** (stealTicks, totalTicks) from a /proc/stat aggregate cpu line —
    * steal is field 8; separated from the file read for unit testing. */
  private[graft] def parseStealTicks(cpuLine: String): (Long, Long) = {
    val f = cpuLine.trim.split("\\s+").drop(1)
      .flatMap(x => scala.util.Try(x.toLong).toOption)
    (f.lift(7).getOrElse(0L), f.sum)
  }

  private def readSteal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try parseStealTicks(src.getLines().next()) finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  private def stealPctBetween(a: (Long, Long), b: (Long, Long)): Double = {
    val dTotal = b._2 - a._2
    if (dTotal <= 0) 0.0 else 100.0 * (b._1 - a._1) / dTotal.toDouble
  }

  /** Re-run trigger: floors absorb proportional noise on slow keys
    * (3×) and absolute jitter on sub-second keys (+0.5 s). */
  def threshold(floor: Double): Double = floor * 3 + 0.5

  private def timeOnce(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try { fn(spark, sfDir).count(); None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.next().take(160)}")
      }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** The measurement loop, separated from main so a poisoned registry
    * can be exercised in a unit test. Errors never trigger re-runs
    * (a deterministic throw would just throw thrice). */
  def measure(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      floors: Map[String, Double], maxRuns: Int = 3): Seq[KeyResult] =
    queries.map { case (name, fn) =>
      val s0 = readSteal()
      val (t1, e1) = timeOnce(spark, sfDir, name, fn)
      val suspicious = e1.isEmpty && floors.get(name).exists(f => t1 > threshold(f))
      val r0 =
        if (!suspicious) KeyResult(name, List(t1), e1)
        else {
          val more = (2 to maxRuns).map(_ => timeOnce(spark, sfDir, name, fn))
          KeyResult(name, t1 :: more.map(_._1).toList,
            (e1 ++ more.flatMap(_._2)).headOption)
        }
      val r = r0.copy(stealPct = stealPctBetween(s0, readSteal()))
      val steal = if (r.stealPct >= 5.0) f"  (steal ${r.stealPct}%.0f%%)" else ""
      val note = r.error.map(e => s"  ERROR $e")
        .getOrElse(if (r.times.size > 1)
          s"  (median of ${r.times.size}: ${r.times.map(num).mkString(", ")})" else "")
      System.err.println(f"[bench] $name%-28s ${r.median}%8.2fs$note$steal")
      r
    }

  /** End-of-run flag adjudication (r7; hardened r8). A key whose
    * median exceeded threshold during the sweep gets a late
    * MEDIAN-OF-3 re-measure after the tail: if that median is in-band,
    * the transient-window hypothesis is confirmed and the late median
    * replaces the inflated sweep median as the record; if it is still
    * past threshold (or throws), the original result — and its flag —
    * stand. r8: the re-measure is median-of-3 (a single late run is
    * maximally warm — memoized localCheckpoints, staged tables — and
    * one lucky instant run must not become the permanent record), and
    * the discarded sweep median ships in the sidecar (`adjudicated`)
    * so both values stay auditable. Late runs also never update
    * BENCH_FLOORS (main() floors from the sweep only). */
  def adjudicate(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      floors: Map[String, Double], results: Seq[KeyResult]): Seq[KeyResult] =
    results.map { r =>
      val flagged = r.error.isEmpty &&
        floors.get(r.name).exists(f => r.median > threshold(f))
      if (!flagged) r
      else queries.get(r.name).fold(r) { fn =>
        val s0 = readSteal()
        val runs = (1 to 3).map(_ => timeOnce(spark, sfDir, r.name, fn))
        val lateSteal = stealPctBetween(s0, readSteal())
        val late = KeyResult(r.name, runs.map(_._1).toList,
          runs.flatMap(_._2).headOption, lateSteal, Some(r.median))
        if (late.error.isEmpty && late.median <= threshold(floors(r.name))) {
          System.err.println(s"[bench] ${r.name} late re-measure in-band: " +
            s"median-of-3 ${num(late.median)}s (was sweep median ${num(r.median)}s) — flag cleared")
          late
        } else r
      }
    }

  def loadFloors(p: Path): Map[String, Double] =
    if (!Files.exists(p)) Map.empty
    else {
      val re = """"([^"]+)"\s*:\s*([0-9][0-9.Ee+-]*)""".r
      re.findAllMatchIn(Files.readString(p))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }

  def saveFloors(p: Path, floors: Map[String, Double]): Unit =
    Files.writeString(p, floors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + numDown(v) }
      .mkString("{\n", ",\n", "\n}\n"))

  /** `queries` may be a headline subset of the full run; `value` is
    * always the total across ALL keys and `count` says how many ran. */
  def jsonLine(rs: Map[String, Double], total: Double, count: Int, sfDir: String,
      wall: Double, errors: Seq[String], reruns: Int, flagged: Seq[String],
      stealPct: Double = 0.0, stealByKey: Map[String, Double] = Map.empty,
      adjudicated: Map[String, (Double, Double)] = Map.empty,
      // r20 (driver `suspect_cpus_ignored` flag): echo the core count
      // the run ACTUALLY used — `$SPARK_GRAFT_CPUS` feeds both
      // `master(local[$cpus])` and the shuffle fan-out, and emitting it
      // (plus the context's defaultParallelism as the witness) makes
      // the scaling contract self-evident in the one-line record.
      cpus: Int = 0, defaultParallelism: Int = 0): String = {
    def numMap(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    def strs(xs: Seq[String]) = xs.sorted.map("\"" + jsonEscape(_) + "\"").mkString("[", ",", "]")
    val steal = if (stealByKey.isEmpty) "" else s""""steal":${numMap(stealByKey)},"""
    // both sides of every late adjudication stay on the record: the
    // discarded sweep median AND the late median that replaced it
    val adj = if (adjudicated.isEmpty) "" else adjudicated.toSeq.sortBy(_._1)
      .map { case (k, (sw, lt)) => "\"" + k + "\":{\"sweep\":" + num(sw) + ",\"late\":" + num(lt) + "}" }
      .mkString("\"adjudicated\":{", ",", "},")
    val cores = if (cpus <= 0) ""
      else s""""cpus":$cpus,"default_parallelism":$defaultParallelism,"""
    s"""{"metric":"total","value":${num(total)},"unit":"sec","count":$count,$cores""" +
      s""""wall":${num(wall)},"steal_pct":${num(stealPct)},"errors":${strs(errors)},""" +
      s""""reruns":$reruns,"flagged":${strs(flagged)},$steal$adj"queries":${numMap(rs)},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect() // JVM/codegen warmup

    val floorsPath = Paths.get("BENCH_FLOORS.json")
    // floors are per-(sfDir, key): a run at another scale must neither
    // use nor overwrite this scale's floors (a sf0.001 floor would
    // mark every sf0.1 time suspicious and triple the driver's run)
    val rawFloors = loadFloors(floorsPath)
    val floors = rawFloors.collect {
      case (k, v) if k.startsWith(s"$sfDir|") => k.drop(sfDir.length + 1) -> v
    }
    // opt-in key filter (r14 — the quiet-window per-key A/B lever):
    // SPARK_GRAFT_BENCH_KEYS="k1,k2" restricts the sweep to those
    // keys for solo re-measurement; unset = the full run the driver
    // executes. Floors stay monotone mins either way.
    val keyFilter = sys.env.get("SPARK_GRAFT_BENCH_KEYS")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => keyFilter.forall(_.contains(kv._1)))
    val wall0 = System.nanoTime()
    val steal0 = readSteal()
    val measured = measure(spark, sfDir, selected, floors)
    // late flag adjudication runs inside the walled window — a cleared
    // key's late measurement IS its record, so wall must cover it
    val results = adjudicate(spark, sfDir, SparkEntry.queries, floors, measured)
    val wall = (System.nanoTime() - wall0) / 1e9
    val stealPct = stealPctBetween(steal0, readSteal())
    val stealByKey = results.filter(_.stealPct >= 2.0)
      .map(r => r.name -> r.stealPct).toMap

    val perKey = results.map(r => r.name -> r.median).toMap
    val total = perKey.values.sum
    val errors = results.filter(_.error.isDefined).map(_.name)
    val reruns = measured.count(_.times.size > 1)
    val flagged = results.filter(r =>
      r.error.isEmpty && floors.get(r.name).exists(f => r.median > threshold(f))).map(_.name)
    // floor = best clean observation ever, monotone min across runs —
    // computed from the SWEEP results only (r8): late adjudication runs
    // are maximally warm (memoized checkpoints, staged tables) and must
    // not set the permanent noise yardstick
    val newFloors = measured.filter(_.error.isEmpty)
      .map(r => r.name -> floors.get(r.name).fold(r.best)(math.min(_, r.best))).toMap
    try saveFloors(floorsPath,
      rawFloors ++ newFloors.map { case (k, v) => s"$sfDir|$k" -> v })
    catch { case _: Throwable => () }

    // Full per-key map goes to the sidecar file only: the driver captures
    // a bounded tail of stdout, and the 132-key map made the final line
    // ~5 KB — it started before the tail window and never parsed. The
    // stdout line carries the total plus a fixed headline subset.
    val errDetail = results.flatMap(r => r.error.map(e => r.name -> e))
    val adjDetail = results.flatMap(r =>
      r.sweepMedian.map(sw => r.name -> (sw, r.median))).toMap
    val nCpus = scala.util.Try(cpus.toInt).getOrElse(0)
    val defPar = spark.sparkContext.defaultParallelism
    try Files.writeString(Paths.get("BENCH.json"),
      jsonLine(perKey, total, results.size, sfDir, wall,
        errDetail.map { case (k, e) => s"$k: $e" }, reruns, flagged,
        stealPct, stealByKey, adjDetail, nCpus, defPar) + "\n")
    catch { case _: Throwable => () }

    val headline = Seq(
      "q_agg_group_pricing", "q_scan_filter_pushdown", "q_join_multiway",
      "q_sql_tpch_q3", "q_win_topk_group", "q_sessionize",
      "q_dedup_near_jaccard", "q_dedup_minhash", "q_sim_lsh_bucketed",
      "q_text_tfidf", "q_time_tumbling", "s_ingest_availablenow",
      "q_join_fuzzy", "s_stateful_zscore")
    val withQueries = jsonLine(perKey.view.filterKeys(headline.contains).toMap,
      total, results.size, sfDir, wall, errors, reruns, flagged, stealPct,
      cpus = nCpus, defaultParallelism = defPar)
    // Never throw on overflow: a too-long line degrades to total-only
    // (still driver-parseable) rather than rc!=0 with no stdout JSON.
    val compact =
      if (withQueries.length < 1800) withQueries
      else {
        System.err.println(s"[bench] headline line too long (${withQueries.length}), emitting total-only")
        jsonLine(Map.empty, total, results.size, sfDir, wall, errors, reruns,
          flagged, stealPct, cpus = nCpus, defaultParallelism = defPar)
      }
    spark.stop()
    // JSON is the LAST stdout line: after spark.stop() (Spark logs go to
    // stderr, but stop before printing anyway), explicitly flushed.
    println(compact)
    System.out.flush()
  }
}
