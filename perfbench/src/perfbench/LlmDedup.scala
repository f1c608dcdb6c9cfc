package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** `llm_dedup`: each repetition reads a fresh corpus and a fresh vector
  * set, then runs Dedup.nearDupPairs → Dedup.dedupClusters on the corpus
  * and Similarity.lshPairs on the vectors. Kernel- and shuffle-bound; it
  * never touches the commit log. */
object LlmDedup {
  val docs = 2000
  val families = 40
  val decoys = 40
  val vecs = 1000
  val vecPairs = 40
  val eps = 0.1
  val lshThreshold = 0.3
  /** Recall floor for planted vector neighbours (also in BENCHMARK.json). */
  val recallFloor = 0.95
  val setupReps = 3
  /** Timed repetitions per second of `--seconds`. The repetition count
    * follows from `--seconds` alone, never from the engine's speed; at
    * this rate a run times about `--seconds` on a 4-core host. */
  val repsPerSecond = 0.15

  def reps(seconds: Double): Int = math.max(2, math.round(seconds * repsPerSecond).toInt)

  /** Distinct word trigrams, the shingling Dedup documents. */
  def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }

  final case class Rep(pairsNs: Long, lshNs: Long,
      traced: Boolean, windows: Seq[(Long, Long)],
      pairs: Long, recall: Double)

  /** Time one operation, recording its window for job attribution. */
  private def timed[A](ctx: Ctx, name: String,
      windows: mutable.ArrayBuffer[(Long, Long)])(body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = ctx.tracer.span("op", name, isOp = true)(body)
    val t1 = System.nanoTime()
    windows += ((t0, t1))
    (a, t1 - t0)
  }

  /** One repetition's inputs, written at paths of its own. */
  final case class Inputs(i: Int, corpus: Gen.Corpus, vectors: Gen.Vectors)

  def inputs(ctx: Ctx, i: Int, nDocs: Int, nFam: Int, nDecoy: Int, nVecs: Int,
      nPairs: Int): Inputs =
    Inputs(i, Gen.corpus(ctx.spark, ctx.work, ctx.seed, i, nDocs, nFam, nDecoy),
      Gen.vectors(ctx.spark, ctx.work, ctx.seed, i, nVecs, nPairs, eps))

  def rep(ctx: Ctx, in: Inputs, checked: Boolean): Rep = {
    val s = ctx.spark
    val tr = ctx.tracer
    val (i, corpus, vectors) = (in.i, in.corpus, in.vectors)
    val d = s.read.parquet(corpus.path)
    val e = s.read.parquet(vectors.path)
    val windows = mutable.ArrayBuffer[(Long, Long)]()
    val ((pairs, clusters), pcNs) = timed(ctx, s"dedup r$i", windows) {
      (tr.span("Dedup", "nearDupPairs")(Dedup.nearDupPairs(d).collect()),
        tr.span("Dedup", "dedupClusters")(Dedup.dedupClusters(d).collect()))
    }
    val (lsh, lshNs) = timed(ctx, s"lsh r$i", windows) {
      tr.span("Similarity", "lshPairs")(
        Similarity.lshPairs(e, lshThreshold).select("va", "vb").collect())
    }
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = vectors.planted.count(found.contains).toDouble / vectors.planted.size
    if (checked) {
      ctx.check(s"llm_dedup r$i nearDupPairs") {
        corpus.planted.subsetOf(got) && corpus.decoys.forall(p => !got.contains(p)) &&
          got.forall { case (a, b) => jaccard(corpus.texts(a), corpus.texts(b)) >= 0.8 }
      }
      ctx.check(s"llm_dedup r$i dedupClusters") {
        val size = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
        corpus.families.forall(f => size.get(f.min).contains(f.size.toLong))
      }
      ctx.check(s"llm_dedup r$i lshPairs")(recall >= recallFloor)
    }
    Rep(pcNs, lshNs, tr.enabled, windows.toSeq, got.size.toLong, recall)
  }

  def run(ctx: Ctx): Outcome = {
    // set-up: one half-size warm-up repetition (without it the first
    // timed repetition ran about 30 % slower), then an eighth-size
    // repetition without planted near-duplicates (so the clustering loop
    // ends after one round) repeated at fresh paths; inputs are written
    // before the timer
    val warm = inputs(ctx, 999, docs / 2, families / 2, decoys / 2, vecs / 2, vecPairs / 2)
    val warmS = ctx.nanos(rep(ctx, warm, checked = false))._2 / 1e9
    val setup = (1 to setupReps).map { i =>
      val in = inputs(ctx, 1000 + i, docs / 8, 0, 0, vecs / 8, vecPairs / 8)
      ctx.nanos(rep(ctx, in, checked = false))._2 / 1e9
    }
    ctx.log(f"llm_dedup: set-up done, warm-up $warmS%.2f s")
    val n = reps(ctx.seconds)
    val ins = (0 until n).map(i => inputs(ctx, i, docs, families, decoys, vecs, vecPairs))
    ctx.log(s"llm_dedup: inputs of $n repetitions written")
    val done = ins.flatMap { in =>
      ctx.tracer.enabled = ctx.trace && in.i % 2 == 1
      try Some(ctx.tracer.span("workload", "llm_dedup")(rep(ctx, in, checked = true)))
      catch { case e: Throwable => ctx.threw(s"llm_dedup r${in.i}", 3, e); None }
      finally ctx.tracer.enabled = false
    }
    val windows = done.flatMap(_.windows)
    val jobs = Layers.finishedJobs(ctx).filter(j =>
      windows.exists { case (a, b) => j.start >= a && j.start <= b })
    val dedupMs = done.map(_.pairsNs / 1e6)
    val lshMs = done.map(_.lshNs / 1e6)
    val e2e = if (done.isEmpty) Map.empty[String, Double] else Map(
      "throughput_per_s" -> docs * done.size / (done.map(_.pairsNs).sum / 1e9),
      // too few repetitions for any tail above the median
      "op_p50_ms" -> Stats.median(dedupMs), "op_tail_ms" -> Stats.median(dedupMs),
      "op2_p50_ms" -> Stats.median(lshMs),
      "bytes_per_row" -> jobs.map(_.shuffleWriteBytes).sum.toDouble / ((docs + vecs) * done.size))
    ctx.log(s"llm_dedup: ${done.size} repetitions; dedup ms " +
      dedupMs.map(x => f"$x%.0f").mkString(" ") + "; lsh ms " + lshMs.map(x => f"$x%.0f").mkString(" "))
    val layers = if (!ctx.trace) Map.empty[String, Double] else traced(ctx, done, n)
    Outcome(warmS, setup, e2e, layers)
  }

  private def traced(ctx: Ctx, reps: Seq[Rep], lastRep: Int): Map[String, Double] = {
    val spans = ctx.tracer.spans
    val common = Layers.common(ctx, spans)
    val (byspan, _) = Layers.attribute(spans, Layers.finishedJobs(ctx))
    def med(xs: Seq[Double]): Double = Stats.medianOr0(xs)
    def named(n: String) = spans.filter(_.name == n)
    def jobsOf(sp: Span) = Layers.jobsUnder(spans, byspan, sp.id)
    val ndp = named("nearDupPairs")
    val cand = ndp.map(sp => jobsOf(sp).map(_.shuffleWriteRecords).sum.toDouble)
    val tr = reps.filter(_.traced)
    val untr = reps.filterNot(_.traced)
    val pairs = med(tr.map(_.pairs.toDouble))
    val overhead = if (tr.isEmpty || untr.isEmpty) 0.0
      else med(tr.map(r => (r.pairsNs + r.lshNs).toDouble)) /
        med(untr.map(r => (r.pairsNs + r.lshNs).toDouble)) - 1.0
    common ++ kernels(ctx, lastRep) ++ Map(
      "Dedup.nearDupPairs_s" -> med(ndp.map(_.dur / 1e9)),
      "Dedup.dedupClusters_s" -> med(named("dedupClusters").map(_.dur / 1e9)),
      "Dedup.candidate_shuffle_records" -> med(cand),
      "Dedup.pairs" -> pairs,
      "Dedup.pair_yield" -> (if (med(cand) > 0) pairs / med(cand) else 0.0),
      "Dedup.cluster_jobs" -> med(named("dedupClusters").map(jobsOf(_).size.toDouble)),
      "Similarity.lshPairs_s" -> med(named("lshPairs").map(_.dur / 1e9)),
      "Similarity.lsh_shuffle_records" ->
        med(named("lshPairs").map(sp => jobsOf(sp).map(_.shuffleWriteRecords).sum.toDouble)),
      "Similarity.lsh_recall" -> med(reps.map(_.recall)),
      "trace.overhead_frac" -> overhead)
  }

  /** Kernel cost per row: each codegen kernel over a cached frame, net of
    * the same aggregate without the kernel. */
  private def kernels(ctx: Ctx, rep: Int): Map[String, Double] = {
    val s = ctx.spark
    val copies = 20
    val corpus = Gen.corpus(s, ctx.work, ctx.seed, 3000 + rep, docs, families, decoys)
    val vectors = Gen.vectors(s, ctx.work, ctx.seed, 3000 + rep, vecs, vecPairs, eps)
    val reps = s.range(copies).toDF("copy")
    val d = s.read.parquet(corpus.path).crossJoin(reps)
      .select(split(col("text"), " ").as("toks"))
      .withColumn("sh", call_function("word_shingles", col("toks"), lit(3)))
      .withColumn("sh2", reverse(col("sh"))).cache()
    val v = s.read.parquet(vectors.path).crossJoin(reps)
      .select(col("v"), reverse(col("v")).as("v2")).cache()
    val (nd, nv) = (d.count(), v.count())
    def time(df: DataFrame, agg: Column): Double =
      Stats.median((1 to 5).map(_ => ctx.nanos(df.agg(agg).collect())._2.toDouble))
    def net(df: DataFrame, n: Long, kernel: Column, base: Column): Double =
      math.max(0.0, time(df, kernel) - time(df, base)) / n
    val out = Map(
      "VectorExprs.word_shingles_ns_per_row" -> net(d, nd,
        sum(size(call_function("word_shingles", col("toks"), lit(3)))), sum(size(col("toks")))),
      "VectorExprs.prefix_shingles_ns_per_row" -> net(d, nd,
        sum(size(call_function("prefix_shingles", col("sh"), lit(4), lit(5)))), sum(size(col("sh")))),
      "VectorExprs.minhash_sig_ns_per_row" -> net(d, nd,
        sum(element_at(call_function("minhash_sig", col("sh"), lit(64)), 1) % 7), sum(size(col("sh")) % 7)),
      "VectorExprs.intersect_count_ns_per_row" -> net(d, nd,
        sum(call_function("intersect_count", col("sh"), col("sh2"))), sum(size(col("sh")) + size(col("sh2")))),
      "VectorExprs.srp_sig_ns_per_row" -> net(v, nv,
        sum(element_at(call_function("srp_sig", col("v"), lit(32), lit(8)), 1) % 7), sum(size(col("v")) % 7)),
      "VectorExprs.cosine_sim_ns_per_row" -> net(v, nv,
        sum(call_function("cosine_sim", col("v"), col("v2"))), sum(size(col("v")) + size(col("v2")))))
    d.unpersist(); v.unpersist()
    out
  }
}
