package graft

import org.apache.spark.sql.functions._
import graft.functions.{SrpSignature, VectorExprs}
import graft.operators.Similarity
import graft.sources.Tables

/** Vector-similarity correctness (SURVEY.md §5.2.2/5.2.3). */
class SimilaritySpec extends SparkSpec {

  private lazy val vecs = {
    VectorExprs.register(spark)
    Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
  }

  test("srp_sig: interpreted and codegen paths equal the per-element hash formula") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // the signature as first written: one splitmix64 hash per
    // (table, bit, dim) of every row, summed in index order
    def reference(v: Array[Double], tables: Int, bits: Int): Seq[Long] =
      (0 until tables).map { t =>
        var key = 0L
        for (h <- 0 until bits) {
          var acc = 0.0
          for (i <- v.indices) {
            var z = ((t.toLong * bits + h) * 4099L + i) * 0x9e3779b97f4a7c15L
            z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
            z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
            z = z ^ (z >>> 31)
            acc += (if ((z & 1L) == 0L) v(i) else -v(i))
          }
          if (acc > 0) key |= (1L << h)
        }
        key
      }
    val rnd = new scala.util.Random(7)
    // dims alternate so one expression instance rebuilds its sign table
    val rows = Seq(1, 63, 64, 65, 64, 1, 65).flatMap(dim =>
      Seq.fill(3)(Array.fill(dim)(rnd.nextGaussian())))
    for ((tables, bits) <- Seq((32, 6), (32, 8))) {
      val e = SrpSignature(BoundReference(0, ArrayType(DoubleType, false), false), tables, bits)
      val proj = GenerateUnsafeProjection.generate(Seq(e))
      rows.foreach { v =>
        val row = InternalRow(new GenericArrayData(v.map(x => x: Any)))
        val want = reference(v, tables, bits)
        val interpreted = e.eval(row).asInstanceOf[GenericArrayData].toLongArray().toSeq
        val generated = proj(row).getArray(0).toLongArray().toSeq
        assert(interpreted === want, s"interpreted, dim ${v.length}, ($tables, $bits)")
        assert(generated === want, s"codegen, dim ${v.length}, ($tables, $bits)")
      }
    }
  }

  test("q_embed_pca: unit-norm loading whose Rayleigh quotient beats the init vector (r8)") {
    // the quantized power iteration must still do PCA's job: v₄ is a
    // unit vector capturing (much) more centered variance than v₀ —
    // checked against an exact in-memory covariance quadratic form
    val out = SparkEntry.queries("q_embed_pca")(spark, sf).collect()
      .map(r => r.getAs[Long]("dim") -> r.getAs[Double]("loading")).sortBy(_._1)
    assert(out.length === 64)
    val v = out.map(_._2)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, "loading not unit-norm")
    val data = vecs.collect().map(_.getAs[Seq[Double]]("v").toArray)
    val mu = Array.tabulate(64)(d => data.map(_(d)).sum / data.length)
    def rayleigh(u: Array[Double]): Double = {
      val q = data.map { x =>
        val dot = (0 until 64).map(d => (x(d) - mu(d)) * u(d)).sum
        dot * dot
      }.sum
      q / data.length
    }
    val v0 = Array.fill(64)(0.125)
    val r4 = rayleigh(v)
    val r0 = rayleigh(v0)
    assert(r4 > r0 * 1.05,
      s"power iteration did not climb the spectrum: R(v4)=$r4 vs R(v0)=$r0")
  }

  test("codegen cosine_sim is bit-identical to the HOF formulation") {
    val pairs = vecs.limit(40).select(col("vec_id").as("va"), col("v").as("a"))
      .crossJoin(vecs.limit(40).select(col("vec_id").as("vb"), col("v").as("b")))
      .withColumn("native", Similarity.cosine(col("a"), col("b")))
      .withColumn("hof", Similarity.cosineHof(col("a"), col("b")))
    assert(pairs.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("cosine range and symmetry") {
    val p = vecs.limit(30).select(col("v").as("a"))
      .crossJoin(vecs.limit(30).select(col("v").as("b")))
      .select(Similarity.cosine(col("a"), col("b")).as("ab"),
        Similarity.cosine(col("b"), col("a")).as("ba"))
    assert(p.filter(abs(col("ab")) > 1.0000001).count() === 0)
    assert(p.filter(col("ab") =!= col("ba")).count() === 0)
  }

  test("cosine contract: dimension mismatch raises, zero vector yields null") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val ex = intercept[Exception] {
      df.select(Similarity.cosine(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.contains("dimension mismatch") ||
      Option(ex.getCause).exists(_.getMessage.contains("dimension mismatch")))
    val z = Seq((Seq(0.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c")).collect()
    assert(z(0).isNullAt(0), "zero-vector cosine should be null, not NaN")
  }

  test("self-similarity is 1") {
    val p = vecs.select(Similarity.cosine(col("v"), col("v")).as("c"))
    assert(p.filter(abs(col("c") - 1.0) > 1e-12).count() === 0)
  }

  test("q_sim_ivf_probe over the persisted index equals the inline q_sim_ivf (r9)") {
    // same training, same probe selection, same scoring — the persisted
    // partitioned table must be a pure storage change, not a semantic one
    val inline0 = SparkEntry.queries("q_sim_ivf")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val probed = SparkEntry.queries("q_sim_ivf_probe")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(probed === inline0)
  }

  test("s_sim_index_build: every vector lands in exactly one cell partition (r9)") {
    val inv = SparkEntry.queries("s_sim_index_build")(spark, sf).collect()
    val total = inv.map(_.getAs[Long]("n_vectors")).sum
    val n = vecs.count()
    assert(total === n, s"index covers $total of $n vectors")
    assert(inv.length > 1 && inv.length <= 16, s"${inv.length} cells")
  }

  test("IVF probe search recall vs exact kNN") {
    val exact = SparkEntry.queries("q_sim_knn_query")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("q_sim_ivf")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf.size === exact.size)
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall over ${exact.size} true neighbors")
    info(s"IVF recall: $recall")
  }

  test("PQ ADC top-k recall vs exact l2 top-k") {
    // the search-side contract of q_embed_pq: asymmetric distance
    // (query subvector vs looked-up codebook centroid, summed over
    // subspaces) must rank true neighbors near the top — the 128-row
    // LUT + code-join IS the production ANN probe shape
    val dir = "/root/testdata/sf0.01"
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (codes, book) = graft.operators.Embeddings.pqTrain(e)
    val qid = 257L
    val qsub = e.filter(col("vec_id") === qid).select(posexplode(
      expr("transform(sequence(0, 15), sp -> slice(v, sp * 4 + 1, 4))")).as(Seq("sp", "qsv")))
    val lut = book.join(qsub, Seq("sp"))
      .select(col("sp"), col("cid"), expr("l2_dist_q(qsv, cv)").as("adc_q"))
    // candidate recall — the metric a quantized index actually ships
    // with: the ADC top-50 candidate set (then exact-reranked in a
    // real pipeline) must cover most of the exact top-10
    val adc = codes.join(broadcast(lut), Seq("sp", "cid"))
      .groupBy(col("vec_id")).agg(sum(col("adc_q")).as("adc"))
      .filter(col("vec_id") =!= qid)
      .orderBy(col("adc").asc, col("vec_id").asc).limit(50)
      .collect().map(_.getLong(0)).toSet
    val exact = e.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(e.filter(col("vec_id") === qid).select(col("v").as("qv"))))
      .select(col("vec_id"), expr("l2_dist_q(v, qv)").as("d"))
      .orderBy(col("d").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.count(adc.contains).toDouble / exact.size
    assert(recall >= 0.6, s"PQ ADC candidate recall (top50 vs exact10) $recall < 0.6")
    info(s"PQ ADC candidate recall: $recall")
  }

  test("IVFPQ composite recall vs exact cosine top-10 (r9)") {
    // the two-stage approximation (IVF probe loses cells, ADC loses
    // precision) must still surface most true neighbors after exact
    // rerank — measured 0.7 at sf0.01; pin the ≥0.6 floor the PQ
    // family uses
    val dir = "/root/testdata/sf0.01"
    val got = graft.SparkEntry.queries("q_sim_ivfpq")(spark, dir)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val e = graft.sources.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val exact = e.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(e.filter(col("vec_id") === 0L).select(col("v").as("qv"))))
      .select(col("vec_id"), expr("cosine_sim(v, qv)").as("c"))
      .orderBy(col("c").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVFPQ recall $recall < 0.6")
    info(s"IVFPQ recall: $recall")
  }

  test("blocked pair join reproduces the quadratic baseline exactly (top-k and τ=0.45)") {
    // q_sim_cosine_topk / q_dedup_embed route through blockedScoredPairs
    // (exact by construction: every unordered pair lands in exactly one
    // grid cell) — assert full equality with the naive va<vb self-join
    // at both test scales (the sf0.01 run is the correctness-gate scale).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val brute = e.select(col("vec_id").as("va"), col("v").as("a"))
        .join(e.select(col("vec_id").as("vb"), col("v").as("b")), col("va") < col("vb"))
        .withColumn("c", Similarity.cosine(col("a"), col("b")))
      val banded = Similarity.blockedScoredPairs(e)
      def top10(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.orderBy(col("c").desc, col("va"), col("vb")).limit(10)
          .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(top10(banded) === top10(brute), s"top-10 pairs diverged at $dir")
      def thresh(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.filter(col("c") >= 0.45).select("va", "vb")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = thresh(brute)
      assert(thresh(banded) === exact,
        s"τ=0.45 pairs diverged at $dir (${exact.size} exact pairs)")
    }
  }

  test("LSH bucketed recall: top exact pairs survive candidate generation") {
    // exact 15 nearest pairs by euclidean distance (brute force)
    val e = vecs
    val exact = e.select(col("vec_id").as("va"), col("v").as("a"))
      .join(e.select(col("vec_id").as("vb"), col("v").as("b")), col("va") < col("vb"))
      .withColumn("d", sqrt(aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)))
      .orderBy(col("d"), col("va"), col("vb")).limit(15)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshPairs(e, threshold = 100.0)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall < 0.8 (found ${lsh.size} candidates)")
  }

  test("int8 quantization: codes in [-127,127], max element hits ±127, " +
      "reconstruction error bounded by half a quantization step") {
    val q = SparkEntry.queries("q_embed_quantize")(spark, sf)
      .select(col("vec_id"), col("scale"), split(col("q_csv"), ",").cast("array<int>").as("q"))
    val joined = vecs.join(q, "vec_id")
      .select(col("vec_id"), col("scale"),
        zip_with(col("v"), col("q"), (x, c) => abs(x - c / col("scale"))).as("errs"),
        aggregate(col("q"), lit(0), (m, c) => greatest(m, abs(c))).as("max_code"))
    assert(joined.filter(col("max_code") =!= 127).count() === 0,
      "scale must map the max-|x| component to exactly ±127")
    // |x - q/scale| ≤ 0.5/scale (half a step), elementwise
    val bad = joined
      .filter(exists(col("errs"), e => e > lit(0.5000001) / col("scale")))
    assert(bad.count() === 0, "reconstruction error exceeds half a quantization step")
  }

  test("hard negatives: cell-scoped mining keeps >= 70% of global-exact hardness (r9)") {
    // mining needs sufficiently hard negatives, not the global argmax;
    // pin the hardness ratio of the cell-scoped picks against the
    // brute-force global top-3 (and sanity-check vs the random-negative
    // baseline, which sits near 0 on this near-orthogonal fixture)
    val mined = SparkEntry.queries("q_sim_hard_negatives")(spark, sf)
    val minedMean = mined.agg(avg(col("cosine"))).collect()(0).getDouble(0)
    val lab = Tables(spark, sf, "embeddings").select(col("vec_id"), col("label"))
    val ev = vecs.join(lab, "vec_id")
    val pairs = ev.select(col("vec_id").as("anchor"), col("label").as("la"), col("v").as("a"))
      .join(ev.select(col("vec_id").as("cand"), col("label").as("lb"), col("v").as("b")),
        col("anchor") =!= col("cand") && col("la") =!= col("lb"))
      .withColumn("c", Similarity.cosine(col("a"), col("b")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor")).orderBy(col("c").desc, col("cand"))
    val globalMean = pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).agg(avg(col("c"))).collect()(0).getDouble(0)
    val randomMean = pairs.agg(avg(col("c"))).collect()(0).getDouble(0)
    assert(minedMean >= 0.7 * globalMean,
      s"cell-scoped hardness $minedMean < 70% of global $globalMean")
    assert(minedMean > 100 * math.abs(randomMean),
      s"mined negatives $minedMean not meaningfully harder than random $randomMean")
  }

  test("index refresh: idempotent, watermark atomic; deletes tombstone, update re-cells, purge retires (r11)") {
    import graft.sources.{CommitLog, VectorIndex}
    val e = vecs.join(
      Tables(spark, sf, "embeddings").select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), col("v"))
    val corpus = java.nio.file.Files.createTempDirectory("graft_vir_c").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_vir_i").toString
    CommitLog.setTableProperty(corpus, "enableChangeDataFeed", "true")
    CommitLog.append(spark, corpus, e.filter(col("vec_id") % 2 === 0), nFiles = 1)
    val (assigned, cents) = Similarity.ivfTrain(CommitLog.read(spark, corpus, 0L))
    VectorIndex.create(spark, idx, corpus, 0L, assigned, cents)
    val aRoot = VectorIndex.assignedRoot(idx)
    def liveEqualsRebuild(tag: String): Unit = {
      val live = VectorIndex.postings(spark, idx).drop("gen")
      val full = VectorIndex.assignFrozen(
        CommitLog.read(spark, corpus, CommitLog.latestVersion(corpus).get), cents)
      assert(live.exceptAll(full).count() === 0 &&
        full.exceptAll(live).count() === 0,
        s"$tag: maintained index diverges from full reassignment")
      // manifest-carried cell counts (r14, VERDICT item 7): the
      // rebuild gate's balance comes from the MANIFEST and must
      // equal the postings-scan truth through the whole lifecycle
      val m = VectorIndex.manifestCellBalance(aRoot)
      val d = VectorIndex.detail(spark, idx)
        .select(col("cell_balance")).collect()(0).getDouble(0)
      assert(m.isDefined, s"$tag: no manifest cell counts recorded")
      assert(math.abs(m.get - d) < 1e-9,
        s"$tag: manifest balance ${m.get} != scan balance $d")
    }
    liveEqualsRebuild("after create")
    // no new source commits → publishes nothing, folds nothing
    val head0 = CommitLog.latestVersion(aRoot).get
    val (v0, n0, _) = VectorIndex.refresh(spark, idx)
    assert(v0 === head0 && n0 === 0L, s"no-change refresh published v$v0 ($n0 rows)")
    // an append folds exactly its rows; a SECOND refresh folds nothing
    // (the watermark rode the posting commit)
    CommitLog.append(spark, corpus, e.filter(col("vec_id") % 2 =!= 0), nFiles = 1)
    val (v1, n1, _) = VectorIndex.refresh(spark, idx)
    assert(n1 === e.filter(col("vec_id") % 2 =!= 0).count(), s"folded $n1")
    assert(v1 === head0 + 1, "refresh must be ONE posting commit")
    val (v2, n2, _) = VectorIndex.refresh(spark, idx)
    assert(v2 === v1 && n2 === 0L, "replayed refresh double-folded")
    liveEqualsRebuild("after appends")
    // a corpus DELETE folds as tombstones (cost ∝ deleted rows, no
    // posting rewrite) and the masked read drops exactly those vectors
    val nDel = CommitLog.read(spark, corpus, CommitLog.latestVersion(corpus).get)
      .filter(col("vec_id") % 7 === 3).count()
    CommitLog.delete(spark, corpus, col("vec_id") % 7 === 3)
    val (_, ins3, del3) = VectorIndex.refresh(spark, idx)
    assert(ins3 === 0L && del3 === nDel, s"tombstoned $del3, want $nDel")
    liveEqualsRebuild("after delete")
    // an UPDATE that moves a vector re-cells it: pre-image tombstones
    // the old posting, post-image appends the new one — only the
    // newest generation stays live
    CommitLog.update(spark, corpus, col("vec_id") === 2L,
      Seq("v" -> expr("transform(v, x -> -x)")))
    val (_, ins4, del4) = VectorIndex.refresh(spark, idx)
    assert(ins4 === 1L && del4 === 1L)
    liveEqualsRebuild("after update")
    assert(VectorIndex.postings(spark, idx)
      .filter(col("vec_id") === 2L).count() === 1L,
      "an updated vector must have exactly ONE live posting")
    // purge physically retires masked postings; reads stay identical
    val before = CommitLog.read(spark, aRoot,
      CommitLog.latestVersion(aRoot).get).count()
    val (purged, cleared) = VectorIndex.purge(spark, idx)
    assert(purged === nDel + 1 && cleared === nDel + 1,
      s"purged $purged / cleared $cleared, want ${nDel + 1}")
    assert(CommitLog.read(spark, aRoot,
      CommitLog.latestVersion(aRoot).get).count() === before - purged)
    liveEqualsRebuild("after purge")
    // and a purge with nothing to do publishes nothing
    assert(VectorIndex.purge(spark, idx) === ((0L, 0L)))
  }

  test("index auto-purge: threshold-crossing refresh retires tombstones; detail reports the signal (r12)") {
    import graft.sources.{CommitLog, VectorIndex}
    val e = vecs.join(
      Tables(spark, sf, "embeddings").select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), col("v"))
    val corpus = java.nio.file.Files.createTempDirectory("graft_vap_c").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_vap_i").toString
    CommitLog.setTableProperty(corpus, "enableChangeDataFeed", "true")
    CommitLog.append(spark, corpus, e, nFiles = 1)
    val (assigned, cents) = Similarity.ivfTrain(CommitLog.read(spark, corpus, 0L))
    VectorIndex.create(spark, idx, corpus, 0L, assigned, cents)
    val aRoot = VectorIndex.assignedRoot(idx)
    val tRoot = VectorIndex.tombstonesRoot(idx)
    def tombCount(): Long = CommitLog.latestVersion(tRoot)
      .filter(v => CommitLog.snapshotFiles(tRoot, v).nonEmpty)
      .map(v => CommitLog.read(spark, tRoot, v).count()).getOrElse(0L)
    // BELOW threshold: tombstones stand (explicit-REORG posture kept)
    CommitLog.setTableProperty(aRoot, "purgeThreshold", "0.9")
    val nSmall = CommitLog.read(spark, corpus,
      CommitLog.latestVersion(corpus).get).filter(col("vec_id") % 11 === 3).count()
    CommitLog.delete(spark, corpus, col("vec_id") % 11 === 3)
    VectorIndex.refresh(spark, idx)
    assert(tombCount() === nSmall,
      s"below-threshold refresh must NOT purge (${tombCount()} vs $nSmall)")
    val d1 = VectorIndex.detail(spark, idx).collect()(0)
    assert(d1.getAs[Long]("n_tombstones") === nSmall)
    assert(d1.getAs[Double]("tombstone_ratio") > 0.0)
    assert(d1.getAs[Double]("cell_balance") >= 1.0)
    // CROSSING the threshold: the refresh purges inline — tombstone
    // table empties, postings shrink, the live read is unchanged
    CommitLog.setTableProperty(aRoot, "purgeThreshold", "0.1")
    CommitLog.delete(spark, corpus, col("vec_id") % 3 === 1)
    VectorIndex.refresh(spark, idx)
    assert(tombCount() === 0L, "threshold-crossing refresh must auto-purge")
    val live = VectorIndex.postings(spark, idx).drop("gen")
    val full = VectorIndex.assignFrozen(
      CommitLog.read(spark, corpus, CommitLog.latestVersion(corpus).get), cents)
    assert(live.exceptAll(full).count() === 0 &&
      full.exceptAll(live).count() === 0,
      "auto-purged index diverges from full reassignment")
    // the physical posting table carries NO dead rows after auto-purge
    assert(CommitLog.read(spark, aRoot,
      CommitLog.latestVersion(aRoot).get).count() === live.count())
    val d2 = VectorIndex.detail(spark, idx).collect()(0)
    assert(d2.getAs[Long]("n_tombstones") === 0L)
    assert(d2.getAs[Double]("tombstone_ratio") === 0.0)
    // a malformed threshold disables instead of failing the refresh
    CommitLog.setTableProperty(aRoot, "purgeThreshold", "weekly")
    CommitLog.delete(spark, corpus, col("vec_id") % 13 === 5)
    VectorIndex.refresh(spark, idx) // must not throw
    assert(tombCount() > 0L, "malformed threshold must mean NO auto-purge")
  }

  test("codebook-drift auto-rebuild: skewed churn crosses rebuildThreshold, retrain restores balance, contents exact (r13)") {
    import graft.sources.{CommitLog, VectorIndex}
    val e = vecs.join(
      Tables(spark, sf, "embeddings").select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"), col("v"))
    val corpus = java.nio.file.Files.createTempDirectory("graft_vrb_c").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_vrb_i").toString
    CommitLog.setTableProperty(corpus, "enableChangeDataFeed", "true")
    CommitLog.append(spark, corpus, e, nFiles = 1)
    val (assigned, cents) = Similarity.ivfTrain(CommitLog.read(spark, corpus, 0L))
    VectorIndex.create(spark, idx, corpus, 0L, assigned, cents)
    val aRoot = VectorIndex.assignedRoot(idx)
    val cRoot = VectorIndex.centroidsRoot(idx)
    // a SKEWED append run: 200 near-identical vectors pile into one
    // frozen cell — the drift the telemetry was built to expose
    val base = e.filter(col("vec_id") === 1L).select(col("v").as("bv")).limit(1)
    // label matches the corpus column TYPE (embeddings' label is
    // integral — a string here would stage a mixed-type generation)
    val labelType = e.schema("label").dataType
    val skew = spark.range(100000L, 100200L).select(col("id").as("vec_id"))
      .crossJoin(broadcast(base))
      .select(col("vec_id"), lit(-1).cast(labelType).as("label"),
        expr("transform(bv, x -> CAST(x * 0.999 + vec_id * 1e-7 AS DOUBLE))").as("v"))
    CommitLog.append(spark, corpus, skew, nFiles = 1)
    VectorIndex.refresh(spark, idx) // no threshold yet: measure only
    val balSkew = VectorIndex.detail(spark, idx)
      .collect()(0).getAs[Double]("cell_balance")
    assert(balSkew > 1.5, s"skew fixture failed to drift the balance ($balSkew)")
    val liveBefore = VectorIndex.postings(spark, idx)
      .select(col("vec_id"), col("label"), col("v")).localCheckpoint()
    // threshold below the drifted balance → the NEXT refresh retrains
    CommitLog.setTableProperty(aRoot, "rebuildThreshold",
      (balSkew * 0.75).toString)
    val centsV0 = CommitLog.latestVersion(cRoot).get
    CommitLog.append(spark, corpus,
      skew.filter(col("vec_id") < 100010L)
        .withColumn("vec_id", col("vec_id") + 1000L), nFiles = 1)
    VectorIndex.refresh(spark, idx)
    assert(CommitLog.latestVersion(cRoot).get > centsV0,
      "threshold-crossing refresh must publish a NEW codebook")
    // contents preserved exactly: rebuild re-partitions, never edits —
    // the live set equals pre-rebuild live + the last batch
    val wantLive = liveBefore.unionByName(
      skew.filter(col("vec_id") < 100010L)
        .withColumn("vec_id", col("vec_id") + 1000L))
    val gotLive = VectorIndex.postings(spark, idx)
      .select(col("vec_id"), col("label"), col("v"))
    assert(gotLive.exceptAll(wantLive).count() === 0 &&
      wantLive.exceptAll(gotLive).count() === 0,
      "rebuild changed the index CONTENTS")
    // probe-over-rebuilt ≡ brute force: with every cell probed, the
    // rebuilt index's top-k is the exact top-k (completeness — no
    // vector lost or duplicated by the re-partitioning)
    graft.functions.VectorExprs.register(spark)
    val q = e.filter(col("vec_id") === 2L).select(col("v").as("qv")).limit(1)
    def topk(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.crossJoin(broadcast(q))
        .select(col("vec_id"),
          org.apache.spark.sql.functions.call_function(
            "cosine_sim", col("v"), col("qv")).as("c"))
        .orderBy(col("c").desc, col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSeq
    assert(topk(gotLive) === topk(wantLive),
      "probe over the rebuilt index diverges from brute force")
    // the retrain restored the balance and retired the mask
    val dAfter = VectorIndex.detail(spark, idx).collect()(0)
    assert(dAfter.getAs[Double]("cell_balance") < balSkew,
      s"rebuild did not restore balance: ${dAfter.getAs[Double]("cell_balance")} vs $balSkew")
    assert(dAfter.getAs[Long]("n_tombstones") === 0L)
  }
}
