package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Text}
import graft.sources.Tables

/** Dedup-family correctness (SURVEY.md §5.2.3): exact near-dup join
  * self-consistency, MinHash-LSH recall vs exact ground truth, SimHash
  * fingerprint invariants. */
class DedupSpec extends SparkSpec {

  test("exact dedup is idempotent: survivors have no duplicate hashes") {
    val out = SparkEntry.queries("q_dedup_exact")(spark, sf)
    val n = out.count()
    assert(out.select("content_hash").distinct().count() === n)
  }

  test("near-jaccard pairs all meet the threshold and are canonical (da < db)") {
    val pairs = Dedup.nearDupPairs(Tables(spark, sf, "documents"))
    assert(pairs.filter(col("jaccard") < 0.8).count() === 0)
    assert(pairs.filter(col("da") >= col("db")).count() === 0)
  }

  test("minhash-LSH recall vs exact jaccard ground truth >= 0.9") {
    val d = Tables(spark, sf, "documents")
    val exact = Dedup.nearDupPairs(d)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(exact.nonEmpty, "fixture has no planted near-dups at this sf")
    val mh = Dedup.minhashPairs(d, simThreshold = 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(mh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"minhash recall $recall on ${exact.size} true pairs")
  }

  test("banded simhash join equals brute force (pigeonhole exactness)") {
    val d = Tables(spark, sf, "documents")
    val banded = SparkEntry.queries("q_dedup_simhash")(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sig = d.select(col("doc_id"), Text.simhash64(col("text")).as("sig"))
    val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= 6)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded === brute)
  }

  test("large-star/small-star cuts a 4096-node chain in O(log n) rounds, not diameter") {
    // worst-case diameter graph: a single path 0-1-2-...-4095. Plain
    // min-label propagation (the r5 implementation) needs 4095 rounds
    // here; the contraction must land every node on label 0 within a
    // handful. The bound is the spec's scale claim — a 100 TB web
    // corpus's boilerplate dup CHAINS are exactly this shape.
    val n = 4096L
    val chain = spark.range(n - 1).toDF("da")
      .select(col("da"), (col("da") + 1).as("db"))
    val (stars, rounds) = Dedup.connectedComponents(chain)
    // measured: 13 rounds = log2(4096) + convergence check — each
    // large/small-star pass halves the remaining path length. Bound at
    // log2(n) + 2; the diameter-bound algorithm would need n - 1.
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    assert(rounds <= log2n + 2, s"chain of $n took $rounds rounds (diameter-bound?)")
    val labels = stars.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length === (n - 1), "every non-root node gets exactly one star edge")
    assert(labels.forall(_._2 === 0L), "all labels must be the component min (0)")
  }

  test("connected components starts exactly one Spark job per round") {
    val n = 4096L
    val chain = spark.range(n - 1).toDF("da")
      .select(col("da"), (col("da") + 1).as("db"))
    var rounds = 0
    val jobs = jobsOf { rounds = Dedup.connectedComponents(chain)._2 }
    assert(rounds === 13)
    assert(jobs === rounds, s"$jobs jobs for $rounds rounds")
  }

  test("clusterLabels: every doc once, labels = union-find over the pairs") {
    import spark.implicits._
    def words(p: String, r: Range) = r.map(i => s"$p$i")
    val base = words("w", 0 until 30)
    // B ≈ A (J = 26/30) and B ≈ C (J = 26/30), but A ≉ C (J = 24/32):
    // only the chain through B joins A and C
    val a = base.take(28) ++ Seq("a1", "a2")
    val c = Seq("c1", "c2") ++ base.drop(2)
    val docs = Seq(
      7L -> a, 3L -> base, 12L -> c,
      20L -> words("z", 0 until 12), 21L -> words("z", 0 until 12),
      1L -> Seq("too", "short"), 9L -> Seq.empty[String],
      5L -> words("q", 0 until 30))
    val d = docs.map { case (id, ws) => (id, ws.mkString(" ")) }.toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(d).select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet === Set((3L, 7L), (3L, 12L), (20L, 21L)))
    val parent = scala.collection.mutable.Map(docs.map(x => x._1 -> x._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val labels = Dedup.clusterLabels(d).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.map(_._1).sorted.toSeq === docs.map(_._1).sorted, "each doc_id exactly once")
    assert(labels.toMap === docs.map(x => x._1 -> find(x._1)).toMap)
    assert(labels.toMap.filter(_._2 == 3L).keySet === Set(3L, 7L, 12L))
    val clusters = Dedup.dedupClusters(d).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("n_docs")).toMap
    assert(clusters.values.sum === docs.size)
    assert(clusters(3L) === 3L && clusters(20L) === 2L)
  }

  test("q_dedup_url: canonical keys are noise-free and conserve the corpus (r8)") {
    val rows = SparkEntry.queries("q_dedup_url")(spark, sf).collect()
      .map(r => (r.getAs[String]("canon_url"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("survivor_id"), r.getAs[Long]("n_variants")))
    assert(rows.nonEmpty)
    val total = graft.sources.Tables(spark, sf, "documents").count()
    assert(rows.map(_._2).sum === total, "every doc must land in exactly one cluster")
    rows.foreach { case (u, n, _, variants) =>
      // every canonicalization rule verifiably held on every key —
      // r9: case scrubbing is scoped to scheme+authority (query values
      // keep their case), and the slash rule also covers "/?"
      val auth = u.replaceAll("^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*).*$", "$1")
      assert(auth == auth.toLowerCase, s"authority case noise survived: $u")
      assert(!u.contains("#") && !u.contains("utm_"), s"fragment/utm survived: $u")
      assert(!u.contains(":443") && !u.endsWith("/") && !u.contains("/?"),
        s"port/slash noise survived: $u")
      assert(variants >= 1 && variants <= n, s"$u variants=$variants docs=$n")
    }
    // the planted noise classes actually collapse something: some
    // cluster must unite multiple RAW variants
    assert(rows.exists(_._4 > 1), "no cluster merged distinct raw URLs — staging noise dead")
  }

  test("canonicalizeUrl unit cases: scoped lowercase, portless :443, slash-before-query (r9)") {
    import spark.implicits._
    val cases = Seq(
      // mixed-case QUERY VALUE must survive; host+scheme lowercase
      ("HTTPS://Host.Example.COM/p/1?ref=KEEP",
        "https://host.example.com/p/1?ref=KEEP"),
      // pathless explicit :443 (no following slash) still strips
      ("https://host.example.com:443?x=1", "https://host.example.com?x=1"),
      // bare authority with :443 and nothing after
      ("https://host.example.com:443", "https://host.example.com"),
      // slash before the query collapses with the slash-free variant
      ("https://host.example.com/p/21/?ref=keep",
        "https://host.example.com/p/21?ref=keep"),
      // :443 inside a PATH must NOT strip (only the authority port)
      ("https://host.example.com/a:443/b", "https://host.example.com/a:443/b"),
      // :443 under http is a NON-default port — a different origin,
      // must survive (late-r9 review fix: the strip is https-scoped)
      ("http://host.example.com:443/p/1", "http://host.example.com:443/p/1"),
      // utm FIRST then a real param: the separator must repair to '?'
      ("https://host.example.com/p/1?utm_source=t&x=1",
        "https://host.example.com/p/1?x=1"),
      // userinfo carries a colon — the default-port strip still fires
      ("https://user:pw@host.example.com:443/p/1",
        "https://user:pw@host.example.com/p/1"),
      // near-miss port must NOT strip
      ("https://host.example.com:4433/p/1", "https://host.example.com:4433/p/1"),
      // full noise stack at once
      ("https://UP.Example.COM:443/p/3/?utm_source=feed&utm_campaign=x#sec",
        "https://up.example.com/p/3"),
      // r10 anchoring fixes: 'utm_' INSIDE a param VALUE must survive
      // (the r9 unanchored strip merged "?a=utm_x&b=1" into "?a=b=1")
      ("https://host.example.com/p?a=utm_x&b=1",
        "https://host.example.com/p?a=utm_x&b=1"),
      // 'utm_' as a SUFFIX of another param name must survive
      ("https://host.example.com/p?xutm_a=1&b=2",
        "https://host.example.com/p?xutm_a=1&b=2"),
      // a host that merely CONTAINS utm_ must survive
      ("https://utm_x.example.com/?a=1&b=2",
        "https://utm_x.example.com?a=1&b=2"),
      // a RUN of leading utm params collapses to the one separator
      ("https://host.example.com/p?utm_a=1&utm_b=2&x=1",
        "https://host.example.com/p?x=1"))
    val out = cases.map(_._1).toDF("raw")
      .withColumn("canon", graft.operators.Dedup.canonicalizeUrl(col("raw")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) =>
      assert(out(raw) === want, s"canonicalizeUrl($raw)")
    }
  }

  test("semdedup: drops are cluster-local, exemplar-kept, and a subset of global τ-pairs (r9)") {
    val out = SparkEntry.queries("q_dedup_semdedup")(spark, sf).cache()
    try {
      val n = Tables(spark, sf, "embeddings").count()
      assert(out.count() === n, "semdedup must report every vector")
      val dropped = out.filter(!col("kept")).as("d")
      assert(dropped.count() > 0, "fixture must exercise the drop path")
      // the exemplar (dup_of) is a lower id in the SAME cluster
      val byId = out.select(col("vec_id").as("ref_id"), col("cid").as("cid_of"))
      assert(dropped.join(byId, col("d.dup_of") === col("ref_id"))
        .filter(col("d.cid") =!= col("cid_of") || col("d.dup_of") >= col("d.vec_id"))
        .count() === 0, "dup_of must be a lower id in the same cluster")
      // cluster-restricted dups ⊆ the global τ=0.45 pair list
      val global = SparkEntry.queries("q_dedup_embed")(spark, sf)
        .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val claimed = dropped.select(col("dup_of"), col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(claimed.forall(global.contains),
        "a semdedup drop cites a pair below the global threshold")
    } finally out.unpersist()
  }

  test("simhash: identical texts collide, fingerprint is 64-bit stable") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "the quick brown fox", "lorem ipsum dolor sit")
      .toDF("text").withColumn("sig", Text.simhash64(col("text")))
    val sigs = df.select("sig").collect().map(_.getLong(0))
    assert(sigs(0) === sigs(1))
    assert(sigs(0) !== sigs(2))
    // stability across evaluations (deterministic hash family)
    val again = df.select("sig").collect().map(_.getLong(0))
    assert(sigs.sameElements(again))
  }
}
