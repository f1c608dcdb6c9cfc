package graft.operators

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Det._
import graft.sources.Tables

/** B10 (dedup half) — document deduplication over `documents`
  * (SURVEY.md §2 B10): exact (content hash), exact near-dup (prefix-
  * filtered Jaccard self-join), and the approximate 100 TB paths
  * (MinHash-LSH, SimHash) which are recall-tested rather than
  * oracle-checked.
  *
  * Shingling contract (mirrored in the oracle SQL): distinct WORD
  * trigrams over whitespace tokens, exact-set Jaccard (see
  * [[shingled]] for why word- not char-level).
  *
  * 100 TB posture — q_dedup_near_jaccard is NOT the naive O(n²) cross
  * join; it is a prefix-filtered similarity join (PPJoin-style, public
  * algorithm from Xiao et al., WWW'08):
  *   1. order every document's shingle set by global document
  *      frequency ascending (rarest first) — one broadcast join of the
  *      vocabulary;
  *   2. a pair can reach Jaccard ≥ t only if the two docs share a
  *      shingle within their length-(|A| - ceil(t·|A|) + 1) prefixes,
  *      so candidate generation explodes ONLY the prefixes (rare
  *      shingles → small, skew-free join);
  *   3. exact-verify candidates with integer set arithmetic
  *      (5·|A∩B| ≥ 4·|A∪B| ⇔ J ≥ 0.8 — no float threshold).
  *   Prefix math stays in integers (ceil(0.8·sz) = (4·sz+4) DIV 5) so
  *   the pruning bound is never weakened by float rounding.
  *   The shuffled volume is O(prefix tokens), not O(n²); identical
  *   output to the oracle's brute-force join.
  */
object Dedup {

  /** doc_id + distinct word-3gram shingles + set size.
    *
    * Shingles are WORD trigrams, not char trigrams: the fixture's
    * char-3gram vocabulary is ~400 shingles across 5k docs (every
    * shingle in ~25% of docs), which defeats any candidate pruning —
    * prefix filtering passed 93% of all pairs at sf0.1. Word trigrams
    * give a combinatorial vocabulary (27k at sf0.1, max df 25), the
    * standard shingling for document dedup, and a sharp cliff between
    * planted near-dups (J ≥ 0.8) and background (J < 0.5). */
  /** Memo of materialized shingle tables per (session, input plan):
    * four dedup keys (near-dup pairs, cluster, containment, minhash)
    * consume the SAME shingle table, and within one Verify/Bench
    * session each used to re-scan and re-shingle it. A real pipeline
    * materializes its shingle table once and shares it. Keyed by
    * [[graft.plans.PlanKey]] (canonical plan + exact leaf data
    * identity — the bare canonical string erases file paths/local
    * rows and a 32-bit semanticHash could silently collide, either
    * way serving the wrong table)
    * and bounded: past 8 entries the memo clears, dropping the
    * DataFrame references so the ContextCleaner can release the
    * checkpointed blocks once the RDDs are GC'd — a long-lived JVM
    * cycling many inputs/dirs never pins unbounded block-manager
    * storage. */
  private val shingleMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private def shingled(d: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(d.sparkSession)
    // materialize once: every caller fans the shingle table into ≥ 3
    // plan branches (prefix explode + two verify joins), and without a
    // checkpoint each branch re-scans parquet and re-shingles; the
    // shingle table is O(docs) and the repeated compute dominated the
    // near-dup keys' wall clock (measured ~15% off the 3-key group).
    graft.plans.PlanKey.memoize(shingleMemo, d) {
      d.select(col("doc_id"),
          call_function("word_shingles", split(col("text"), " "), lit(3)).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sz", size(col("sh")))
    }
  }

  /** Memo of the scored near-dup PAIR table, same keying/bounding
    * discipline as [[shingleMemo]]: q_dedup_near_jaccard and
    * q_dedup_cluster both consume the identical prefix-filtered
    * similarity join — the most expensive single computation in the
    * dedup family — and a real pipeline materializes its pair list
    * once before clustering it. Eagerly checkpointed, so the second
    * consumer pays a block read, not a re-join. */
  private val pairsMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Exact Jaccard ≥ 0.8 near-dup pairs via prefix filtering. The
    * prefix order is the fixed hash order of
    * [[graft.functions.PrefixShingles]] — exactness needs only a
    * CONSISTENT global order; see that expression's doc for when a
    * df-ascending order would be worth its vocabulary join. */
  def nearDupPairs(d: DataFrame): DataFrame =
    graft.plans.PlanKey.memoize(pairsMemo, d)(nearDupPairsUncached(d))

  /** Spread a candidate-pair relation across the executor parallelism
    * before its CPU-dense verify join (r20, guide §2.5): AQE coalesces
    * the candidate distinct's output by BYTES (a pair row is ~16 B, so
    * even 100k candidates fit one 1 MiB-floor partition), which
    * serialized the per-pair set-intersection verify onto ONE core —
    * measured 2.0 s → 0.55 s at sf0.1 by hash-spreading the pairs
    * first. The pair ids are a deterministic, evenly-spread key, and
    * every downstream aggregate re-hashes by its own keys, so results
    * are unaffected. Cores-scaled (defaultParallelism), never a local
    * constant; at corpus scale the per-core candidate volume only
    * grows, so the cores floor stays the binding term. (r19's measured
    * revert spread the SHINGLE table under the whole prefix join — 9×
    * CPU for no wall win; this spreads only the verified pairs.)
    *
    * Mechanics: the repartition sits UNDER the distinct — the
    * user-pinned exchange then satisfies the aggregate's required
    * distribution (same keys), so no second exchange appears, and a
    * REPARTITION_BY_NUM shuffle is exempt from AQE coalescing. Pinning
    * ABOVE the distinct does not work: the planner drops the
    * user shuffle as redundant with the aggregate's own exchange,
    * which then byte-coalesces back to one partition. */
  private def spreadPairs(df: DataFrame, a: String, b: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col(a), col(b)).distinct()

  private[graft] def nearDupPairsUncached(d: DataFrame): DataFrame = {
    val sh = shingled(d)
    val pref = sh.select(col("doc_id"), col("sz"),
      explode(call_function("prefix_shingles", col("sh"), lit(4), lit(5))).as("s"))
    val cand = spreadPairs(pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: J ≥ 0.8 needs 4·|A| ≤ 5·|B| and 4·|B| ≤ 5·|A|
          col("a.sz") * 4 <= col("b.sz") * 5 && col("b.sz") * 4 <= col("a.sz") * 5)
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")), "da", "db")
    val withA = cand.join(sh.select(col("doc_id").as("da"),
      col("sh").as("sha"), col("sz").as("sza")), "da")
    val pairs = withA.join(sh.select(col("doc_id").as("db"),
        col("sh").as("shb"), col("sz").as("szb")), "db")
      .withColumn("inter", call_function("intersect_count", col("sha"), col("shb")))
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 4)
    pairs.select(col("da"), col("db"),
      (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** Connected components over the near-dup pair graph — the cluster →
    * survivor step of a dedup pipeline (pairs alone over-delete: A≈B,
    * B≈C must keep ONE of {A,B,C}, not two independent survivors).
    *
    * Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", public
    * algorithm): each round rewires every node's strictly-larger
    * neighbors to its neighborhood minimum (large-star), then rewires
    * the smaller neighbors to the group minimum (small-star). The
    * only fixpoints are star forests centered on component minima, so
    * label = component min exactly as min-label propagation produced
    * — but round count is O(log² n) in the worst case and ~4 in
    * practice, independent of component DIAMETER. The r5 plain
    * propagation needed diameter rounds (a join + agg per round): on
    * a 100 TB web corpus, boilerplate families form dup CHAINS
    * hundreds of hops long, which is precisely the case this version
    * cuts (DedupSpec measures a 4096-node chain at 13 = log₂ n + 1
    * rounds — each alternation halves the remaining path — vs 4095
    * for propagation; PropertyProps equates labels with brute-force
    * union-find on random graphs).
    * Each round is one Spark job over the edge RDD (see
    * [[connectedComponents]]); a 20-round cap guards non-convergence
    * (then O(log² n) would have to exceed 20 — require fails loudly,
    * never splits a component silently). */
  def dedupClusters(d: DataFrame): DataFrame =
    clusterLabels(d)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc_id"))

  /** Per-doc cluster labels (doc_id, label) — label = min doc_id of
    * the connected component, so cluster_id doubles as the canonical
    * survivor id. Docs absent from the star edges (component minima,
    * edge-free docs, docs too short to shingle) label themselves.
    * Shared by q_dedup_cluster (aggregated report) and
    * q_dedup_survivors (per-cluster survivor selection). */
  private[graft] def clusterLabels(d: DataFrame): DataFrame = {
    val (stars, _) = connectedComponents(nearDupPairs(d).select(col("da"), col("db")))
    d.select(col("doc_id"))
      .join(stars.select(col("u").as("doc_id"), col("v").as("parent")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("parent"), col("doc_id")).as("label"))
  }

  /** Partitions a (node, neighbour) key by its node alone, so one
    * node's whole neighbour list lands in one partition. */
  private final case class ByNode(numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int =
      Math.floorMod(java.lang.Long.hashCode(key.asInstanceOf[(Long, Long)]._1), numPartitions)
  }

  /** One star step over directed (child, parent) edges. Each node's
    * neighbours arrive as one ascending sorted run, so the run's first
    * element is its minimum and the step streams: no per-node buffer,
    * even for a million-member boilerplate family.
    *  - large-star (`large`): every node u rewires its STRICTLY LARGER
    *    neighbours to m = min(u, N(u)); the edges are read both ways.
    *  - small-star: every child u rewires itself and its other
    *    (smaller) parents to its least parent m.
    * Both emit child > parent; repeated neighbours are skipped. */
  private def starStep(e: RDD[(Long, Long)], byNode: Partitioner,
      large: Boolean): RDD[(Long, Long)] = {
    val adj = if (large) e.flatMap { case (c, p) => Iterator((c, p), (p, c)) } else e
    adj.map((_, ())).repartitionAndSortWithinPartitions(byNode).mapPartitions { it =>
      var started = false
      var u, m, last = 0L
      it.flatMap { case ((x, v), _) =>
        val head = !started || x != u
        val repeat = !head && v == last
        if (head) { started = true; u = x; m = math.min(x, v) }
        last = v
        if (repeat) Iterator.empty
        else if (large) { if (v > u) Iterator.single((v, m)) else Iterator.empty }
        else Iterator.single((if (head) u else v, m))
      }
    }
  }

  /** Alternating large-star/small-star to fixpoint over an undirected
    * pair list of longs (any orientation, self-loops tolerated).
    * Returns the star-forest edges (u = node, v = component min) —
    * component minima have no row — plus the round count, exposed so
    * the chain-graph spec can pin the O(log n) convergence claim.
    *
    * One job per round: the new edges (tag 1) and the old ones (tag 2)
    * meet in one `reduceByKey(_ | _)`, which dedupes the new set and
    * tests the fixpoint at once (a tag other than 3 means the round
    * changed the graph). Counting those is the round's only action; it
    * also fills the `localCheckpoint` the next round reads. */
  private[graft] def connectedComponents(pairs: DataFrame): (DataFrame, Int) = {
    val s = pairs.sparkSession
    val n = s.sparkContext.defaultParallelism
    val (byNode, byEdge) = (ByNode(n), new HashPartitioner(n))
    var e: RDD[(Long, Long)] = pairs.rdd.flatMap { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      if (a == b) None else Some((math.max(a, b), math.min(a, b)))
    }
    var rounds = 0
    var done = false
    while (!done && rounds < 20) {
      val next = starStep(starStep(e, byNode, large = true), byNode, large = false)
      val tagged = next.map((_, 1)).union(e.map((_, 2)))
        .reduceByKey(byEdge, _ | _).localCheckpoint()
      done = tagged.filter(_._2 != 3).count() == 0
      e = tagged.filter(_._2 != 2).keys
      rounds += 1
    }
    // the cap is a runaway guard, not an exit: silently stopping early
    // would split a component into multiple clusters
    require(done,
      s"large-star/small-star not converged after $rounds rounds — " +
        "edge set still moving")
    (s.createDataFrame(e).toDF("u", "v"), rounds)
  }

  /** URL canonicalization pipeline (q_dedup_url; r9 rework of the
    * middle steps per VERDICT r8 #2/#3 + ADVICE):
    *
    *  - lowercase SCOPED to scheme+authority — query values and paths
    *    are case-significant (?ref=KEEP ≠ ?ref=keep; the r8 whole-URL
    *    lower() over-merged);
    *  - default :443 strips at the END of the extracted authority —
    *    and ONLY under the https scheme (late-r9 review fix: on
    *    http://host:443 the port is NON-default, a different origin,
    *    and stripping it would merge distinct URLs); pathless
    *    `https://host:443?x=1` normalizes too (the r8 ":443/" rule
    *    needed a following slash);
    *  - the trailing slash strips before a query string as well
    *    ("/p/21/?ref=x" ≡ "/p/21?ref=x") — two RE2-safe replaces
    *    ("/?"→"?", then "/$"→"") because RE2/DuckDB has no lookahead.
    *
    * Every step is a narrow per-row regex map (scan speed; the oracle
    * mirrors it step for step). */
  private[graft] def canonicalizeUrl(raw: Column): Column = {
    val u1 = regexp_replace(raw, "#.*$", "")
    val auth = regexp_extract(u1, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    // greedy .* lets the :443 strip cross userinfo/IPv6 colons
    // (user:pw@host:443, [::1]:443) while staying https-scoped and
    // end-anchored (host:4433 never matches)
    val u2 = concat(regexp_replace(lower(auth), "^(https://.*):443$", "$1"),
      u1.substr(length(auth) + lit(1), length(u1)))
    // two-step utm strip: first a RUN of "utm_x=y&" params anchored to
    // their ?/& separator (the separator stays for the NEXT param, so
    // "?utm_a=1&x=1" → "?x=1", not the dangling "&x=1"; the r9
    // unanchored version matched 'utm_' mid-value — "?a=utm_x&b=1"
    // over-merged to "?a=b=1"), then any trailing/only "[?&]utm_x=y"
    val u3 = regexp_replace(u2, "([?&])(utm_[^&#]*&)+", "$1")
    val u4 = regexp_replace(u3, "[?&]utm_[^&#]*", "")
    val u5 = regexp_replace(u4, "\\?&", "?")
    val u6 = regexp_replace(u5, "/\\?", "?")
    regexp_replace(u6, "/$", "")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_cluster" -> { (s, dir) =>
      ordered(dedupClusters(Tables(s, dir, "documents")))
    },
    "q_dedup_survivors" -> { (s, dir) =>
      // Survivor selection (added late r9) — the TRANSFORM half of
      // q_dedup_cluster, the doc-level analog of q_dedup_span_strip:
      // per near-dup cluster keep the LONGEST doc (most tokens — the
      // keep-the-most-content heuristic corpus builds use; ties to
      // the lowest doc_id), report per multi-doc cluster the
      // survivor and the token mass dropped. The argmax is ONE
      // hash-agg via max(struct(n_tok, -doc_id)) — no rank window,
      // no second pass; labels come from the shared clusterLabels
      // (same connected components the cluster report uses, so the
      // two keys are mutually consistent by construction).
      //
      // 100 TB posture: clusterLabels' cost is the memoized pair
      // join + O(|edges|) contraction rounds; this adds one narrow
      // token-count map and one hash-agg keyed by label.
      val d = Tables(s, dir, "documents")
      val ntok = d.select(col("doc_id"),
        expr("size(filter(split(text, ' '), t -> t <> ''))").cast("long").as("n_tok"))
      val j = clusterLabels(d).join(ntok, Seq("doc_id"))
      ordered(j.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          max(struct(col("n_tok"), (-col("doc_id")).as("neg_id"))).as("b"))
        .filter(col("n_docs") > 1)
        .select(col("cluster_id"), col("n_docs"),
          (-col("b.neg_id")).as("survivor_id"),
          col("b.n_tok").as("survivor_tokens"),
          (col("total_tokens") - col("b.n_tok")).as("n_tokens_dropped")))
    },
    "q_dedup_exact" -> { (s, dir) =>
      // canonical survivor per content hash: min doc_id + group size
      val d = Tables(s, dir, "documents")
      ordered(d.groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups")))
    },
    "q_dedup_near_jaccard" -> { (s, dir) =>
      ordered(nearDupPairs(Tables(s, dir, "documents")))
    },
    "q_dedup_url" -> { (s, dir) =>
      // URL-canonicalization dedup — the crawl-frontier rule that runs
      // BEFORE any content fetch: the same page reached via tracking
      // params, fragments, case-varied hosts, explicit default ports,
      // or trailing slashes must collapse to one canonical key. URLs
      // are manufactured deterministically from the fixtures (which
      // carry none) with every noise class planted by doc_id residue,
      // so each canonicalization step provably fires. Pipeline (order
      // matters, mirrored in the oracle): drop fragment → lowercase
      // scheme+authority + strip default :443 port → strip utm_*
      // params (+ repair a dangling '?&') → strip trailing slash
      // (also before a query string). All regex steps are
      // Java/RE2-portable; DuckDB needs the 'g' flag (the house
      // q_text_html_strip rule). 100 TB posture: canonicalization is
      // a narrow per-row map at scan speed; the only shuffle is the
      // hash agg on the canonical key — O(urls), the exact-dedup
      // shape, no pairwise anything.
      val d = Tables(s, dir, "documents")
        .withColumn("host",
          when(col("doc_id") % 3 === 0,
            concat(upper(col("source")), lit(".Example.COM")))
          .otherwise(concat(col("source"), lit(".example.com"))))
        .withColumn("raw_url", concat(
          lit("https://"), col("host"),
          when(col("doc_id") % 5 === 0, ":443").otherwise(""),
          lit("/p/"), pmod(col("doc_id"), lit(40L)),
          when(col("doc_id") % 7 === 0, "/").otherwise(""),
          when(col("doc_id") % 4 === 0, "?utm_source=feed&utm_campaign=x")
            .when(col("doc_id") % 4 === 1, "?ref=keep").otherwise(""),
          when(col("doc_id") % 6 === 0, "#sec2").otherwise("")))
      val canon = d.withColumn("canon_url", canonicalizeUrl(col("raw_url")))
      ordered(canon.groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("survivor_id"),
          countDistinct(col("raw_url")).as("n_variants")))
    },
    "q_dedup_incremental" -> { (s, dir) =>
      // Incremental-ingest dedup — the nightly-batch reality of a
      // 100 TB pipeline: dedupe the NEW batch against the HISTORICAL
      // corpus without ever re-pairing history against itself. Same
      // exact J ≥ 0.8 prefix-filtered join as q_dedup_near_jaccard,
      // but the candidate join is new-prefix × hist-prefix only: at
      // scale the historical prefix postings are the standing dedup
      // INDEX (built once, appended every batch), and join volume is
      // O(new × df) — independent of |history|². The md5 doc-key
      // split is the deterministic stand-in for the batch boundary
      // (same rule as q_split_train_eval).
      val d = Tables(s, dir, "documents")
      val sh = shingled(d).withColumn("hk", md5(col("doc_id").cast("string")))
      val hist = sh.filter(col("hk") >= "80")
      val nw = sh.filter(col("hk") < "80")
      def pref(df: DataFrame, side: String) =
        df.select(col("doc_id").as(side), col("sz").as(s"${side}_sz"),
          explode(call_function("prefix_shingles", col("sh"), lit(4), lit(5))).as("s"))
      val cand = spreadPairs(pref(nw, "nd").as("pn").join(pref(hist, "hd").as("ph"),
          col("pn.s") === col("ph.s") &&
            // length filter: J ≥ 0.8 needs 4·|A| ≤ 5·|B| both ways
            col("nd_sz") * 4 <= col("hd_sz") * 5 &&
            col("hd_sz") * 4 <= col("nd_sz") * 5)
        .select(col("nd"), col("hd")), "nd", "hd")
      val withN = cand.join(sh.select(col("doc_id").as("nd"),
        col("sh").as("shn"), col("sz").as("szn")), "nd")
      val pairs = withN.join(sh.select(col("doc_id").as("hd"),
          col("sh").as("shh"), col("sz").as("szh")), "hd")
        .withColumn("inter", call_function("intersect_count", col("shn"), col("shh")))
        .withColumn("uni", col("szn") + col("szh") - col("inter"))
        .filter(col("inter") * 5 >= col("uni") * 4)
      ordered(pairs.groupBy(col("nd").as("doc_id"))
        .agg(count(lit(1)).as("n_hist_dups"),
          min(col("hd")).as("first_hist"),
          max(col("inter").cast("double") / col("uni")).as("best_jaccard")))
    },
    "q_dedup_containment" -> { (s, dir) =>
      // EXACT containment join: |A∩B| / min(|A|,|B|) ≥ 0.9 — the
      // doc-in-doc rule (quotes, boilerplate, a page embedded in a
      // larger crawl of itself) that Jaccard structurally misses when
      // the sizes differ (J = inter/union shrinks as the big side
      // grows; containment doesn't). Asymmetric prefix filter: only
      // the PROBE side prunes to its (sz - ceil(0.9·sz) + 1)-prefix,
      // the index side posts its full shingle set. Recall 1 proof:
      // for a qualifying pair with A the smaller side, if A's prefix
      // missed B then all ≥ ceil(0.9|A|) shared shingles sit in A's
      // last ceil(0.9|A|) - 1 positions — impossible. Probing both
      // directions only adds candidates; integer-exact verification
      // (10·inter ≥ 9·min) filters them. Shuffle = O(prefix × df),
      // never n²; candidates canonicalize via least/greatest.
      val sh = shingled(Tables(s, dir, "documents"))
      val pref = sh.select(col("doc_id").as("pa"),
        explode(call_function("prefix_shingles", col("sh"), lit(9), lit(10))).as("s"))
      val post = sh.select(col("doc_id").as("pb"), explode(col("sh")).as("s"))
      val cand = spreadPairs(pref.join(post, Seq("s"))
        .filter(col("pa") =!= col("pb"))
        .select(least(col("pa"), col("pb")).as("da"),
          greatest(col("pa"), col("pb")).as("db")), "da", "db")
      val pairs = cand
        .join(sh.select(col("doc_id").as("da"), col("sh").as("sha"),
          col("sz").as("sza")), "da")
        .join(sh.select(col("doc_id").as("db"), col("sh").as("shb"),
          col("sz").as("szb")), "db")
        .withColumn("inter", call_function("intersect_count", col("sha"), col("shb")))
        .withColumn("mn", least(col("sza"), col("szb")))
        .filter(col("inter") * 10 >= col("mn") * 9)
      ordered(pairs.select(col("da"), col("db"),
        (col("inter").cast("double") / col("mn")).as("containment")))
    },
    "q_dedup_minhash" -> { (s, dir) =>
      // Approximate 100 TB path: banded MinHash-LSH candidates, exact
      // Jaccard on survivors. Oracle=omit (LSH recall < 1); DedupSpec
      // bounds recall vs the exact q_dedup_near_jaccard output.
      minhashPairs(Tables(s, dir, "documents"), simThreshold = 0.8)
    },
    "q_dedup_simhash" -> { (s, dir) =>
      graft.functions.VectorExprs.register(s)
      // 64-bit SimHash (native codegen expression, ±1 token votes);
      // pairs within hamming distance 6. EXACT banded join, not O(n²):
      // the signature splits into 8 byte-chunks; 6 bit errors dirty at
      // most 6 chunks, so by pigeonhole any qualifying pair has ≥2
      // clean chunks — i.e. agrees on at least one of the C(8,2)=28
      // chunk PAIRS. Joining on (pair_idx, 16-bit key) keeps recall
      // 1.0 while squaring down the false-candidate rate vs single
      // 8-bit chunks (this corpus's tiny vocabulary makes signatures
      // cluster: single-chunk banding admitted 6.7M candidates at
      // sf0.1, chunk pairs ~100× fewer). Oracle=omit (hash family is
      // engine-internal); equality with brute force asserted in
      // DedupSpec.
      val d = Tables(s, dir, "documents")
      // materialize once: the signature table feeds three plan
      // branches (band explode + two verify joins), and each would
      // otherwise re-tokenize + re-hash the corpus; the table is
      // O(docs) × 16 bytes
      val sig = d.select(col("doc_id"), Text.simhash64(col("text")).as("sig"))
        .localCheckpoint(true)
      val bandPairs = for { i <- 0 until 8; j <- i + 1 until 8 } yield (i, j)
      val bandCols = bandPairs.zipWithIndex.map { case ((i, j), b) =>
        struct(lit(b).as("chunk"),
          (shiftright(col("sig"), i * 8).bitwiseAND(lit(255L)) * 256 +
            shiftright(col("sig"), j * 8).bitwiseAND(lit(255L))).as("cv"))
      }
      val chunks = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
        .select(col("doc_id"), col("b.chunk").as("chunk"), col("b.cv").as("cv"))
      val cand = chunks.as("a").join(chunks.as("b"),
          col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")).distinct()
      val p = cand
        .join(sig.select(col("doc_id").as("da"), col("sig").as("siga")), "da")
        .join(sig.select(col("doc_id").as("db"), col("sig").as("sigb")), "db")
        .withColumn("hamming", bit_count(col("siga").bitwiseXOR(col("sigb"))))
        .filter(col("hamming") <= 6)
      ordered(p.select(col("da"), col("db"), col("hamming")))
    },
    "q_dedup_embed" -> { (s, dir) =>
      // embedding-cosine near-dup pairs at τ=0.45 (fixture max ≈ 0.51).
      // τ=0.45 sits in the near-orthogonal regime where LSH banding has
      // no selectivity (see blockedScoredPairs' doc), so the exact pair
      // scoring runs as the blocked equi-join — identical output to the
      // brute-force oracle, no nested-loop plan, O(n·B) shuffle. The
      // high-τ (≥0.9) production dedup path is q_dedup_minhash /
      // q_sim_lsh_bucketed, where banding IS exponentially selective.
      val e = Tables(s, dir, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val p = Similarity.blockedScoredPairs(e).filter(col("c") >= lit(0.45))
      ordered(p.select(col("va"), col("vb"), round(col("c"), 4).as("cosine")))
    },
    "q_dedup_semdedup" -> { (s, dir) =>
      // SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC
      // dedup for web-scale corpora: cluster embeddings with k-means,
      // then compare pairs ONLY within a cluster and drop every vector
      // that has a lower-id in-cluster neighbor above the cosine
      // threshold (the paper keeps one exemplar per semantic
      // duplicate group; lowest-id is its deterministic stand-in for
      // "keep one"). Clustering is the SHARED Embeddings.kmeans2
      // trainer, so assignment — and the oracle's replay of it — is
      // bit-exact; τ=0.45 matches q_dedup_embed (fixture max ≈ 0.51),
      // putting the semantic-dup pairs in range while most pairs stay
      // near-orthogonal.
      //
      // 100 TB posture (the paper's own scaling argument): pairwise
      // work is confined to clusters — an equi-join on cid with
      // candidate volume Σ n_c² ≈ n²/k for balanced clusters, and k
      // grows with n (the paper uses k ≈ √n·c), so per-cluster sizes
      // stay bounded; assignment itself is the narrow broadcast-
      // centroid map (no corpus shuffle). The assignment is
      // localCheckpointed once and self-joined — the 2-iteration
      // training never re-runs per join side.
      graft.functions.VectorExprs.register(s)
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val asg = Embeddings.kmeans2(e)._1
        .select(col("vec_id"), col("cid"), col("v")).localCheckpoint(true)
      val dup = asg.as("a").join(asg.as("b"),
          col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("c", Similarity.cosine(col("a.v"), col("b.v")))
        .filter(col("c") >= lit(0.45))
        .groupBy(col("b.vec_id").as("vec_id"))
        .agg(min(col("a.vec_id")).as("dup_of"),
          round(max(col("c")), 4).as("dup_cosine"))
      ordered(asg.select(col("vec_id"), col("cid"))
        .join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"), col("dup_of").isNull.as("kept"),
          col("dup_of"), col("dup_cosine")))
    }
  )

  /** Banded MinHash-LSH near-dup pairs (the 100 TB dedup path):
    *
    *   1. 64-hash signature per doc via the codegen
    *      [[graft.functions.MinHashSignature]] expression — linear pass;
    *   2. 16 bands × 4 rows: band key = xxhash64 of the 4-long slice;
    *      a pair collides in a band with prob J⁴ (J=0.8 → ≥99.9%
    *      overall, J=0.5 → 64%, J=0.3 → 12%) — the shuffle carries
    *      only (band, bucket) keys, volume O(n·b), never O(n²);
    *   3. signature-estimated Jaccard prefilter (cheap 64-long
    *      compare) at est ≥ 0.65 kills the mid-similarity background
    *      before any set materialization;
    *   4. exact Jaccard verify on the survivors only.
    *
    * MLlib's MinHashLSH.approxSimilarityJoin uses 1-row bands, so at
    * this fixture's similarity profile (~38% of pairs at J ≥ 0.5) it
    * degenerates to a near-cross-join with sparse-vector distances —
    * measured minutes at sf0.1; this formulation is seconds. */
  def minhashPairs(d: DataFrame, simThreshold: Double): DataFrame = {
    graft.functions.VectorExprs.register(d.sparkSession)
    val sh = shingled(d)
    val sig = sh.select(col("doc_id"),
      call_function("minhash_sig", col("sh"), lit(64)).as("sig"))
    val bands = sig.select(col("doc_id"),
      posexplode(expr("transform(sequence(0, 15), i -> xxhash64(slice(sig, i * 4 + 1, 4)))"))
        .as(Seq("band", "bh")))
    val cand = spreadPairs(bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db")), "da", "db")
    val est = cand
      .join(sig.select(col("doc_id").as("da"), col("sig").as("siga")), "da")
      .join(sig.select(col("doc_id").as("db"), col("sig").as("sigb")), "db")
      .filter(expr("aggregate(zip_with(siga, sigb, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
        >= lit((0.65 * 64).toInt))
    val verified = est.select(col("da"), col("db"))
      .join(sh.select(col("doc_id").as("da"), col("sh").as("sha"), col("sz").as("sza")), "da")
      .join(sh.select(col("doc_id").as("db"), col("sh").as("shb"), col("sz").as("szb")), "db")
      .withColumn("inter", call_function("intersect_count", col("sha"), col("shb")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(simThreshold))
    ordered(verified.select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard")))
  }

  /** DuckDB twin of [[shingled]] (word trigrams over non-empty
    * whitespace tokens, docs with ≥3 tokens). */
  private val shTableSql =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |        FROM documents) WHERE len(t) >= 3)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q_dedup_cluster" ->
      // exact connected components via recursive reachability closure
      // (clusters are tiny, so the closure is cheap in the oracle);
      // the engine side reaches the same fixpoint by min-label
      // propagation
      (s"""WITH RECURSIVE $shTableSql,
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 5 >=
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |          UNION ALL SELECT db, da FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |lab AS (SELECT a AS doc_id, MIN(b) AS label FROM reach GROUP BY a)
        |SELECT label AS cluster_id, COUNT(*) AS n_docs,
        |  MAX(doc_id) AS max_doc_id
        |FROM lab GROUP BY label""".stripMargin +
        orderByAll("cluster_id", "n_docs", "max_doc_id")),
    // same recursive closure as q_dedup_cluster, then the longest-doc
    // argmax replayed as a rank (the engine's struct-max total order =
    // n_tok DESC, doc_id ASC)
    "q_dedup_survivors" ->
      (s"""WITH RECURSIVE $shTableSql,
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.sh, b.sh)) * 5 >=
        |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4),
        |edges AS (SELECT da AS src, db AS dst FROM pairs
        |          UNION ALL SELECT db, da FROM pairs),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |lab AS (SELECT a AS doc_id, MIN(b) AS label FROM reach GROUP BY a),
        |nt AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |j AS (SELECT lab.doc_id, lab.label, nt.n_tok
        |  FROM lab JOIN nt ON lab.doc_id = nt.doc_id),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY label ORDER BY n_tok DESC, doc_id) AS rn FROM j)
        |SELECT label AS cluster_id, COUNT(*) AS n_docs,
        |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
        |  MAX(CASE WHEN rn = 1 THEN n_tok END) AS survivor_tokens,
        |  CAST(SUM(n_tok) AS BIGINT) - MAX(CASE WHEN rn = 1 THEN n_tok END)
        |    AS n_tokens_dropped
        |FROM r GROUP BY label HAVING COUNT(*) > 1""".stripMargin +
        orderByAll("cluster_id", "n_docs", "survivor_id", "survivor_tokens",
          "n_tokens_dropped")),
    "q_dedup_exact" ->
      ("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  COUNT(*) AS n_dups
        |FROM documents GROUP BY md5(text)""".stripMargin +
        orderByAll("content_hash", "keep_id", "n_dups")),
    "q_dedup_containment" ->
      // brute-force twin of the asymmetric prefix-filtered join
      (s"""WITH $shTableSql,
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    least(len(a.sh), len(b.sh)) AS mn
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT da, db, CAST(inter AS DOUBLE) / mn AS containment
        |FROM pairs WHERE inter * 10 >= mn * 9""".stripMargin +
        orderByAll("da", "db", "containment")),
    "q_dedup_url" ->
      ("""WITH u AS (
        |  SELECT doc_id,
        |    'https://' ||
        |    CASE WHEN doc_id % 3 = 0 THEN upper(source) || '.Example.COM'
        |         ELSE source || '.example.com' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
        |    '/p/' || CAST(doc_id % 40 AS VARCHAR) ||
        |    CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x'
        |         WHEN doc_id % 4 = 1 THEN '?ref=keep' ELSE '' END ||
        |    CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END AS raw_url
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, raw_url,
        |    regexp_replace(raw_url, '#.*$', '', 'g') AS u1
        |  FROM u),
        |a AS (
        |  SELECT doc_id, raw_url, u1,
        |    regexp_extract(u1, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*') AS auth
        |  FROM f),
        |c AS (
        |  SELECT doc_id, raw_url,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(lower(auth), '^(https://.*):443$', '\1') ||
        |                substring(u1, length(auth) + 1),
        |              '([?&])(utm_[^&#]*&)+', '\1', 'g'),
        |            '[?&]utm_[^&#]*', '', 'g'),
        |          '\?&', '?', 'g'),
        |        '/\?', '?', 'g'),
        |      '/$', '', 'g') AS canon_url
        |  FROM a)
        |SELECT canon_url, COUNT(*) AS n_docs, MIN(doc_id) AS survivor_id,
        |  COUNT(DISTINCT raw_url) AS n_variants
        |FROM c GROUP BY canon_url""".stripMargin +
        orderByAll("canon_url", "n_docs", "survivor_id", "n_variants")),
    "q_dedup_near_jaccard" ->
      // brute-force twin of the prefix-filtered join: integer-exact
      // threshold, double jaccard only in the projection
      (s"""WITH $shTableSql,
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db,
        |    len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS uni
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT da, db, CAST(inter AS DOUBLE) / uni AS jaccard
        |FROM pairs WHERE inter * 5 >= uni * 4""".stripMargin +
        orderByAll("da", "db", "jaccard")),
    "q_dedup_incremental" ->
      // brute-force twin: every new×hist pair scored exactly; the
      // engine's prefix filter only prunes candidates, never results
      (s"""WITH $shTableSql,
        |hist AS (SELECT s.doc_id, s.sh FROM sh s
        |         WHERE md5(CAST(s.doc_id AS VARCHAR)) >= '80'),
        |newb AS (SELECT s.doc_id, s.sh FROM sh s
        |         WHERE md5(CAST(s.doc_id AS VARCHAR)) < '80'),
        |pairs AS (
        |  SELECT n.doc_id AS doc_id, h.doc_id AS hist_id,
        |    len(list_intersect(n.sh, h.sh)) AS inter,
        |    len(n.sh) + len(h.sh) - len(list_intersect(n.sh, h.sh)) AS uni
        |  FROM newb n CROSS JOIN hist h)
        |SELECT doc_id, COUNT(*) AS n_hist_dups, MIN(hist_id) AS first_hist,
        |  MAX(CAST(inter AS DOUBLE) / uni) AS best_jaccard
        |FROM pairs WHERE inter * 5 >= uni * 4 GROUP BY doc_id""".stripMargin +
        orderByAll("doc_id", "n_hist_dups", "first_hist", "best_jaccard")),
    "q_dedup_embed" ->
      (s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i])) /
        |    (sqrt(list_sum(list_transform(range(1,65), i -> CAST(a.embedding[i] AS DOUBLE) * a.embedding[i]))) *
        |     sqrt(list_sum(list_transform(range(1,65), i -> CAST(b.embedding[i] AS DOUBLE) * b.embedding[i])))) AS c
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT va, vb, ROUND(c, 4) AS cosine FROM p WHERE c >= 0.45""".stripMargin +
        orderByAll("va", "vb", "cosine")),
    "q_dedup_semdedup" ->
      (s"""WITH ${Embeddings.kmeansCtes},
        |av AS (SELECT a2.vec_id, a2.cid, e.v FROM a2 JOIN e USING (vec_id)),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_sum(list_transform(range(1, 65), j -> a.v[j] * b.v[j])) /
        |    (sqrt(list_sum(list_transform(range(1, 65), j -> a.v[j] * a.v[j]))) *
        |     sqrt(list_sum(list_transform(range(1, 65), j -> b.v[j] * b.v[j])))) AS c
        |  FROM av a JOIN av b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |d AS (
        |  SELECT vb AS vec_id, MIN(va) AS dup_of, ROUND(MAX(c), 4) AS dup_cosine
        |  FROM p WHERE c >= 0.45 GROUP BY vb),
        |fin AS (
        |  SELECT av.vec_id AS vec_id, av.cid, d.dup_of IS NULL AS kept,
        |    d.dup_of, d.dup_cosine
        |  FROM av LEFT JOIN d ON av.vec_id = d.vec_id)
        |SELECT vec_id, cid, kept, dup_of, dup_cosine FROM fin""".stripMargin +
        orderByAll("vec_id", "cid", "kept", "dup_of", "dup_cosine"))
  )
}
