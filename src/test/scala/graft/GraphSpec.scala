package graft

import org.apache.spark.sql.functions._

/** Graph-family invariants beyond the DuckDB oracle rows: structural
  * laws the hash compare cannot articulate (metric properties of BFS
  * distances against the edge set itself). */
class GraphSpec extends SparkSpec {

  test("bfsHops: co-partitioned fallback path equals the broadcast path (r9)") {
    // threshold 0 forces the fallback from round 1 (every layer
    // "outgrows" broadcast) — the schedules must be semantically
    // interchangeable, layer for layer
    val fast = graft.operators.Graph.bfsHops(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val coPart = graft.operators.Graph.bfsHops(spark, sf, broadcastMaxLayer = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast.nonEmpty)
    assert(coPart === fast, "fallback path diverged from the broadcast path")
  }

  test("triangles: co-partitioned adjacency path equals the broadcast path (r9)") {
    // the size gate must be a pure delivery choice — broadcast and
    // co-partitioned probe joins consume the same packed adjacency and
    // emit the same 3-rows-per-triangle multiset, so per-node counts
    // agree exactly
    val bcast = graft.operators.Graph
      .trianglesPerNode(spark, sf, forcePath = Some(true))._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val coPart = graft.operators.Graph
      .trianglesPerNode(spark, sf, forcePath = Some(false))._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bcast.nonEmpty)
    assert(coPart === bcast, "co-partitioned path diverged from broadcast path")
  }

  test("q_graph_bfs: seed at 0, hop metric is edge-consistent (r8)") {
    val hops = SparkEntry.queries("q_graph_bfs")(spark, sf).collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[Long]("hops")).toMap
    assert(hops.nonEmpty)
    // the seed is the minimum vertex id and must sit at distance 0
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = li.select(col("l_orderkey"), col("l_partkey").as("a"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("b")), Seq("l_orderkey"))
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val seed = edges.map(_._1).min
    assert(hops(seed) === 0L, s"seed $seed not at distance 0")
    assert(hops.values.forall(h => h >= 0 && h <= 6), "hops outside the 6-round horizon")
    // metric law: adjacent reached vertices differ by at most one hop,
    // and no reached vertex's neighbor can be closer than hops-1
    edges.foreach { case (u, v) =>
      (hops.get(u), hops.get(v)) match {
        case (Some(hu), Some(hv)) =>
          assert(math.abs(hu - hv) <= 1, s"edge ($u,$v) breaks the metric: $hu vs $hv")
        case (Some(hu), None) =>
          // v unreached within 6 rounds ⇒ u must sit on the horizon
          assert(hu === 6L, s"$v unreached but neighbor $u at $hu < 6")
        case _ => ()
      }
    }
  }

  test("copurchaseEdges is symmetric: the bfsHops last-two-layers precondition") {
    // bfsHops anti-joins only the last two layers, which is exact only
    // while every edge has its mirror
    val edges = graft.operators.Graph.copurchaseEdges(spark, sf)
    val mirror = edges.select(col("dst").as("src"), col("src").as("dst"))
    assert(!edges.isEmpty)
    assert(edges.except(mirror).isEmpty, "an edge lacks its (dst, src) mirror")
    assert(mirror.except(edges).isEmpty, "a mirror lacks its (src, dst) edge")
  }
}
