package graft.plans

import org.apache.spark.sql.DataFrame

/** Stable identity string for memoizing materialized intermediate
  * tables (Dedup's shingle/pair tables, Similarity's scored pairs).
  *
  * Why not the canonicalized plan string alone: leaf nodes erase their
  * data identity when printed — `LogicalRelation`'s string is just
  * "Relation [cols] parquet" (NO file path, so the same projection
  * over /sf0.001 and /sf0.01 collides), and `LocalRelation` prints
  * only its schema (every test-generated dataset collides). A memo
  * keyed that way silently serves one dataset's materialization for
  * another — exactly the class of bug the r3 review flagged for
  * 32-bit semanticHash keys, surfaced for real when a spec looped two
  * scale dirs through the blocked-pairs memo.
  *
  * Contract: `of` returns Some(key) only when EVERY leaf's identity is
  * established exactly (file roots for parquet/orc/csv relations, full
  * row rendering for local data, RDD id for checkpointed inputs);
  * otherwise None, and the caller must compute uncached — correctness
  * never depends on the memo firing. */
object PlanKey {
  def of(df: DataFrame): Option[String] = {
    val plan = df.queryExecution.analyzed
    val ids = plan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            // the CONCRETE file list, not just the root dir: a dir
            // rewritten/appended in place within one session must not
            // memo-hit the old materialization (Spark writers emit
            // fresh UUID part names, so rewrites change this list).
            // In-place overwrites of an identically-named file remain
            // invisible — same caveat as Spark's own FileIndex cache.
            Some("files:" + fs.location.inputFiles.sorted.mkString(","))
          case _ => None
        }
      case loc: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        // exact data rendering, not a hash: a silent collision would
        // serve the wrong table; local inputs are test-sized. Cap the
        // rendered size — an oversized local relation would otherwise
        // build (and retain, via the memo) an unbounded key string, so
        // past 64 KiB it takes the compute-uncached path instead.
        if (loc.data.length > 4096) None
        else {
          val rendered = s"local:${loc.data.length}:${loc.data.mkString("|")}"
          if (rendered.length <= 64 * 1024) Some(rendered) else None
        }
      case r: org.apache.spark.sql.catalyst.plans.logical.Range =>
        Some("range:" + r.toString)
      case rdd: org.apache.spark.sql.execution.LogicalRDD =>
        Some("rdd:" + rdd.rdd.id)
      case _ => None
    }
    if (ids.contains(None)) None
    else Some(plan.canonicalized.toString + "|" + ids.flatten.mkString(";"))
  }

  /** Shared memo-guard discipline for materialized intermediate
    * tables: keyable inputs memoize an eagerly-checkpointed build
    * (bounded — past 8 entries the memo clears so the ContextCleaner
    * can release blocks); unkeyable inputs still CHECKPOINT, just
    * without memoizing — callers rely on the result being pinned
    * (e.g. the connected-components loop reads the pair table twice
    * in its first round and must not re-run the pair join for each
    * read), so the no-memo path must not weaken that. */
  def memoize(memo: java.util.concurrent.ConcurrentHashMap[
        (org.apache.spark.sql.SparkSession, String), DataFrame],
      df: DataFrame)(build: => DataFrame): DataFrame =
    of(df) match {
      case Some(k) =>
        if (memo.size > 8) memo.clear()
        memo.computeIfAbsent((df.sparkSession, k),
          _ => build.localCheckpoint(true))
      case None => build.localCheckpoint(true)
    }
}
