package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables

/** End-to-end training-data pipeline demo — the composition story:
  * one `main` that chains the engine's operator families the way a
  * 100 TB corpus build would (each stage is the same declarative plan
  * that runs on a cluster; only `sfDir` changes).
  *
  *   documents → exact dedup → near-dup removal (prefix-filtered
  *   Jaccard) → quality filter → per-doc token stats
  *   ⋈ embeddings → ANN neighbor count per survivor → summary.
  *
  * Run: tools/run.sh graft.Pipeline [sfDir]
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    VectorFunctions.register(spark)

    val docs = Tables(spark, sfDir, "documents")

    // 1. exact dedup: canonical survivor per content hash
    val exactSurvivors = docs
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")

    // 2. near-dup removal: drop the higher doc_id of each J>=0.8 pair
    val nearDupLosers = Dedup.nearDupPairs(exactSurvivors)
      .select(col("db").as("doc_id")).distinct()
    val deduped = exactSurvivors.join(nearDupLosers, Seq("doc_id"), "left_anti")

    // 3. quality filter + token stats
    val toks = expr("filter(split(text, ' '), t -> t <> '')")
    val quality = deduped
      .withColumn("n_tok", size(toks))
      .filter(col("n_tok") >= 10 && col("n_chars") >= 60)

    // 4. join the vector modality; count close ANN neighbors per doc
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val lshNeighbors = Similarity.lshPairs(vecs, threshold = 1.15)
      .select(explode(array(col("va"), col("vb"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_close_neighbors"))
    val corpus = quality
      .join(vecs, col("doc_id") === col("vec_id"), "inner")
      .join(lshNeighbors, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_close_neighbors"))

    val summary = corpus.agg(
      count(lit(1)).as("docs_out"),
      sum(col("n_tok")).as("total_tokens"),
      sum(col("n_close_neighbors")).as("near_neighbor_links"))
    val in = docs.count()
    val out = summary.collect()(0)
    println(s"[pipeline] docs_in=$in docs_out=${out.getLong(0)} " +
      s"total_tokens=${out.getLong(1)} near_neighbor_links=${out.getLong(2)}")
    spark.stop()
  }
}
