package graft

import org.apache.spark.sql.SparkSession

/** THE local session of every main and spec: the graft SQL
  * extensions, the fork-free local file system (without libhadoop
  * every local file create/mkdir forks a chmod process — see
  * [[graft.sources.LocalFs]]), `local[cpus]` with as many shuffle
  * partitions, UTC session time (the engine's instants render and
  * bucket in UTC whatever the host zone) and no UI. `getOrCreate`: a
  * JVM that already holds a session gets it back. */
object Session {
  def apply(cpus: String): SparkSession =
    SparkSession.builder()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.NioLocalFs].getName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
