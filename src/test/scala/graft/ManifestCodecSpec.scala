package graft

import org.apache.spark.sql.functions._
import graft.sources.{CommitLog, IncrementalView, Tables, VectorIndex}

/** The commit log's one manifest codec: every `_graft_log/` file a
  * writer publishes re-renders byte for byte from its parsed model,
  * the single-column stats of pre-typed manifests parse into typed
  * stats, and names that need JSON escaping record and prune. */
class ManifestCodecSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory("graft_codec_" + tag).toString

  private def logText(root: String, name: String): String =
    java.nio.file.Files.readString(new java.io.File(root, "_graft_log/" + name).toPath)

  private def manifestText(root: String, v: Long): String = logText(root, f"v$v%09d.json")

  /** Asserts `render(parse(f)) == f` for every `_graft_log/` file of
    * `root` (temp files and `handWritten` aside); returns the names. */
  private def roundTrips(root: String, handWritten: Set[String] = Set.empty): Seq[String] = {
    val names = Option(new java.io.File(root, "_graft_log").list()).toSeq.flatten
      .filterNot(n => n.startsWith(".") || handWritten(n)).sorted
    names.foreach { n =>
      val text = logText(root, n)
      assert(CommitLog.Codec.render(CommitLog.Codec.parse(root, n, text)) === text,
        s"$root/_graft_log/$n does not re-render byte for byte")
    }
    names
  }

  private lazy val ev = Tables(spark, sf, "events")
    .select(col("event_id"), col("user_id"), col("event_type"), col("value")).limit(400)

  test("every writer's _graft_log files re-render byte for byte from the codec's model") {
    val roots = Seq.newBuilder[String]
    def table(tag: String)(body: String => Unit): String = {
      val r = tmp(tag); body(r); roots += r; r
    }
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    // plain appends, identity, declared and single-column stats, CoW
    // DML with CDF, merge, both optimizes, checkpoints and properties
    val plain = table("plain") { r =>
      CommitLog.setTableProperty(r, "identity.row_id", "1,1")
      CommitLog.setTableProperty(r, "checkpointInterval", "3")
      CommitLog.setTableProperty(r, "enableChangeDataFeed", "true")
      CommitLog.setTableProperty(r, "statsColumns", "event_id,event_type,value")
      CommitLog.append(spark, r, ev.filter(col("event_id") % 2 === 0), 2)
      CommitLog.appendWithStats(spark, r, ev.filter(col("event_id") % 2 =!= 0), 2, "user_id")
      CommitLog.delete(spark, r, col("event_id") % 7 === 0)
      CommitLog.update(spark, r, col("event_id") % 11 === 0, Seq("value" -> lit(1.5)))
      CommitLog.merge(spark, r, ev.filter(col("event_id") % 13 === 0)
        .withColumn("value", lit(2.5)), "event_id", 1)
      CommitLog.optimize(spark, r, "event_id", Seq(m / 2), 1)
      CommitLog.optimizeClustered(spark, r, Seq("event_id" -> Seq(m / 3), "user_id" -> Seq(50L)), 1)
      CommitLog.compact(spark, r, 1)
      CommitLog.checkpoint(r)
    }
    table("restore") { r =>
      CommitLog.shallowClone(plain, r, Some(3L))
      Seq("sizes", "rows").foreach(k => assert(
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(manifestText(r, 0L)).has(k),
        s"the clone's v0 lists no $k"))
      CommitLog.append(spark, r, ev.limit(10), 1)
      CommitLog.restore(r, 0L)
    }
    // merge-on-read DML: deletion vectors and their row counts
    table("dv") { r =>
      CommitLog.append(spark, r, ev, 2)
      CommitLog.deleteMergeOnRead(spark, r, col("event_id") % 5 === 0)
      CommitLog.updateMergeOnRead(spark, r, col("event_id") % 3 === 0, Seq("value" -> lit(0.5)))
    }
    // partitions, spec evolution and writer fields in the writer's order
    table("part") { r =>
      CommitLog.appendPartitioned(spark, r, ev, "event_type", 1)
      CommitLog.setTableProperty(r, "repartitionLayout", "event_type,user_id")
      CommitLog.appendPartitionedCols(spark, r, ev.filter(col("user_id") < 20),
        Seq("event_type", "user_id"), 1,
        extraMeta = CommitLog.WriterMeta(Map("zz" -> 2L, "aa" -> 1L, "mm" -> 3L, "bb" -> 4L, "cc" -> 5L)),
        extraFromStaged = (fs, _) => CommitLog.WriterMeta(maps = Map("filesSeen" ->
          scala.collection.immutable.VectorMap.from(
            Seq("9", "10", "1", "b", "a").map(_ -> fs.size.toLong)))))
      assert(CommitLog.mapMetaOf(r, 1L, "filesSeen").map(_.keys.toSeq) ===
        Some(Seq("9", "10", "1", "b", "a")), "a writer's map renders in its order")
      CommitLog.overwrite(spark, r, ev.limit(50), 1, partCol = Some("event_type"),
        extraMeta = CommitLog.WriterMeta(Map("w" -> 9L)))
    }
    // schema evolution, widening, rename and drop
    table("schema") { r =>
      CommitLog.append(spark, r, ev.withColumn("n", col("user_id").cast("int")), 1)
      CommitLog.evolveSchema(spark, r,
        Seq(org.apache.spark.sql.types.StructField("extra", org.apache.spark.sql.types.StringType)))
      CommitLog.widenColumnType(spark, r, "n", org.apache.spark.sql.types.LongType)
      CommitLog.renameColumn(spark, r, "value", "amount")
      CommitLog.dropColumn(spark, r, "extra")
      CommitLog.appendEvolved(spark, r, ev.limit(5).withColumn("flag", lit(true)), 1)
    }
    // segment manifests and segment files, plain and partitioned
    table("seg") { r =>
      CommitLog.appendSegment(spark, r, ev.filter(col("event_id") <= m / 2), 2, "event_id")
      CommitLog.appendSegment(spark, r, ev.filter(col("event_id") > m / 2), 1, "event_id")
    }
    table("segpart") { r =>
      CommitLog.appendSegmentPartitioned(spark, r, ev, Seq("event_type"), 1, "event_id")
      CommitLog.appendSegmentPartitioned(spark, r, ev.limit(30), Seq("event_type"), 1, "event_id")
    }
    // an incremental view's watermark and a vector index's cell counts
    val src = table("viewsrc") { r =>
      CommitLog.setTableProperty(r, "enableChangeDataFeed", "true")
      CommitLog.append(spark, r, ev.filter(col("event_id") % 2 === 0), 1)
    }
    table("view") { r =>
      IncrementalView.create(spark, r, src, "event_type", "value")
      CommitLog.append(spark, src, ev.filter(col("event_id") % 2 =!= 0), 1)
      IncrementalView.refresh(spark, r)
      assert(CommitLog.longMetaOf(r, 1L, "viewSrc") === Some(1L))
    }
    val idx = tmp("index")
    val corpus = table("corpus") { r =>
      CommitLog.append(spark, r, Tables(spark, sf, "embeddings").limit(200)
        .select(col("vec_id"), lit("l").as("label"), col("embedding").cast("array<double>").as("v")), 1)
    }
    graft.functions.VectorExprs.register(spark)
    val (assigned, cents) = graft.operators.Similarity.ivfTrain(CommitLog.read(spark, corpus, 0L))
    VectorIndex.create(spark, idx, corpus, 0L, assigned, cents)
    val aRoot = VectorIndex.assignedRoot(idx)
    assert(CommitLog.mapMetaOf(aRoot, 0L, "cellCounts").exists(_.nonEmpty))
    roots += aRoot
    roots += VectorIndex.centroidsRoot(idx)

    val names = roots.result().flatMap(r => roundTrips(r).map(r -> _))
    Seq("v0", "seg-", "ckpt-v", "_last_checkpoint", "_properties.json").foreach(k =>
      assert(names.exists(_._2.startsWith(k)), s"no $k file was written"))
    // no flat manifest carries the single-column stats fields
    names.filter(_._2.matches("v\\d+\\.json")).foreach { case (r, n) =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(logText(r, n))
      if (node.has("files"))
        assert(!node.has("statsCol") && !node.has("stats"), s"$r/$n")
    }
  }

  test("a pre-typed manifest's single-column stats read and prune as before; the next append re-renders them typed") {
    val root = tmp("legacy")
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val cuts = Seq(-1L, m / 4, m / 2, 3 * m / 4, m)
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      CommitLog.append(spark, root, ev.filter(col("event_id") > lo && col("event_id") <= hi), 1)
    }
    val files = CommitLog.snapshotFiles(root, 3L).map(f => "data/" + new java.io.File(f).getName)
    val bounds = files.map { f =>
      val r = spark.read.parquet(new java.io.File(root, f).toString)
        .agg(min(col("event_id")), max(col("event_id"))).head()
      f -> (r.getLong(0), r.getLong(1))
    }.toMap
    // version 4 as a pre-typed appendWithStats wrote it
    val schema = CommitLog.snapshotSchemaOf(root, 3L).get.json
    val legacy = "v000000004.json"
    java.nio.file.Files.writeString(new java.io.File(root, "_graft_log/" + legacy).toPath,
      s"""{"version":4,"op":"append","ts":${System.currentTimeMillis()},""" +
        s""""files":[${files.map("\"" + _ + "\"").mkString(",")}],"statsCol":"event_id",""" +
        s""""stats":{${files.sorted.map(f => s""""$f":[${bounds(f)._1},${bounds(f)._2}]""").mkString(",")}},""" +
        s""""schema":$schema}""")
    // the old reader kept every file whose [min, max] overlaps the probe
    val (lo, hi) = (m / 4 + 1, m / 2)
    val before = files.filter(f => bounds(f)._2 >= lo && bounds(f)._1 <= hi)
    assert(before.size === 1)
    val probe = CommitLog.ProbeTree(Nil, Seq(CommitLog.RangeProbe("event_id", Some(lo), Some(hi))))
    def kept(v: Long): (Seq[String], Int) = {
      val p = CommitLog.prune(root, v, probe)
      (p.files, p.filesTotal)
    }
    assert(kept(4L) === ((before, 4)))
    val (df, p) = CommitLog.prunedScan(spark, root, 4L, probe)
    assert((p.filesTotal, p.files.size) === ((4, 1)))
    assert(df.filter(col("event_id").between(lo, hi)).count() ===
      ev.filter(col("event_id").between(lo, hi)).count())
    // lifted entries carry no null count: COUNT(col) and TopN never use them
    val aux = CommitLog.auxOf(root, 4L)
    assert(aux.statsTags === Map("event_id" -> "long"))
    assert(aux.stats2 === bounds.map { case (f, (a, b)) =>
      f -> Map("event_id" -> CommitLog.ColStat(Some(a), Some(b), None)) })
    // a later append re-renders them as typed stats, pruning the same
    val v5 = CommitLog.append(spark, root, ev.limit(5), 1)
    val text = manifestText(root, v5)
    assert(!text.contains("\"statsCol\"") && text.contains(""""statsTags":{"event_id":"long"}"""), text)
    val f0 = files.sorted.head
    assert(text.contains(s""""$f0":{"event_id":{"lo":${bounds(f0)._1},"hi":${bounds(f0)._2}}}"""), text)
    val (fs5, total5) = kept(v5)
    assert(total5 === 5 && fs5.toSet === before.toSet + CommitLog.snapshotFiles(root, v5)
      .map(f => "data/" + new java.io.File(f).getName).find(f => !files.contains(f)).get)
    roundTrips(root, handWritten = Set(legacy))
  }

  test("a stats column and writer fields whose names need escaping record, round-trip and prune") {
    val weird = "k\"q\\b\u0001é日"
    val df = spark.range(0, 100, 1, 2).select(col("id").as(weird), (col("id") * 2).as("v"),
      lit("v\"\\é日").as("p"))
    val flat = tmp("esc_flat")
    CommitLog.appendWithStats(spark, flat, df.filter(col(s"`$weird`") < 50), 1, weird)
    val v1 = CommitLog.appendPartitioned(spark, flat, df.filter(col(s"`$weird`") >= 50), "p", 1,
      extraMeta = CommitLog.WriterMeta(Map(weird -> 7L), Map(weird + "m" -> Map(weird -> 3L))))
    assert(CommitLog.longMetaOf(flat, v1, weird) === Some(7L))
    assert(CommitLog.mapMetaOf(flat, v1, weird + "m") === Some(Map(weird -> 3L)))
    assert(CommitLog.auxOf(flat, v1).statsTags.get(weird).contains("long"))
    val p = CommitLog.prune(flat, v1,
      CommitLog.ProbeTree(Nil, Seq(CommitLog.RangeProbe(weird, Some(60L), Some(70L)))))
    assert((p.filesTotal, p.files.size) === ((2, 1)),
      "the stat-less partitioned file reads, the other prunes")
    val seg = tmp("esc_seg")
    CommitLog.appendSegment(spark, seg, df.filter(col(s"`$weird`") < 50), 1, weird)
    val vs = CommitLog.appendSegment(spark, seg, df.filter(col(s"`$weird`") >= 50), 1, weird)
    assert(CommitLog.segmentStatsCol(seg, vs) === Some(weird))
    val ps = CommitLog.prune(seg, vs,
      CommitLog.ProbeTree(Nil, Seq(CommitLog.RangeProbe(weird, Some(0L), Some(10L)))))
    assert((ps.segsTotal, ps.segsRead) === ((2, 1)))
    Seq(flat, seg).foreach(roundTrips(_))
  }

  test("the first appendWithStats, appendSegment and appendSegmentPartitioned each start one job") {
    val events = Tables(spark, sf, "events").select(col("event_id"), col("event_type"), col("value"))
    val writes: Seq[(String, String => Any)] = Seq(
      "appendWithStats" -> (r => CommitLog.appendWithStats(spark, r, events, 2, "event_id")),
      "appendSegment" -> (r => CommitLog.appendSegment(spark, r, events, 2, "event_id")),
      "appendSegmentPartitioned" -> (r =>
        CommitLog.appendSegmentPartitioned(spark, r, events, Seq("event_type"), 1, "event_id")))
    writes.foreach { case (name, write) =>
      val r = tmp("jobs")
      assert(jobsOf(write(r)) === 1, s"$name: the first append")
      assert(jobsOf(write(r)) === 1, s"$name: the second append")
    }
  }
}
