package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{EventSource, Tables}
import graft.sources.CommitLog.{ProbeTree, RangeProbe}

/** Stream-vs-batch equivalence + ingestion lifecycle (SURVEY.md
  * §5.2.4/5.2.5): the Structured Streaming prefix-consistency contract
  * is the A1–A5 semantics test — a finite stream must agree with its
  * batch twin on every result the watermark allowed it to emit. */
class StreamingSpec extends SparkSpec {

  /** A probe tree accepting `vs` on partition column `c`. */
  private def partTree(c: String, vs: String*): ProbeTree = ProbeTree(Seq(c -> vs.toSet), Nil)

  /** A probe tree with one closed range on stats column `c`. */
  private def rangeTree(c: String, lo: Any, hi: Any): ProbeTree =
    ProbeTree(Nil, Seq(RangeProbe(c, Some(lo), Some(hi))))

  test("s_stream_tumbling emits exactly the batch q_time_tumbling buckets the watermark closed") {
    val streamRows = SparkEntry.queries("s_stream_tumbling")(spark, sf)
      .select("bucket_start", "n_events", "sum_value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batchRows = SparkEntry.queries("q_time_tumbling")(spark, sf)
      .select("bucket_start", "n_events", "sum_value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamRows.nonEmpty)
    // every emitted bucket agrees exactly with the batch twin
    streamRows.foreach { case (b, v) =>
      assert(batchRows.get(b).contains(v), s"bucket $b stream=$v batch=${batchRows.get(b)}")
    }
    // only tail buckets (window end past the final watermark) may be missing
    val maxTs = graft.sources.Tables(spark, sf, "events")
      .agg(max(col("ts")).cast("long")).collect()(0).getLong(0)
    val watermark = maxTs - 600
    batchRows.keys.filterNot(streamRows.contains).foreach { b =>
      assert(b + 3600 > watermark, s"non-tail bucket $b missing from stream output")
    }
  }

  test("s_stateful_zscore is bit-equal to the batch q_time_anomaly series") {
    val stream = SparkEntry.queries("s_stateful_zscore")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    val batch = SparkEntry.queries("q_time_anomaly")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(stream.nonEmpty)
    // the sentinel flush closes every real day, so the streamed series
    // must equal the batch series EXACTLY — same keys, same bits
    assert(stream.keySet === batch.keySet)
    stream.foreach { case (k, v) =>
      assert(batch(k) === v, s"$k stream=$v batch=${batch(k)}")
    }
  }

  test("s_stream_topk matches the batch per-hour top-3 on watermark-closed windows") {
    val streamRows = SparkEntry.queries("s_stream_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(3)) ->
        ((r.getString(1), r.getLong(2)))).toMap
    assert(streamRows.nonEmpty)
    // batch twin: hourly (bucket, type) counts ranked the same way
    val e = graft.sources.Tables(spark, sf, "events")
    val counts = e.groupBy(
        (expr("CAST(ts AS LONG) DIV 3600") * 3600).as("bucket_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    val batchRows = counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getString(1), r.getLong(2)))).toMap
    streamRows.foreach { case (k, v) =>
      assert(batchRows.get(k).contains(v), s"$k stream=$v batch=${batchRows.get(k)}")
    }
  }

  test("s_stream_sliding emits exactly the batch q_time_sliding buckets the watermark closed") {
    val streamRows = SparkEntry.queries("s_stream_sliding")(spark, sf)
      .select("bucket_start", "n_events", "sum_value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batchRows = SparkEntry.queries("q_time_sliding")(spark, sf)
      .select("bucket_start", "n_events", "sum_value").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamRows.nonEmpty)
    streamRows.foreach { case (b, v) =>
      assert(batchRows.get(b).contains(v), s"bucket $b stream=$v batch=${batchRows.get(b)}")
    }
    // only tail windows (end past the final watermark) may be missing
    val maxTs = graft.sources.Tables(spark, sf, "events")
      .agg(max(col("ts")).cast("long")).collect()(0).getLong(0)
    val watermark = maxTs - 600
    batchRows.keys.filterNot(streamRows.contains).foreach { b =>
      assert(b + 3600 > watermark, s"non-tail window $b missing from stream output")
    }
  }

  test("compaction conserves every row while collapsing the small-file layout") {
    val rep = SparkEntry.queries("s_compact_files")(spark, sf).collect()
    assert(rep.nonEmpty)
    val total = graft.sources.Tables(spark, sf, "lineitem").count()
    assert(rep.map(_.getLong(3)).sum == total, "rows_before must cover the table")
    rep.foreach { r =>
      assert(r.getLong(3) == r.getLong(4),
        s"partition ${r.getString(0)} lost rows: ${r.getLong(3)} -> ${r.getLong(4)}")
      assert(r.getLong(2) < r.getLong(1),
        s"partition ${r.getString(0)} not compacted: ${r.getLong(1)} -> ${r.getLong(2)} files")
    }
  }

  test("text offset\\tline sink round-trips the events table exactly (A7 reference layout)") {
    val decoded = graft.operators.Streams.textOffsetRoundTrip(spark, sf)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // offset column carries the log position = event_id
    assert(decoded.filter(col("offset") =!= col("event_id")).count() === 0)
    val back = decoded.select(cols.map(col): _*)
    val batch = graft.sources.Tables(spark, sf, "events").select(cols.map(col): _*)
    assert(back.count() === batch.count())
    assert(back.exceptAll(batch).count() === 0, "read-back rows not in batch table")
    assert(batch.exceptAll(back).count() === 0, "batch rows lost in the text sink")
  }

  test("s_stream_cdc: incremental merge state equals the batch changelog compaction (r8)") {
    import org.apache.spark.sql.expressions.Window
    // batch twin: the SAME derived changelog compacted in one pass
    val chg = Tables(spark, sf, "events")
      .select(col("user_id").as("k"), col("event_id").as("version"),
        when(col("event_id") % 11 === 0, "D").otherwise("U").as("op"),
        col("value"))
    val w = Window.partitionBy(col("k")).orderBy(col("version").desc)
    val batchState = chg.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("k"), col("version"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = SparkEntry.queries("s_stream_cdc")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
        r.getAs[Double]("last_value"))).toSet
    assert(batchState.nonEmpty)
    assert(streamed === batchState,
      s"incremental CDC state diverged: ${streamed.size} vs ${batchState.size} rows")
    // the delete path provably fired: some users' latest op is a tombstone
    val tombstoned = chg.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") === "D").count()
    assert(tombstoned > 0, "fixture produced no tombstoned keys — delete rule dead")
  }

  test("stream-stream interval self-join equals the batch twin") {
    val stream = SparkEntry.queries("s_join_stream")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val e = graft.sources.Tables(spark, sf, "events").filter(col("user_id") < 15)
    val a = e.select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val b = e.select(col("user_id").as("b_user"), col("ts").as("b_ts"),
      col("event_id").as("b_id"))
    val batch = a.join(b,
        col("user_id") === col("b_user") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 10 MINUTES") &&
          col("a_id") < col("b_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("a_id")).as("first_a"), max(col("b_id")).as("last_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stream.nonEmpty)
    assert(stream === batch)
  }

  test("stream-stream LEFT OUTER interval join equals the batch twin, unmatched rows emit (r9)") {
    val stream = SparkEntry.queries("s_stream_outer_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val e = graft.sources.Tables(spark, sf, "events").filter(col("user_id") < 15)
    val a = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("a_ts"), col("event_id").as("a_id"))
    val b = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("b_id"))
    val batch = a.join(b,
        col("user_id") === col("b_user") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("b_id")).as("n_converted"),
        sum(when(col("b_id").isNull, 1L).otherwise(0L)).as("n_unconverted"),
        min(col("a_id")).as("first_impression"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(stream.nonEmpty)
    // the OUTER path must actually fire: at least one user has an
    // unconverted impression (30-min conversion windows are sparse)
    assert(stream.exists(_._4 > 0L), s"no unmatched rows emitted: $stream")
    assert(stream === batch)
  }

  test("sequence-file sink round-trips all events with offset == event_id (A7 contrib layout)") {
    val r = SparkEntry.queries("s_sink_seqfile")(spark, sf).collect()(0)
    val n = graft.sources.Tables(spark, sf, "events").count()
    assert(r.getAs[Long]("n_rows") === n)
    assert(r.getAs[Long]("n_offsets") === n)
    assert(r.getAs[Long]("n_offset_eq_id") === n)
  }

  test("streaming registry decode quarantines poison lines and loses no good rows") {
    val r = SparkEntry.queries("s_decode_stream")(spark, sf).collect()(0)
    val expectedGood = graft.sources.Tables(spark, sf, "events")
      .filter(col("user_id") < 50).count()
    assert(r.getAs[Long]("n_good") === expectedGood)
    assert(r.getAs[Long]("n_ids") === expectedGood)
    assert(r.getAs[Long]("n_quarantined") === 3L)
    assert(r.getAs[Long]("n_rows") === expectedGood + 3L)
  }

  test("avro container sink round-trips all events (ids, types, decimal value sum)") {
    val r = SparkEntry.queries("s_sink_avro")(spark, sf).collect()(0)
    val e = graft.sources.Tables(spark, sf, "events")
    val n = e.count()
    assert(r.getAs[Long]("n_rows") === n)
    assert(r.getAs[Long]("n_ids") === n)
    assert(r.getAs[Long]("n_types") === e.select("event_type").distinct().count())
    val want = e.agg(graft.functions.Det.dsum(col("value"))).collect()(0).getDouble(0)
    assert(r.getAs[Double]("sum_value") === want)
  }

  test("streaming avro decode quarantines poison frames and loses no good rows") {
    val r = SparkEntry.queries("s_decode_avro")(spark, sf).collect()(0)
    val expectedGood = graft.sources.Tables(spark, sf, "events")
      .filter(col("user_id") < 50).count()
    assert(r.getAs[Long]("n_good") === expectedGood)
    assert(r.getAs[Long]("n_ids") === expectedGood)
    assert(r.getAs[Long]("n_quarantined") === 2L)
    assert(r.getAs[Long]("n_rows") === expectedGood + 2L)
  }

  test("checkpointed AvailableNow re-run ingests nothing new (A4/A5 exactly-once)") {
    val out = java.nio.file.Files.createTempDirectory("graft_resume_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_resume_ck").toString
    def runOnce(): Long = {
      val q = EventSource.FileStream.load(spark, sf)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    val n1 = runOnce()
    val n2 = runOnce() // same checkpoint: offsets committed, no re-consume
    assert(n1 > 0)
    assert(n2 === n1, s"re-run duplicated rows: $n1 -> $n2")
  }

  test("stateful sessions agree with batch sessionization on closed sessions") {
    val stream = SparkEntry.queries("s_stateful_session")(spark, sf)
      .select(col("user_id"), col("session_start").cast("long"),
        col("session_end").cast("long"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = SparkEntry.queries("q_sessionize")(spark, sf)
      .filter(col("user_id") < 40)
      .select(col("user_id"), col("session_start").cast("long"),
        col("session_end").cast("long"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stream.nonEmpty)
    val missing = stream -- batch
    assert(missing.isEmpty, s"stream emitted sessions absent from batch: ${missing.take(3)}")
  }

  test("streaming session_window emits exactly the watermark-closed batch sessions") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val cols = Seq("user_id", "session_start", "session_end", "n_events", "sum_value")
    val stream = SparkEntry.queries("s_stream_session_window")(spark, sf)
      .select(cols.map(col): _*).collect().map(key).toSet
    val batch = SparkEntry.queries("q_win_session_window")(spark, sf)
      .select(cols.map(col): _*).collect().map(key).toSet
    assert(stream.nonEmpty)
    // every emitted session agrees exactly with the batch twin
    val bogus = stream -- batch
    assert(bogus.isEmpty, s"stream emitted sessions absent from batch: ${bogus.take(3)}")
    // only tail sessions (end past the final watermark) may be missing
    val maxTs = graft.sources.Tables(spark, sf, "events")
      .agg(max(col("ts")).cast("long")).collect()(0).getLong(0)
    val watermark = maxTs - 600
    (batch -- stream).foreach { s =>
      // >= : both sides are floored to whole seconds, so a session
      // ending within the watermark's second is legitimately unemitted
      assert(s._3 >= watermark, s"non-tail session $s missing from stream output")
    }
  }

  test("late rows beyond the watermark are dropped (B9 s_late_data)") {
    val buckets = SparkEntry.queries("s_late_data")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val day2 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00").getTime / 1000
    val day3 = java.sql.Timestamp.valueOf("2024-01-03 00:00:00").getTime / 1000
    assert(buckets.nonEmpty)
    assert(!buckets.contains(day2) && !buckets.contains(day3),
      s"late day-2/3 buckets should have been dropped: ${buckets.get(day2)}, ${buckets.get(day3)}")
  }

  test("s_stateful_session_tws: transformWithState twin equals flatMapGroupsWithState sessions") {
    // the API-migration safety net: the Spark 4.x successor API
    // (named state + explicit timers) must reproduce the legacy
    // sessionization row for row — same closed sessions, same counts,
    // same sums, nothing extra from stale timers
    val legacy = SparkEntry.queries("s_stateful_session")(spark, sf)
      .collect().map(_.mkString("|")).toSet
    val tws = SparkEntry.queries("s_stateful_session_tws")(spark, sf)
      .collect().map(_.mkString("|")).toSet
    assert(tws.nonEmpty, "tws emitted no sessions")
    assert(tws === legacy, "transformWithState sessions diverged from flatMapGroupsWithState")
  }

  test("stateful keys are identical on the RocksDB state store (100 TB state config)") {
    // the three state-heavy shapes: flatMapGroupsWithState with
    // event-time timeout (sessions), flatMapGroupsWithState with a
    // custom cross-window cursor (zscore), and symmetric stream-stream
    // join state — each must produce byte-identical results when the
    // state store is swapped to the large-keyspace RocksDB provider
    def run(key: String): Set[String] =
      SparkEntry.queries(key)(spark, sf)
        .collect().map(_.mkString("|")).toSet
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val clogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = spark.conf.getOption(confKey)
    val prevClog = spark.conf.getOption(clogKey)
    Seq("s_stateful_session", "s_stateful_zscore", "s_join_stream").foreach { k =>
      try {
        spark.conf.unset(confKey)
        spark.conf.unset(clogKey)
        val hdfs = run(k)
        spark.conf.set(confKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val rocks = run(k)
        assert(rocks === hdfs, s"$k: RocksDB-backed state diverged from default store")
        assert(rocks.nonEmpty, s"$k: empty result")
        // changelog checkpointing is the large-state recovery mode (per
        // batch: upload the delta, not a full snapshot) — results must
        // be identical under it too
        spark.conf.set(clogKey, "true")
        val clog = run(k)
        assert(clog === hdfs, s"$k: changelog-checkpointed state diverged")
      } finally {
        prev.fold(spark.conf.unset(confKey))(spark.conf.set(confKey, _))
        prevClog.fold(spark.conf.unset(clogKey))(spark.conf.set(clogKey, _))
      }
    }
  }

  test("streaming near-dup suppression drops most planted near-duplicates") {
    val out = SparkEntry.queries("s_dedup_stream_near")(spark, sf).collect()(0)
    val survivors = out.getLong(0)
    val total = graft.sources.Tables(spark, sf, "documents").count()
    val truePairs = graft.operators.Dedup
      .nearDupPairs(graft.sources.Tables(spark, sf, "documents")).count()
    assume(truePairs > 0, "no planted near-dups at this sf")
    val suppressed = total - survivors
    // each J≈0.99 pair collides in the band with prob ≈0.96; allow slack
    assert(suppressed >= (truePairs * 7) / 10,
      s"suppressed only $suppressed of ~$truePairs near-dup members")
    assert(survivors > total / 2, "over-suppression: band key too coarse")
  }

  test("streaming dedup emits each event_id once despite full replay") {
    val out = SparkEntry.queries("s_dedup_stream")(spark, sf)
      .agg(sum(col("n_rows")).as("rows"), sum(col("n_ids")).as("ids"))
      .collect()(0)
    assert(out.getLong(0) === out.getLong(1), s"dupes leaked: $out")
  }

  test("commit log: reader pinned to v0 is isolated from a concurrent compaction (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_iso").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    val pinnedFiles = CommitLog.snapshotFiles(root, 0L)
    val before = CommitLog.read(spark, root, 0L)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    // concurrent maintenance: append + compaction rewrite the live table
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
    CommitLog.compact(spark, root, nFiles = 1)
    // the pinned reader's files are untouched (compaction never deletes)
    assert(pinnedFiles.forall(f => new java.io.File(f).exists()),
      "compaction deleted files a pinned snapshot still references")
    val after = CommitLog.read(spark, root, 0L)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(after === before, "pinned v0 read changed under concurrent rewrites")
    // the compacted head has everything, in fewer files
    assert(CommitLog.snapshotFiles(root, 2L).size === 1)
    assert(CommitLog.read(spark, root, 2L).count() === ev.count())
  }

  test("commit log: changes() refuses a range crossing a compaction (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_cdf").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    CommitLog.compact(spark, root, nFiles = 1)
    // append-only range works and carries exactly the appended rows
    val delta = CommitLog.changes(spark, root, 0L, 1L)
    assert(delta.filter(col("event_id") % 2 === 0).count() === 0)
    assert(delta.count() === ev.filter(col("event_id") % 2 =!= 0).count())
    // a range crossing the rewrite must refuse, not re-emit old rows
    val ex = intercept[IllegalArgumentException] {
      CommitLog.changes(spark, root, 1L, 2L)
    }
    assert(ex.getMessage.contains("compact"), ex.getMessage)
  }

  test("commit log: vacuum keeps retained snapshots readable, drops older ones (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_vac").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
    val head = CommitLog.compact(spark, root, nFiles = 1)
    val total = ev.count()
    val (removed, kept) = CommitLog.vacuum(root, retainFrom = head)
    assert(removed === 4L && kept === 1L, s"removed=$removed kept=$kept")
    // the retained head is untouched...
    assert(CommitLog.read(spark, root, head).count() === total)
    // ...and the pre-retention snapshot is genuinely gone (files AND log)
    intercept[Exception] { CommitLog.snapshotFiles(root, 0L) }
  }

  test("commit log: vacuum vs streaming reader — floor restart recovers, stale resume fails named (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_vacstr").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(400)
    def drain(outDir: String, ckDir: String,
        opts: Map[String, String] = Map.empty): Unit = {
      val q = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root).options(opts).load()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    CommitLog.append(spark, root, ev.filter(col("event_id") % 4 === 0), nFiles = 1)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 4 === 1), nFiles = 1)
    val out1 = java.nio.file.Files.createTempDirectory("graft_vs_out1").toString
    val ck1 = java.nio.file.Files.createTempDirectory("graft_vs_ck1").toString
    drain(out1, ck1)
    assert(spark.read.parquet(out1).count() ===
      ev.filter(col("event_id") % 4 <= 1).count())
    // a third append, then vacuum to the head: manifests 0 and 1 are
    // gone, but v2's manifest (a COMPLETE snapshot listing) retains
    // every data file
    val v2 = CommitLog.append(spark, root,
      ev.filter(col("event_id") % 4 === 2), nFiles = 1)
    CommitLog.vacuum(root, retainFrom = v2)
    // the OLD checkpoint resumes at an offset whose diff base was
    // vacuumed: it must fail with the NAMED error, not an opaque
    // FileNotFound, and never silently re-emit the retained snapshot
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(out1, ck1)
    }
    val msgs = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("vacuumed") && msgs.contains("startingVersion"),
      s"stale resume did not fail with the named vacuum error: $msgs")
    // a FRESH checkpoint at startingVersion = the retention floor
    // consumes the retained base snapshot in FULL (Delta's
    // startingVersion semantics — the r10 seed fix; before it, only
    // versions >= floor+1 were consumable)
    val out2 = java.nio.file.Files.createTempDirectory("graft_vs_out2").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft_vs_ck2").toString
    drain(out2, ck2, Map("startingVersion" -> v2.toString))
    assert(spark.read.parquet(out2).count() ===
      ev.filter(col("event_id") % 4 <= 2).count(),
      "floor restart did not deliver the full retained snapshot")
  }

  test("commit log: restore refuses a vacuumed-past target instead of publishing dangling entries (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_rstvac").toString
    val ev = Tables(spark, sf, "events").select(col("event_id")).limit(100)
    val v0 = CommitLog.append(spark, root,
      ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    // simulate a raced/partial vacuum: one of v0's data files is gone
    // while its manifest survives — restore must fail HERE with the
    // named error, not publish a head that breaks at read time
    assert(new java.io.File(CommitLog.snapshotFiles(root, v0).head).delete())
    val ex = intercept[IllegalArgumentException] { CommitLog.restore(root, v0) }
    assert(ex.getMessage.contains("vacuumed past restore target"), ex.getMessage)
  }

  test("commit log: partition values prune from log metadata, carry across appends and CoW (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_part").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
    val v1 = CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "event_type", filesPerPartition = 1)
    // 5 event types × 1 file × 2 appends; the one-partition probe
    // reads exactly its 2 files — and the PLAN holds only the manifest
    // survivors (inputFiles is the no-directory-listing pin)
    val (df, p) = CommitLog.prunedScan(spark, root, v1, partTree("event_type", "click"))
    val (total, nRead) = (p.filesTotal, p.files.size)
    assert(total === 10 && nRead === 2, s"total=$total read=$nRead")
    assert(df.inputFiles.length === 2,
      "pruned plan reads more files than the manifest survivors")
    assert(df.filter(col("event_type") === "click").count() ===
      ev.filter(col("event_type") === "click").count())
    // rows outside the probed partitions are physically absent from
    // the pruned scan (value-level, not just file counting)
    assert(df.filter(col("event_type") =!= "click").count() === 0)
    // a CoW delete carries clean files WITH their partition entries:
    // the deleted partition's files rewrite, every other keeps pruning
    val (v2, carried, rewritten) =
      CommitLog.delete(spark, root, col("event_type") === "click")
    assert(carried === 8L && rewritten === 0L,
      s"delete should dirty exactly click's 2 files: carried=$carried rewritten=$rewritten")
    val (df2, p2) = CommitLog.prunedScan(spark, root, v2, partTree("event_type", "error"))
    val (total2, nRead2) = (p2.filesTotal, p2.files.size)
    assert(total2 === 8 && nRead2 === 2, s"post-delete total=$total2 read=$nRead2")
    assert(df2.filter(col("event_type") === "error").count() ===
      ev.filter(col("event_type") === "error").count())
    // probing a column the table is not partitioned by refuses
    val ex = intercept[IllegalArgumentException] {
      CommitLog.prunedScan(spark, root, v2, partTree("user_id", "1"))
    }
    assert(ex.getMessage.contains("partition column"), ex.getMessage)
    // a PARTIAL-partition delete rewrites files — since late r10 the
    // rewrites restage partition-aligned, so the layout (and pruning)
    // survives: an 'error' probe must NOT read 'view''s rewritten files
    val (v3, _, rew3) = CommitLog.delete(spark, root,
      col("event_type") === "view" && col("user_id") % 4 === 0)
    assert(rew3 > 0, "fixture must dirty view's files")
    val (df3, p3) = CommitLog.prunedScan(spark, root, v3, partTree("event_type", "error"))
    val (total3, nRead3) = (p3.filesTotal, p3.files.size)
    assert(nRead3 === 2,
      s"rewritten files lost their partition entries: read $nRead3 of $total3")
    assert(df3.filter(col("event_type") === "error").count() ===
      ev.filter(col("event_type") === "error").count())
    // ... and the rewritten partition itself still prunes AND is whole
    val (df3v, p3v) = CommitLog.prunedScan(spark, root, v3, partTree("event_type", "view"))
    val nRead3v = p3v.files.size
    assert(nRead3v.toInt === df3v.inputFiles.length && nRead3v <= 2,
      s"view probe read $nRead3v files")
    assert(df3v.filter(col("event_type") === "view").count() ===
      ev.filter(col("event_type") === "view" &&
        !(col("user_id") % 4 === 0)).count())
    // the streaming sink twin: version ≡ batchId with partition values
    val root2 = java.nio.file.Files.createTempDirectory("graft_cl_partb").toString
    assert(CommitLog.appendBatchPartitioned(spark, root2,
      ev.filter(col("event_id") % 2 === 0), "event_type", 1, batchId = 0L))
    assert(!CommitLog.appendBatchPartitioned(spark, root2,
      ev.filter(col("event_id") % 2 === 0), "event_type", 1, batchId = 0L),
      "re-delivered batch must skip, not double-append")
    val pStream = CommitLog.prune(root2, 0L, partTree("event_type", "view"))
    val (t2, r2) = (pStream.filesTotal, pStream.files.size)
    assert(t2 === 5 && r2 === 1, s"streamed table total=$t2 read=$r2")
  }

  test("streaming CDF: checkpointed restart delivers only the delta; restore and disabled tables refuse (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_scdf").toString
    CommitLog.setTableProperty(root, "enableChangeDataFeed", "true")
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(600)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 0), nFiles = 1)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 1), nFiles = 1)
    val out = java.nio.file.Files.createTempDirectory("graft_scdf_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_scdf_ck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root).option("readChangeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val n0 = spark.read.parquet(out).count()
    assert(n0 === ev.filter(col("event_id") % 3 =!= 2).count())
    // delta-only restart: a delete between drains emits ONLY its
    // deleted rows (delete-tagged), nothing re-emitted
    CommitLog.delete(spark, root, col("event_id") % 3 === 0)
    drain()
    val after = spark.read.parquet(out)
    assert(after.count() === n0 + ev.filter(col("event_id") % 3 === 0).count())
    assert(after.filter(col("_change_type") === "delete").count() ===
      ev.filter(col("event_id") % 3 === 0).count())
    assert(after.select("_commit_version").distinct().count() === 3)
    // a restore version refuses with a named error
    CommitLog.restore(root, 1L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(ex.getMessage.contains("restore") ||
      Option(ex.getCause).exists(_.getMessage.contains("restore")), ex.getMessage)
    // a CDF-disabled table's delete version fails naming the property
    val root2 = java.nio.file.Files.createTempDirectory("graft_scdf2").toString
    CommitLog.append(spark, root2, ev.limit(100), nFiles = 1)
    CommitLog.delete(spark, root2, col("event_id") % 2 === 0)
    val out2 = java.nio.file.Files.createTempDirectory("graft_scdf_o2").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft_scdf_c2").toString
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root2).option("readChangeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", out2).option("checkpointLocation", ck2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(ex2.getMessage.contains("enableChangeDataFeed") ||
      Option(ex2.getCause).exists(_.getMessage.contains("enableChangeDataFeed")),
      ex2.getMessage)
  }

  test("commit log: partition values with special characters and NULL round-trip the staging escape (r10)") {
    import graft.sources.CommitLog
    import spark.implicits._
    // values chosen to exercise Hive %XX path escaping — space, '=',
    // '/', ':', a literal '%', and NULL (the explicit sentinel route)
    val nasty = Seq("a b", "k=v", "x/y", "t:00", "p%25q")
    val rows = nasty.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
      ((99L, null: String))
    val df = rows.toDF("k", "part_val")
    val root = java.nio.file.Files.createTempDirectory("graft_cl_esc").toString
    val v = CommitLog.appendPartitioned(spark, root, df, "part_val",
      filesPerPartition = 1)
    // every recorded partition value decodes back to the EXACT input
    nasty.foreach { value =>
      val (pruned, p) = CommitLog.prunedScan(spark, root, v, partTree("part_val", value))
      val (total, nRead) = (p.filesTotal, p.files.size)
      assert(total === 6 && nRead === 1, s"'$value': total=$total read=$nRead")
      assert(pruned.count() === 1 &&
        pruned.collect()(0).getString(1) === value,
        s"partition value '$value' did not round-trip the staging escape")
    }
    // NULL routes under the sentinel: no Hive default-partition dir
    val aux = CommitLog.auxOf(root, v)
    assert(aux.parts.values.toSet ===
      (nasty.toSet + "__GRAFT_NULL_PARTITION__"),
      s"recorded values: ${aux.parts.values.toSet}")
  }

  test("commit log: typed stats prune strings and all-NULL files, reject tag conflicts (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_ts2").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("maybe_type", when(col("value") >= 50.0, col("event_type")))
    val statCols = Seq("event_type", "maybe_type", "event_id")
    // string-range-aligned staging: file bounds [click..error] vs
    // [purchase..view]
    CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_type").isin("click", "error")), 1, statCols)
    val v1 = CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_type").isin("purchase", "signup", "view")), 1, statCols)
    val (df, p) = CommitLog.prunedScan(spark, root, v1, rangeTree("event_type", "a", "f"))
    val (total, nRead) = (p.filesTotal, p.files.size)
    assert(total === 2 && nRead === 1, s"string prune total=$total read=$nRead")
    assert(df.filter(col("event_type") <= "f").count() ===
      ev.filter(col("event_type").isin("click", "error")).count())
    // an ALL-NULL file is prunable by ANY range probe (a range
    // predicate never matches NULL)
    val v2 = CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("value") < 50.0)
        .withColumn("maybe_type", lit(null).cast("string")), 1, statCols)
    val p3 = CommitLog.prune(root, v2, rangeTree("maybe_type", "a", "zzzz"))
    val (t3, r3) = (p3.filesTotal, p3.files.size)
    assert(t3 === 3 && r3 === 2, s"all-null file not pruned: total=$t3 read=$r3")
    // null counts recorded exactly
    val aux = CommitLog.auxOf(root, v2)
    val logged = aux.stats2.values.map(_("maybe_type").nulls.get).sum
    val actual = CommitLog.read(spark, root, v2)
      .filter(col("maybe_type").isNull).count()
    assert(logged === actual, s"manifest nulls $logged != scan nulls $actual")
    // a retyped stats column fails the COMMIT (bounds compared under
    // the wrong type would prune wrongly)
    val retyped = ev.withColumn("event_id", col("event_id").cast("string"))
    val ex = intercept[IllegalArgumentException] {
      CommitLog.appendWithColumnStats(spark, root, retyped, 1, Seq("event_id"))
    }
    assert(ex.getMessage.contains("recorded as") ||
      ex.getMessage.contains("appendWithColumnStats"), ex.getMessage)
  }

  test("commit log: CDF replays every version as its snapshot diff; pre-CDF refusal; vacuum reclaims (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_cdf").toString
    CommitLog.setTableProperty(root, "enableChangeDataFeed", "true")
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(2000)
    CommitLog.append(spark, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
    CommitLog.append(spark, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
    CommitLog.delete(spark, root, col("user_id") % 4 === 1)
    val updates = ev.filter(col("user_id") % 4 === 2)
      .withColumn("value", col("value") + lit(1000.0))
      .unionByName(ev.filter(col("user_id") % 4 === 3)
        .withColumn("event_id", col("event_id") + lit(1000000000L)))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val (head, _, _) = CommitLog.merge(spark, root, updates, "event_id", 2)
    val cols = Seq("event_id", "user_id", "event_type", "value").map(col)
    // version-by-version: prev snapshot + changelog ≡ next snapshot
    // (multiset equality — the CDF is COMPLETE and MINIMAL per commit)
    (0L to head).foreach { v =>
      val prev =
        if (v == 0) CommitLog.read(spark, root, 0L).limit(0)
        else CommitLog.read(spark, root, v - 1)
      val cur = CommitLog.read(spark, root, v)
      val ch = CommitLog.changesRows(spark, root, v - 1, v)
      val removed = ch.filter(col("_change_type")
        .isin("delete", "update_preimage")).select(cols: _*)
      val added = ch.filter(col("_change_type")
        .isin("insert", "update_postimage")).select(cols: _*)
      val applied = prev.exceptAll(removed).unionByName(added)
      assert(applied.exceptAll(cur).count() === 0 &&
        cur.exceptAll(applied).count() === 0,
        s"CDF of version $v does not replay its snapshot transition")
    }
    // a RESTORE's changelog is the lazy snapshot diff
    val rhead = CommitLog.restore(root, 1L)
    val rch = CommitLog.changesRows(spark, root, rhead - 1, rhead)
    val back = CommitLog.read(spark, root, rhead)
    val pre = CommitLog.read(spark, root, rhead - 1)
    assert(rch.filter(col("_change_type") === "insert").count() ===
      back.exceptAll(pre).count())
    assert(rch.filter(col("_change_type") === "delete").count() ===
      pre.exceptAll(back).count())
    // pre-CDF writer's delete (a manifest with op=delete and no cdf
    // field) still refuses with the old clear error
    val root2 = java.nio.file.Files.createTempDirectory("graft_cl_cdf2").toString
    CommitLog.append(spark, root2, ev.limit(100), nFiles = 1)
    CommitLog.commit(root2,
      CommitLog.snapshotFiles(root2, 0L).map(f =>
        "data/" + new java.io.File(f).getName),
      expected = Some(0L), op = "delete")
    val ex = intercept[IllegalArgumentException] {
      CommitLog.changesRows(spark, root2, -1L, 1L).count()
    }
    assert(ex.getMessage.contains("pre-CDF"), ex.getMessage)
    // CDF is opt-in (default OFF): a delete on a table WITHOUT
    // enableChangeDataFeed stages no cdf/ files (no changelog tax)
    // and its version refuses changesRows with the same clear error
    val root3 = java.nio.file.Files.createTempDirectory("graft_cl_cdf3").toString
    CommitLog.append(spark, root3, ev.limit(200), nFiles = 1)
    CommitLog.delete(spark, root3, col("user_id") % 4 === 1)
    assert(!new java.io.File(root3, "cdf").exists(),
      "delete on a CDF-disabled table must not stage cdf files")
    val ex3 = intercept[IllegalArgumentException] {
      CommitLog.changesRows(spark, root3, -1L, 1L).count()
    }
    assert(ex3.getMessage.contains("enableChangeDataFeed"), ex3.getMessage)
    // vacuum reclaims the dropped versions' cdf files, keeps retained
    val cdfDir = new java.io.File(root, "cdf")
    val beforeN = Option(cdfDir.listFiles()).map(_.length).getOrElse(0)
    assert(beforeN >= 2, s"expected cdf files from delete+merge, got $beforeN")
    CommitLog.vacuum(root, retainFrom = rhead)
    val afterN = Option(cdfDir.listFiles()).map(_.length).getOrElse(0)
    assert(afterN === 0,
      s"vacuum left $afterN cdf files for dropped versions")
  }

  test("commit log: clustered optimize is data-neutral, dual-dim prunable, diff-refusing (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_zo").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val mr = ev.agg(max(col("event_id")), max(col("user_id"))).collect()(0)
    val (m, u) = (mr.getLong(0), mr.getLong(1))
    CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("user_id") % 2 === 0), 4, Seq("event_id", "user_id"))
    val v1 = CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("user_id") % 2 === 1), 4, Seq("event_id", "user_id"))
    val v2 = CommitLog.optimizeClustered(spark, root,
      dims = Seq("event_id" -> Seq(m / 4, m / 2, 3 * m / 4),
        "user_id" -> Seq(u / 2)), filesPerCell = 1)
    // data-neutral: the rewrite preserves the snapshot as a multiset
    val pre = CommitLog.read(spark, root, v1)
    val post = CommitLog.read(spark, root, v2)
    assert(pre.exceptAll(post).count() === 0 && post.exceptAll(pre).count() === 0,
      "clustered optimize changed the data")
    // dual-dim pruning bites, and pruned ≡ full-scan filter
    val probes = ProbeTree(Nil, Seq(RangeProbe("event_id", Some(m / 4 + 1), Some(m / 2)),
      RangeProbe("user_id", Some(u / 2 + 1), Some(u))))
    val (df, p) = CommitLog.prunedScan(spark, root, v2, probes)
    val (total, nRead) = (p.filesTotal, p.files.size)
    assert(total === 8 && nRead === 1, s"total=$total read=$nRead")
    val precise = df.filter(col("event_id").between(m / 4 + 1, m / 2) &&
      col("user_id").between(u / 2 + 1, u))
    assert(precise.count() ===
      post.filter(col("event_id").between(m / 4 + 1, m / 2) &&
        col("user_id").between(u / 2 + 1, u)).count())
    // a file-level diff across the optimize still refuses
    val ex = intercept[IllegalArgumentException] {
      CommitLog.changes(spark, root, v1, v2)
    }
    assert(ex.getMessage.contains("optimize"), ex.getMessage)
  }

  test("commit log: CoW rewrites recompute typed stats — skipping survives delete/compact/overwrite (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_rs").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    // range-aligned staging: low half then high half, typed stats on event_id
    CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_id") <= m / 2), 2, Seq("event_id"))
    val v1 = CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_id") > m / 2), 2, Seq("event_id"))
    // the delete dirties ONLY low-half files; their rewrites must get
    // fresh bounds or the high-half probe would have to read them
    val (v2, _, rew) = CommitLog.delete(spark, root,
      col("event_id") % 5 === 0 && col("event_id") <= m / 2)
    assert(rew === 2L, s"expected both low files dirty, got $rew")
    val p2 = CommitLog.prune(root, v2, rangeTree("event_id", m / 2 + 1, m))
    val (total2, read2) = (p2.filesTotal, p2.files.size)
    assert(total2 === 4 && read2 === 2,
      s"rewritten files lost their stats: read $read2 of $total2")
    // plain compaction hash-mixes ranges (bounds go wide) but every
    // compacted file still carries a recomputed entry
    val v3 = CommitLog.compact(spark, root, 2)
    val aux3 = CommitLog.auxOf(root, v3)
    assert(aux3.statsTags.contains("event_id") && aux3.stats2.size === 2,
      s"compaction dropped typed stats: $aux3")
    // overwrite: the prior snapshot's tags seed a recompute over the
    // incoming files — a high-half probe prunes EVERYTHING
    val v4 = CommitLog.overwrite(spark, root,
      ev.filter(col("event_id") <= m / 2), 2)
    val p4 = CommitLog.prune(root, v4, rangeTree("event_id", m / 2 + 1, m))
    val (total4, read4) = (p4.filesTotal, p4.files.size)
    assert(total4 === 2 && read4 === 0,
      s"overwrite stripped data-skipping: read $read4 of $total4")
    // and the semantics never changed along the way
    assert(CommitLog.read(spark, root, v1).count() === ev.count())
  }

  test("commit log: copy-on-write delete carries clean files, isolates pinned readers (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_del").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    // predicate-aligned staging: v0 = user_id%4<2 (2 files), v1 adds
    // the user_id%4>=2 rows (2 files) — so delete(user_id%4=1) can
    // only dirty v0-era files
    CommitLog.append(spark, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
    CommitLog.append(spark, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
    val v1Files = CommitLog.snapshotFiles(root, 1L)
    val cleanEra = CommitLog.snapshotFiles(root, 1L).toSet --
      CommitLog.snapshotFiles(root, 0L).toSet
    val (v2, carried, rewritten) =
      CommitLog.delete(spark, root, col("user_id") % 4 === 1)
    assert(v2 === 2L && carried === 2L && rewritten === 2L,
      s"v=$v2 carried=$carried rewritten=$rewritten")
    // mechanism: the clean-era file PATHS are literally reused in v2
    val v2Files = CommitLog.snapshotFiles(root, v2).toSet
    assert(cleanEra.subsetOf(v2Files),
      "clean files were rewritten instead of carried over")
    assert(CommitLog.snapshotFiles(root, 0L).forall(f => !v2Files.contains(f)),
      "a dirty file survived into the post-delete manifest")
    // semantics: deleted rows gone at v2, intact for a reader pinned at v1
    assert(CommitLog.read(spark, root, v2)
      .filter(col("user_id") % 4 === 1).count() === 0)
    assert(CommitLog.read(spark, root, 1L)
      .filter(col("user_id") % 4 === 1).count() ===
      ev.filter(col("user_id") % 4 === 1).count(),
      "pinned v1 reader lost rows to a later delete")
    assert(v1Files.forall(f => new java.io.File(f).exists()))
    // a file-level diff across the delete would mis-state the delta
    val ex = intercept[IllegalArgumentException] {
      CommitLog.changes(spark, root, 1L, v2)
    }
    assert(ex.getMessage.contains("delete"), ex.getMessage)
  }

  test("commit log: copy-on-write update — CoW carry, NULL-cond survival, pinned readers (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_upd").toString
    // `maybe` is NULL off the %5 grid — the three-valued branch: a
    // NULL cond is not a match, the row must survive UNCHANGED
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("maybe",
        when(col("event_id") % 5 === 0, col("value")))
    CommitLog.append(spark, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
    CommitLog.append(spark, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
    val cleanEra = CommitLog.snapshotFiles(root, 1L).toSet --
      CommitLog.snapshotFiles(root, 0L).toSet
    val nMatch = ev.filter(col("user_id") % 4 === 1 && col("maybe").isNotNull).count()
    val nNullCond = ev.filter(col("user_id") % 4 === 1 && col("maybe").isNull).count()
    assert(nMatch > 0 && nNullCond > 0, s"fixture too thin: $nMatch/$nNullCond")
    // cond is NULL wherever maybe is NULL — those rows are v0-era too
    val (v2, carried, rewritten) = CommitLog.update(spark, root,
      col("user_id") % 4 === 1 && col("maybe") > lit(-1.0),
      Seq("value" -> (col("value") + lit(1000.0))))
    assert(v2 === 2L && carried === 2L && rewritten === 2L,
      s"v=$v2 carried=$carried rewritten=$rewritten")
    val v2Files = CommitLog.snapshotFiles(root, v2).toSet
    assert(cleanEra.subsetOf(v2Files),
      "clean files were rewritten instead of carried over")
    val after = CommitLog.read(spark, root, v2)
    assert(after.count() === ev.count(), "update changed the row count")
    assert(after.filter(col("value") >= 1000.0).count() === nMatch,
      "matched-row count drifted through the rewrite")
    // NULL-cond rows rode along in the dirty files but kept their values
    assert(after.filter(col("user_id") % 4 === 1 && col("maybe").isNull &&
      col("value") >= 1000.0).count() === 0,
      "a NULL-cond row was updated — three-valued logic broken")
    // pinned reader at v1 still sees pre-update values
    assert(CommitLog.read(spark, root, 1L)
      .filter(col("value") >= 1000.0).count() === 0,
      "pinned v1 reader sees post-update values")
    // a file-level diff across the update would mis-state the delta
    val ex = intercept[IllegalArgumentException] {
      CommitLog.changes(spark, root, 1L, v2)
    }
    assert(ex.getMessage.contains("update"), ex.getMessage)
  }

  test("commit log: deletion vectors — merge-on-read delete, masked reads, rewrite purge (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_dv").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
    val v1 = CommitLog.append(spark, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
    CommitLog.setTableProperty(root, "enableChangeDataFeed", "true")
    val nDel = ev.filter(col("user_id") % 4 === 1).count()
    // (1) the MoR delete rewrites NOTHING: identical file listing
    val (v2, nFilesDv, nRows) =
      CommitLog.deleteMergeOnRead(spark, root, col("user_id") % 4 === 1)
    assert(nRows === nDel && nFilesDv === 2L,
      s"rows=$nRows files=$nFilesDv (want $nDel/2)")
    assert(CommitLog.snapshotFiles(root, v2).toSet ===
      CommitLog.snapshotFiles(root, v1).toSet,
      "merge-on-read delete rewrote data files")
    // (2) masked read: dead rows gone at v2, alive for a pinned reader
    val r2 = CommitLog.read(spark, root, v2)
    assert(r2.filter(col("user_id") % 4 === 1).count() === 0)
    assert(r2.count() === ev.count() - nDel)
    assert(CommitLog.read(spark, root, v1)
      .filter(col("user_id") % 4 === 1).count() === nDel,
      "pinned reader lost rows to a later MoR delete")
    // ... and the changelog recorded the erasure
    assert(CommitLog.changesRows(spark, root, v1, v2)
      .filter(col("_change_type") === "delete").count() === nDel)
    // (3) vectors ACCUMULATE across MoR deletes (and respect the mask:
    // re-deleting dead rows is a no-op)
    val (v3, _, n0) = CommitLog.deleteMergeOnRead(spark, root, col("user_id") % 4 === 1)
    assert(n0 === 0L, s"re-delete found $n0 already-dead rows")
    val nDel2 = ev.filter(col("user_id") % 4 === 2 && col("event_id") % 3 === 0).count()
    val (v4, _, nRows2) = CommitLog.deleteMergeOnRead(spark, root,
      col("user_id") % 4 === 2 && col("event_id") % 3 === 0)
    assert(nRows2 === nDel2)
    val r4 = CommitLog.read(spark, root, v4)
    assert(r4.count() === ev.count() - nDel - nDel2)
    // (4) a CoW pass over vectored files keeps the mask: rewrite reads
    // are masked, rewritten files retire their vectors
    val (v5, _, _) = CommitLog.delete(spark, root, col("user_id") % 4 === 0)
    val r5 = CommitLog.read(spark, root, v5)
    val want5 = ev.filter(!(col("user_id") % 4 === 1) &&
      !(col("user_id") % 4 === 2 && col("event_id") % 3 === 0) &&
      !(col("user_id") % 4 === 0))
    assert(r5.count() === want5.count())
    assert(r5.exceptAll(want5).count() === 0 && want5.exceptAll(r5).count() === 0,
      "CoW-after-MoR state diverges from the logical delete sequence")
    // (5) compaction physically purges: raw row count == logical count
    val v6 = CommitLog.compact(spark, root, 2)
    assert(CommitLog.auxOf(root, v6).dvs.isEmpty, "compaction kept vectors")
    assert(spark.read.parquet(CommitLog.snapshotFiles(root, v6): _*).count() ===
      want5.count(), "compaction did not purge masked rows")
    // (6) vacuum reclaims the retired sidecars from disk
    CommitLog.vacuum(root, retainFrom = v6)
    val dvLeft = Option(new java.io.File(root, "dv").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(dvLeft === 0, s"$dvLeft orphan dv sidecars survived vacuum")
    assert(CommitLog.read(spark, root, v6).count() === want5.count())
  }

  test("review fixes: DVs survive rename/drop, tombstoned physicals, pre-image UPDATE, empty-table CoW (r10)") {
    import graft.sources.{CommitLog, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // (1) a metadata-only rename/drop must NOT resurrect MoR-deleted rows
    val r1 = java.nio.file.Files.createTempDirectory("graft_fix_dvren").toString
    CommitLog.append(spark, r1, ev, nFiles = 2)
    val nDel = ev.filter(col("user_id") % 4 === 1).count()
    CommitLog.deleteMergeOnRead(spark, r1, col("user_id") % 4 === 1)
    val vRen = CommitLog.renameColumn(spark, r1, "value", "amount")
    assert(CommitLog.read(spark, r1, vRen).count() === ev.count() - nDel,
      "rename resurrected MoR-deleted rows")
    val vDrop = CommitLog.dropColumn(spark, r1, "event_type")
    assert(CommitLog.read(spark, r1, vDrop).count() === ev.count() - nDel,
      "drop resurrected MoR-deleted rows")
    // (2) drop-then-re-add: the old bytes must not surface under the
    // re-added name (the physical name is tombstoned)
    val vRe = CommitLog.evolveSchema(spark, r1,
      Seq(org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType, nullable = true)))
    assert(CommitLog.read(spark, r1, vRe)
      .filter(col("event_type").isNotNull).count() === 0,
      "re-added column resurrected the dropped column's bytes")
    // (3) UPDATE pre-image semantics: the predicate references an
    // ASSIGNED column; both assignments must land on the pre-image
    // matched set (a withColumn chain would re-evaluate cond mid-way)
    val r3 = java.nio.file.Files.createTempDirectory("graft_fix_upre").toString
    CommitLog.append(spark, r3, ev, nFiles = 2)
    val nBig = ev.filter(col("value") > 50.0).count()
    assert(nBig > 0)
    val (v3, _, _) = CommitLog.update(spark, r3, col("value") > 50.0,
      Seq("value" -> lit(0.0), "event_type" -> lit("zeroed")))
    val after3 = CommitLog.read(spark, r3, v3)
    assert(after3.filter(col("event_type") === "zeroed").count() === nBig,
      "second assignment missed rows — cond re-evaluated post-assignment")
    assert(after3.filter(col("value") > 50.0).count() === 0)
    // ... and RHS reads pre-image values: a swap actually swaps
    val r4 = java.nio.file.Files.createTempDirectory("graft_fix_uswap").toString
    val two = ev.select(col("event_id"),
      col("value").as("a"), (col("value") * 2).as("b"))
    CommitLog.append(spark, r4, two, nFiles = 1)
    val (v4, _, _) = CommitLog.update(spark, r4, lit(true),
      Seq("a" -> col("b"), "b" -> col("a")))
    val sw = CommitLog.read(spark, r4, v4)
    assert(sw.filter(col("a") =!= col("b") * 2).count() === 0,
      "SET a = b, b = a did not swap — RHS saw post-image values")
    // (4) empty-snapshot CoW paths stay well-formed
    val r5 = java.nio.file.Files.createTempDirectory("graft_fix_empty").toString
    CommitLog.append(spark, r5, ev.limit(50), nFiles = 1)
    CommitLog.delete(spark, r5, lit(true))
    val (v5, _, rew5) = CommitLog.delete(spark, r5, col("user_id") === 1)
    assert(rew5 === 0L)
    assert(CommitLog.snapshotFiles(r5, v5).isEmpty)
    // (5) a user column named 'i' must not break the DV mask join
    val r6 = java.nio.file.Files.createTempDirectory("graft_fix_dvi").toString
    CommitLog.append(spark, r6,
      ev.select(col("event_id"), col("user_id").as("i"), col("value").as("f")),
      nFiles = 2)
    val nDel6 = ev.filter(col("user_id") % 4 === 2).count()
    CommitLog.deleteMergeOnRead(spark, r6, col("i") % 4 === 2)
    assert(CommitLog.read(spark, r6,
      CommitLog.latestVersion(r6).get).count() === ev.count() - nDel6,
      "DV mask broke on a table with columns named f/i")
  }

  test("incremental view: watermark rides the fold commit and survives view compaction (r10)") {
    import graft.sources.{CommitLog, IncrementalView, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(800)
    val src = java.nio.file.Files.createTempDirectory("graft_ivwm_s").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ivwm_v").toString
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    IncrementalView.create(spark, vw, src, "event_type", "value")
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    val (_, c1) = IncrementalView.refresh(spark, vw)
    assert(c1 === ev.filter(col("event_id") % 2 =!= 0).count())
    // a maintenance commit on the VIEW hides the head's watermark
    // field — the walk must find the fold's commit behind it, so the
    // next refresh does NOT re-fold (re-folding would double counts)
    CommitLog.compact(spark, vw, 1)
    val (_, c2) = IncrementalView.refresh(spark, vw)
    assert(c2 === 0L, s"refresh after view compaction re-folded $c2 rows")
    CommitLog.delete(spark, src, col("user_id") % 5 === 0)
    val (_, c3) = IncrementalView.refresh(spark, vw)
    assert(c3 === ev.filter(col("user_id") % 5 === 0).count())
    val view = CommitLog.read(spark, vw, CommitLog.latestVersion(vw).get)
    val want = CommitLog.read(spark, src, CommitLog.latestVersion(src).get)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("decimal(18,4)").as("total"))
    assert(view.exceptAll(want).count() === 0 && want.exceptAll(view).count() === 0)
  }

  test("incremental view: streamed folds continue across drains and never double-fold (r10)") {
    import graft.sources.{CommitLog, IncrementalView, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(600)
    val src = java.nio.file.Files.createTempDirectory("graft_ivs2_s").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ivs2_v").toString
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    IncrementalView.create(spark, vw, src, "event_type", "value")
    val ck = java.nio.file.Files.createTempDirectory("graft_ivs2_ck").toString
    val folded = new java.util.concurrent.atomic.AtomicLong(0L)
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", src).option("readChangeFeed", "true").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          folded.addAndGet(IncrementalView.foldDeltas(spark, vw, b)._2); ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def recompute() = CommitLog.read(spark, src, CommitLog.latestVersion(src).get)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("decimal(18,4)").as("total"))
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    drain()
    // the create-time snapshot (v0) replays through the stream but is
    // already in the view — version-granularity idempotency drops it
    assert(folded.get() === ev.filter(col("event_id") % 2 =!= 0).count(),
      s"folded ${folded.get()} — v0 double-folded or v1 missed")
    // a replayed drain from the same checkpoint folds nothing more
    drain()
    assert(folded.get() === ev.filter(col("event_id") % 2 =!= 0).count(),
      "an idle re-drain folded rows")
    // new commits keep folding through the SAME checkpoint
    CommitLog.delete(spark, src, col("user_id") % 3 === 0)
    drain()
    val view = CommitLog.read(spark, vw, CommitLog.latestVersion(vw).get)
    assert(view.exceptAll(recompute()).count() === 0 &&
      recompute().exceptAll(view).count() === 0,
      "continuously-maintained view diverges from recompute")
  }

  test("incremental view: deltas fold exactly, vanished keys drop, refresh is idempotent (r10)") {
    import graft.sources.{CommitLog, IncrementalView, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val src = java.nio.file.Files.createTempDirectory("graft_iv_s").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_iv_v").toString
    CommitLog.append(spark, src, ev, nFiles = 2)
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    IncrementalView.create(spark, vw, src, "event_type", "value")
    def recompute() = CommitLog.read(spark, src, CommitLog.latestVersion(src).get)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("decimal(18,4)").as("total"))
    // a MERGE on the source (replace + insert) folds through its
    // pre/post/insert change types
    val oneType = ev.select(col("event_type")).distinct()
      .orderBy(col("event_type")).collect()(0).getString(0)
    val ups = ev.filter(col("event_type") === oneType).limit(30)
      .withColumn("value", col("value") * lit(2.0))
      .unionByName(ev.limit(7)
        .withColumn("event_id", col("event_id") + 900000000L)
        .withColumn("event_type", lit("iv_fresh")))
    CommitLog.merge(spark, src, ups, "event_id", nInsertFiles = 1)
    val (v1, c1) = IncrementalView.refresh(spark, vw)
    assert(c1 === 30L * 2 + 7, s"consumed $c1 change rows")
    val view1 = CommitLog.read(spark, vw, v1)
    assert(view1.exceptAll(recompute()).count() === 0 &&
      recompute().exceptAll(view1).count() === 0,
      "post-merge incremental state diverges from recompute")
    assert(view1.filter(col("event_type") === "iv_fresh")
      .collect()(0).getLong(1) === 7L, "inserted key missing from view")
    // deleting EVERY row of a key drops it from the view
    CommitLog.delete(spark, src, col("event_type") === "iv_fresh")
    val (v2, _) = IncrementalView.refresh(spark, vw)
    val view2 = CommitLog.read(spark, vw, v2)
    assert(view2.filter(col("event_type") === "iv_fresh").count() === 0,
      "zero-count key survived in the view")
    assert(view2.exceptAll(recompute()).count() === 0 &&
      recompute().exceptAll(view2).count() === 0)
    // idempotent: nothing new → nothing published, nothing consumed
    val (v3, c3) = IncrementalView.refresh(spark, vw)
    assert(v3 === v2 && c3 === 0L, s"no-change refresh published v$v3 ($c3 rows)")
  }

  test("commit log: merge-on-read update equals CoW update; REORG purges surgically, keeps stats (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_udv").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_id") <= m / 2), 2, Seq("event_id"))
    val v1 = CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_id") > m / 2), 2, Seq("event_id"))
    // MoR update: zero rewrites, one appended post-image file, and the
    // RESULT is exactly what the CoW form would produce
    val (v2, nDv, nUpd) = CommitLog.updateMergeOnRead(spark, root,
      col("user_id") % 4 === 1, Seq("value" -> (col("value") + lit(5000.0))))
    assert(nDv === 4L && nUpd === ev.filter(col("user_id") % 4 === 1).count())
    val prior = CommitLog.snapshotFiles(root, v1).toSet
    val now2 = CommitLog.snapshotFiles(root, v2).toSet
    assert(prior.subsetOf(now2) && (now2 -- prior).size === 1,
      "MoR update must carry every prior file and append one")
    val want = ev.withColumn("value",
      when(col("user_id") % 4 === 1, col("value") + 5000.0).otherwise(col("value")))
    val got = CommitLog.read(spark, root, v2)
    assert(got.count() === want.count() &&
      got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "MoR update result diverges from the logical update")
    // the appended post-image file got typed stats (restage path)
    val aux2 = CommitLog.auxOf(root, v2)
    val addedRel = (now2 -- prior).head
    assert(aux2.stats2.keys.exists(k => addedRel.endsWith(k.stripPrefix("data/"))),
      s"appended post-image file has no stats entry: ${aux2.stats2.keys}")
    // REORG purges ONLY vectored files; clean files carry; the typed
    // stats survive and still prune
    val (v3, carried3, rewritten3) = CommitLog.reorgPurge(spark, root)
    assert(rewritten3 === 4L && carried3 === 1L,
      s"reorg must rewrite the 4 vectored files only: c=$carried3 r=$rewritten3")
    assert(CommitLog.auxOf(root, v3).dvs.isEmpty, "reorg kept vectors")
    assert(spark.read.parquet(CommitLog.snapshotFiles(root, v3): _*).count() ===
      want.count(), "reorg did not purge masked rows")
    val gotAfter = CommitLog.read(spark, root, v3)
    assert(gotAfter.exceptAll(want).count() === 0 &&
      want.exceptAll(gotAfter).count() === 0)
    // a second reorg is a no-op: same head, nothing rewritten
    val (v4, _, r4) = CommitLog.reorgPurge(spark, root)
    assert(v4 === v3 && r4 === 0L, s"no-op reorg published v$v4 ($r4 rewrites)")
    // copy-on-write and deletion vectors are ONE logical operation: on
    // a CDF table each mode of a delete and an update leaves the same
    // head rows and records the same change rows by type. The update
    // assigns its own predicate column, so a post-image must come from
    // the row the predicate matched BEFORE the assignment.
    val hit = col("user_id") % 4 === 1
    val asg = Seq("user_id" -> (col("user_id") + 1L), "value" -> (col("value") + 1.0))
    val cases: Seq[(String, (String, Boolean) => Unit)] = Seq(
      "delete" -> { (r, dv) =>
        if (dv) CommitLog.deleteMergeOnRead(spark, r, hit) else CommitLog.delete(spark, r, hit); () },
      "update" -> { (r, dv) =>
        if (dv) CommitLog.updateMergeOnRead(spark, r, hit, asg) else CommitLog.update(spark, r, hit, asg); () })
    val small = ev.limit(300)
    cases.foreach { case (name, op) =>
      val Seq(cow, dv) = Seq(false, true).map { vectors =>
        val r = java.nio.file.Files.createTempDirectory(s"graft_cl_one_$name").toString
        CommitLog.setTableProperty(r, "enableChangeDataFeed", "true")
        CommitLog.append(spark, r, small.filter(col("event_id") % 2 === 0), 2)
        CommitLog.append(spark, r, small.filter(col("event_id") % 2 =!= 0), 2)
        op(r, vectors)
        val v = CommitLog.latestVersion(r).get
        val cols = Seq("event_id", "user_id", "value")
        (CommitLog.read(spark, r, v).select(cols.map(col): _*),
          CommitLog.changesRows(spark, r, v - 1, v).select((cols :+ "_change_type").map(col): _*))
      }
      Seq("head rows" -> (cow._1, dv._1), "change rows" -> (cow._2, dv._2)).foreach {
        case (what, (a, b)) =>
          assert(a.count() === b.count() && a.exceptAll(b).count() === 0 &&
            b.exceptAll(a).count() === 0, s"$name: CoW and DV $what diverge")
      }
      val kinds = cow._2.groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = small.filter(hit).count()
      assert(kinds === (if (name == "delete") Map("delete" -> n)
        else Map("update_preimage" -> n, "update_postimage" -> n)), s"$name: $kinds")
    }
  }

  test("commit log: column mapping — rename/drop are metadata-only, stats and CoW survive (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_map").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_id") <= m / 2), 2, Seq("event_id"))
    val v1 = CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_id") > m / 2), 2, Seq("event_id"))
    // (1) rename is METADATA-ONLY: the new head re-lists v1's files
    val v2 = CommitLog.renameColumn(spark, root, "value", "amount")
    assert(CommitLog.snapshotFiles(root, v2).toSet ===
      CommitLog.snapshotFiles(root, v1).toSet, "rename staged data files")
    val r2 = CommitLog.read(spark, root, v2)
    assert(r2.columns.contains("amount") && !r2.columns.contains("value"))
    assert(math.abs(r2.agg(sum(col("amount"))).collect()(0).getDouble(0) -
      ev.agg(sum(col("value"))).collect()(0).getDouble(0)) < 1e-6)
    // pinned readers keep the OLD name — schema changes are versioned
    assert(CommitLog.read(spark, root, v1).columns.contains("value"))
    // (2) stats keys follow a rename of the STATS column: pruning works
    val v3 = CommitLog.renameColumn(spark, root, "event_id", "eid")
    val p3 = CommitLog.prune(root, v3, rangeTree("eid", m / 2 + 1, m))
    val (total3, read3) = (p3.filesTotal, p3.files.size)
    assert(total3 === 4 && read3 === 2,
      s"stats did not follow the rename: read $read3 of $total3")
    // (3) CoW delete on the MAPPED table: rewrite stages physical
    // names, logical reads stay coherent, recomputed stats still prune
    val (v4, _, rew4) = CommitLog.delete(spark, root,
      col("eid") % 5 === 0 && col("eid") <= m / 2)
    assert(rew4 === 2L)
    val after4 = CommitLog.read(spark, root, v4)
    assert(after4.columns.sorted === Array("amount", "eid", "event_type", "user_id"))
    assert(after4.filter(col("eid") % 5 === 0 && col("eid") <= m / 2).count() === 0)
    val p4 = CommitLog.prune(root, v4, rangeTree("eid", m / 2 + 1, m))
    val (total4, read4) = (p4.filesTotal, p4.files.size)
    assert(read4 === 2, s"mapped rewrite lost pruning: read $read4 of $total4")
    // (4) adding a column under a FREED logical name must not collide
    // with the old physical name: new 'value' is independent of 'amount'
    val v5 = CommitLog.evolveSchema(spark, root,
      Seq(org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val r5 = CommitLog.read(spark, root, v5)
    assert(r5.filter(col("value").isNotNull).count() === 0,
      "new 'value' column leaked the renamed column's physical data")
    assert(r5.agg(sum(col("amount"))).collect()(0).getDouble(0) > 0.0)
    // (5) changelog refuses ranges crossing the rename
    val exC = intercept[IllegalArgumentException] {
      CommitLog.changesRows(spark, root, v1, v4)
    }
    assert(exC.getMessage.contains("rename_column"), exC.getMessage)
    // (6) drop is metadata-only; compaction physically purges
    val v6 = CommitLog.dropColumn(spark, root, "event_type")
    assert(CommitLog.snapshotFiles(root, v6).toSet ===
      CommitLog.snapshotFiles(root, v5).toSet, "drop staged data files")
    assert(!CommitLog.read(spark, root, v6).columns.contains("event_type"))
    assert(CommitLog.read(spark, root, v5).columns.contains("event_type"),
      "pinned reader lost the dropped column")
    val v7 = CommitLog.compact(spark, root, 2)
    val rawCols = spark.read.parquet(
      CommitLog.snapshotFiles(root, v7): _*).columns.toSet
    assert(!rawCols.contains("event_type"),
      s"compaction kept the dropped column's bytes: $rawCols")
    // physical names in files stay the ORIGINAL parquet names
    assert(rawCols.contains("event_id") && rawCols.contains("value"),
      s"physical names drifted: $rawCols")
    assert(CommitLog.read(spark, root, v7).columns.sorted ===
      Array("amount", "eid", "user_id", "value"))
    // (7) guards: constrained / partition / last-column refusals
    CommitLog.setTableProperty(root, "constraint.pos", "amount >= -1e9")
    val exR = intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, root, "amount", "amt")
    }
    assert(exR.getMessage.contains("constraint"), exR.getMessage)
    val exD = intercept[IllegalArgumentException] {
      CommitLog.dropColumn(spark, root, "amount")
    }
    assert(exD.getMessage.contains("constraint"), exD.getMessage)
    CommitLog.removeTableProperty(root, "constraint.pos")
    val exE = intercept[IllegalArgumentException] {
      CommitLog.renameColumn(spark, root, "eid", "amount")
    }
    assert(exE.getMessage.contains("already exists"), exE.getMessage)
  }

  test("commit log: update refuses unknown/partition columns, re-validates CHECK constraints (r10)") {
    import graft.sources.{CommitLog, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // (1) post-images must satisfy CHECK constraints — nothing commits
    val r1 = java.nio.file.Files.createTempDirectory("graft_cl_updc").toString
    CommitLog.append(spark, r1, ev, nFiles = 2)
    CommitLog.setTableProperty(r1, "constraint.value_cap", "value <= 2000.0")
    val exC = intercept[IllegalArgumentException] {
      CommitLog.update(spark, r1, col("user_id") % 4 === 1,
        Seq("value" -> (col("value") + lit(5000.0))))
    }
    assert(exC.getMessage.contains("value_cap"), exC.getMessage)
    assert(CommitLog.latestVersion(r1) === Some(0L),
      "a constraint-violating update still committed")
    // ... while a compliant update passes the same constraint
    val (v1, _, _) = CommitLog.update(spark, r1, col("user_id") % 4 === 1,
      Seq("value" -> (col("value") * lit(0.5))))
    assert(v1 === 1L)
    // (2) unknown column — UPDATE never adds columns
    val exU = intercept[IllegalArgumentException] {
      CommitLog.update(spark, r1, col("user_id") === 1, Seq("no_such" -> lit(1)))
    }
    assert(exU.getMessage.contains("no_such"), exU.getMessage)
    // (3) partitioned table: assigning the partition column would move
    // rows across partitions — refused; other assignments still work
    // and untouched partitions keep pruning from the log
    val r2 = java.nio.file.Files.createTempDirectory("graft_cl_updp").toString
    CommitLog.appendPartitioned(spark, r2, ev, "event_type", filesPerPartition = 1)
    val exP = intercept[IllegalArgumentException] {
      CommitLog.update(spark, r2, col("value") > 50.0,
        Seq("event_type" -> lit("moved")))
    }
    assert(exP.getMessage.contains("event_type"), exP.getMessage)
    val oneType = ev.select(col("event_type")).distinct()
      .orderBy(col("event_type")).collect()(0).getString(0)
    val (v2p, _, _) = CommitLog.update(spark, r2,
      col("event_type") === oneType, Seq("value" -> lit(0.0)))
    val afterP = CommitLog.read(spark, r2, v2p)
    assert(afterP.filter(col("event_type") === oneType &&
      col("value") =!= 0.0).count() === 0)
    assert(afterP.count() === ev.count())
  }

  test("commit log: streaming ingest commits atomically per batch, replay adds nothing (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_stream").toString
    val feed = java.nio.file.Files.createTempDirectory("graft_cl_feed").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    ev.repartition(4).write.mode("overwrite").parquet(feed)
    def run(ck: String): Unit = {
      val q = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          CommitLog.appendBatch(spark, root, b, nFiles = 1, batchId = id)
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run(java.nio.file.Files.createTempDirectory("graft_cl_ck1").toString)
    val head = CommitLog.latestVersion(root).get
    assert(head >= 1, "expected multiple micro-batch commits")
    // each version is a whole batch appended: snapshot rows are monotone
    val counts = (0L to head).map(v => CommitLog.read(spark, root, v).count())
    assert(counts === counts.sorted, s"snapshot rows not monotone: $counts")
    assert(counts.last === ev.count(), "head snapshot must hold every event")
    // direct re-delivery of an already-committed batch is a no-op
    assert(!CommitLog.appendBatch(spark, root, ev.limit(5), 1, batchId = head),
      "re-delivered batch must be skipped, not re-published")
    // full replay from a FRESH checkpoint: everything re-delivers,
    // nothing re-publishes — table-level exactly-once on the log alone
    run(java.nio.file.Files.createTempDirectory("graft_cl_ck2").toString)
    assert(CommitLog.latestVersion(root).get === head,
      "replay must not advance the log")
    assert(CommitLog.read(spark, root, head).count() === ev.count())
  }

  test("commit log: manifest stats prune files but never change results; stat-less files always read (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_stats").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.appendWithStats(spark, root,
      ev.filter(col("event_id") <= m / 2), nFiles = 2, statsCol = "event_id")
    val v1 = CommitLog.appendWithStats(spark, root,
      ev.filter(col("event_id") > m / 2), nFiles = 2, statsCol = "event_id")
    // selective probe: only the low half's files survive pruning...
    val lowQuarter = rangeTree("event_id", 0L, m / 4)
    val (df, p) = CommitLog.prunedScan(spark, root, v1, lowQuarter)
    val (total, nRead) = (p.filesTotal, p.files.size)
    assert(total === 4 && nRead === 2, s"total=$total read=$nRead")
    // ...and the pruned scan + precise predicate equals the full scan
    val pruned = df.filter(col("event_id") <= m / 4)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val full = CommitLog.read(spark, root, v1).filter(col("event_id") <= m / 4)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(pruned === full, "stats pruning changed the result")
    // a stat-less append stays unprunable: always read
    val v2 = CommitLog.append(spark, root, ev.limit(10), nFiles = 1)
    val p2 = CommitLog.prune(root, v2, lowQuarter)
    val (total2, read2) = (p2.filesTotal, p2.files.size)
    assert(total2 === 5 && read2 === 3,
      s"stat-less file must survive pruning: total=$total2 read=$read2")
  }

  test("commit log: manifest segments — O(new) commits, two-level prune, result-invariant (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_segs").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") <= m / 2), nFiles = 2, statsCol = "event_id")
    // the first version's one segment file, byte-for-byte
    val seg0 = CommitLog.segmentsOf(root, 0L)
    assert(seg0.size === 1 && seg0.head.nFiles === 2)
    val seg0Bytes = java.nio.file.Files.readAllBytes(
      new java.io.File(root, "_graft_log/" + seg0.head.path).toPath)
    val v1 = CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") > m / 2), nFiles = 2, statsCol = "event_id")
    // O(new-files) commit: v1 carries v0's segment by REFERENCE — the
    // same path, and the segment file itself was never rewritten
    val seg1 = CommitLog.segmentsOf(root, v1)
    assert(seg1.size === 2 && seg1.head.path === seg0.head.path,
      "append must copy prior segment references verbatim")
    assert(java.util.Arrays.equals(seg0Bytes, java.nio.file.Files.readAllBytes(
      new java.io.File(root, "_graft_log/" + seg0.head.path).toPath)),
      "append rewrote a prior segment file")
    // per-segment bounds in the manifest = aggregate of per-file stats
    seg1.foreach { sr =>
      val (_, stats) = CommitLog.segmentEntries(root, sr.path)
      assert(sr.bounds === Some((stats.values.map(_._1).min, stats.values.map(_._2).max)),
        s"segment ${sr.path} bounds disagree with its file stats")
    }
    // two-level prune: the high-half probe skips segment 0 entirely
    // (its per-file entries are never read) and reads only segment 1
    val (df, p) = CommitLog.prunedScan(spark, root, v1, rangeTree("event_id", m / 2 + 1, m))
    val (segT, segR, fT, fR) = (p.segsTotal, p.segsRead, p.filesTotal, p.files.size)
    assert(segT === 2 && segR === 1 && fT === 4 && fR === 2,
      s"segT=$segT segR=$segR fT=$fT fR=$fR")
    // ...and pruned scan + precise predicate equals the full snapshot scan
    val pruned = df.filter(col("event_id") > m / 2)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val full = ev.filter(col("event_id") > m / 2)
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(pruned === full, "segment pruning changed the result")
    // a disjoint probe reads zero segments and zero files, empty result
    val (dfNone, pNone) =
      CommitLog.prunedScan(spark, root, v1, rangeTree("event_id", m + 1000, m + 2000))
    assert(pNone.segsRead === 0 && pNone.files.isEmpty && dfNone.count() === 0)
  }

  test("commit log: appendWithRetry rebases past a mid-commit competitor, stages data once (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_retry").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    val base = CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 0), nFiles = 2)
    // force the retry path deterministically: between head-read and
    // publish, a competitor lands a COMPACTION — the append must lose
    // round 1, re-read the compacted head, rebase onto its listing,
    // and win round 2 with both writers' rows intact
    var fired = false
    val v = CommitLog.appendWithRetry(spark, root,
      ev.filter(col("event_id") % 3 =!= 0), nFiles = 2,
      beforeCommit = () => if (!fired) { fired = true; CommitLog.compact(spark, root, nFiles = 1) })
    assert(v === base + 2, "append should land at the version after the competitor's")
    // rebase correctness: final snapshot = compacted base rows + appended rows
    assert(CommitLog.read(spark, root, v).count() === ev.count())
    // the compacted head's single file is carried by reference
    val compactedFiles = CommitLog.snapshotFiles(root, base + 1)
    assert(compactedFiles.forall(CommitLog.snapshotFiles(root, v).contains))
    // stage-once: 2 (base) + 1 (compact) + 2 (append) data files total —
    // the lost round added no orphan copies of the appended data
    val nData = new java.io.File(root, "data").listFiles().count(_.getName.endsWith(".parquet"))
    assert(nData === 5, s"retry re-staged data files: $nData on disk")
  }

  test("commit log: appendWithRetry carries the head's per-file metadata — DVs survive a racing append (r15 FIX)") {
    import graft.sources.{CommitLog, Tables}
    // before r15 the retry commit rendered NO aux extra: an append
    // racing a merge-on-read delete published a manifest WITHOUT the
    // head's deletion vectors — every masked row silently resurrected
    // (and partition entries / typed stats vanished the same way).
    val root = java.nio.file.Files.createTempDirectory("graft_cl_retry_aux").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    val (vDel, _, nMasked) = CommitLog.deleteMergeOnRead(spark, root,
      col("user_id") % 4 === 1)
    assert(nMasked > 0)
    val masked = CommitLog.read(spark, root, vDel)
      .filter(col("user_id") % 4 === 1).count()
    assert(masked === 0L, "the MoR delete must mask its rows")
    // the racing retry append must CARRY the vectors into its manifest
    val v = CommitLog.appendWithRetry(spark, root,
      ev.filter(col("event_id") % 2 === 1), nFiles = 1)
    val aux = CommitLog.auxOf(root, v)
    assert(aux.dvs.nonEmpty,
      "appendWithRetry dropped the head's deletion vectors from its manifest")
    val after = CommitLog.read(spark, root, v)
    assert(after.filter(col("event_id") % 2 === 0 && col("user_id") % 4 === 1)
      .count() === 0L,
      "masked rows resurrected after a retry append")
    assert(after.count() ===
      ev.filter(col("event_id") % 2 === 0 && col("user_id") % 4 =!= 1).count() +
      ev.filter(col("event_id") % 2 === 1).count())
    // and the size metadata is carried + extended (r15): every live
    // file of the new head has a recorded byte size
    val files = CommitLog.snapshotFiles(root, v).map { f =>
      val jf = new java.io.File(f)
      jf.getParentFile.getName + "/" + jf.getName
    }
    assert(files.forall(aux.sizes.contains),
      s"missing size entries: ${files.filterNot(aux.sizes.contains)}")
  }

  test("commit log: optimize is data-neutral, pinned readers untouched, changes() refuses across it (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_opt").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.appendWithStats(spark, root, ev.filter(col("event_id") % 2 === 0), 2, "event_id")
    val v1 = CommitLog.appendWithStats(spark, root, ev.filter(col("event_id") % 2 === 1), 2, "event_id")
    val before = CommitLog.read(spark, root, v1).orderBy(col("event_id")).collect().toSeq
    val v2 = CommitLog.optimize(spark, root, "event_id",
      cutoffs = Seq(m / 2), filesPerBucket = 2)
    // data-neutral: the optimized snapshot holds exactly the same rows
    val after = CommitLog.read(spark, root, v2).orderBy(col("event_id")).collect().toSeq
    assert(after === before, "optimize changed the data")
    // pinned reader at v1 still sees the pre-optimize file list
    assert(CommitLog.read(spark, root, v1).orderBy(col("event_id")).collect().toSeq === before)
    // layout now aligns with the cutoff: a half-range probe prunes
    val p = CommitLog.prune(root, v2, rangeTree("event_id", 0L, m / 2))
    val (total, nRead) = (p.filesTotal, p.files.size)
    assert(total === 4 && nRead === 2,
      s"clustered layout should prune to one bucket's files, read $nRead of $total")
    // optimize is a rewrite: file-diff changes() across it must refuse
    intercept[IllegalArgumentException] {
      CommitLog.changes(spark, root, v1, v2).count()
    }
  }

  test("commit log: CoW merge carries clean files, isolates pinned readers, blocks changes() (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_mrg").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("user_id") % 4 < 2), nFiles = 2)
    val v1 = CommitLog.append(spark, root, ev.filter(col("user_id") % 4 >= 2), nFiles = 2)
    val preFiles = CommitLog.snapshotFiles(root, v1)
    val preSum = CommitLog.read(spark, root, v1)
      .agg(sum(col("event_id"))).collect()(0).getLong(0)
    val updates = ev.filter(col("user_id") % 4 === 1)
      .withColumn("value", col("value") * 2)
    val (v2, carried, rewritten) =
      CommitLog.merge(spark, root, updates, "event_id", nInsertFiles = 1)
    assert(carried === 2 && rewritten === 2)
    // clean files are carried by PATH — byte-identical, never rewritten
    val postFiles = CommitLog.snapshotFiles(root, v2).toSet
    assert(preFiles.count(postFiles.contains) === 2)
    // row identity: pure replace, no inserts here — same key set
    assert(CommitLog.read(spark, root, v2)
      .agg(sum(col("event_id"))).collect()(0).getLong(0) === preSum)
    // matched rows really were replaced
    val doubled = CommitLog.read(spark, root, v2)
      .filter(col("user_id") % 4 === 1).agg(sum(col("value").cast("decimal(18,4)"))).collect()(0).getDecimal(0)
    val orig = ev.filter(col("user_id") % 4 === 1)
      .agg(sum((col("value") * 2).cast("decimal(18,4)"))).collect()(0).getDecimal(0)
    assert(doubled === orig, "merged values do not match the update rows")
    // pinned reader at v1 still sees pre-merge values for the SAME
    // subset the merge doubled (a full-table sum would differ from the
    // subset sum no matter what, asserting nothing)
    val preSubset = ev.filter(col("user_id") % 4 === 1)
      .agg(sum(col("value").cast("decimal(18,4)"))).collect()(0).getDecimal(0)
    assert(CommitLog.read(spark, root, v1).filter(col("user_id") % 4 === 1)
      .agg(sum(col("value").cast("decimal(18,4)"))).collect()(0).getDecimal(0) === preSubset)
    // merge is a data-changing rewrite: changes() must refuse across it
    intercept[IllegalArgumentException] {
      CommitLog.changes(spark, root, v1, v2).count()
    }
  }

  test("commit log: schema evolution is versioned, type conflicts fail at commit, carried forward (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_evo").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    val v1 = CommitLog.appendEvolved(spark, root,
      ev.filter(col("event_id") % 2 === 1).withColumn("flag", lit(1L)), nFiles = 1)
    // head read projects the union schema; pre-evolution rows are null
    val head = CommitLog.read(spark, root, v1)
    assert(head.schema.fieldNames.toSeq === Seq("event_id", "value", "flag"))
    assert(head.filter(col("event_id") % 2 === 0 && col("flag").isNull).count() ===
      head.filter(col("event_id") % 2 === 0).count())
    // pinned reader at v0 keeps ITS schema — evolution is versioned
    assert(!CommitLog.read(spark, root, 0L).schema.fieldNames.contains("flag"))
    // a plain append after evolution carries the evolved schema forward
    val v2 = CommitLog.append(spark, root, ev.limit(0), nFiles = 1)
    assert(CommitLog.snapshotSchemaOf(root, v2).exists(_.fieldNames.contains("flag")))
    // …and so do the rewrite commits (late-r9 review fix: optimize and
    // the stats-aware append used to strip the log schema), and the
    // rewritten head still reads the full evolved schema
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val v3 = CommitLog.optimize(spark, root, "event_id",
      cutoffs = Seq(m / 2), filesPerBucket = 1)
    assert(CommitLog.snapshotSchemaOf(root, v3).exists(_.fieldNames.contains("flag")),
      "optimize stripped the evolved log schema")
    val v4 = CommitLog.appendWithStats(spark, root, ev.limit(0), 1, "event_id")
    assert(CommitLog.snapshotSchemaOf(root, v4).exists(_.fieldNames.contains("flag")),
      "appendWithStats stripped the evolved log schema")
    assert(CommitLog.read(spark, root, v4).schema.fieldNames.contains("flag"))
    // retyping a column fails at COMMIT time with a clear error
    val err = intercept[IllegalArgumentException] {
      CommitLog.appendEvolved(spark, root,
        ev.withColumn("flag", lit("not a long")), nFiles = 1)
    }
    assert(err.getMessage.contains("never retypes"))
  }

  test("commit log: delete keeps NULL-predicate rows; stats never carry across a column switch (late r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_null").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"),
        when(col("event_id") % 5 === 0, lit(null)).otherwise(col("user_id"))
          .as("uid"),
        col("value")).limit(500)
    CommitLog.append(spark, root, ev, nFiles = 2)
    val nNull = ev.filter(col("uid").isNull).count()
    val target = ev.filter(col("uid").isNotNull).select(col("uid"))
      .limit(1).collect()(0).getLong(0)
    val (v, _, _) = CommitLog.delete(spark, root, col("uid") === target)
    // three-valued logic trap: NOT(uid = t) is NULL for NULL uids — a
    // naive keep-filter silently deletes them; every NULL row survives
    assert(CommitLog.read(spark, root, v).filter(col("uid").isNull).count() === nNull,
      "delete dropped NULL-predicate rows")
    assert(CommitLog.read(spark, root, v).filter(col("uid") === target).count() === 0)
    // stats column switch: bounds recorded for one column must never
    // be re-labeled as another's (that would prune files that DO match)
    val root2 = java.nio.file.Files.createTempDirectory("graft_cl_colsw").toString
    val e2 = Tables(spark, sf, "events").select(col("event_id"), col("user_id"))
    CommitLog.appendWithStats(spark, root2, e2.filter(col("event_id") % 2 === 0), 2, "event_id")
    val h2 = CommitLog.appendWithStats(spark, root2, e2.filter(col("event_id") % 2 === 1), 2, "user_id")
    // the v0-era files record event_id bounds only: stat-less under
    // user_id and therefore ALWAYS read
    val p = CommitLog.prune(root2, h2, rangeTree("user_id", Long.MaxValue - 1, Long.MaxValue))
    val (total, nRead) = (p.filesTotal, p.files.size)
    assert(total === 4 && nRead >= 2,
      s"v0 files must stay unprunable after the stats column switched ($nRead of $total read)")
    // unsorted optimize cutoffs would duplicate rows — refused loudly
    intercept[IllegalArgumentException] {
      CommitLog.optimize(spark, root2, "event_id", cutoffs = Seq(10L, 5L), filesPerBucket = 1)
    }
  }

  test("commit log: orphaned staging is invisible to readers and reclaimed by vacuum (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_orph").toString
    val ev = Tables(spark, sf, "events").select(col("event_id")).limit(100)
    val v0 = CommitLog.append(spark, root, ev, nFiles = 1)
    val n0 = CommitLog.read(spark, root, v0).count()
    // a writer crashes after staging data but before publishing its
    // manifest: the orphan bytes exist under data/ but no manifest
    // names them — readers are unaffected (data is invisible until a
    // manifest publishes it), and vacuum reclaims the orphan
    val orphan = new java.io.File(root, "data/" +
      java.util.UUID.randomUUID().toString + ".parquet")
    ev.limit(7).coalesce(1).write.mode("overwrite")
      .parquet(orphan.getParent + "/.orphan_stage")
    val part = new java.io.File(orphan.getParent + "/.orphan_stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, orphan.toPath)
    assert(CommitLog.read(spark, root, v0).count() === n0,
      "orphaned staging leaked into a pinned read")
    val (removed, kept) = CommitLog.vacuum(root, retainFrom = v0)
    assert(removed === 1 && kept === 1, s"vacuum removed $removed kept $kept")
    assert(!orphan.exists(), "vacuum left the crash orphan on disk")
    assert(CommitLog.read(spark, root, v0).count() === n0)
  }

  test("commit log: four concurrent appendWithRetry writers all land, every row exactly once (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_mw4").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (0 until 4).map { q =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = CommitLog.appendWithRetry(spark, root,
            ev.filter(col("event_id") % 4 === q), nFiles = 2)
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    assert(CommitLog.latestVersion(root) === Some(3L),
      "four writers must land exactly four versions")
    val head = CommitLog.read(spark, root, 3L)
    assert(head.count() === ev.count(), "rows lost or duplicated in the race")
    assert(head.select(col("event_id")).distinct().count() === ev.count())
    assert(CommitLog.snapshotFiles(root, 3L).size === 8)
  }

  test("graft-table source: delta-only restarts, compaction skipped, delete refused (late r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_tsr_spec").toString
    // ts included deliberately: Spark writes TimestampType parquet as
    // INT96 by default — the reader's Julian-day decode path must run
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("value")).limit(400)
    val out = java.nio.file.Files.createTempDirectory("graft_tsr_spec_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_tsr_spec_ck").toString
    def drain(extra: Map[String, String] = Map.empty): Unit = {
      var r = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root)
      extra.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def emitted(): Long = spark.read.parquet(out).count()
    CommitLog.append(spark, root, ev.filter(col("event_id") % 4 === 0), nFiles = 1)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 4 === 1), nFiles = 1)
    drain()
    val n01 = ev.filter(col("event_id") % 4 <= 1).count()
    assert(emitted() === n01, "first drain must deliver both append versions")
    // a compaction is data-neutral: the checkpointed restart skips it
    CommitLog.compact(spark, root, nFiles = 1)
    drain()
    assert(emitted() === n01, "compaction version re-emitted rows")
    // a new append after restart delivers ONLY the delta, exactly once
    CommitLog.append(spark, root, ev.filter(col("event_id") % 4 === 2), nFiles = 1)
    drain()
    val n012 = ev.filter(col("event_id") % 4 <= 2).count()
    assert(emitted() === n012, "restart did not deliver exactly the delta")
    assert(spark.read.parquet(out).select(col("event_id")).distinct().count() === n012,
      "duplicate rows across restarts")
    // a data-changing rewrite fails the stream with a clear error...
    CommitLog.delete(spark, root, col("event_id") % 8 === 1)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(err.getMessage.contains("ignoreChanges") ||
      Option(err.getCause).exists(_.getMessage.contains("ignoreChanges")))
    // ...and proceeds under ignoreChanges (documented re-emission)
    drain(Map("ignoreChanges" -> "true"))
    assert(emitted() > n012, "ignoreChanges drain emitted nothing")
    // INT96 timestamps round-tripped bit-exactly through the stream
    val got = spark.read.parquet(out)
      .select(col("event_id"), col("ts")).distinct()
    val want = ev.select(col("event_id"), col("ts"))
    assert(got.join(want, Seq("event_id", "ts"), "left_anti").count() === 0,
      "streamed timestamps diverge from the batch values")
    // a FRESH checkpoint can start past the delete via startingVersion
    // (the vacuum-recovery lever); it sees only the post-delete tail
    val out2 = java.nio.file.Files.createTempDirectory("graft_tsr_out2").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft_tsr_ck2").toString
    CommitLog.append(spark, root, ev.filter(col("event_id") % 4 === 3), nFiles = 1)
    val head = CommitLog.latestVersion(root).get
    val q2 = spark.readStream.format("graft.sources.TableStreamProvider")
      .option("path", root).option("startingVersion", head.toString)
      .load().writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out2).count() ===
      ev.filter(col("event_id") % 4 === 3).count(),
      "startingVersion did not scope the fresh checkpoint to the tail")
  }

  test("segmented tables stream: per-segment admission, delta-only restarts, startingVersion, partitionFilter honored, readChangeFeed refused (r18)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_sseg_spec").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(400)
      .withColumn("day", (col("event_id") % 3).cast("string"))
    val out = java.nio.file.Files.createTempDirectory("graft_sseg_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_sseg_ck").toString
    def drain(o: String = out, c: String = ck,
        extra: Map[String, String] = Map.empty): Unit = {
      var r = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root)
      extra.foreach { case (k, v) => r = r.option(k, v) }
      r.load().writeStream.format("parquet")
        .option("path", o).option("checkpointLocation", c)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def emitted(): Long = spark.read.parquet(out).count()
    CommitLog.appendSegmentPartitioned(spark, root,
      ev.filter(col("event_id") % 4 === 0), Seq("day"), 1, "event_id")
    CommitLog.appendSegmentPartitioned(spark, root,
      ev.filter(col("event_id") % 4 === 1), Seq("day"), 1, "event_id")
    drain()
    val n01 = ev.filter(col("event_id") % 4 <= 1).count()
    assert(emitted() === n01, "first drain must deliver both segments")
    // a checkpointed restart after a THIRD segment delivers ONLY it —
    // the admission unit is the version's new segment ref
    CommitLog.appendSegmentPartitioned(spark, root,
      ev.filter(col("event_id") % 4 === 2), Seq("day"), 1, "event_id")
    drain()
    val n012 = ev.filter(col("event_id") % 4 <= 2).count()
    assert(emitted() === n012, "restart did not deliver exactly the delta")
    assert(spark.read.parquet(out).select(col("event_id")).distinct().count()
      === n012, "duplicate rows across restarts")
    // partitionFilter is HONORED (the r18 pin): a fresh checkpoint
    // subscribed to day=1 reads exactly that partition's rows of every
    // admitted segment (all files carry layouts here, so the advisory
    // prune is exact)
    val outP = java.nio.file.Files.createTempDirectory("graft_sseg_outp").toString
    val ckP = java.nio.file.Files.createTempDirectory("graft_sseg_ckp").toString
    drain(outP, ckP, Map("partitionFilter.day" -> "1"))
    assert(spark.read.parquet(outP).count() ===
      ev.filter(col("event_id") % 4 <= 2 && col("event_id") % 3 === 1).count(),
      "partitionFilter did not scope the segmented stream to the partition")
    // startingVersion scopes a fresh checkpoint to the tail segment
    val outS = java.nio.file.Files.createTempDirectory("graft_sseg_outs").toString
    val ckS = java.nio.file.Files.createTempDirectory("graft_sseg_cks").toString
    drain(outS, ckS, Map("startingVersion" -> "2"))
    assert(spark.read.parquet(outS).count() ===
      ev.filter(col("event_id") % 4 === 2).count(),
      "startingVersion did not scope the fresh checkpoint")
    // readChangeFeed on a segmented table refuses loudly — segments
    // record no CDF files (append-only; the plain stream IS the feed)
    val outC = java.nio.file.Files.createTempDirectory("graft_sseg_outc").toString
    val ckC = java.nio.file.Files.createTempDirectory("graft_sseg_ckc").toString
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root).option("readChangeFeed", "true")
        .load().writeStream.format("parquet")
        .option("path", outC).option("checkpointLocation", ckC)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def deepMsg(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + deepMsg(t.getCause)
    assert(deepMsg(err).contains("SEGMENTED"), deepMsg(err))
  }

  test("graft-table source: rename is skipped mid-stream; a fresh stream reads the mapped schema (r10)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_tsm_spec").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(400)
    val out = java.nio.file.Files.createTempDirectory("graft_tsm_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_tsm_ck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root).load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    drain()
    val nEven = ev.filter(col("event_id") % 2 === 0).count()
    assert(spark.read.parquet(out).count() === nEven)
    // the rename version is metadata-only AND physically invisible —
    // the checkpointed restart skips it and keeps delivering deltas
    CommitLog.renameColumn(spark, root, "value", "amount")
    // post-rename writers speak the NEW logical name
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 =!= 0)
      .withColumnRenamed("value", "amount"), nFiles = 1)
    drain()
    assert(spark.read.parquet(out).count() === ev.count(),
      "rename broke the in-flight checkpointed stream")
    // a FRESH stream starts under the mapped schema: logical 'amount'
    // resolves from the physical 'value' bytes in EVERY era's files
    val out2 = java.nio.file.Files.createTempDirectory("graft_tsm_out2").toString
    val ck2 = java.nio.file.Files.createTempDirectory("graft_tsm_ck2").toString
    val q2 = spark.readStream.format("graft.sources.TableStreamProvider")
      .option("path", root).load()
      .select(col("event_id"), col("amount"))
      .writeStream.format("parquet")
      .option("path", out2).option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got = spark.read.parquet(out2)
    assert(got.count() === ev.count())
    assert(got.join(ev.withColumnRenamed("value", "amount"),
      Seq("event_id", "amount"), "left_anti").count() === 0,
      "mapped stream values diverge from the batch values")
  }

  test("commit log: restore re-lists the target verbatim, preserves history, blocks changes() (late r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_rst").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(300)
    CommitLog.append(spark, root, ev.filter(col("user_id") % 2 === 0), nFiles = 1)
    val v1 = CommitLog.append(spark, root, ev.filter(col("user_id") % 2 === 1), nFiles = 1)
    val v1Files = CommitLog.snapshotFiles(root, v1)
    val (v2, _, _) = CommitLog.delete(spark, root, col("user_id") % 2 === 1)
    val v2Count = CommitLog.read(spark, root, v2).count()
    val head = CommitLog.restore(root, v1)
    // the restored head re-lists v1's files VERBATIM — zero data I/O
    assert(head === v2 + 1, "restore must be a NEW commit, never a history rewrite")
    assert(CommitLog.snapshotFiles(root, head) === v1Files)
    assert(CommitLog.read(spark, root, head).count() === ev.count())
    // the bad version stays readable for audit
    assert(CommitLog.read(spark, root, v2).count() === v2Count)
    // a data-changing transition: file-diff changes() refuses across it
    intercept[IllegalArgumentException] {
      CommitLog.changes(spark, root, v2, head).count()
    }
    // restore-the-restore: rolling forward to v2's state also works
    val head2 = CommitLog.restore(root, v2)
    assert(CommitLog.read(spark, root, head2).count() === v2Count)
  }

  test("commit log: conflicting commit loses cleanly, log stays consistent (r9)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_race").toString
    val ev = Tables(spark, sf, "events").select(col("event_id")).limit(10)
    CommitLog.append(spark, root, ev, nFiles = 1)
    val v0Files = CommitLog.snapshotFiles(root, 0L)
    // two writers race for version 1: the second rename must fail with
    // a conflict, not corrupt or overwrite the first
    CommitLog.commit(root, Nil, expected = Some(0L))
    intercept[java.util.ConcurrentModificationException] {
      CommitLog.commit(root, Seq("data/phantom.parquet"), expected = Some(0L))
    }
    assert(CommitLog.latestVersion(root) === Some(1L))
    assert(CommitLog.snapshotFiles(root, 1L).isEmpty,
      "losing writer's manifest content leaked into the published version")
    assert(CommitLog.snapshotFiles(root, 0L) === v0Files)
  }

  test("merge evolution: a RETYPED column fails before staging; plain merge rejects unknown columns (r11)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_mev_neg").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(400)
    CommitLog.appendEvolved(spark, root, ev, nFiles = 1)
    // evolution adds columns, it never retypes them — the type
    // conflict fails the COMMIT, before anything stages
    val retyped = ev.limit(10).withColumn("value", col("value").cast("string"))
    val ex = intercept[IllegalArgumentException] {
      CommitLog.mergeEvolved(spark, root, retyped, "event_id", 1)
    }
    assert(ex.getMessage.contains("never retypes"), ex.getMessage)
    // plain merge on a schema-recording table rejects a column the
    // schema does not know (evolution must be EXPLICIT — mergeEvolved)
    val extra = ev.limit(5).withColumn("bonus", lit(1.0))
    val ex2 = intercept[IllegalArgumentException] {
      CommitLog.merge(spark, root, extra, "event_id", 1)
    }
    assert(ex2.getMessage.contains("merge"), ex2.getMessage)
    assert(CommitLog.latestVersion(root) === Some(0L),
      "a refused merge left commits behind")
    // the positive path composes with column mapping: drop a column,
    // then evolve-merge a NEW column under the same logical name — it
    // gets a fresh physical name, so the dropped bytes stay dead
    CommitLog.dropColumn(spark, root, "user_id")
    val revived = ev.select(col("event_id"), col("value"))
      .limit(20).withColumn("user_id", lit(-7L))
    CommitLog.mergeEvolved(spark, root, revived, "event_id", 1)
    val head = CommitLog.read(spark, root, CommitLog.latestVersion(root).get)
    val vals = head.filter(col("user_id").isNotNull)
      .select(col("user_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(vals === Set(-7L),
      s"re-added merge column resurrected dropped bytes: $vals")
  }

  test("commit log: CoW delete rebases past a concurrent append — BOTH commit; rewrites still refuse (r11)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_reb").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(1000)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 5 =!= 0), nFiles = 2)
    // a competitor lands an APPEND between the delete's head-read and
    // its publish (the appendWithRetry test seam) — the delete must
    // REBASE: both commits land, the appended files carry forward
    val late = ev.filter(col("event_id") % 5 === 0)
    var injected = false
    val (v, carriedN, _) = CommitLog.delete(spark, root,
      col("user_id") % 2 === 1,
      beforeCommit = () => if (!injected) {
        injected = true
        CommitLog.append(spark, root, late, nFiles = 1); ()
      })
    assert(v === 2L, s"expected v0 append, v1 competitor, v2 delete — got v$v")
    // WriteSerializable: the delete acted on ITS snapshot; the blind
    // append lands after it, so late rows survive EVEN where they
    // match the predicate
    val got = CommitLog.read(spark, root, v)
    val want = ev.filter(col("event_id") % 5 =!= 0)
      .filter(!(col("user_id") % 2 === 1))
      .unionByName(late)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "rebased delete lost rows (or deleted the competitor's late rows)")
    assert(carriedN >= 1L, "competitor's appended file was not carried")
    // rewrite-vs-rewrite stays fail-on-conflict, named: a concurrent
    // DELETE cannot be rebased
    var injected2 = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      CommitLog.delete(spark, root, col("user_id") % 7 === 1,
        beforeCommit = () => if (!injected2) {
          injected2 = true
          CommitLog.delete(spark, root, col("user_id") % 7 === 2); ()
        })
    }
    assert(ex.getMessage.contains("rewrite-vs-rewrite") ||
      ex.getMessage.contains("removed"), ex.getMessage)
    // MERGE and UPDATE rebase through the same shared loop: a racing
    // append lands and survives; a late row sharing a merge key is NOT
    // matched (it is a row the merge never saw — blind-append
    // semantics), so both the update row and the late twin coexist
    val root2 = java.nio.file.Files.createTempDirectory("graft_cl_reb2").toString
    CommitLog.append(spark, root2, ev.limit(600), nFiles = 2)
    val twin = ev.limit(1).withColumn("value", lit(7777.0))
    val ups = ev.limit(50).withColumn("value", lit(-3.0))
    var injected3 = false
    val (vm, _, _) = CommitLog.mergeKeyed(spark, root2, ups, Seq("event_id"),
      nInsertFiles = 1,
      beforeCommit = () => if (!injected3) {
        injected3 = true
        CommitLog.append(spark, root2, twin, nFiles = 1); ()
      })
    val afterMerge = CommitLog.read(spark, root2, vm)
    assert(afterMerge.count() === 601, "rebased merge lost the late append")
    assert(afterMerge.filter(col("value") === -3.0).count() === 50)
    assert(afterMerge.filter(col("value") === 7777.0).count() === 1,
      "the late twin was matched away — blind-append semantics broken")
    var injected4 = false
    val (vu, _, _) = CommitLog.update(spark, root2,
      col("value") === -3.0, Seq("value" -> lit(-4.0)),
      beforeCommit = () => if (!injected4) {
        injected4 = true
        CommitLog.append(spark, root2,
          ev.limit(1).withColumn("event_id", col("event_id") + 555000000L)
            .withColumn("value", lit(-3.0)), nFiles = 1); ()
      })
    val afterUpd = CommitLog.read(spark, root2, vu)
    assert(afterUpd.filter(col("value") === -4.0).count() === 50)
    assert(afterUpd.filter(col("value") === -3.0).count() === 1,
      "the late cond-matching row must land AFTER the update, untouched")
  }

  test("commit log: file-disjoint rewrite-vs-rewrite rebases — OPTIMIZE racing DELETE both commit (r12)") {
    import graft.sources.{CommitLog, Tables}
    def freshTable(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_rr_reb").toString
      val ev = Tables(spark, sf, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .limit(2000)
      CommitLog.appendPartitioned(spark, root, ev, "event_type",
        filesPerPartition = 2)
      root
    }
    // (1) DELETE rebases past a partition-scoped OPTIMIZE on a
    // DIFFERENT partition: the compaction is row-preserving and
    // file-disjoint from the delete's dirty set — both commit
    val r1 = freshTable()
    val want1 = CommitLog.read(spark, r1, 0L)
      .filter(!(col("event_type") === "click" && col("user_id") % 2 === 1))
    var inj1 = false
    val (v1, _, _) = CommitLog.delete(spark, r1,
      col("event_type") === "click" && col("user_id") % 2 === 1,
      beforeCommit = () => if (!inj1) {
        inj1 = true
        val (_, sel, _) = CommitLog.compactPartitions(spark, r1,
          "event_type", Seq("view"), filesPerPartition = 1)
        assert(sel === 2L, "competitor compaction must have fired")
      })
    assert(v1 === 2L, s"expected v1 optimize + v2 delete, got v$v1")
    val got1 = CommitLog.read(spark, r1, v1)
    assert(got1.exceptAll(want1).count() === 0 && want1.exceptAll(got1).count() === 0,
      "delete rebased past disjoint optimize lost/kept wrong rows")
    // (2) the CONVERSE: partition-scoped OPTIMIZE rebases past a
    // CoW DELETE on a different partition — the compaction daemon
    // racing a GDPR delete, the r11 verdict's named scenario
    val r2 = freshTable()
    val want2 = CommitLog.read(spark, r2, 0L)
      .filter(!(col("event_type") === "click" && col("user_id") % 3 === 1))
    var inj2 = false
    val (v2, sel2, _) = CommitLog.compactPartitions(spark, r2,
      "event_type", Seq("signup"), filesPerPartition = 1,
      beforeCommit = () => if (!inj2) {
        inj2 = true
        CommitLog.delete(spark, r2,
          col("event_type") === "click" && col("user_id") % 3 === 1); ()
      })
    assert(v2 === 2L && sel2 === 2L, s"optimize must rebase, got v$v2")
    val got2 = CommitLog.read(spark, r2, v2)
    assert(got2.exceptAll(want2).count() === 0 && want2.exceptAll(got2).count() === 0,
      "optimize rebased past disjoint delete lost the delete (or rows)")
    // (3) disjoint DELETE-vs-DELETE both commit (row-shrinking winner
    // cannot create new predicate matches in the loser's clean files)
    val r3 = freshTable()
    var inj3 = false
    val (v3, _, _) = CommitLog.delete(spark, r3,
      col("event_type") === "click" && col("user_id") % 2 === 0,
      beforeCommit = () => if (!inj3) {
        inj3 = true
        CommitLog.delete(spark, r3,
          col("event_type") === "view" && col("user_id") % 2 === 0); ()
      })
    val got3 = CommitLog.read(spark, r3, v3)
    val want3 = CommitLog.read(spark, r3, 0L)
      .filter(!(col("event_type").isin("click", "view") && col("user_id") % 2 === 0))
    assert(got3.exceptAll(want3).count() === 0 && want3.exceptAll(got3).count() === 0,
      "disjoint delete-vs-delete rebase diverged")
    // (4) value-changing winners: since r14 the loser PROBES the
    // winner's added files — here the update's rewritten 'view' rows
    // never match the delete's 'click' predicate, so the pair
    // commits and equals serial execution (the r12 blanket refusal
    // was an over-refusal; a winner whose new rows DO match still
    // refuses — pinned by the r14 value×value test)
    val r4 = freshTable()
    var inj4 = false
    val want4 = CommitLog.read(spark, r4, 0L)
      .withColumn("value",
        when(col("event_type") === "view" && col("user_id") % 5 === 0,
          lit(-1.0)).otherwise(col("value")))
      .filter(!(col("event_type") === "click" && col("user_id") % 2 === 0))
      .localCheckpoint()
    val (v4, _, _) = CommitLog.delete(spark, r4,
      col("event_type") === "click" && col("user_id") % 2 === 0,
      beforeCommit = () => if (!inj4) {
        inj4 = true
        CommitLog.update(spark, r4,
          col("event_type") === "view" && col("user_id") % 5 === 0,
          Seq("value" -> lit(-1.0))); ()
      })
    val got4 = CommitLog.read(spark, r4, v4)
    assert(got4.exceptAll(want4).count() === 0 &&
      want4.exceptAll(got4).count() === 0,
      "delete rebased past a non-touching update diverged from serial execution")
    // (5) a winner that attached a DELETION VECTOR to a file the loser
    // is rewriting refuses (the staged rewrite would resurrect the
    // winner's dead rows)
    val r5 = freshTable()
    var inj5 = false
    val ex5 = intercept[java.util.ConcurrentModificationException] {
      CommitLog.delete(spark, r5,
        col("event_type") === "click" && col("user_id") % 2 === 0,
        beforeCommit = () => if (!inj5) {
          inj5 = true
          CommitLog.deleteMergeOnRead(spark, r5,
            col("event_type") === "click" && col("user_id") % 2 === 1); ()
        })
    }
    assert(ex5.getMessage.contains("deletion vectors") ||
      ex5.getMessage.contains("resurrect"), ex5.getMessage)
  }

  test("type widening: lattice-only, wider plain writes refuse, narrow writers survive the widen (r12)") {
    import graft.sources.{CommitLog, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(400)
    val root = java.nio.file.Files.createTempDirectory("graft_widen_t").toString
    CommitLog.appendEvolved(spark, root,
      ev.select(col("event_id").cast("int").as("event_id"),
        col("value").cast("float").as("value")), nFiles = 1)
    // a type CROSSING refuses (string is not wider than int)
    val ex1 = intercept[IllegalArgumentException] {
      CommitLog.appendEvolved(spark, root,
        ev.select(col("event_id").cast("string").as("event_id"),
          col("value").cast("float").as("value")), nFiles = 1)
    }
    assert(ex1.getMessage.contains("WIDENS"), ex1.getMessage)
    // int→double is NOT widening (large-long precision loss in
    // disguise at the long tier; the lattice is deliberately strict)
    val ex2 = intercept[IllegalArgumentException] {
      CommitLog.appendEvolved(spark, root,
        ev.select(col("event_id").cast("double").as("event_id"),
          col("value").cast("float").as("value")), nFiles = 1)
    }
    assert(ex2.getMessage.contains("WIDENS"), ex2.getMessage)
    // a WIDER type through the PLAIN path refuses — widening is a
    // schema change and goes through appendEvolved
    val ex3 = intercept[IllegalArgumentException] {
      CommitLog.append(spark, root,
        ev.select(col("event_id"), col("value")), nFiles = 1)
    }
    assert(ex3.getMessage.contains("widen via appendEvolved"), ex3.getMessage)
    // the widen itself, then: narrow files read natively, a narrow
    // PLAIN append still lands, and values survive bit-for-bit
    CommitLog.appendEvolved(spark, root,
      ev.select(col("event_id"), col("value")), nFiles = 1)
    CommitLog.append(spark, root,
      ev.select((col("event_id") + 10000000L).cast("int").as("event_id"),
        col("value").cast("float").as("value")), nFiles = 1)
    val head = CommitLog.latestVersion(root).get
    val got = CommitLog.read(spark, root, head)
    assert(got.schema("event_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(got.schema("value").dataType ===
      org.apache.spark.sql.types.DoubleType)
    val want = ev.select(col("event_id"),
        col("value").cast("float").cast("double").as("value"))
      .unionByName(ev)
      .unionByName(ev.select((col("event_id") + 10000000L).as("event_id"),
        col("value").cast("float").cast("double").as("value")))
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "widened reads diverge from the upcast replay")
    // decimal growth widens; fractional-digit LOSS refuses
    val r2 = java.nio.file.Files.createTempDirectory("graft_widen_d").toString
    CommitLog.appendEvolved(spark, r2,
      ev.select(col("event_id"), col("value").cast("decimal(10,2)").as("d")),
      nFiles = 1)
    CommitLog.appendEvolved(spark, r2,
      ev.select(col("event_id"), col("value").cast("decimal(18,4)").as("d")),
      nFiles = 1)
    val ex4 = intercept[IllegalArgumentException] {
      CommitLog.appendEvolved(spark, r2,
        ev.select(col("event_id"), col("value").cast("decimal(18,1)").as("d")),
        nFiles = 1)
    }
    assert(ex4.getMessage.contains("WIDENS"), ex4.getMessage)
    assert(CommitLog.read(spark, r2, CommitLog.latestVersion(r2).get)
      .schema("d").dataType ===
      org.apache.spark.sql.types.DecimalType(18, 4))
  }

  test("commit log: total rewrites (compact/optimize/reorg) rebase past blind appends (r12)") {
    import graft.sources.{CommitLog, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(1200)
    // (1) compact racing an append: the daemon's commit lands, the
    // late rows carry verbatim (uncompacted until the next run)
    val r1 = java.nio.file.Files.createTempDirectory("graft_tc_reb").toString
    CommitLog.append(spark, r1, ev.filter(col("event_id") % 3 =!= 0), nFiles = 4)
    val late1 = ev.filter(col("event_id") % 3 === 0)
    var inj1 = false
    val v1 = CommitLog.compact(spark, r1, nFiles = 1,
      beforeCommit = () => if (!inj1) {
        inj1 = true; CommitLog.append(spark, r1, late1, nFiles = 1); ()
      })
    assert(v1 === 2L, s"compact must rebase to v2, got v$v1")
    val got1 = CommitLog.read(spark, r1, v1)
    assert(got1.exceptAll(ev).count() === 0 && ev.exceptAll(got1).count() === 0,
      "compact rebase lost rows (its own or the late append's)")
    // the late file is carried UNcompacted: 1 compacted + 1 late
    assert(CommitLog.snapshotFiles(r1, v1).size === 2)
    // (2) range-clustered optimize racing an append — both commit,
    // and the staged buckets' stats survive under the new stats column
    val r2 = java.nio.file.Files.createTempDirectory("graft_to_reb").toString
    CommitLog.append(spark, r2, ev.filter(col("event_id") % 3 =!= 0), nFiles = 4)
    val late2 = ev.filter(col("event_id") % 3 === 0)
    var inj2 = false
    val mid = ev.agg(expr("percentile(event_id, 0.5)")).collect()(0).getDouble(0).toLong
    val v2 = CommitLog.optimize(spark, r2, "event_id", Seq(mid), filesPerBucket = 1,
      beforeCommit = () => if (!inj2) {
        inj2 = true; CommitLog.append(spark, r2, late2, nFiles = 1); ()
      })
    assert(v2 === 2L, s"optimize must rebase to v2, got v$v2")
    val got2 = CommitLog.read(spark, r2, v2)
    assert(got2.exceptAll(ev).count() === 0 && ev.exceptAll(got2).count() === 0,
      "optimize rebase lost rows")
    val aux2 = CommitLog.auxOf(r2, v2)
    assert(aux2.statsTags.get("event_id").contains("long") &&
      aux2.stats2.values.exists(_.contains("event_id")),
      "staged buckets must record stats under the new column")
    // (3) REORG APPLY (PURGE) racing an append: the vectored files
    // rewrite clean, the late rows carry
    val r3 = java.nio.file.Files.createTempDirectory("graft_tr_reb").toString
    CommitLog.append(spark, r3, ev.filter(col("event_id") % 3 =!= 0), nFiles = 4)
    CommitLog.deleteMergeOnRead(spark, r3, col("user_id") % 9 === 4)
    val late3 = ev.filter(col("event_id") % 3 === 0)
    var inj3 = false
    val (v3, _, rew3) = CommitLog.reorgPurge(spark, r3,
      beforeCommit = () => if (!inj3) {
        inj3 = true; CommitLog.append(spark, r3, late3, nFiles = 1); ()
      })
    assert(v3 === 3L && rew3 >= 1L, s"reorg must rebase to v3, got v$v3")
    val got3 = CommitLog.read(spark, r3, v3)
    val want3 = ev.filter(col("event_id") % 3 =!= 0)
      .filter(!(col("user_id") % 9 === 4)).unionByName(late3)
    assert(got3.exceptAll(want3).count() === 0 && want3.exceptAll(got3).count() === 0,
      "reorg rebase lost rows or resurrected vectored ones")
  }

  test("commit log: history checkpoint — same rows, watermark past vacuum, monotone and idempotent (r11)") {
    import graft.sources.{CommitLog, IncrementalView, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(600)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 0), nFiles = 1)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 1), nFiles = 1)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 2), nFiles = 1)
    CommitLog.delete(spark, root, col("user_id") % 5 === 0)
    // checkpointing changes NOTHING about what history says
    val before = CommitLog.history(root)
    val n1 = CommitLog.checkpoint(root)
    assert(n1 === 3L)
    assert(CommitLog.history(root) === before,
      "checkpointed history diverges from the full walk")
    // idempotent at the same head; incremental afterwards
    assert(CommitLog.checkpoint(root) === n1)
    CommitLog.append(spark, root, ev.limit(10), nFiles = 1)
    val (rows, parsed) = CommitLog.historySummaries(root)
    assert(parsed === 1L, s"walk parsed $parsed manifests past a v$n1 checkpoint")
    assert(rows.map(_.version) === (0L to 4L), s"rows: ${rows.map(_.version)}")
    // TIMESTAMP AS OF through checkpoint rows = the same resolution
    val tsHead = System.currentTimeMillis() + 1000
    assert(CommitLog.versionAtTime(root, tsHead) === 4L)
    // vacuum drops old manifests and their data; checkpointed history
    // KEEPS their rows (log retention vs data retention — the Delta
    // split), while time travel to them correctly refuses
    CommitLog.checkpoint(root)
    CommitLog.vacuum(root, retainFrom = 4L)
    assert(CommitLog.history(root).map(_._1) === (0L to 4L),
      "vacuum erased checkpointed history rows")
    intercept[Exception] { CommitLog.read(spark, root, 1L).count() }
    // the watermark walk answers from the checkpoint even after vacuum
    // dropped every fold commit's manifest — previously only the
    // best-effort property backstop covered this; remove the property
    // to prove the checkpoint itself answers
    val src = java.nio.file.Files.createTempDirectory("graft_ckpt_s").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ckpt_v").toString
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    IncrementalView.create(spark, vw, src, "event_type", "value")
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    IncrementalView.refresh(spark, vw) // fold commit carries viewSrc
    CommitLog.checkpoint(vw)
    CommitLog.compact(spark, vw, nFiles = 1) // maintenance: no viewSrc
    CommitLog.compact(spark, vw, nFiles = 1)
    CommitLog.vacuum(vw, retainFrom = CommitLog.latestVersion(vw).get)
    CommitLog.removeTableProperty(vw, "graft.view.sourceVersion")
    val (_, folded) = IncrementalView.refresh(spark, vw)
    assert(folded === 0L,
      s"post-vacuum refresh re-folded $folded rows — the checkpoint lost the watermark")
    // the STALE-checkpoint hazard (r11 review): a fold lands AFTER the
    // checkpoint, then compaction + vacuum gap the manifests between
    // them — the walk's checkpoint answer is BEHIND the property
    // backstop, and preferring it would silently double-fold; the
    // max-of-both rule must let the fresher property win
    CommitLog.append(spark, src, ev.limit(50)
      .withColumn("event_id", col("event_id") + 770000000L), nFiles = 1)
    IncrementalView.refresh(spark, vw) // fold commit AFTER the checkpoint
    CommitLog.compact(spark, vw, nFiles = 1)
    CommitLog.vacuum(vw, retainFrom = CommitLog.latestVersion(vw).get)
    val (_, folded2) = IncrementalView.refresh(spark, vw)
    assert(folded2 === 0L,
      s"stale checkpoint watermark replayed $folded2 change rows")
    // checkpoint retention: each snapshot carries the full row history,
    // so only the newest (plus one prior for mid-flight readers) stays
    CommitLog.append(spark, root, ev.limit(5), nFiles = 1)
    CommitLog.checkpoint(root)
    CommitLog.append(spark, root, ev.limit(5), nFiles = 1)
    CommitLog.checkpoint(root)
    val ckpts = Option(new java.io.File(root, "_graft_log").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.getName.startsWith("ckpt-v") && f.getName.endsWith(".json"))
    assert(ckpts <= 2, s"$ckpts checkpoint snapshots retained — cleanup dead")
  }

  test("multi-agg incremental view: MIN/MAX bounded recompute fires only on bound-touching deletes (r11)") {
    import graft.sources.{CommitLog, IncrementalViewMulti}
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_ivmm_s").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ivmm_v").toString
    // handcrafted bounds: a=[1,5,9], b=[10,20,30], c=[7,NULL]
    val base = Seq[(String, Long, java.lang.Double)](
      ("a", 1L, 1.0), ("a", 2L, 5.0), ("a", 3L, 9.0),
      ("b", 4L, 10.0), ("b", 5L, 20.0), ("b", 6L, 30.0),
      ("c", 7L, 7.0), ("c", 8L, null)).toDF("k", "id", "v")
    CommitLog.append(spark, src, base, nFiles = 1)
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    IncrementalViewMulti.create(spark, vw, src, "k", Seq("v"))
    def recompute() = CommitLog.read(spark, src, CommitLog.latestVersion(src).get)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv_v"),
        sum(col("v").cast("decimal(18,4)")).cast("decimal(18,4)").as("total_v"),
        min(col("v")).as("mn_v"), max(col("v")).as("mx_v"))
    def check(tag: String): Unit = {
      val view = CommitLog.read(spark, vw, CommitLog.latestVersion(vw).get)
      assert(view.exceptAll(recompute()).count() === 0 &&
        recompute().exceptAll(view).count() === 0,
        s"$tag: incremental state diverges from recompute")
    }
    // delete a's MIN (bound hit → re-aggregate) and b's MIDDLE value
    // (no bound touched → monotone fold): exactly ONE key re-aggregates
    CommitLog.delete(spark, src,
      (col("k") === "a" && col("v") === 1.0) ||
        (col("k") === "b" && col("v") === 20.0))
    val (_, _, rec1) = IncrementalViewMulti.refresh(spark, vw)
    assert(rec1 === 1L, s"expected only 'a' to re-aggregate, got $rec1 keys")
    check("bound-touching delete")
    // deleting a key's LAST non-null value: n stays up, nv drops to 0,
    // SUM/MIN/MAX all go NULL — exactly SQL's aggregates over NULLs
    CommitLog.delete(spark, src, col("k") === "c" && col("v").isNotNull)
    val (_, _, rec2) = IncrementalViewMulti.refresh(spark, vw)
    assert(rec2 === 1L)
    check("last non-null value deleted")
    val cRow = CommitLog.read(spark, vw, CommitLog.latestVersion(vw).get)
      .filter(col("k") === "c").collect()(0)
    assert(cRow.getLong(1) === 1L && cRow.getLong(2) === 0L &&
      cRow.isNullAt(3) && cRow.isNullAt(4) && cRow.isNullAt(5),
      s"all-NULL key state wrong: $cRow")
    // insert-only batches NEVER re-aggregate — a new minimum folds
    // monotonically
    CommitLog.append(spark, src,
      Seq[(String, Long, java.lang.Double)](("b", 9L, 5.0)).toDF("k", "id", "v"),
      nFiles = 1)
    val (_, _, rec3) = IncrementalViewMulti.refresh(spark, vw)
    assert(rec3 === 0L, s"insert-only fold re-aggregated $rec3 keys")
    check("monotone insert fold")
    // deleting a key's every row drops it (vanish path shared with the
    // 2-column view), without re-aggregation
    CommitLog.delete(spark, src, col("k") === "a")
    IncrementalViewMulti.refresh(spark, vw)
    check("key vanish")
    assert(CommitLog.read(spark, vw, CommitLog.latestVersion(vw).get)
      .filter(col("k") === "a").count() === 0, "vanished key survived")
  }

  test("multi-agg view: streamed folds continue across drains and never double-fold (r11)") {
    import graft.sources.{CommitLog, IncrementalViewMulti, Tables}
    // the CONTINUOUS maintenance story holds for the widened algebra
    // too: foldDeltas from foreachBatch, version-granularity
    // idempotency, MIN/MAX recompute mid-stream (the delete batch
    // removes per-key minima)
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(600)
    val src = java.nio.file.Files.createTempDirectory("graft_ivms_s").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ivms_v").toString
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    IncrementalViewMulti.create(spark, vw, src, "event_type", Seq("value"))
    val ck = java.nio.file.Files.createTempDirectory("graft_ivms_ck").toString
    val folded = new java.util.concurrent.atomic.AtomicLong(0L)
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", src).option("readChangeFeed", "true").load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          folded.addAndGet(
            IncrementalViewMulti.foldDeltas(spark, vw, src, b)._2); ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def recompute() = CommitLog.read(spark, src, CommitLog.latestVersion(src).get)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
        sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("total_value"),
        min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    drain()
    assert(folded.get() === ev.filter(col("event_id") % 2 =!= 0).count(),
      s"folded ${folded.get()} — v0 double-folded or v1 missed")
    drain() // idle re-drain folds nothing
    assert(folded.get() === ev.filter(col("event_id") % 2 =!= 0).count())
    // a delete that removes per-key minima folds THROUGH the stream
    // (bounded recompute inside a micro-batch)
    val cut = ev.agg(expr("percentile(value, 0.2)")).collect()(0).getDouble(0)
    CommitLog.delete(spark, src, col("value") <= cut)
    drain()
    val view = CommitLog.read(spark, vw, CommitLog.latestVersion(vw).get)
    assert(view.exceptAll(recompute()).count() === 0 &&
      recompute().exceptAll(view).count() === 0,
      "continuously-maintained multi-agg view diverges from recompute")
  }

  test("join view: dim pinned at create, a dim advance refuses by name, unmatched fact rows drop (r11)") {
    import graft.sources.{CommitLog, IncrementalViewMulti, Tables}
    import spark.implicits._
    val fact = java.nio.file.Files.createTempDirectory("graft_ivjn_f").toString
    val dimT = java.nio.file.Files.createTempDirectory("graft_ivjn_d").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ivjn_v").toString
    CommitLog.setTableProperty(fact, "enableChangeDataFeed", "true")
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(600)
    CommitLog.append(spark, fact, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    // the dim deliberately misses some users — their fact rows must
    // drop on BOTH the create and fold paths (consistent inner join)
    val dim = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 5 =!= 0)
      .withColumn("segment", concat(lit("s"), (col("user_id") % 3).cast("string")))
    CommitLog.append(spark, dimT, dim, nFiles = 1)
    IncrementalViewMulti.createJoined(spark, vw, fact, dimT, "user_id",
      Seq("segment"), Seq("value"))
    CommitLog.append(spark, fact, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    IncrementalViewMulti.refresh(spark, vw)
    val view = CommitLog.read(spark, vw, CommitLog.latestVersion(vw).get)
    val want = CommitLog.read(spark, fact, CommitLog.latestVersion(fact).get)
      .join(dim, Seq("user_id"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
        sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("total_value"),
        min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
    assert(view.exceptAll(want).count() === 0 && want.exceptAll(view).count() === 0,
      "join view diverges from fact-head join dim recompute")
    // a dim ADVANCE refuses by name: a changed mapping re-attributes
    // history — only a rebuild does that exactly
    CommitLog.append(spark, dimT,
      Seq((-1L, "s9")).toDF("user_id", "segment"), nFiles = 1)
    CommitLog.append(spark, fact, ev.limit(10)
      .withColumn("event_id", col("event_id") + 900000000L), nFiles = 1)
    val ex = intercept[IllegalArgumentException] {
      IncrementalViewMulti.refresh(spark, vw)
    }
    assert(ex.getMessage.contains("re-attributes history"), ex.getMessage)
  }

  test("join view: dim advance with a CDF propagates exactly — dim-only, ghost churn, idempotent replay (r12)") {
    import graft.sources.{CommitLog, IncrementalViewMulti, Tables}
    import spark.implicits._
    val fact = java.nio.file.Files.createTempDirectory("graft_ivdd_f").toString
    val dimT = java.nio.file.Files.createTempDirectory("graft_ivdd_d").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ivdd_v").toString
    CommitLog.setTableProperty(fact, "enableChangeDataFeed", "true")
    CommitLog.setTableProperty(dimT, "enableChangeDataFeed", "true")
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(800)
    CommitLog.append(spark, fact, ev, nFiles = 2)
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("s"), (col("user_id") % 3).cast("string")))
    CommitLog.append(spark, dimT, dim, nFiles = 1)
    IncrementalViewMulti.createJoined(spark, vw, fact, dimT, "user_id",
      Seq("segment"), Seq("value"))
    def recompute(): org.apache.spark.sql.DataFrame =
      CommitLog.read(spark, fact, CommitLog.latestVersion(fact).get)
        .join(CommitLog.read(spark, dimT, CommitLog.latestVersion(dimT).get),
          Seq("user_id"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
          sum(col("value").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("total_value"),
          min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
    def assertExact(tag: String): Unit = {
      val v = CommitLog.read(spark, vw, CommitLog.latestVersion(vw).get)
      val want = recompute()
      assert(v.exceptAll(want).count() === 0 && want.exceptAll(v).count() === 0,
        s"$tag: dim-folded view diverges from recompute")
    }
    // (1) DIM-ONLY advance: a segment remap with zero fact deltas —
    // refresh folds Δdim, reports zero fact rows, nonzero reagg keys
    CommitLog.update(spark, dimT, col("user_id") % 4 === 1,
      Seq("segment" -> lit("s_remap")))
    val (_, n1, r1) = IncrementalViewMulti.refresh(spark, vw)
    assert(n1 === 0L, s"dim-only advance must fold 0 fact rows, got $n1")
    assert(r1 > 0L, "a remap that touches fact-joined keys must re-aggregate")
    assertExact("after dim remap")
    // (2) replayed refresh is a no-op at both watermarks
    val (v2, n2, r2) = IncrementalViewMulti.refresh(spark, vw)
    assert(n2 === 0L && r2 === 0L,
      s"replayed refresh must fold nothing, got ($n2, $r2)")
    assert(v2 === CommitLog.latestVersion(vw).get)
    // (3) GHOST churn: dim rows no fact row joins advance the pin
    // without publishing a merge
    val headBefore = CommitLog.latestVersion(vw).get
    CommitLog.append(spark, dimT,
      Seq((-777L, "s_ghost"), (-778L, "s_ghost")).toDF("user_id", "segment"),
      nFiles = 1)
    val (v3, n3, r3) = IncrementalViewMulti.refresh(spark, vw)
    assert(n3 === 0L && r3 === 0L && v3 === headBefore,
      s"ghost dim churn must only advance the pin, got (v$v3, $n3, $r3)")
    assertExact("after ghost churn")
    // (4) dim DELETE + fact delta in ONE refresh: Δdim folds first
    // (users leave → their segments re-aggregate), fact deltas then
    // fold against the NEW pin
    CommitLog.delete(spark, dimT, col("user_id") % 5 === 2)
    CommitLog.append(spark, fact, ev.limit(100)
      .withColumn("event_id", col("event_id") + 900000000L), nFiles = 1)
    val (_, n4, r4) = IncrementalViewMulti.refresh(spark, vw)
    assert(r4 > 0L, "dim delete must re-aggregate the left users' segments")
    // the fact fold enriches against the NEW dim: rows of deleted
    // users drop from the delta count
    val expected4 = ev.limit(100).join(
      CommitLog.read(spark, dimT, CommitLog.latestVersion(dimT).get)
        .select(col("user_id")), Seq("user_id"), "left_semi").count()
    assert(n4 === expected4, s"fact fold counted $n4, want $expected4")
    assertExact("after dim delete + fact append")
  }

  test("incremental view: mass delete — EVERY key vanishes in ONE distributed fold commit (r11)") {
    import graft.sources.{CommitLog, IncrementalView, Tables}
    // the retention-purge / GDPR-sweep shape the r10 verdict flagged:
    // the vanished-key set is TABLE-sized, so it must ride the fold's
    // merge as a distributed delete-keys relation, never a driver
    // collect. user_id gives a key domain in the thousands at sf0.01.
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val src = java.nio.file.Files.createTempDirectory("graft_ivmass_s").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ivmass_v").toString
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    CommitLog.append(spark, src, ev, nFiles = 2)
    // event_id is the row key — the key domain is the table itself,
    // the worst case for any driver-side vanished-key structure
    IncrementalView.create(spark, vw, src, "event_id", "value")
    val nKeys = ev.filter(col("event_id").isNotNull)
      .select(col("event_id")).distinct().count()
    assert(nKeys >= 1000, s"fixture too small to exercise a mass vanish: $nKeys keys")
    val head0 = CommitLog.latestVersion(vw).get
    CommitLog.delete(spark, src, lit(true)) // purge EVERYTHING
    val (v1, c1) = IncrementalView.refresh(spark, vw)
    assert(c1 === ev.count(), s"folded $c1 of ${ev.count()} change rows")
    assert(v1 === head0 + 1,
      "mass-delete fold must publish ONE commit (survivor merge + vanish delete fused)")
    assert(CommitLog.read(spark, vw, v1).count() === 0, "vanished keys survived")
    // idempotent + watermark advanced atomically with that single commit
    val (v2, c2) = IncrementalView.refresh(spark, vw)
    assert(v2 === v1 && c2 === 0L)
    // and the view comes BACK from empty when the source refills
    CommitLog.append(spark, src, ev.limit(500), nFiles = 1)
    val (v3, _) = IncrementalView.refresh(spark, vw)
    val want = ev.limit(500).filter(col("event_id").isNotNull)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("decimal(18,4)").as("total"))
    val got = CommitLog.read(spark, vw, v3)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "refill after mass delete diverges from recompute")
  }

  test("incremental view: all-NULL measure deltas fold as SUM does, never null the total (r11, ADVICE)") {
    import graft.sources.{CommitLog, IncrementalView, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(1000)
    val src = java.nio.file.Files.createTempDirectory("graft_ivnull_s").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_ivnull_v").toString
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    CommitLog.append(spark, src, ev, nFiles = 1)
    IncrementalView.create(spark, vw, src, "event_type", "value")
    def recompute() = CommitLog.read(spark, src, CommitLog.latestVersion(src).get)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("decimal(18,4)").as("total"))
    // a change batch whose EVERY row carries a NULL measure: dtotal is
    // NULL (SUM over zero non-null terms) — the fold must treat it as
    // zero for keys with history, and keep a never-non-null NEW key's
    // total NULL, exactly like the recompute's SUM
    val nulls = ev.limit(40)
      .withColumn("event_id", col("event_id") + 700000000L)
      .withColumn("value", lit(null).cast("double"))
    val fresh = ev.limit(6)
      .withColumn("event_id", col("event_id") + 800000000L)
      .withColumn("event_type", lit("iv_nullonly"))
      .withColumn("value", lit(null).cast("double"))
    CommitLog.append(spark, src, nulls.unionByName(fresh), nFiles = 1)
    val (v1, _) = IncrementalView.refresh(spark, vw)
    val view1 = CommitLog.read(spark, vw, v1)
    assert(view1.exceptAll(recompute()).count() === 0 &&
      recompute().exceptAll(view1).count() === 0,
      "all-NULL insert batch diverged from recompute")
    assert(view1.filter(col("event_type") === "iv_nullonly")
      .collect()(0).isNullAt(2), "never-non-null key's total must stay NULL")
    // the delete side of the same hazard: removing the NULL-valued
    // rows again is another all-NULL delta batch
    CommitLog.delete(spark, src,
      col("value").isNull && col("event_type") =!= "iv_nullonly")
    val (v2, _) = IncrementalView.refresh(spark, vw)
    val view2 = CommitLog.read(spark, vw, v2)
    assert(view2.exceptAll(recompute()).count() === 0 &&
      recompute().exceptAll(view2).count() === 0,
      "all-NULL delete batch diverged from recompute")
  }

  test("commit log: non-finite double stats never brick the manifest; DATE columns get stats (r11, ADVICE)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_naninf").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"), col("ts")).limit(600)
      .withColumn("day", col("ts").cast("date"))
    // file 1: finite doubles + dates — prunable on both
    val v0 = CommitLog.appendWithColumnStats(spark, root,
      ev.filter(col("event_id") % 3 === 0), 1, Seq("value", "day"))
    // file 2: a NaN and an Infinity land in the double column — the
    // old renderer emitted bare NaN/Infinity tokens Jackson refuses,
    // bricking every future read of the table
    val poisoned = ev.filter(col("event_id") % 3 === 1)
      .withColumn("value",
        when(col("event_id") % 2 === 0, lit(Double.NaN))
          .when(col("event_id") % 5 === 0, lit(Double.PositiveInfinity))
          .otherwise(col("value")))
    val v1 = CommitLog.appendWithColumnStats(spark, root, poisoned, 1,
      Seq("value", "day"))
    // the manifest must PARSE (auxOf is on every read path) and the
    // poisoned file's value entry must be absent = unprunable
    val aux = CommitLog.auxOf(root, v1)
    assert(aux.stats2.size === 2, s"expected 2 per-file entries, got ${aux.stats2.keySet}")
    assert(aux.stats2.values.count(_.contains("value")) === 1,
      "non-finite double bounds must DROP the column entry, not render")
    assert(aux.stats2.values.forall(_.contains("day")),
      "date stats missing — the date→long probe cast regressed")
    assert(CommitLog.read(spark, root, v1).count() === ev.count() - ev.filter(col("event_id") % 3 === 2).count())
    // double probe: the finite file prunes normally, the poisoned file
    // always reads (no entry = unprunable, correct just not skippable)
    val pD = CommitLog.prune(root, v1, rangeTree("value", 1.0e17, 1.1e17))
    val (totalD, readD) = (pD.filesTotal, pD.files.size)
    assert(totalD === 2 && readD === 1,
      s"double probe after poison: total=$totalD read=$readD (want the poisoned file only)")
    // date probe prunes on epoch days: a range far in the past keeps
    // nothing
    val pP = CommitLog.prune(root, v1, rangeTree("day", -20000L, -19990L))
    val (totalP, readP) = (pP.filesTotal, pP.files.size)
    assert(totalP === 2 && readP === 0,
      s"date probe: total=$totalP read=$readP (want all pruned)")
    // and a live date range reads the right files: recorded bounds are
    // true epoch days
    val lohi = ev.agg(min(datediff(col("day"), lit("1970-01-01").cast("date"))),
      max(datediff(col("day"), lit("1970-01-01").cast("date")))).collect()(0)
    val (dfAll, pAll) = CommitLog.prunedScan(spark, root, v1,
      rangeTree("day", lohi.getInt(0).toLong, lohi.getInt(1).toLong))
    assert(pAll.files.size === 2 && dfAll.count() > 0)
    assert(v0 === 0L)
  }

  test("commit log: drop-column tombstones ride the manifest, carry forward, stay atomic (r11, ADVICE)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_cl_tomb").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(300)
    CommitLog.append(spark, root, ev, nFiles = 1)
    val vDrop = CommitLog.dropColumn(spark, root, "user_id")
    // the tombstone is IN the drop commit's manifest — atomic with the
    // commit itself, not a separate properties-file write that a
    // racing writer could clobber
    assert(CommitLog.tombstonesOf(root, vDrop) === Seq("user_id"),
      "dropped physical name missing from the drop commit's manifest")
    assert(CommitLog.tableProperty(root, "graft.physical.tombstones").isEmpty,
      "r11 moved tombstones into the manifest — the racy property write must be gone")
    // EVERY later commit carries the tombstone forward like the schema
    val vNext = CommitLog.append(spark, root,
      ev.select(col("event_id"), col("value")), nFiles = 1)
    assert(CommitLog.tombstonesOf(root, vNext) === Seq("user_id"),
      "tombstones must carry forward across ordinary commits")
    // and the re-add still gets a fresh physical name (no resurrection)
    CommitLog.evolveSchema(spark, root, Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val head = CommitLog.latestVersion(root).get
    val readded = CommitLog.read(spark, root, head)
    assert(readded.filter(col("user_id").isNotNull).count() === 0,
      "re-added column resurrected the dropped column's lingering bytes")
  }

  test("commit log: widen commits op='widen' — honest history, rebaseable winner, CDF-neutral (r13, ADVICE)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_widen_op").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id").cast("int").as("event_id"),
        col("user_id"), col("value").cast("float").as("value")).limit(600)
    CommitLog.appendEvolved(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    val vw = CommitLog.widenColumnType(spark, root, "event_id",
      org.apache.spark.sql.types.LongType)
    // DESCRIBE HISTORY records the schema change as what it is
    assert(CommitLog.snapshotOp(root, vw) === "widen",
      "a type widen must not masquerade as an append in the history")
    // file-level changes() stays exact across the metadata-only
    // commit, and row-level CDF emits nothing for it
    CommitLog.append(spark, root,
      ev.filter(col("event_id") % 2 =!= 0)
        .withColumn("event_id", col("event_id").cast("long")), nFiles = 1)
    val cr = CommitLog.changesRows(spark, root, vw - 1,
      CommitLog.latestVersion(root).get)
    assert(cr.filter(col("_commit_version") === vw).count() === 0,
      "a widen changes no rows — its CDF contribution must be empty")
    assert(CommitLog.changes(spark, root, vw - 1, vw).count() === 0)
    // a CoW rewrite losing the race to a widen REBASES — and the
    // rebased commit re-records the widened head schema
    var injected = false
    val (vd, _, _) = CommitLog.delete(spark, root,
      col("user_id") % 3 === 1,
      beforeCommit = () => if (!injected) {
        injected = true
        CommitLog.widenColumnType(spark, root, "value",
          org.apache.spark.sql.types.DoubleType); ()
      })
    val headSchema = CommitLog.read(spark, root, vd).schema
    assert(headSchema("value").dataType ===
      org.apache.spark.sql.types.DoubleType,
      "the rebased delete must carry the widen winner's schema, not undo it")
    assert(headSchema("event_id").dataType ===
      org.apache.spark.sql.types.LongType)
  }

  test("commit log: file-disjoint compaction rebases past an UPDATE winner; value-changing pairs still refuse (r13)") {
    import graft.sources.{CommitLog, Tables}
    def fresh(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_cu_reb").toString
      val ev = Tables(spark, sf, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .limit(1000)
      CommitLog.appendPartitioned(spark, root,
        ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 2)
      CommitLog.appendPartitioned(spark, root,
        ev.filter(col("event_id") % 2 === 1), "event_type", filesPerPartition = 2)
      root
    }
    // a partition-scoped compaction of 'click' races an UPDATE whose
    // predicate touches ONLY 'purchase' rows — file-disjoint: both
    // commit, and the state equals serial execution in either order
    val root = fresh()
    val before = CommitLog.read(spark, root,
      CommitLog.latestVersion(root).get).localCheckpoint()
    var injected = false
    val (v, nSel, _) = CommitLog.compactPartitions(spark, root, "event_type",
      Seq("click"), filesPerPartition = 1,
      beforeCommit = () => if (!injected) {
        injected = true
        CommitLog.update(spark, root,
          col("event_type") === "purchase",
          Seq("value" -> (col("value") + lit(5000.0)))); ()
      })
    assert(nSel === 4L, s"expected the 4 click files selected, got $nSel")
    val got = CommitLog.read(spark, root, v)
    val want = before.withColumn("value",
      when(col("event_type") === "purchase", col("value") + lit(5000.0))
        .otherwise(col("value")))
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "rebased compaction diverges from serial execution")
    // the updated partition's files are the WINNER's — untouched by
    // the compaction; the compacted partition is one file
    val aux = CommitLog.auxOf(root, v)
    val clickFiles = aux.parts.filter(_._2 == "click").keys
    assert(clickFiles.size === 1, s"click not compacted: $clickFiles")
    // an UPDATE whose predicate hits rows in a file the compaction is
    // rewriting makes the winner REMOVE that file — condition (2)
    // refuses, the value-changing pair cannot both commit
    val root2 = fresh()
    var injected2 = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      CommitLog.compactPartitions(spark, root2, "event_type",
        Seq("click"), filesPerPartition = 1,
        beforeCommit = () => if (!injected2) {
          injected2 = true
          CommitLog.update(spark, root2, col("event_type") === "click",
            Seq("value" -> (col("value") + lit(1.0)))); ()
        })
    }
    assert(ex.getMessage.contains("removed") ||
      ex.getMessage.contains("rewrite-vs-rewrite"), ex.getMessage)
    // and a compaction losing to a MERGE on a different partition's
    // keys rebases the same way (the merge's inserts carry forward)
    val root3 = fresh()
    val evAll = CommitLog.read(spark, root3, CommitLog.latestVersion(root3).get)
    val ups = evAll.filter(col("event_type") === "purchase").limit(20)
      .withColumn("value", lit(-42.0))
    var injected3 = false
    val (v3, _, _) = CommitLog.compactPartitions(spark, root3, "event_type",
      Seq("error"), filesPerPartition = 1,
      beforeCommit = () => if (!injected3) {
        injected3 = true
        CommitLog.mergeKeyed(spark, root3, ups.localCheckpoint(),
          Seq("event_id"), nInsertFiles = 1); ()
      })
    val got3 = CommitLog.read(spark, root3, v3)
    assert(got3.filter(col("value") === -42.0).count() === 20,
      "merge winner's rows lost through the compaction rebase")
    assert(got3.count() === evAll.count())
  }

  test("commit log: value-changing × value-changing rebase — disjoint keys/files both commit, a touching pair refuses (r14)") {
    import graft.sources.{CommitLog, Tables}
    def fresh(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_vv_reb").toString
      val ev = Tables(spark, sf, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .limit(1000)
      CommitLog.appendPartitioned(spark, root,
        ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 2)
      CommitLog.appendPartitioned(spark, root,
        ev.filter(col("event_id") % 2 === 1), "event_type", filesPerPartition = 2)
      root
    }
    // an UPDATE on 'purchase' rows loses the race to a MERGE on
    // 'click' keys — file-disjoint (partition-aligned staging) AND
    // key-disjoint: the winner's new rows never match the update's
    // predicate, so the r14 probe proves non-interference and BOTH
    // commit; the state equals serial execution in either order
    val root = fresh()
    val base = CommitLog.read(spark, root,
      CommitLog.latestVersion(root).get).localCheckpoint()
    val clickUps = base.filter(col("event_type") === "click").limit(20)
      .withColumn("value", lit(-42.0)).localCheckpoint()
    var injected = false
    val (vu, _, _) = CommitLog.update(spark, root,
      col("event_type") === "purchase",
      Seq("value" -> (col("value") + lit(5000.0))),
      beforeCommit = () => if (!injected) {
        injected = true
        CommitLog.mergeKeyed(spark, root, clickUps, Seq("event_id"),
          nInsertFiles = 1); ()
      })
    val got = CommitLog.read(spark, root, vu)
    val clickKeys = clickUps.select(col("event_id"))
    val want = base.join(clickKeys, Seq("event_id"), "left_anti")
      .withColumn("value",
        when(col("event_type") === "purchase", col("value") + lit(5000.0))
          .otherwise(col("value")))
      .unionByName(clickUps)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "rebased update diverges from serial execution")
    // the MERGE loser direction: merge on 'error' keys loses to an
    // UPDATE winner on 'purchase' rows — disjoint, both commit
    val root2 = fresh()
    val base2 = CommitLog.read(spark, root2,
      CommitLog.latestVersion(root2).get).localCheckpoint()
    val errUps = base2.filter(col("event_type") === "error").limit(15)
      .withColumn("value", lit(-77.0)).localCheckpoint()
    var injected2 = false
    val (vm, _, _) = CommitLog.mergeKeyed(spark, root2, errUps,
      Seq("event_id"), nInsertFiles = 1,
      beforeCommit = () => if (!injected2) {
        injected2 = true
        CommitLog.update(spark, root2, col("event_type") === "purchase",
          Seq("value" -> (col("value") + lit(9000.0)))); ()
      })
    val got2 = CommitLog.read(spark, root2, vm)
    assert(got2.filter(col("value") === -77.0).count() === 15,
      "merge loser's rows lost through the value×value rebase")
    assert(got2.filter(col("event_type") === "purchase" &&
      col("value") >= 9000.0).count() ===
      base2.filter(col("event_type") === "purchase").count(),
      "update winner's rows lost through the merge rebase")
    // a TOUCHING pair still refuses: the loser's predicate matches
    // rows the winner just wrote (zero base rows match, so the file
    // conditions alone would wave it through — only the r14 probe
    // over the winner's added files catches it)
    val root3 = fresh()
    val upd3 = CommitLog.read(spark, root3,
      CommitLog.latestVersion(root3).get)
      .filter(col("event_type") === "click").limit(10)
      .withColumn("value", lit(-42.0)).localCheckpoint()
    var injected3 = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      CommitLog.update(spark, root3, col("value") === -42.0,
        Seq("value" -> lit(0.0)),
        beforeCommit = () => if (!injected3) {
          injected3 = true
          CommitLog.mergeKeyed(spark, root3, upd3, Seq("event_id"),
            nInsertFiles = 1); ()
        })
    }
    assert(ex.getMessage.contains("rewritten rows"), ex.getMessage)
  }

  test("commit log: partition spec evolution — gated by repartitionLayout, per-generation pruning (r13)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_pe_spec").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
    // a different partition column WITHOUT the property refuses —
    // one active spec per table, evolution is explicit
    val ex = intercept[IllegalArgumentException] {
      CommitLog.appendPartitioned(spark, root,
        ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
    }
    assert(ex.getMessage.contains("repartitionLayout"), ex.getMessage)
    CommitLog.setTableProperty(root, "repartitionLayout", "day")
    val head = CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
    // every row survives the evolution, once
    val got = CommitLog.read(spark, root, head)
    assert(got.count() === ev.count())
    // old generation prunes under ITS column; the new generation is
    // unprunable for that query (read in full) — and vice versa
    val (dfT, pT) = CommitLog.prunedScan(spark, root, head, partTree("event_type", "click"))
    val (total, readT) = (pT.filesTotal, pT.files.size)
    assert(total === 12 && readT === 8, s"type probe read $readT of $total")
    assert(dfT.filter(col("event_type") === "click").count() ===
      ev.filter(col("event_type") === "click").count())
    val (dfD, pD) = CommitLog.prunedScan(spark, root, head, partTree("day", "3"))
    val readD = pD.files.size
    assert(readD === 6, s"day probe read $readD files")
    assert(dfD.filter(col("day") === "3").count() ===
      ev.filter(col("day") === "3").count())
    // a column NO generation partitions by still refuses (typo guard)
    val ex2 = intercept[IllegalArgumentException] {
      CommitLog.prunedScan(spark, root, head, partTree("value", "1"))
    }
    assert(ex2.getMessage.contains("no generation"), ex2.getMessage)
    // dropping a column that partitions an OLD generation refuses
    val ex3 = intercept[IllegalArgumentException] {
      CommitLog.dropColumn(spark, root, "event_type")
    }
    assert(ex3.getMessage.contains("generation"), ex3.getMessage)
    // INCREMENTAL MIGRATION: bounded runs rewrite the old generation
    // under the current spec until the table converges — then the
    // day probe prunes fully and the old column's layouts are gone
    val (_, m1, rem1) = CommitLog.migrateLayout(spark, root, maxFiles = 3)
    assert(m1 === 3L && rem1 === 2L, s"first run migrated $m1, left $rem1")
    val (_, m2, rem2) = CommitLog.migrateLayout(spark, root, maxFiles = 8)
    assert(m2 === 2L && rem2 === 0L, s"second run migrated $m2, left $rem2")
    val headM = CommitLog.latestVersion(root).get
    assert(CommitLog.read(spark, root, headM).count() === ev.count(),
      "migration must be data-neutral")
    // converged: every file now carries a day layout — the probe
    // reads ONLY day=3 files (one per generation of migration runs,
    // ≤3 here) instead of dragging the whole old generation
    val (dfD2, pD2) = CommitLog.prunedScan(spark, root, headM, partTree("day", "3"))
    val (totalM, readD2) = (pD2.filesTotal, pD2.files.size)
    assert(readD2 <= 3 && totalM >= 14,
      s"converged table must prune the day probe fully ($readD2 of $totalM)")
    assert(dfD2.filter(col("day") === "3").count() ===
      ev.filter(col("day") === "3").count())
    assert(!CommitLog.auxOf(root, headM).layouts.values
      .exists(_.exists(_._1 == "event_type")),
      "migrated files must shed the old generation's layout entries")
    // converged: another run is a no-op
    val (_, m3, rem3) = CommitLog.migrateLayout(spark, root)
    assert(m3 === 0L && rem3 === 0L)
  }

  test("commit log: COMPOSITE partition specs — intersection pruning, bounded migration converges to (day, bucket) (r14)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_pem_spec").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
      .withColumn("bucket", (col("user_id") % 2).cast("string"))
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
    // evolving to a composite spec gates on the property naming the
    // comma-joined column LIST, exactly the single-column contract
    val ex = intercept[IllegalArgumentException] {
      CommitLog.appendPartitionedCols(spark, root,
        ev.filter(col("event_id") % 2 === 1), Seq("day", "bucket"),
        filesPerPartition = 1)
    }
    assert(ex.getMessage.contains("repartitionLayout") &&
      ex.getMessage.contains("day,bucket"), ex.getMessage)
    CommitLog.setTableProperty(root, "repartitionLayout", "day,bucket")
    val head = CommitLog.appendPartitionedCols(spark, root,
      ev.filter(col("event_id") % 2 === 1), Seq("day", "bucket"),
      filesPerPartition = 1)
    assert(CommitLog.read(spark, root, head).count() === ev.count())
    // 5 gen-1 files + 7×2 gen-2 tuple files
    val d3b0 = ProbeTree(Seq("day" -> Set("3"), "bucket" -> Set("0")), Nil)
    val (dfM, pM) = CommitLog.prunedScan(spark, root, head, d3b0)
    val (total, readM) = (pM.filesTotal, pM.files.size)
    assert(total === 19 && readM === 6,
      s"composite probe read $readM of $total (want 1 tuple file + 5 unprunable)")
    assert(dfM.filter(col("day") === "3" && col("bucket") === "0").count() ===
      ev.filter(col("day") === "3" && col("bucket") === "0").count())
    // the probe INTERSECTS a file's own columns: a day-only probe
    // keeps BOTH buckets of day 3 (bucket unprobed ≠ bucket pruned)
    val (dfD, pD) = CommitLog.prunedScan(spark, root, head, partTree("day", "3"))
    val readD = pD.files.size
    assert(readD === 7, s"day-only probe read $readD (want 2 tuple files + 5)")
    assert(dfD.filter(col("day") === "3").count() ===
      ev.filter(col("day") === "3").count())
    // bounded migration converges gen-1 under the COMPOSITE spec
    val (_, m1, rem1) = CommitLog.migrateLayout(spark, root, maxFiles = 3)
    assert(m1 === 3L && rem1 === 2L)
    val (_, m2, rem2) = CommitLog.migrateLayout(spark, root, maxFiles = 8)
    assert(m2 === 2L && rem2 === 0L)
    val headM = CommitLog.latestVersion(root).get
    assert(CommitLog.read(spark, root, headM).count() === ev.count(),
      "composite migration must be data-neutral")
    // converged: every file's layout is the ORDERED (day, bucket)
    // list, and the composite probe now prunes the whole table
    val auxM = CommitLog.auxOf(root, headM)
    assert(CommitLog.snapshotFiles(root, headM).forall { f =>
      val jf = new java.io.File(f)
      auxM.layoutOf(jf.getParentFile.getName + "/" + jf.getName)
        .exists(_.map(_._1) == Seq("day", "bucket"))
    }, "a migrated file must carry the ordered composite layout")
    val (dfM2, pM2) = CommitLog.prunedScan(spark, root, headM, d3b0)
    val (totalM, readM2) = (pM2.filesTotal, pM2.files.size)
    assert(readM2 <= 3 && totalM >= 14,
      s"converged composite probe must prune fully ($readM2 of $totalM)")
    assert(dfM2.filter(col("day") === "3" && col("bucket") === "0").count() ===
      ev.filter(col("day") === "3" && col("bucket") === "0").count())
    val (_, m3, rem3) = CommitLog.migrateLayout(spark, root)
    assert(m3 === 0L && rem3 === 0L, "converged table must be a no-op")
  }

  test("merge-on-read writers rebase past append winners; rewrites still refuse (r14)") {
    import graft.sources.{CommitLog, Tables}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(600)
    // DV DELETE losing to a blind APPEND: both commit — the sidecars
    // attach to my still-listed files, the winner's rows carry
    // forward UNMASKED even where they match the predicate (the
    // WriteSerializable blind-append allowance, the CoW contract)
    val root = java.nio.file.Files.createTempDirectory("graft_mor_reb").toString
    CommitLog.append(spark, root, ev.filter(col("event_id") % 5 =!= 0), nFiles = 2)
    val late = ev.filter(col("event_id") % 5 === 0)
    var injected = false
    val (v, _, nDel) = CommitLog.deleteMergeOnRead(spark, root,
      col("user_id") % 2 === 1,
      beforeCommit = () => if (!injected) {
        injected = true
        CommitLog.append(spark, root, late, nFiles = 1); ()
      })
    assert(v === 2L, s"expected v1 competitor + v2 DV delete, got v$v")
    assert(nDel > 0L)
    val got = CommitLog.read(spark, root, v)
    val want = ev.filter(col("event_id") % 5 =!= 0)
      .filter(!(col("user_id") % 2 === 1))
      .unionByName(late)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "rebased DV delete lost rows or masked the competitor's late rows")
    // DV UPDATE losing to a blind APPEND: both commit, post-images
    // land, the late twin stays untouched
    var injected2 = false
    val (v2u, _, nUpd) = CommitLog.updateMergeOnRead(spark, root,
      col("user_id") % 2 === 0 && col("event_id") % 5 =!= 0,
      Seq("value" -> lit(-8.0)),
      beforeCommit = () => if (!injected2) {
        injected2 = true
        CommitLog.append(spark, root,
          // +777000001 (not +777000000): unordered limit(1) picks the
          // fixture's min event_id = 0, and the assert below is a
          // STRICT > 777000000 — an exact-threshold id would count 0.
          ev.limit(1).withColumn("event_id", col("event_id") + 777000001L),
          nFiles = 1); ()
      })
    assert(nUpd > 0L)
    val got2 = CommitLog.read(spark, root, v2u)
    assert(got2.filter(col("value") === -8.0).count() === nUpd)
    assert(got2.filter(col("event_id") > 777000000L).count() === 1L,
      "DV update rebase dropped the competitor's late append")
    // a REWRITE winner still refuses by name: positional vectors
    // cannot survive a compaction of the files they mask
    val root2 = java.nio.file.Files.createTempDirectory("graft_mor_reb2").toString
    CommitLog.append(spark, root2, ev, nFiles = 2)
    var injected3 = false
    val ex = intercept[java.util.ConcurrentModificationException] {
      CommitLog.deleteMergeOnRead(spark, root2, col("user_id") % 3 === 1,
        beforeCommit = () => if (!injected3) {
          injected3 = true
          CommitLog.compact(spark, root2, nFiles = 1); ()
        })
    }
    assert(ex.getMessage.contains("positional vectors"), ex.getMessage)
  }

  test("continuous DEPTH-3 chain: every level folds its upstream's own changelog per trigger (r14)") {
    import graft.sources.{CommitLog, IncrementalViewMulti}
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(2000)
    val src = java.nio.file.Files.createTempDirectory("graft_vc3s_src").toString
    val v1 = java.nio.file.Files.createTempDirectory("graft_vc3s_v1").toString
    val v2 = java.nio.file.Files.createTempDirectory("graft_vc3s_v2").toString
    val v3 = java.nio.file.Files.createTempDirectory("graft_vc3s_v3").toString
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    IncrementalViewMulti.create(spark, v1, src, "user_id", Seq("value"))
    CommitLog.setTableProperty(v1, "enableChangeDataFeed", "true")
    IncrementalViewMulti.createKeyed(spark, v2, v1,
      Seq("nv_value"), Seq("total_value"))
    CommitLog.setTableProperty(v2, "enableChangeDataFeed", "true")
    IncrementalViewMulti.createKeyed(spark, v3, v2,
      Seq("nv_total_value"), Seq("total_total_value"))
    CommitLog.append(spark, src, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)
    CommitLog.delete(spark, src, col("user_id") % 5 === 0)
    val ck = java.nio.file.Files.createTempDirectory("graft_vc3s_ck").toString
    // the live loop: level 1 folds the fact batch, levels 2 and 3
    // each fold THEIR upstream's new changelog — the s_table_view_
    // chain_stream mechanism at one more depth; every level's fold
    // cost ∝ its upstream's per-trigger delta
    val q = spark.readStream.format("graft.sources.TableStreamProvider")
      .option("path", src).option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalViewMulti.foldDeltas(spark, v1, src, batch.localCheckpoint())
        IncrementalViewMulti.refresh(spark, v2)
        IncrementalViewMulti.refresh(spark, v3)
        ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // all three levels equal their recomputes at the final heads
    val v1head = CommitLog.read(spark, v1, CommitLog.latestVersion(v1).get)
    val full1 = CommitLog.read(spark, src, CommitLog.latestVersion(src).get)
      .filter(col("user_id").isNotNull).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
        sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("total_value"),
        min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
    assert(v1head.exceptAll(full1).count() === 0 &&
      full1.exceptAll(v1head).count() === 0, "live level 1 diverged")
    val v2head = CommitLog.read(spark, v2, CommitLog.latestVersion(v2).get)
    val full2 = v1head.groupBy(col("nv_value"))
      .agg(count(lit(1)).as("n"),
        count(col("total_value")).as("nv_total_value"),
        sum(col("total_value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("total_total_value"),
        min(col("total_value")).as("mn_total_value"),
        max(col("total_value")).as("mx_total_value"))
    assert(v2head.exceptAll(full2).count() === 0 &&
      full2.exceptAll(v2head).count() === 0, "live level 2 diverged")
    val v3head = CommitLog.read(spark, v3, CommitLog.latestVersion(v3).get)
    val full3 = v2head.groupBy(col("nv_total_value"))
      .agg(count(lit(1)).as("n"),
        count(col("total_total_value")).as("nv_total_total_value"),
        sum(col("total_total_value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("total_total_total_value"),
        min(col("total_total_value")).as("mn_total_total_value"),
        max(col("total_total_value")).as("mx_total_total_value"))
    assert(v3head.exceptAll(full3).count() === 0 &&
      full3.exceptAll(v3head).count() === 0, "live level 3 diverged")
  }

  test("commit log: an incremental view folds exactly across a mid-history type widen (r13)") {
    import graft.sources.{CommitLog, Tables}
    val src = java.nio.file.Files.createTempDirectory("graft_wv_src").toString
    val vw = java.nio.file.Files.createTempDirectory("graft_wv_vw").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id").cast("int").as("event_id"),
        col("event_type"), col("value"))
    CommitLog.setTableProperty(src, "enableChangeDataFeed", "true")
    CommitLog.appendEvolved(spark, src, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    graft.sources.IncrementalViewMulti.create(spark, vw, src,
      "event_type", Seq("value"))
    // a widen lands BETWEEN folds: metadata-only, zero change rows —
    // the fold must cross it without refusing and without phantom rows
    CommitLog.widenColumnType(spark, src, "event_id",
      org.apache.spark.sql.types.LongType)
    CommitLog.append(spark, src,
      ev.filter(col("event_id") % 2 =!= 0)
        .withColumn("event_id", col("event_id").cast("long")), nFiles = 2)
    val (v, n, _) = graft.sources.IncrementalViewMulti.refresh(spark, vw)
    assert(n === ev.filter(col("event_id") % 2 =!= 0).count(),
      s"fold consumed $n rows — the widen version must contribute zero")
    val got = CommitLog.read(spark, vw, v)
    val want = CommitLog.read(spark, src, CommitLog.latestVersion(src).get)
      .filter(col("event_type").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), count(col("value")).as("nv_value"),
        sum(col("value").cast("decimal(18,4)"))
          .cast("decimal(18,4)").as("total_value"),
        min(col("value")).as("mn_value"), max(col("value")).as("mx_value"))
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "view state diverges from recompute after folding across a widen")
  }

  test("commit log: IDENTITY through merge (matched keep ids, inserts allocate) and the streaming sink (replay-idempotent) (r13)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_id_mrg").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(100)
    CommitLog.setTableProperty(root, "identity.row_id", "1,1")
    CommitLog.append(spark, root, ev, nFiles = 2)
    val n0 = ev.count()
    val before = CommitLog.read(spark, root, CommitLog.latestVersion(root).get)
      .select(col("event_id"), col("row_id").as("id_before")).localCheckpoint()
    // source OMITS row_id: 10 matched updates + 5 inserts
    val upd = ev.limit(10).withColumn("value", col("value") + lit(500.0))
    val ins = ev.limit(5).withColumn("event_id", col("event_id") + 9000000L)
    CommitLog.mergeKeyed(spark, root, upd.unionByName(ins).localCheckpoint(),
      Seq("event_id"), nInsertFiles = 1)
    val after = CommitLog.read(spark, root, CommitLog.latestVersion(root).get)
    // identity is STABLE under update: every matched row kept its id
    val moved = after.join(before, Seq("event_id"))
      .filter(col("row_id") =!= col("id_before")).count()
    assert(moved === 0L, s"$moved matched rows changed identity through the merge")
    // inserts allocated the next block: ids are exactly 1..n0+5
    val ids = after.select(col("row_id")).collect().map(_.getLong(0)).sorted
    assert(ids.length === n0 + 5 && ids.distinct.length === ids.length)
    assert(ids.head === 1L && ids.last === n0 + 5)
    // a source SUPPLYING row_id refuses by name
    val ex = intercept[IllegalArgumentException] {
      CommitLog.mergeKeyed(spark, root,
        ev.limit(2).withColumn("row_id", lit(1L)), Seq("event_id"), 1)
    }
    assert(ex.getMessage.contains("IDENTITY"), ex.getMessage)
    // streaming sink: allocation against batchId−1 makes a REPLAYED
    // batch derive the same block; the version-≡-batchId skip keeps
    // it exactly-once
    val root2 = java.nio.file.Files.createTempDirectory("graft_id_str").toString
    CommitLog.setTableProperty(root2, "identity.row_id", "1,1")
    val b0 = ev.filter(col("event_id") % 2 === 0)
    val b1 = ev.filter(col("event_id") % 2 =!= 0)
    assert(CommitLog.appendBatch(spark, root2, b0, nFiles = 1, batchId = 0L))
    assert(!CommitLog.appendBatch(spark, root2, b0, nFiles = 1, batchId = 0L),
      "replayed batch must skip")
    assert(CommitLog.appendBatch(spark, root2, b1, nFiles = 1, batchId = 1L))
    val sIds = CommitLog.read(spark, root2, 1L)
      .select(col("row_id")).collect().map(_.getLong(0)).sorted
    assert(sIds.length === n0 && sIds.distinct.length === sIds.length)
    assert(sIds.head === 1L && sIds.last === n0,
      s"streamed identity block broken: ${sIds.head}..${sIds.last} over ${sIds.length}")
  }

  test("commit log: autoCompact fires on the appendWithRetry ingest path too (r13, ADVICE)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_ac_retry").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(300)
    CommitLog.setTableProperty(root, "autoCompact", "4")
    CommitLog.setTableProperty(root, "autoCompact.target", "2")
    // three retry-path appends of 2 files each: the third crosses the
    // 4-file threshold, so the policy compaction publishes right
    // after it — the streaming-ingest path is exactly where the small
    // files accumulate
    CommitLog.appendWithRetry(spark, root, ev.filter(col("event_id") % 3 === 0), nFiles = 2)
    CommitLog.appendWithRetry(spark, root, ev.filter(col("event_id") % 3 === 1), nFiles = 2)
    CommitLog.appendWithRetry(spark, root, ev.filter(col("event_id") % 3 === 2), nFiles = 2)
    val head = CommitLog.latestVersion(root).get
    assert(CommitLog.snapshotOp(root, head) === "compact",
      s"autoCompact must fire after the threshold-crossing retry append; head op = ${CommitLog.snapshotOp(root, head)}")
    assert(CommitLog.snapshotFiles(root, head).size === 2)
    val got = CommitLog.read(spark, root, head)
    assert(got.count() === ev.count(), "the policy compaction must be data-neutral")
  }

  test("commit log: racing identity appends through appendWithRetry both commit — ids unique, monotone per the hwm chain, no orphaned restage files (r14)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_id_race").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(200)
    CommitLog.setTableProperty(root, "identity.row_id", "1,1")
    val odd = ev.filter(col("event_id") % 2 =!= 0)
    val even = ev.filter(col("event_id") % 2 === 0)
    val (nOdd, nEven) = (odd.count(), even.count())
    // the beforeCommit seam injects a COMPETING allocating append
    // between the outer writer's head-read and publish: the inner
    // writer wins version 0 with ids from the virgin mark; the outer
    // writer's commit collides, re-reads the winner's advanced mark,
    // RESTAGES with fresh ids, and lands as version 1
    var injected = false
    CommitLog.appendWithRetry(spark, root, even, nFiles = 2,
      beforeCommit = () => if (!injected) {
        injected = true
        CommitLog.appendWithRetry(spark, root, odd, nFiles = 2); ()
      })
    assert(CommitLog.latestVersion(root) === Some(1L),
      "both racing identity appends must commit, as two versions")
    // the winner's block is 1..nOdd; the loser re-allocated past it —
    // ids are monotone per the hwm chain, never interleaved
    val v0Ids = CommitLog.read(spark, root, 0L)
      .select(col("row_id")).collect().map(_.getLong(0))
    assert(v0Ids.length === nOdd && v0Ids.min === 1L && v0Ids.max === nOdd)
    val allIds = CommitLog.read(spark, root, 1L)
      .select(col("row_id")).collect().map(_.getLong(0)).sorted
    assert(allIds.length === nOdd + nEven)
    assert(allIds.distinct.length === allIds.length,
      "overlapping identity blocks across the race")
    assert(allIds.head === 1L && allIds.last === nOdd + nEven,
      s"ids must be exactly 1..${nOdd + nEven}: ${allIds.head}..${allIds.last}")
    // the loser's FIRST staging (stale ids) was deleted on restage —
    // no orphaned data files beyond the committed snapshot
    val onDisk = new java.io.File(root, "data").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(onDisk === CommitLog.snapshotFiles(root, 1L).size,
      s"orphaned restage files left on disk: $onDisk vs manifest")
  }

  test("graft-table source: a widened table stays streamable — narrow pin stops once, restart resumes from its checkpoint (r14, ADVICE)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_tsw").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value").cast("float").as("value")).limit(400)
    val out = java.nio.file.Files.createTempDirectory("graft_tsw_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_tsw_ck").toString
    // the sink casts to double so pre- and post-widen drains write one
    // uniform output schema; the SCAN still projects the table types
    def sink(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("value").cast("double").as("value"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
    CommitLog.appendEvolved(spark, root,
      ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    val q0 = sink(spark.readStream.format("graft.sources.TableStreamProvider")
      .option("path", root).load())
    q0.awaitTermination()
    val nEven = ev.filter(col("event_id") % 2 === 0).count()
    assert(spark.read.parquet(out).count() === nEven)
    // this relation pins the NARROW (float) schema BEFORE the widen —
    // the in-flight-stream shape
    val narrow = spark.readStream.format("graft.sources.TableStreamProvider")
      .option("path", root).load()
    CommitLog.widenColumnType(spark, root, "value",
      org.apache.spark.sql.types.DoubleType)
    CommitLog.append(spark, root,
      ev.filter(col("event_id") % 2 =!= 0)
        .withColumn("value", col("value").cast("double")), nFiles = 1)
    // the genuinely-narrow pin stops ONCE, with a restart instruction
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = sink(narrow); q.awaitTermination()
    }
    val msg = err.getMessage +
      Option(err.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("widens a column type"), msg)
    assert(msg.contains("restart the query"), msg)
    // the RESTART (same checkpoint, fresh load) re-infers the WIDENED
    // schema: the widen version is now metadata-only for this pin and
    // is skipped; the post-widen append delivers exactly once. Before
    // the r14 fix this restart re-admitted the widen and threw
    // forever — a widened table was permanently unstreamable.
    val q2 = sink(spark.readStream.format("graft.sources.TableStreamProvider")
      .option("path", root).load())
    q2.awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() === ev.count(),
      s"restart must deliver exactly the post-widen delta: ${got.count()} vs ${ev.count()}")
    assert(got.select(col("event_id")).distinct().count() === ev.count(),
      "duplicate rows across the widen restart")
  }

  test("commit log: identity merge refuses duplicate MATCHED source keys at the API level; a non-deterministic frame allocates exactly once (r14, ADVICE)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_id_dup").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(100)
    CommitLog.setTableProperty(root, "identity.row_id", "1,1")
    CommitLog.append(spark, root, ev, nFiles = 2)
    val n0 = ev.count()
    val k = ev.agg(min(col("event_id"))).collect()(0).getLong(0)
    val one = ev.filter(col("event_id") === k)
    // two images for one MATCHED key would each recover the SAME id —
    // the refusal must hold for direct mergeKeyed callers, not only
    // the SQL front-end's cardinality check
    val headBefore = CommitLog.latestVersion(root).get
    val ex = intercept[IllegalArgumentException] {
      CommitLog.mergeKeyed(spark, root,
        one.withColumn("value", lit(1.0))
          .unionByName(one.withColumn("value", lit(2.0))),
        Seq("event_id"), nInsertFiles = 1)
    }
    assert(ex.getMessage.contains("multiple source rows match"), ex.getMessage)
    assert(CommitLog.latestVersion(root).get === headBefore,
      "a refused merge must not publish")
    // duplicate UNMATCHED keys stay legal: each image inserts and
    // allocates its OWN id — uniqueness holds
    val insDup = one.withColumn("event_id", col("event_id") + 9000000L)
      .withColumn("value", lit(1.0))
      .unionByName(one.withColumn("event_id", col("event_id") + 9000000L)
        .withColumn("value", lit(2.0)))
    CommitLog.mergeKeyed(spark, root, insDup, Seq("event_id"), nInsertFiles = 1)
    val ids = CommitLog.read(spark, root, CommitLog.latestVersion(root).get)
      .select(col("row_id")).collect().map(_.getLong(0))
    assert(ids.length === n0 + 2 && ids.distinct.length === ids.length,
      "duplicate unmatched inserts must allocate distinct ids")
    // a NON-DETERMINISTIC frame (shuffle + limit over rand order): the
    // localCheckpoint pin makes count, id assignment and staging see
    // ONE materialization — rows staged == mark advance, exactly
    val nd = ev.withColumn("event_id", col("event_id") + 8000000L)
      .orderBy(rand(7)).limit(40)
    CommitLog.append(spark, root, nd, nFiles = 2)
    val after = CommitLog.read(spark, root, CommitLog.latestVersion(root).get)
      .select(col("row_id")).collect().map(_.getLong(0))
    assert(after.length === n0 + 2 + 40)
    assert(after.distinct.length === after.length,
      "overlapping identity blocks — the allocation frame was re-evaluated")
    assert(after.max === n0 + 2 + 40,
      s"mark advance diverged from staged rows: max=${after.max} want=${n0 + 2 + 40}")
  }

  test("partition subscription: checkpointed restarts deliver only the subscribed partition's delta; unrecorded files must-read (r15)") {
    import graft.sources.CommitLog
    val root = java.nio.file.Files.createTempDirectory("graft_tsp_spec").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    val out = java.nio.file.Files.createTempDirectory("graft_tsp_spec_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_tsp_spec_ck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.TableStreamProvider")
        .option("path", root).option("partitionFilter.day", "3")
        .load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def emitted() = spark.read.parquet(out)
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "day", filesPerPartition = 1)
    graft.sources.GraftStreamPrune.reset(root)
    drain()
    val day3even = ev.filter(col("event_id") % 2 === 0 && col("day") === "3")
    assert(emitted().count() === day3even.count(),
      "first drain must deliver exactly the subscribed partition")
    val (c1, p1) = graft.sources.GraftStreamPrune.totals(root)
    assert(p1 < c1 && p1 === 1L, s"expected 1 planned of $c1 candidates, got $p1")
    // a checkpointed restart after a second append delivers ONLY the
    // subscribed partition's delta
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
    drain()
    val day3 = ev.filter(col("day") === "3")
    assert(emitted().count() === day3.count(),
      "restart must deliver exactly the subscribed partition's delta")
    assert(emitted().select("event_id").distinct().count() === day3.count(),
      "duplicate rows across restarts")
    assert(emitted().filter(col("day") =!= "3").count() === 0,
      "a row outside the subscription leaked")
    // an UNRECORDED file (plain append, no layout) is unprunable —
    // it must be emitted in full (advisory pruning never drops)
    CommitLog.append(spark, root,
      ev.filter(col("event_id") % 2 === 0).limit(50), nFiles = 1)
    drain()
    assert(emitted().count() === day3.count() + 50,
      "the unrecorded file must be read in full (must-read)")
  }

  test("partition subscription resolves column casing against the recorded layout (r16, ADVICE)") {
    import graft.sources.CommitLog
    val root = java.nio.file.Files.createTempDirectory("graft_tspc_spec").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    CommitLog.appendPartitioned(spark, root, ev, "day", filesPerPartition = 1)
    val out = java.nio.file.Files.createTempDirectory("graft_tspc_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_tspc_ck").toString
    // subscription spelled DAY — r15 matched the suffix verbatim and
    // silently emitted the full firehose; r16 resolves it against the
    // manifest's layout columns case-insensitively
    val q = spark.readStream.format("graft.sources.TableStreamProvider")
      .option("path", root).option("partitionFilter.DAY", "3")
      .load().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val want = ev.filter(col("day") === "3").count()
    assert(spark.read.parquet(out).count() === want,
      "a case-drifted subscription column must still prune to the partition")
  }

  test("footerRowCount equals a stock footer count, multi-row-group and empty") {
    import graft.sources.CommitLog
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def onePart(df: org.apache.spark.sql.DataFrame, blockSize: Int): java.io.File = {
      val dir = java.nio.file.Files.createTempDirectory("graft_footer").toString
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", blockSize.toString).parquet(dir)
      val parts = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parts.length === 1)
      parts.head
    }
    def stock(f: java.io.File) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration()))
      try (r.getRecordCount, r.getRowGroups.size) finally r.close()
    }
    val multi = onePart(spark.range(0, 50000).selectExpr("id", "id * 7 AS v"), 4096)
    val (rows, groups) = stock(multi)
    assert(rows === 50000L)
    assert(groups > 1, "the fixture must span several row groups")
    assert(CommitLog.footerRowCount(multi) === rows)
    val empty = onePart(spark.range(0).selectExpr("id"), 4096)
    assert(stock(empty)._1 === 0L)
    assert(CommitLog.footerRowCount(empty) === 0L)
  }

  test("commit log: every append entry point enforces CHECK, identity, generated columns and records stats for its new files") {
    import graft.sources.CommitLog
    import org.apache.spark.sql.DataFrame
    // One row per entry point: (name, write frame as version batchId).
    // The streaming sinks publish exactly batchId; the others land on
    // the head, which is batchId - 1 here.
    val entryPoints: Seq[(String, (String, DataFrame, Long) => Unit)] = Seq(
      "append" -> { (r, df, _) => CommitLog.append(spark, r, df, 1); () },
      "appendWithStats" -> { (r, df, _) =>
        CommitLog.appendWithStats(spark, r, df, 1, "event_id"); () },
      "appendWithColumnStats" -> { (r, df, _) =>
        CommitLog.appendWithColumnStats(spark, r, df, 1, Seq("event_id")); () },
      "appendPartitioned" -> { (r, df, _) =>
        CommitLog.appendPartitioned(spark, r, df, "event_type", 1); () },
      "appendPartitionedCols" -> { (r, df, _) =>
        CommitLog.appendPartitionedCols(spark, r, df, Seq("event_type"), 1); () },
      "appendBatch" -> { (r, df, b) =>
        assert(CommitLog.appendBatch(spark, r, df, 1, b)); () },
      "appendBatchPartitioned" -> { (r, df, b) =>
        assert(CommitLog.appendBatchPartitioned(spark, r, df, "event_type", 1, b)); () },
      "appendWithRetry" -> { (r, df, _) => CommitLog.appendWithRetry(spark, r, df, 1); () },
      "appendEvolved" -> { (r, df, _) => CommitLog.appendEvolved(spark, r, df, 1); () },
      "appendSegment" -> { (r, df, _) =>
        CommitLog.appendSegment(spark, r, df, 1, "event_id"); () },
      "appendSegmentPartitioned" -> { (r, df, _) =>
        CommitLog.appendSegmentPartitioned(spark, r, df, Seq("event_type"), 1, "event_id"); () })
    // a segmented version lists its files in segment files, and reads
    // through the segment scan
    def segmented(root: String, v: Long) = CommitLog.isSegmented(root, v)
    def filesAt(root: String, v: Long): Set[String] =
      if (segmented(root, v))
        CommitLog.segmentsOf(root, v).flatMap(sr => CommitLog.segmentEntries(root, sr.path)._1).toSet
      else CommitLog.snapshotFiles(root, v).map(f => "data/" + new java.io.File(f).getName).toSet
    def readAt(root: String, v: Long): DataFrame =
      if (segmented(root, v))
        CommitLog.prunedScan(spark, root, v, ProbeTree(Nil, Nil))._1
      else CommitLog.read(spark, root, v)
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value")).limit(120)
    val batches = Seq(ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 =!= 0))
    val sizes = batches.map(_.count())
    assert(sizes.forall(_ > 0) && ev.filter(col("event_id") < 0).count() === 0L)
    entryPoints.foreach { case (name, write) =>
      val root = java.nio.file.Files.createTempDirectory("graft_core_" + name).toString
      CommitLog.setTableProperty(root, "constraint.pos", "event_id >= 0")
      CommitLog.setTableProperty(root, "identity.row_id", "1,1")
      CommitLog.setTableProperty(root, "generated.day", "event_id % 7")
      CommitLog.setTableProperty(root, "statsColumns", "event_id")
      batches.zipWithIndex.foreach { case (df, b) =>
        val (parses0, reads0) = (CommitLog.manifestParses.get, CommitLog.propertyReads.get)
        write(root, df, b.toLong)
        // the write landing on a head (one attempt): ONE head-manifest
        // parse and ONE _properties.json read, plus the partitioned
        // staging chokepoint's own guard read
        if (b > 0) {
          val guardReads = if (name.contains("Partitioned")) 1 else 0
          assert(CommitLog.manifestParses.get - parses0 <= 1,
            s"$name: ${CommitLog.manifestParses.get - parses0} manifest parses per append")
          assert(CommitLog.propertyReads.get - reads0 <= 1 + guardReads,
            s"$name: ${CommitLog.propertyReads.get - reads0} properties reads per append")
        }
      }
      val head = CommitLog.latestVersion(root)
      assert(head === Some(1L), s"$name: two writes must publish versions 0 and 1")
      // identity: non-null, unique, contiguous after each head's mark
      Seq(0L, 1L).foreach { v =>
        val ids = readAt(root, v).select(col("row_id"))
          .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
        assert(ids.forall(_.isDefined), s"$name: NULL identity at v$v")
        assert(ids.flatten.sorted.toSeq === (1L to sizes.take(v.toInt + 1).sum).toSeq,
          s"$name: v$v ids must be exactly 1..${sizes.take(v.toInt + 1).sum}")
      }
      // generated column computed on every write path
      assert(readAt(root, 1L)
        .filter(not(col("day") <=> col("event_id") % 7)).count() === 0L, name)
      // stats for the new files: typed stats in the manifest, except
      // the segment writers, which record their own column
      val rel = filesAt(root, 1L) -- filesAt(root, 0L)
      assert(rel.nonEmpty, name)
      val newSeg = Option.when(segmented(root, 1L))(CommitLog.segmentsOf(root, 1L).last)
      val withStats =
        newSeg.map(sr => CommitLog.segmentEntries(root, sr.path)._2.keySet)
          .getOrElse(CommitLog.auxOf(root, 1L).stats2.collect {
            case (f, cs) if cs.contains("event_id") => f }.toSet)
      assert(rel.subsetOf(withStats), s"$name: new files without event_id stats")
      // row counts and byte sizes: per file in the manifest, or per file
      // and per segment for a segment append
      newSeg match {
        case Some(sr) =>
          val rows = CommitLog.segmentEntryRows(root, sr.path)
          assert(rel.subsetOf(rows.keySet), s"$name: new files without rows entries")
          assert(sr.nRows === Some(rel.toSeq.map(rows).sum) && sr.nBytes ===
            Some(rel.toSeq.map(f => new java.io.File(root, f).length()).sum), s"$name: $sr")
        case None =>
          val aux = CommitLog.auxOf(root, 1L)
          assert(rel.subsetOf(aux.rows.keySet) && rel.subsetOf(aux.sizes.keySet),
            s"$name: new files without rows or sizes entries")
      }
      // refusals leave the head unchanged and stage nothing
      def refused(df: DataFrame, why: String): Unit = {
        val ex = intercept[IllegalArgumentException](write(root, df, 2L))
        assert(ex.getMessage.contains(why), s"$name: ${ex.getMessage}")
        assert(CommitLog.latestVersion(root) === head, s"$name: refused write moved the head")
        val onDisk = new java.io.File(root, "data").listFiles()
          .count(_.getName.endsWith(".parquet"))
        assert(onDisk === filesAt(root, 1L).size,
          s"$name: refused write left staged files behind")
        val segFiles = new java.io.File(root, "_graft_log").list().filter(_.startsWith("seg-")).toSet
        assert(segFiles === (if (segmented(root, 1L))
          CommitLog.segmentsOf(root, 1L).map(_.path).toSet else Set.empty[String]),
          s"$name: refused write left segment files behind")
      }
      refused(batches(0).withColumn("event_id", -col("event_id") - 1), "CHECK constraint 'pos'")
      refused(batches(0).withColumn("day", col("event_id") % 7 + 1), "generated column 'day'")
      // a partition value the layout cannot record refuses after its
      // files staged
      if (name.contains("Partitioned"))
        refused(batches(0).withColumn("event_type", lit("__GRAFT_BAD_PARTITION__")),
          "reserved layout token")
    }
  }

  test("commit log: the one manifest parser keeps every accessor's answers and errors") {
    import graft.sources.CommitLog
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value")).limit(60)
    val root = java.nio.file.Files.createTempDirectory("graft_snapshot").toString
    CommitLog.appendPartitioned(spark, root, ev.filter(col("event_id") % 2 === 0), "event_type", 1)
    CommitLog.appendPartitioned(spark, root, ev.filter(col("event_id") % 2 =!= 0), "event_type", 1,
      extraMeta = CommitLog.WriterMeta(Map("viewSrc" -> 42L), Map("cells" -> Map("a" -> 3L, "b" -> 4L))))
    val vDrop = CommitLog.dropColumn(spark, root, "value")
    // every accessor agrees with a direct Jackson read of the same file
    def node(v: Long) = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(root, f"_graft_log/v$v%09d.json"))
    val n1 = node(1L)
    assert(CommitLog.longMetaOf(root, 1L, "viewSrc") === Some(n1.get("viewSrc").asLong()))
    assert(CommitLog.longMetaOf(root, 1L, "viewSrc") === Some(42L))
    assert(CommitLog.longMetaOf(root, 1L, "noSuchField") === None)
    assert(CommitLog.mapMetaOf(root, 1L, "cells") === Some(Map(
      "a" -> n1.get("cells").get("a").asLong(), "b" -> n1.get("cells").get("b").asLong())))
    assert(CommitLog.mapMetaOf(root, 1L, "cells") === Some(Map("a" -> 3L, "b" -> 4L)))
    assert(CommitLog.commitTimestampOf(root, 1L) === Some(n1.get("ts").asLong()))
    assert(CommitLog.snapshotFiles(root, 1L).map(f => new java.io.File(f).getName) ===
      (0 until n1.get("files").size()).map(i => new java.io.File(n1.get("files").get(i).asText()).getName))
    assert(CommitLog.auxOf(root, 1L).parts.keySet === {
      val it = n1.get("parts").fieldNames(); var ks = Set.empty[String]
      while (it.hasNext) ks += it.next(); ks })
    val nd = node(vDrop)
    assert(CommitLog.tombstonesOf(root, vDrop) ===
      (0 until nd.get("tombstones").size()).map(i => nd.get("tombstones").get(i).asText()))
    assert(CommitLog.tombstonesOf(root, vDrop) === Seq("value"))
    assert(CommitLog.snapshotOp(root, vDrop) === nd.get("op").asText())
    assert(!CommitLog.isSegmented(root, vDrop))
    // a vacuumed and a never-written version fail by name on every accessor
    CommitLog.vacuum(root, 1L)
    val accessors: Seq[(String, Long => Any)] = Seq(
      "snapshotFiles" -> (v => CommitLog.snapshotFiles(root, v)),
      "snapshotOp" -> (v => CommitLog.snapshotOp(root, v)),
      "tombstonesOf" -> (v => CommitLog.tombstonesOf(root, v)),
      "auxOf" -> (v => CommitLog.auxOf(root, v)),
      "longMetaOf" -> (v => CommitLog.longMetaOf(root, v, "viewSrc")),
      "mapMetaOf" -> (v => CommitLog.mapMetaOf(root, v, "cells")),
      "commitTimestampOf" -> (v => CommitLog.commitTimestampOf(root, v)),
      "snapshotSchemaOf" -> (v => CommitLog.snapshotSchemaOf(root, v)),
      "segmentsOf" -> (v => CommitLog.segmentsOf(root, v)),
      "isSegmented" -> (v => CommitLog.isSegmented(root, v)))
    for ((name, get) <- accessors; v <- Seq(0L, 99L)) {
      val ex = intercept[IllegalArgumentException](get(v))
      assert(ex.getMessage.contains(s"commit log has no version $v"), s"$name(v$v): ${ex.getMessage}")
    }
    // a segmented table: flat accessors still refuse by name, the
    // segment accessors and history answer from the segment refs
    val seg = java.nio.file.Files.createTempDirectory("graft_snapshot_seg").toString
    CommitLog.appendSegment(spark, seg, ev.filter(col("event_id") % 2 === 0), 1, "event_id")
    CommitLog.appendSegment(spark, seg, ev.filter(col("event_id") % 2 =!= 0), 2, "event_id")
    val flatEx = intercept[IllegalArgumentException](CommitLog.snapshotFiles(seg, 1L))
    assert(flatEx.getMessage.contains("SEGMENTED"), flatEx.getMessage)
    assert(intercept[IllegalArgumentException](CommitLog.segmentsOf(root, vDrop))
      .getMessage.contains("not a segmented manifest"))
    assert(CommitLog.isSegmented(seg, 1L))
    val segs = CommitLog.segmentsOf(seg, 1L)
    assert(segs.size === 2)
    assert(segs.map(_.nRows.get).sum === ev.count())
    assert(CommitLog.segmentsOf(seg, 0L) === segs.take(1))
    assert(CommitLog.history(seg) ===
      Seq((0L, "append", segs.head.nFiles.toLong), (1L, "append", segs.map(_.nFiles.toLong).sum)))
  }

  test("row-level writers: a write that fails before it publishes leaves the head and the files as they were") {
    import graft.sources.CommitLog
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(200)
    val hit = col("user_id") % 4 === 1
    val asg = Seq("value" -> lit(0.0))
    val boom = () => throw new IllegalStateException("injected before commit")
    val ups = ev.filter(hit).withColumn("value", col("value") + 1.0)
      .unionByName(ev.limit(5).withColumn("event_id", col("event_id") + 1000000000L))
    // a delete-key relation that throws inside the dirty-file collect,
    // while the merge's insert staging is in flight
    val badKeys = ev.select(when(col("event_id") >= 0,
      raise_error(lit("injected in the dirty-file collect"))).otherwise(col("event_id")).as("event_id"))
    val none: String => Unit = _ => ()
    // competing appends published by a case's beforeCommit: each moves
    // the head, and the case ends giving up instead of by injection
    val raced = new java.util.concurrent.atomic.AtomicLong()
    val cases: Seq[(String, String => Unit, String => Any)] = Seq(
      ("delete", none, r => CommitLog.delete(spark, r, hit, beforeCommit = boom)),
      ("update", none, r => CommitLog.update(spark, r, hit, asg, beforeCommit = boom)),
      ("deleteMergeOnRead", none, r => CommitLog.deleteMergeOnRead(spark, r, hit, beforeCommit = boom)),
      ("updateMergeOnRead", none,
        r => CommitLog.updateMergeOnRead(spark, r, hit, asg, beforeCommit = boom)),
      ("mergeKeyed", none,
        r => CommitLog.mergeKeyed(spark, r, ups, Seq("event_id"), 2, beforeCommit = boom)),
      ("reorgPurge", r => { CommitLog.deleteMergeOnRead(spark, r, hit); () },
        r => CommitLog.reorgPurge(spark, r, beforeCommit = boom)),
      ("mergeKeyed, collect throws", none,
        r => CommitLog.mergeKeyed(spark, r, ups, Seq("event_id"), 2, deleteKeys = Some(badKeys))),
      ("compact", none, r => CommitLog.compact(spark, r, 2, beforeCommit = boom)),
      ("optimize", none, r => CommitLog.optimize(spark, r, "event_id",
        Seq(100L, 1000L), 2, beforeCommit = boom)),
      ("optimizeClustered", none, r => CommitLog.optimizeClustered(spark, r,
        Seq("event_id" -> Seq(100L), "user_id" -> Seq(10L)), 2, beforeCommit = boom)),
      ("compactPartitions", r => { CommitLog.appendPartitioned(spark, r, ev, "user_id", 1); () },
        r => CommitLog.compactPartitions(spark, r, "user_id",
          ev.select(col("user_id").cast("string")).distinct().collect().map(_.getString(0)).toSeq,
          beforeCommit = boom)),
      // the head's four plain files carry no layout under the spec the
      // partitioned append sets, so the migration restages them
      ("migrateLayout", r => { CommitLog.appendPartitioned(spark, r, ev, "user_id", 1); () },
        r => CommitLog.migrateLayout(spark, r, beforeCommit = boom)),
      ("appendWithRetry", none,
        r => CommitLog.appendWithRetry(spark, r, ev, 2, beforeCommit = boom)),
      ("appendWithRetry, loses every race", none,
        r => CommitLog.appendWithRetry(spark, r, ev, 2, maxAttempts = 3, beforeCommit = () => {
          raced.incrementAndGet()
          CommitLog.append(spark, r, ev.limit(3), 1); ()
        })))
    cases.foreach { case (name, prepare, fail) =>
      val r = java.nio.file.Files.createTempDirectory("graft_cl_scrub").toString
      CommitLog.setTableProperty(r, "enableChangeDataFeed", "true")
      CommitLog.append(spark, r, ev, 4)
      prepare(r)
      val head = CommitLog.latestVersion(r).get
      val before = CommitLog.read(spark, r, head).collect().map(_.toString).sorted.toSeq
      raced.set(0L)
      val ex = intercept[Exception](fail(r))
      assert(ex.getMessage.contains(if (raced.get > 0) "gave up" else "injected"),
        s"$name: ${ex.getMessage}")
      assert(CommitLog.latestVersion(r).contains(head + raced.get),
        s"$name: published past the failure")
      assert(CommitLog.read(spark, r, head).collect().map(_.toString).sorted.toSeq === before, name)
      val manifests = new java.io.File(r, "_graft_log").listFiles()
        .filter(_.getName.endsWith(".json"))
        .map(f => java.nio.file.Files.readString(f.toPath)).mkString
      val orphans = Seq("data", "cdf", "dv")
        .flatMap(d => Option(new java.io.File(r, d).listFiles()).toSeq.flatten)
        .map(_.getName).filter(n => n.endsWith(".parquet") && !manifests.contains(n))
      assert(orphans.isEmpty, s"$name left unreferenced files: $orphans")
      val stages = new java.io.File(r).list().filter(n =>
        Seq(".stage-", ".cdfstage-", ".dvstage-").exists(n.startsWith))
      assert(stages.isEmpty, s"$name left staging dirs: ${stages.toSeq}")
    }
  }

  test("segment pruning parses the version manifest once") {
    import graft.sources.CommitLog
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val seg = java.nio.file.Files.createTempDirectory("graft_segprune").toString
    CommitLog.appendSegment(spark, seg, ev.filter(col("event_id") <= m / 2), 1, "event_id")
    val v = CommitLog.appendSegment(spark, seg, ev.filter(col("event_id") > m / 2), 1, "event_id")
    val parses0 = CommitLog.manifestParses.get
    val kept = CommitLog.segmentsSurvivingTree(seg, v, rangeTree("event_id", m / 2 + 1, m))
    assert(CommitLog.manifestParses.get - parses0 === 1L)
    assert(kept.size === 1, s"the range probe must keep one of two segments: $kept")
  }

  test("commit log: legacy stats, segment bounds and NULL counts equal a direct aggregate") {
    import graft.sources.CommitLog
    // negatives, NULLs, an all-NULL file and, under a small row-group
    // size, files of several row groups
    val df = spark.range(-3000, 3000, 1, 4).select(col("id"),
      when(col("id") % 5 === 0 || col("id") >= 2999 - 60, lit(null))
        .otherwise(col("id") * 3).as("k"))
    val allNull = spark.range(0, 10, 1, 1).select(col("id"), lit(null).cast("long").as("k"))
    val flat = java.nio.file.Files.createTempDirectory("graft_legacy_flat").toString
    val seg = java.nio.file.Files.createTempDirectory("graft_legacy_seg").toString
    spark.conf.set("parquet.block.size", "4096")
    try {
      // the first write has no log schema yet, the second reads footers
      Seq(df, allNull, df).foreach { d =>
        CommitLog.appendWithStats(spark, flat, d, 2, "k")
        CommitLog.appendSegment(spark, seg, d, 2, "k")
      }
    } finally spark.conf.unset("parquet.block.size")
    // per file: (min, max) unless all NULL, and the NULL count
    def direct(root: String, f: String): (Option[(Long, Long)], Long) = {
      val r = spark.read.parquet(new java.io.File(root, f).toString)
        .agg(min(col("k")), max(col("k")), sum(when(col("k").isNull, 1L).otherwise(0L)))
        .head()
      (Option.when(!r.isNullAt(0))((r.getLong(0), r.getLong(1))), r.getLong(2))
    }
    def rowGroups(root: String, f: String): Int = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.io.File(root, f).getAbsolutePath),
          CommitLog.hadoopConf))
      try r.getRowGroups.size finally r.close()
    }
    val v = CommitLog.latestVersion(flat).get
    val flatFiles = CommitLog.snapshotFiles(flat, v).map(f => "data/" + new java.io.File(f).getName)
    assert(flatFiles.exists(rowGroups(flat, _) > 1), "the fixture must span several row groups")
    val aux = CommitLog.auxOf(flat, v)
    assert(aux.statsTags === Map("k" -> "long"))
    val want = flatFiles.map(f => f -> direct(flat, f)).collect { case (f, (b, n)) if b.isDefined || n > 0 =>
      f -> CommitLog.ColStat(b.map(_._1), b.map(_._2), Some(n)) }.toMap
    assert(aux.stats2.map { case (f, cs) => f -> cs("k") } === want)
    // the all-NULL file records its null count and no bounds, so every
    // range probe prunes it
    val nAllNull = want.count(_._2.lo.isEmpty)
    assert(nAllNull > 0, "the fixture must hold an all-NULL file")
    val p = CommitLog.prune(flat, v, rangeTree("k", Long.MinValue, Long.MaxValue))
    val (total, nRead) = (p.filesTotal, p.files.size)
    assert(total === flatFiles.size && nRead === total - nAllNull, s"read $nRead of $total")
    val segs = CommitLog.segmentsOf(seg, CommitLog.latestVersion(seg).get)
    assert(segs.size === 3)
    segs.foreach { sr =>
      val (files, segStats) = CommitLog.segmentEntries(seg, sr.path)
      val want = files.map(f => f -> direct(seg, f)).toMap
      assert(segStats === want.collect { case (f, (Some(b), _)) => f -> b })
      val bounds = want.values.flatMap(_._1)
      assert(sr.bounds === Option.when(bounds.nonEmpty)((bounds.map(_._1).min, bounds.map(_._2).max)))
      assert(sr.nNulls === Some(want.values.map(_._2).sum))
    }
  }

  test("commit log: a non-integral legacy or segment stats column refuses by name before staging") {
    import graft.sources.CommitLog
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value")).limit(50)
    val writes: Seq[(String, String => Any)] = Seq(
      "appendWithStats" -> (r => CommitLog.appendWithStats(spark, r, ev, 1, "value")),
      "appendSegment" -> (r => CommitLog.appendSegment(spark, r, ev, 1, "value")),
      "appendSegmentPartitioned" -> (r =>
        CommitLog.appendSegmentPartitioned(spark, r, ev, Seq("event_id"), 1, "value")),
      "appendWithStats, no such column" ->
        (r => CommitLog.appendWithStats(spark, r, ev, 1, "nope")))
    writes.foreach { case (name, write) =>
      val r = java.nio.file.Files.createTempDirectory("graft_legacy_refuse").toString
      val ex = intercept[IllegalArgumentException](write(r))
      assert(ex.getMessage.contains("stats column") &&
        ex.getMessage.contains(if (name.endsWith("column")) "'nope'" else "'value'"),
        s"$name: ${ex.getMessage}")
      assert(CommitLog.latestVersion(r).isEmpty, name)
      assert(Option(new java.io.File(r, "data").list()).forall(_.isEmpty),
        s"$name staged before refusing")
    }
  }

  test("staging writes plan under the session's current conf, without AQE") {
    import graft.sources.CommitLog
    val root = java.nio.file.Files.createTempDirectory("graft_stage_conf").toString
    // a first staged write, so any per-session planning state exists
    CommitLog.append(spark, root, spark.range(0, 100).toDF("id"), 2)
    val nodes = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    def names(p: org.apache.spark.sql.execution.SparkPlanInfo): Seq[String] =
      p.nodeName +: p.children.flatMap(names)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          nodes.add(names(x.sparkPlanInfo))
        case _ => ()
      }
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.sparkContext.addSparkListener(listener)
    val jobs =
      try jobsOf { CommitLog.append(spark, root, spark.range(100, 200).toDF("id"), 2); () }
      finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    import scala.jdk.CollectionConverters._
    val staged = nodes.asScala.toSeq.filter(_.exists(_.contains("Exchange")))
    assert(staged.nonEmpty, s"no staging plan seen: ${nodes.asScala.toSeq}")
    assert(staged.forall(!_.exists(_.startsWith("WholeStageCodegen"))),
      s"a conf set after the first staged write must reach the next one's plan: $staged")
    assert(staged.forall(!_.contains("AdaptiveSparkPlan")), s"AQE planned a staging write: $staged")
    assert(jobs === 1, s"a join-free staging write is one job, got $jobs")
  }

  /** Rows, Parquet schema and key-value metadata of one Parquet file. */
  private def parquetInfo(path: String): (Long, String, Map[String, String]) = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), graft.sources.CommitLog.hadoopConf))
    try {
      val fm = r.getFooter.getFileMetaData
      (r.getRecordCount, fm.getSchema.toString, fm.getKeyValueMetaData.asScala.toMap)
    } finally r.close()
  }

  test("staging writer: staged files match the stock Parquet writer") {
    import graft.sources.CommitLog
    import org.apache.spark.sql.DataFrame
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("ts")).limit(600)
    // per (group, salt): the files' (rows, schema, metadata) in write order
    type Files = Map[(String, Int), Seq[(Long, String, Map[String, String])]]
    def engine(frame: DataFrame, routed: Boolean): Files = {
      val d = java.nio.file.Files.createTempDirectory("graft_stage_new").toString
      CommitLog.writeParquet(spark, frame, d, routed).groupBy(f => (f.group, f.salt))
        .map { case (k, fs) => k -> fs.map(f => parquetInfo(f.path)) }
    }
    // the stock writer's files, Hive-escaped partition dirs decoded and
    // zero-row files dropped
    def stock(frame: DataFrame, parts: Seq[String]): Files = {
      val d = new java.io.File(
        java.nio.file.Files.createTempDirectory("graft_stage_stock").toFile, "out")
      frame.write.partitionBy(parts: _*).parquet(d.toString)
      def walk(f: java.io.File, key: (String, Int)): Seq[((String, Int), java.io.File)] =
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { c =>
          val n = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(c.getName)
          if (c.isDirectory && n.startsWith("_gp=")) walk(c, (n.stripPrefix("_gp="), key._2))
          else if (c.isDirectory && n.startsWith("_gs=")) walk(c, (key._1, n.stripPrefix("_gs=").toInt))
          else if (c.getName.endsWith(".parquet")) Seq(key -> c)
          else Nil
        }
      walk(d, ("", 0)).map { case (k, f) => k -> parquetInfo(f.toString) }
        .filter(_._2._1 > 0).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    }
    def same(what: String, frame: DataFrame, parts: Seq[String] = Nil): Unit = {
      val (a, b) = (engine(frame, parts.nonEmpty), stock(frame, parts))
      assert(a.values.flatten.forall(_._1 > 0), s"$what: a zero-row file was staged")
      assert(a === b, s"$what: staging writer and stock writer differ")
    }
    // values the stock writer Hive-escapes in its directory names (it
    // cannot name a non-ASCII dir where the JVM's path encoding is ASCII,
    // so the non-ASCII value is checked through the commit log below)
    val special = Seq("a/b", "50%", "k=v", "sp ace", "__GRAFT_NULL_PARTITION__")
    val routed = ev.withColumn("_gp", element_at(typedLit(special),
      (pmod(col("user_id"), lit(special.size)) + 1).cast("int")))
    val salted = routed.withColumn("_gs", pmod(hash(col("event_id")), lit(3)))
    same("plain", ev.repartition(3))
    same("plain, user _gp and _gs columns", salted.withColumn("_gs", col("value")).repartition(3))
    same("routed", routed.repartition(col("_gp")).sortWithinPartitions("_gp"), Seq("_gp"))
    same("routed, salted", salted.repartition(col("_gp"), col("_gs"))
      .sortWithinPartitions("_gp", "_gs"), Seq("_gp", "_gs"))
    same("cdf", ev.withColumn("_change_type", lit("delete")).coalesce(8))
    same("dv", ev.select(substring_index(input_file_name(), "/", -1).as("f"),
      col("event_id").as("i")).coalesce(1))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "70")
    try {
      same("plain, maxRecordsPerFile", ev.repartition(2))
      same("routed, maxRecordsPerFile",
        routed.repartition(col("_gp")).sortWithinPartitions("_gp"), Seq("_gp"))
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")

    // through the commit log: partition values that need Hive escaping
    // and NULL record each file under its exact value; the bad-value
    // refusal still fires
    val tmp = () => java.nio.file.Files.createTempDirectory("graft_stage_api").toString
    val values = special.init ++ Seq("ünï", null)
    val byText = ev.withColumn("p", element_at(typedLit(values),
      (pmod(col("user_id"), lit(values.size)) + 1).cast("int")))
    // rows per recorded partition value, from the staged files' footers
    def rowsByPart(r: String, v: Long) = CommitLog.auxOf(r, v).parts.toSeq.groupBy(_._2)
      .map { case (p, fs) =>
        p -> fs.map(f => CommitLog.footerRowCount(new java.io.File(r, f._1))).sum }
    val r1 = tmp()
    val v1 = CommitLog.appendPartitioned(spark, r1, byText, "p", 1)
    val want = byText.groupBy(coalesce(col("p"), lit("__GRAFT_NULL_PARTITION__"))).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rowsByPart(r1, v1) === want)
    val bad = intercept[IllegalArgumentException](CommitLog.appendPartitioned(spark, tmp(),
      ev.withColumn("p", concat(lit("x\u0001"), col("user_id").cast("string"))), "p", 1))
    assert(bad.getMessage.contains("reserved separator"), bad.getMessage)
    // a bucket spec with two files per bucket
    val r2 = tmp()
    val v2 = CommitLog.appendPartitioned(spark, r2, ev, "bucket(4;user_id)", 2)
    val filesPerBucket = CommitLog.auxOf(r2, v2).parts.groupBy(_._2).values.map(_.size)
    assert(filesPerBucket.forall(_ <= 2) && filesPerBucket.exists(_ == 2), filesPerBucket)
    assert(rowsByPart(r2, v2) ===
      ev.groupBy(pmod(hash(col("user_id")), lit(4)).cast("string")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    // CDF and deletion-vector files: one file per CDF task at most, no
    // zero-row file, and the rows each records
    val r3 = tmp()
    CommitLog.setTableProperty(r3, "enableChangeDataFeed", "true")
    CommitLog.append(spark, r3, ev, 2)
    val hit = col("user_id") % 4 === 1
    def rowsUnder(d: String) = Option(new java.io.File(r3, d).listFiles()).toSeq.flatten
      .map(f => CommitLog.footerRowCount(f))
    val v3 = CommitLog.delete(spark, r3, hit)._1
    assert(rowsUnder("cdf").nonEmpty && rowsUnder("cdf").forall(_ > 0))
    assert(rowsUnder("cdf").sum === ev.filter(hit).count())
    assert(CommitLog.changesRows(spark, r3, v3 - 1, v3).count() === ev.filter(hit).count())
    CommitLog.deleteMergeOnRead(spark, r3, col("user_id") % 4 === 2)
    assert(rowsUnder("dv") === Seq(ev.filter(col("user_id") % 4 === 2).count()))
  }

  test("staging writer: user columns named _gp and _gs are written like any other") {
    import graft.sources.CommitLog
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("user_id"),
      col("event_id").cast("string").as("_gp"), col("value").as("_gs")).limit(400)
    val r = java.nio.file.Files.createTempDirectory("graft_stage_names").toString
    val v0 = CommitLog.append(spark, r, ev, 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "user_id", "_gp", "_gs").collect().map(_.toString).sorted.toSeq
    assert(rows(CommitLog.read(spark, r, v0)) === rows(ev))
    // a copy-on-write rewrite and a compaction restage the same rows
    val hit = col("user_id") % 4 === 1
    val v1 = CommitLog.update(spark, r, hit, Seq("_gs" -> lit(-1.0)))._1
    val want = ev.withColumn("_gs", when(hit, lit(-1.0)).otherwise(col("_gs")))
    assert(rows(CommitLog.read(spark, r, v1)) === rows(want))
    val v2 = CommitLog.compact(spark, r, 1)
    assert(rows(CommitLog.read(spark, r, v2)) === rows(want))
  }

  test("staging writer: the executor rebuilds the session's Hadoop conf from the overlay") {
    import graft.sources.CommitLog
    import CommitLog.ConfOverlay
    spark.conf.set("spark.hadoop.graft.test.overlay", "on")
    spark.conf.set("spark.sql.parquet.compression.codec", "gzip")
    try {
      val target = spark.sessionState.newHadoopConf()
      // a key the base sets and this session unsets
      val gone = "hadoop.tmp.dir"
      assert(CommitLog.hadoopConf.getRaw(gone) != null)
      target.unset(gone)
      val ov = ConfOverlay.over(target)
      assert(ov.unset.contains(gone))
      assert(ov.set.contains("spark.hadoop.graft.test.overlay" -> "on"))
      assert(ov.set.contains("spark.sql.parquet.compression.codec" -> "gzip"))
      // the session builder's spark.hadoop.fs.file.impl
      assert(ov.set.exists(_._1 == "fs.file.impl"))
      // a base entry the session leaves as it is does not ship
      assert(!ov.set.exists(_._1 == "fs.trash.interval"))
      assert(ov.set.size < ConfOverlay.entries(target).size / 2, s"${ov.set.size} entries")
      val rebuilt = spark.sparkContext.parallelize(Seq(1), 1)
        .map(_ => ConfOverlay.entries(ov.over(CommitLog.hadoopConf))).collect().head
      assert(rebuilt === ConfOverlay.entries(target))
    } finally {
      spark.conf.unset("spark.hadoop.graft.test.overlay")
      spark.conf.unset("spark.sql.parquet.compression.codec")
    }
    // a session-level Parquet setting reaches the staged file
    val ev = spark.range(20000).select(col("id"), (col("id") % 997).cast("double").as("value"))
    val r = java.nio.file.Files.createTempDirectory("graft_stage_conf").toString
    spark.conf.set("parquet.block.size", "4096")
    val v = try CommitLog.append(spark, r, ev, 1) finally spark.conf.unset("parquet.block.size")
    val Seq(f) = CommitLog.snapshotFiles(r, v)
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), CommitLog.hadoopConf))
    val groups = try rd.getRowGroups.size finally rd.close()
    assert(groups > 1, s"parquet.block.size=4096 left $groups row group(s)")
  }

  test("staging writer: a task that throws mid-write leaves no staged file and the head as it was") {
    import graft.sources.CommitLog
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("user_id"),
      col("value"), (col("user_id") % 3).as("p")).limit(300)
    // a row every case's write reaches after others: mid-table, and
    // touched by the update and the delete below
    val hits = ev.filter(col("user_id") % 4 === 1).orderBy(col("event_id")).collect()
    val pick = hits(hits.length / 2).getLong(0)
    val boom = when(col("event_id") === pick, raise_error(lit("injected mid-write")))
    val bad = ev.withColumn("value", boom.otherwise(col("value")))
    val cases: Seq[(String, Boolean, String => Any)] = Seq(
      ("plain", false, r => CommitLog.append(spark, r, bad, 2)),
      ("partitioned", false, r => CommitLog.appendPartitioned(spark, r, bad, "p", 1)),
      ("cdf", true, r => CommitLog.update(spark, r, col("user_id") % 4 === 1,
        Seq("value" -> boom.otherwise(lit(0.0))))),
      ("dv", false, r => CommitLog.deleteMergeOnRead(spark, r,
        boom.otherwise(col("user_id") % 4 === 1))))
    cases.foreach { case (name, cdf, fail) =>
      val r = java.nio.file.Files.createTempDirectory("graft_stage_fail").toString
      if (cdf) CommitLog.setTableProperty(r, "enableChangeDataFeed", "true")
      CommitLog.append(spark, r, ev, 2)
      val ex = intercept[Exception](fail(r))
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected")), s"$name: $ex")
      assert(CommitLog.latestVersion(r).contains(0L), s"$name: published past the failure")
      val listed = CommitLog.snapshotFiles(r, 0L).map(f => new java.io.File(f).getName).toSet
      val left = Seq("data", "cdf", "dv")
        .flatMap(d => Option(new java.io.File(r, d).listFiles()).toSeq.flatten)
        .map(_.getName).filterNot(listed)
      assert(left.isEmpty, s"$name left files: $left")
      val stages = new java.io.File(r).list().filter(_.contains("stage-"))
      assert(stages.isEmpty, s"$name left staging dirs: ${stages.toSeq}")
    }
  }

  /** Shuffle bytes written and tasks ended while `body` runs. */
  private def shuffleOf(body: => Unit): (Long, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // jobsOf's fence job flushes the listener bus
    try jobsOf(body) finally spark.sparkContext.removeSparkListener(listener)
    (bytes.get, tasks.get)
  }

  test("copy-on-write DML: DELETE and UPDATE run two jobs, and the dirty-file pass shuffles nothing") {
    import graft.sources.CommitLog
    val root = java.nio.file.Files.createTempDirectory("graft_cow_jobs").toString
    CommitLog.append(spark, root,
      spark.range(0, 4000).selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v"), 4)
    // the dirty-file pass and the rewrite: no aggregate job between
    assert(jobsOf { CommitLog.delete(spark, root, col("id") % 100 === 0); () } === 2)
    assert(jobsOf { CommitLog.update(spark, root, col("id") % 100 === 1,
      Seq("v" -> lit(-1.0))); () } === 2)
    assert(CommitLog.read(spark, root, 2L).filter(col("v") === -1.0).count() === 40L)
    assert(CommitLog.read(spark, root, 2L).count() === 3960L)
    val rows = CommitLog.touchedRows(spark, root, CommitLog.CondTouch(col("id") % 3 === 0))
    val (passBytes, passTasks) = shuffleOf { CommitLog.filesOf(spark, rows); () }
    assert(passTasks > 0 && passBytes === 0L, s"$passTasks tasks wrote $passBytes shuffle bytes")
    // the listener sees the shuffle a direct distinct writes
    val (distinctBytes, _) = shuffleOf {
      rows.select(col("_graft_file")).distinct().collect(); () }
    assert(distinctBytes > 0L)
    // a CHECK constraint still judges a copy-on-write UPDATE's post-images
    CommitLog.setTableProperty(root, "constraint.v_small", "v < 10")
    val ex = intercept[IllegalArgumentException](
      CommitLog.update(spark, root, col("id") === 5L, Seq("v" -> lit(50.0))))
    assert(ex.getMessage.contains("v_small"), ex.getMessage)
    assert(CommitLog.latestVersion(root) === Some(2L))
  }

  test("copy-on-write DML: the dirty-file pass finds exactly the files a direct distinct finds") {
    import graft.sources.CommitLog
    def canon(u: String): String = new java.io.File(new java.net.URI(u)).getCanonicalPath
    def same(root: String, touch: CommitLog.Touch, what: String): Set[String] = {
      val rows = CommitLog.touchedRows(spark, root, touch)
      val direct = rows.select(col("_graft_file")).distinct().collect()
        .map(r => canon(r.getString(0))).toSet
      val pass = CommitLog.filesOf(spark, rows)
      assert(pass === direct, what)
      pass
    }
    def table(tag: String): String =
      java.nio.file.Files.createTempDirectory("graft_dirty_" + tag).toString
    def ids(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id", "CAST(id % 10 AS INT) AS v")
    // a file whose predicate is NULL on every row is not dirty
    val nulls = table("nulls")
    CommitLog.append(spark, nulls, ids(0, 100).withColumn("v", lit(null).cast("int")), 1)
    CommitLog.append(spark, nulls, ids(100, 200), 1)
    assert(same(nulls, CommitLog.CondTouch(col("v") < 5), "NULL predicate").size === 1)
    // rows a deletion vector masks touch nothing
    val masked = table("masked")
    CommitLog.append(spark, masked, ids(0, 100), 1)
    CommitLog.append(spark, masked, ids(100, 200), 1)
    CommitLog.deleteMergeOnRead(spark, masked, col("id") < 10)
    assert(same(masked, CommitLog.CondTouch(col("id") < 10), "masked rows").isEmpty)
    assert(same(masked, CommitLog.CondTouch(col("id") < 20), "partly masked").size === 1)
    // a column-mapped table, by its new name
    val mapped = table("mapped")
    CommitLog.append(spark, mapped, ids(0, 100), 1)
    CommitLog.append(spark, mapped, ids(100, 200), 1)
    CommitLog.renameColumn(spark, mapped, "v", "w")
    assert(same(mapped, CommitLog.CondTouch(col("w") === 3 && col("id") > 150), "renamed").size === 1)
    // a predicate that matches nothing
    assert(same(mapped, CommitLog.CondTouch(col("id") < 0), "no match").isEmpty)
    // MERGE's key touch
    val keys = spark.range(95, 105).toDF("id")
    assert(same(mapped, CommitLog.KeyTouch(Seq("id"), keys, None), "merge keys").size === 2)
    assert(same(mapped, CommitLog.KeyTouch(Seq("id"), spark.range(0, 3).toDF("id"),
      Some(spark.range(180, 190).toDF("id"))), "merge update and delete keys").size === 2)
    // one file split across several scan tasks counts once
    val split = table("split")
    spark.conf.set("parquet.block.size", "4096")
    try CommitLog.append(spark, split, ids(0, 20000), 1)
    finally spark.conf.unset("parquet.block.size")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val rows = CommitLog.touchedRows(spark, split, CommitLog.CondTouch(col("v") === 1))
      val readers = rows.select(col("_graft_file")).rdd
        .mapPartitions(it => Iterator(it.hasNext)).collect().count(identity)
      assert(readers > 1, s"the file was read by $readers task(s)")
      assert(same(split, CommitLog.CondTouch(col("v") === 1), "split file").size === 1)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("deletion-vector DML: masked-row counts come from one task-side count, equal to a grouped count") {
    import graft.sources.CommitLog
    val root = java.nio.file.Files.createTempDirectory("graft_dv_counts").toString
    CommitLog.append(spark, root, spark.range(0, 3000).selectExpr("id", "id % 10 AS v"), 3)
    // the vector staging, its count and nothing else
    assert(jobsOf { CommitLog.deleteMergeOnRead(spark, root, col("v") === 3); () } === 2)
    val aux = CommitLog.auxOf(root, 1L)
    val sidecars = aux.dvs.values.flatten.toSeq.distinct.map(r => new java.io.File(root, r).toString)
    val grouped = spark.read.parquet(sidecars: _*).groupBy(col("f")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(aux.dvRows.map { case (f, n) => new java.io.File(f).getName -> n } === grouped)
    assert(aux.dvRows.values.sum === 300L)
    assert(CommitLog.read(spark, root, 1L).count() === 2700L)
  }

  test("deletion-vector tables plan reads without a Spark job") {
    import graft.sources.CommitLog
    val root = java.nio.file.Files.createTempDirectory("graft_dv_plan").toString
    CommitLog.append(spark, root, spark.range(0, 3000).selectExpr("id", "id % 10 AS v"), 3)
    CommitLog.deleteMergeOnRead(spark, root, col("v") === 3)
    val v = CommitLog.deleteMergeOnRead(spark, root, col("v") === 4)._1
    // the sidecars read under their fixed layout: no schema inference
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { df = CommitLog.read(spark, root, v); () } === 0)
    assert(df.count() === 2400L)
  }
}
