package graft

import org.apache.spark.sql.functions._
import graft.sources.{CommitLog, Tables}

/** Mechanics of the r10 SQL front-end: the V2 TableCatalog
  * (graft.sources.GraftCatalog — SELECT / VERSION AS OF / INSERT INTO
  * / CREATE TABLE) and the injected maintenance statements
  * (graft.plans.GraftSqlParser — RESTORE / VACUUM / OPTIMIZE ZORDER).
  * The oracle gate checks the four q_sql_table_* keys' RESULTS; this
  * spec pins the contracts around them. */
class CatalogSpec extends SparkSpec {

  private def freshCatalog(): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_catspec").toString
    val cat = "gc" + java.util.UUID.randomUUID().toString.replace("-", "").take(10)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.base", base)
    (cat, base)
  }

  test("catalog: VERSION AS OF pins the manifest snapshot; head SELECT tracks appends") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").count() ===
      ev.filter(col("event_id") % 2 === 0).count())
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === ev.count())
    // the pinned scan's file set is version 0's manifest exactly
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").inputFiles.toSet ===
      CommitLog.snapshotFiles(root, 0L).map(f =>
        "file://" + new java.io.File(f).getAbsolutePath).toSet ||
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").inputFiles.isEmpty,
      "v2 scans may not expose inputFiles; when they do, they must be v0's listing")
    // column pruning reaches the per-file reader: a one-column SELECT
    // plans a one-column read schema
    val plan = spark.sql(s"SELECT event_type FROM $cat.t")
      .queryExecution.executedPlan.toString
    assert(plan.contains("event_type") && !plan.contains("ReadSchema: struct<event_id"),
      s"projection did not prune: $plan")
  }

  test("catalog: CREATE TABLE + INSERT INTO commit through the log; retyped insert fails") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ing (k BIGINT, v STRING)")
    val root = new java.io.File(base, "ing").toString
    assert(CommitLog.latestVersion(root).contains(0L),
      "CREATE TABLE must publish an empty version-0 manifest")
    spark.sql(s"INSERT INTO $cat.ing VALUES (1, 'a'), (2, 'b')")
    spark.sql(s"INSERT INTO $cat.ing VALUES (3, 'c')")
    assert(CommitLog.latestVersion(root).contains(2L),
      "each INSERT must be one atomic snapshot commit")
    assert(spark.sql(s"SELECT * FROM $cat.ing").count() === 3)
    // the log schema is the authority: a retyped column fails the
    // commit (Spark coerces compatible literals, so drive the check
    // through the API with a genuinely retyped frame)
    import spark.implicits._
    val bad = Seq(("x", "y")).toDF("k", "v")
    val ex = intercept[Exception] {
      CommitLog.append(spark, root, bad, nFiles = 1)
    }
    assert(ex.getMessage.contains("never retypes") ||
      ex.getMessage.contains("not in the table schema"), ex.getMessage)
    // time-travel across the inserts still works through SQL
    assert(spark.sql(s"SELECT * FROM $cat.ing VERSION AS OF 1").count() === 2)
  }

  test("catalog: pinned snapshots reject writes; unknown table raises; listTables sees roots") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    CommitLog.append(spark, root,
      Tables(spark, sf, "events").select(col("event_id")).limit(10), nFiles = 1)
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t VERSION AS OF 0 VALUES (99)")
    }
    assert(ex != null) // version-pinned inserts are not valid SQL / not writable
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.nope").collect() }
    assert(spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).contains("t"))
  }

  test("parser: maintenance statements run, everything else delegates verbatim") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("user_id") % 2 === 0), nFiles = 2)
    CommitLog.append(spark, root, ev.filter(col("user_id") % 2 === 1), nFiles = 2)
    CommitLog.delete(spark, root, col("user_id") % 2 === 1)
    // RESTORE returns the new head and the rows are back
    val head = spark.sql(s"RESTORE TABLE $cat.t TO VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(head === 3L)
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === ev.count())
    // OPTIMIZE ZORDER records stats on BOTH dims and stays data-neutral
    val opt = spark.sql(s"OPTIMIZE $cat.t ZORDER BY (event_id, user_id)").collect()(0)
    val vOpt = opt.getLong(0)
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === ev.count())
    val aux = CommitLog.auxOf(root, vOpt)
    assert(aux.statsTags.keySet === Set("event_id", "user_id"),
      s"optimize must record stats on every cluster dim: ${aux.statsTags}")
    assert(aux.stats2.nonEmpty && aux.stats2.size === opt.getLong(1))
    // VACUUM RETAIN 1 keeps the head snapshot whole
    val vac = spark.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS").collect()(0)
    assert(vac.getLong(1) === opt.getLong(1), "vacuum dropped head files")
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === ev.count())
    // the delegate path: ordinary SQL statements are untouched by the
    // injected parser (a smoke of each statement family)
    assert(spark.sql("SELECT 1 AS x").collect()(0).getInt(0) === 1)
    assert(spark.sql("SHOW DATABASES").count() >= 1)
    intercept[Exception] { spark.sql("RESTORE TABLE nocatalog.t TO VERSION AS OF 0").collect() }
  }

  test("parser: DELETE FROM / MERGE INTO route to the log only for graft catalogs") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(1000)
    CommitLog.append(spark, root, ev, nFiles = 2)
    // DELETE: any deterministic SQL predicate; counters are the CoW's
    val del = spark.sql(s"DELETE FROM $cat.t WHERE user_id % 2 = 1 AND value >= 0")
      .collect()(0)
    assert(del.getLong(0) === 1L)
    val expect = ev.filter(!(col("user_id") % 2 === 1 && col("value") >= 0)).count()
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === expect)
    // MERGE (canonical upsert): replaced rows and fresh inserts land
    val updates = ev.filter(col("user_id") % 2 === 0).limit(50)
      .withColumn("value", lit(-1.0))
      .unionByName(ev.limit(5).withColumn("event_id", col("event_id") + 500000000L))
    updates.createOrReplaceTempView("catspec_merge_src")
    val mrg = spark.sql(
      s"""MERGE INTO $cat.t t USING catspec_merge_src s ON t.event_id = s.event_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    assert(mrg.getLong(0) === 2L)
    assert(spark.sql(s"SELECT * FROM $cat.t WHERE value = -1.0").count() === 50)
    assert(spark.sql(s"SELECT * FROM $cat.t WHERE event_id >= 500000000").count() === 5)
    // gating: a DELETE on a NON-graft identifier delegates to Spark's
    // own path (which rejects deletes on temp views) — the graft
    // command must not hijack it
    ev.createOrReplaceTempView("catspec_plain_view")
    val ex = intercept[Exception] {
      spark.sql("DELETE FROM catspec_plain_view WHERE user_id = 1").collect()
    }
    assert(!ex.getMessage.contains("graft catalog"),
      s"non-graft DELETE must delegate to Spark, got: ${ex.getMessage}")
    // same gating for UPDATE: a non-graft identifier delegates to
    // Spark's own path (which rejects updates on temp views)
    val exU = intercept[Exception] {
      spark.sql("UPDATE catspec_plain_view SET value = 0.0 WHERE user_id = 1").collect()
    }
    assert(!exU.getMessage.contains("graft catalog"),
      s"non-graft UPDATE must delegate to Spark, got: ${exU.getMessage}")
    // a MERGE whose ON clause keys different column names refuses
    val ex2 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.t t USING catspec_merge_src s ON t.event_id = s.user_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(ex2.getMessage.contains("shared column name"), ex2.getMessage)
  }

  test("catalog: CREATE TABLE PARTITIONED BY routes inserts through appendPartitioned") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pt (k BIGINT, cat_col STRING) PARTITIONED BY (cat_col)")
    val root = new java.io.File(base, "pt").toString
    assert(CommitLog.tableProperty(root, "partitionColumn").contains("cat_col"))
    spark.sql(s"INSERT INTO $cat.pt VALUES (1, 'a'), (2, 'b'), (3, 'a')")
    spark.sql(s"INSERT INTO $cat.pt VALUES (4, 'c'), (5, 'a')")
    val head = CommitLog.latestVersion(root).get
    // manifests carry per-file partition values: pruning to 'a' reads
    // exactly the 'a' files, from log metadata alone
    val (pruned, total, read) =
      CommitLog.partitionPrunedRead(spark, root, head, "cat_col", Seq("a"))
    assert(total === 4 && read === 2,
      s"expected 4 files (a,b from v1; c,a from v2) with 2 'a' files, got $total/$read")
    assert(pruned.count() === 3)
    // the partition column stays physically in the files (every
    // non-partition-aware reader unchanged)
    assert(spark.sql(s"SELECT cat_col FROM $cat.pt WHERE k = 4").collect()(0)
      .getString(0) === "c")
    // SQL DELETE + streaming read still work on the partitioned table
    spark.sql(s"DELETE FROM $cat.pt WHERE cat_col = 'b'")
    assert(spark.sql(s"SELECT * FROM $cat.pt").count() === 4)
    // a COMPOSITE spec (r14): PARTITIONED BY (a, b) stages one
    // routing group per value tuple and prunes by intersection
    spark.sql(s"CREATE TABLE $cat.pt2 (k BIGINT, a STRING, b STRING) PARTITIONED BY (a, b)")
    spark.sql(s"INSERT INTO $cat.pt2 VALUES " +
      "(1, 'x', 'p'), (2, 'x', 'q'), (3, 'y', 'p'), (4, 'y', 'q'), (5, 'x', 'p')")
    val root2 = new java.io.File(base, "pt2").toString
    assert(CommitLog.tableProperty(root2, "partitionColumn") === Some("a,b"))
    val head2 = CommitLog.latestVersion(root2).get
    val (dfM, total2, read2) = CommitLog.partitionPrunedReadMulti(spark, root2,
      head2, Seq("a" -> Seq("x"), "b" -> Seq("p")))
    assert(total2 === 4 && read2 === 1,
      s"composite catalog table must prune to the tuple file ($read2 of $total2)")
    assert(dfM.filter(col("a") === "x" && col("b") === "p").count() === 2)
    // a single-column probe intersects: both b-values of a='x' read
    val (_, _, readA) = CommitLog.partitionPrunedRead(spark, root2,
      head2, "a", Seq("x"))
    assert(readA === 2, s"a-only probe read $readA (want x's two tuple files)")
  }

  test("catalog: INSERT OVERWRITE and ALTER TABLE ADD COLUMNS evolve the table through the log") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ev (k BIGINT, v DOUBLE)")
    val root = new java.io.File(base, "ev").toString
    spark.sql(s"INSERT INTO $cat.ev VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"INSERT OVERWRITE $cat.ev VALUES (10, 10.0), (11, 11.0), (12, 12.0)")
    // overwrite is ONE snapshot commit listing only incoming files;
    // time travel still reaches the pre-overwrite state
    assert(CommitLog.latestVersion(root).contains(2L))
    assert(spark.sql(s"SELECT * FROM $cat.ev").count() === 3)
    assert(spark.sql(s"SELECT * FROM $cat.ev VERSION AS OF 1").count() === 2)
    // changes() refuses a file-diff range across the rewrite
    val exc = intercept[Exception] {
      CommitLog.changes(spark, root, 1L, 2L).count()
    }
    assert(exc.getMessage.contains("overwrite"), exc.getMessage)
    // ALTER ADD COLUMNS: zero data I/O (same file list), null-fill
    val filesBefore = CommitLog.snapshotFiles(root, 2L).toSet
    spark.sql(s"ALTER TABLE $cat.ev ADD COLUMNS (w STRING)")
    assert(CommitLog.snapshotFiles(root, 3L).toSet === filesBefore,
      "schema evolution must not touch data files")
    assert(spark.sql(s"SELECT * FROM $cat.ev WHERE w IS NULL").count() === 3)
    spark.sql(s"INSERT INTO $cat.ev VALUES (20, 20.0, 'x')")
    assert(spark.sql(s"SELECT * FROM $cat.ev WHERE w = 'x'").count() === 1)
    // DROP COLUMN is supported since the r10 column-mapping work;
    // retypes still refuse (the log never retypes)
    spark.sql(s"ALTER TABLE $cat.ev DROP COLUMN w")
    assert(!spark.sql(s"SELECT * FROM $cat.ev").columns.contains("w"))
    val exa = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev ALTER COLUMN v TYPE STRING")
    }
    assert(exa.getMessage.contains("retypes") ||
      exa.getMessage.toLowerCase.contains("unsupported"), exa.getMessage)
    // an overwrite on a CDF-enabled table records the full transition
    val (cat2, base2) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat2.c (k BIGINT)")
    val root2 = new java.io.File(base2, "c").toString
    CommitLog.setTableProperty(root2, "enableChangeDataFeed", "true")
    spark.sql(s"INSERT INTO $cat2.c VALUES (1), (2)")
    spark.sql(s"INSERT OVERWRITE $cat2.c VALUES (7)")
    val ch = CommitLog.changesRows(spark, root2, 1L, 2L)
    assert(ch.filter(col("_change_type") === "delete").count() === 2)
    assert(ch.filter(col("_change_type") === "insert").count() === 1)
  }

  test("catalog: TIMESTAMP AS OF resolves the greatest version committed at or before the instant") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "tt").toString
    val ev = Tables(spark, sf, "events").select(col("event_id")).limit(300)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 0), nFiles = 1)
    Thread.sleep(50) // distinct commit wall-clocks
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 1), nFiles = 1)
    val ts0 = CommitLog.commitTimestampOf(root, 0L).get
    val ts1 = CommitLog.commitTimestampOf(root, 1L).get
    assert(ts0 < ts1, "test needs distinct commit timestamps")
    // an instant between the commits pins version 0
    val mid = new java.sql.Timestamp((ts0 + ts1) / 2)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val n0 = spark.sql(
      s"SELECT * FROM $cat.tt TIMESTAMP AS OF '${fmt.format(mid)}'").count()
    assert(n0 === ev.filter(col("event_id") % 3 === 0).count())
    // an instant after the head pins the head
    val late = new java.sql.Timestamp(ts1 + 10000)
    assert(spark.sql(
      s"SELECT * FROM $cat.tt TIMESTAMP AS OF '${fmt.format(late)}'").count() ===
      ev.filter(col("event_id") % 3 =!= 2).count())
    // an instant before the first commit errors clearly
    val early = new java.sql.Timestamp(ts0 - 60000)
    val ex = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tt TIMESTAMP AS OF '${fmt.format(early)}'").count()
    }
    assert(ex.getMessage.contains("no retained snapshot") ||
      Option(ex.getCause).exists(_.getMessage.contains("no retained snapshot")),
      ex.getMessage)
  }

  test("catalog: CREATE TABLE AS SELECT lands schema + data in one statement; partitioned CTAS carries partition values") {
    // Spark's non-atomic CTAS path over a plain TableCatalog:
    // createTable (v0, schema from the query) then the V1 insert
    // (v1). A partitioned CTAS must route through appendPartitioned
    // so the manifest carries per-file partition values — pruning
    // works on the CTAS result exactly as on a hand-built table.
    val (cat, base) = freshCatalog()
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    ev.createOrReplaceTempView("ctas_spec_src")
    spark.sql(s"CREATE TABLE $cat.ct AS SELECT * FROM ctas_spec_src WHERE event_id % 3 = 0")
    val expect = ev.filter(col("event_id") % 3 === 0)
    assert(spark.sql(s"SELECT * FROM $cat.ct").count() === expect.count())
    val root = new java.io.File(base, "ct").toString
    assert(CommitLog.latestVersion(root).contains(1L),
      "CTAS = create (v0) + insert (v1), nothing more")
    // schema came from the query, not a DDL column list
    assert(spark.table(s"$cat.ct").schema.fieldNames.toSeq ===
      Seq("event_id", "event_type", "value"))

    spark.sql(s"CREATE TABLE $cat.cp PARTITIONED BY (event_type) AS " +
      "SELECT * FROM ctas_spec_src WHERE event_id % 3 = 0")
    val proot = new java.io.File(base, "cp").toString
    val types = expect.select("event_type").distinct().count()
    val (pdf, total, nRead) = CommitLog.partitionPrunedRead(spark, proot,
      CommitLog.latestVersion(proot).get, "event_type", Seq("click"))
    assert(total === types && nRead === 1,
      s"partitioned CTAS must stage one file per partition value ($total/$nRead)")
    assert(pdf.filter(col("event_type") === "click").count() ===
      expect.filter(col("event_type") === "click").count())
    // CTAS onto an existing table refuses (no implicit replace)
    val ex = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ct AS SELECT * FROM ctas_spec_src")
    }
    assert(ex.getMessage.toLowerCase.contains("exist"), ex.getMessage)
  }

  test("vacuum hours: the age floor resolves deterministically against an explicit now") {
    val (_, base) = freshCatalog()
    val root = new java.io.File(base, "vf").toString
    import spark.implicits._
    (0 to 2).foreach { k =>
      CommitLog.append(spark, root, Seq((k.toLong, k.toDouble)).toDF("k", "v"), nFiles = 1)
      Thread.sleep(20) // force distinct commit timestamps (ms resolution)
    }
    val ts = (0L to 2L).map(v => CommitLog.commitTimestampOf(root, v).get)
    assert(ts(0) < ts(1) && ts(1) < ts(2), s"timestamps must be distinct: $ts")
    val now = ts(2) + 1000L
    // cutoff strictly between v1 and v2 → the floor is v2
    assert(CommitLog.versionFloorByAge(root, now - (ts(1) + ts(2)) / 2, now) === 2L)
    // cutoff before v0 → everything is inside retention, floor 0
    assert(CommitLog.versionFloorByAge(root, now - ts(0) + 1000L, now) === 0L)
    // zero retention → nothing is inside the bound, but the head is
    // ALWAYS retained
    assert(CommitLog.versionFloorByAge(root, 0L, now) === 2L)
  }

  test("optimize where: no-op publishes nothing; untouched partitions carry byte-identical") {
    val (cat, base) = freshCatalog()
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val root = new java.io.File(base, "o").toString
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 =!= 0), "event_type", filesPerPartition = 1)
    val h0 = CommitLog.latestVersion(root).get

    // a value that matches no partition publishes NO version
    val (vNoop, sel0, st0) = CommitLog.compactPartitions(
      spark, root, "event_type", Seq("no_such_type"))
    assert(vNoop === h0 && sel0 === 0L && st0 === 0L)
    assert(CommitLog.latestVersion(root).get === h0)

    val beforeFiles = CommitLog.snapshotFiles(root, h0).toSet
    val (h1, sel, staged) = CommitLog.compactPartitions(
      spark, root, "event_type", Seq("click"))
    assert(h1 === h0 + 1 && sel === 2L && staged === 1L)
    // untouched partitions carry the SAME physical files (no rewrite)
    val afterFiles = CommitLog.snapshotFiles(root, h1).toSet
    assert((afterFiles -- beforeFiles).size === 1, "exactly the one staged file is new")
    assert((beforeFiles -- afterFiles).size === 2, "exactly the click files left")
    // data-neutral: the snapshot's rows are unchanged
    assert(CommitLog.read(spark, root, h1).count() === ev.count())
    // the pre-optimize snapshot still reads (history is append-only)
    assert(CommitLog.read(spark, root, h0).count() === ev.count())
  }

  test("clone: VERSION AS OF pins, clone vacuum spares source files, stranded clones refuse") {
    val (cat, base) = freshCatalog()
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val srcRoot = new java.io.File(base, "s").toString
    CommitLog.append(spark, srcRoot, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    CommitLog.append(spark, srcRoot, ev.filter(col("event_id") % 2 =!= 0), nFiles = 2)

    // clone a PINNED version, not the head
    spark.sql(s"CREATE TABLE $cat.c0 SHALLOW CLONE $cat.s VERSION AS OF 0")
    val c0Root = new java.io.File(base, "c0").toString
    assert(CommitLog.read(spark, c0Root, 0L).count() ===
      ev.filter(col("event_id") % 2 === 0).count())

    // the clone's CDF replays its v0 as inserts (op=clone is
    // data-adding from the clone's own point of view)
    assert(CommitLog.changesRows(spark, c0Root, -1L, 0L)
      .filter(col("_change_type") === "insert").count() ===
      ev.filter(col("event_id") % 2 === 0).count())

    // appends to the clone then a clone-side vacuum: only the CLONE's
    // own data files are reclaimable; referenced source files survive
    CommitLog.append(spark, c0Root,
      ev.filter(col("event_id") % 3 === 0), nFiles = 2)
    val srcFilesBefore = CommitLog.snapshotFiles(srcRoot, 1L)
      .count(f => new java.io.File(f).exists())
    CommitLog.vacuum(c0Root, retainFrom = 1L)
    assert(CommitLog.snapshotFiles(srcRoot, 1L)
      .count(f => new java.io.File(f).exists()) === srcFilesBefore,
      "clone vacuum must never reclaim source-owned files")
    // the clone head (which still references source files) stays readable
    assert(CommitLog.read(spark, c0Root, 1L).count() ===
      ev.filter(col("event_id") % 2 === 0).count() +
        ev.filter(col("event_id") % 3 === 0).count())

    // refusals: existing target; vacuumed source version
    val exists = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.c0 SHALLOW CLONE $cat.s")
    }
    assert(exists.getMessage.contains("already"), exists.getMessage)
    CommitLog.vacuum(srcRoot, retainFrom = 1L)
    val stranded = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.c1 SHALLOW CLONE $cat.s VERSION AS OF 0")
    }
    assert(stranded.getMessage.contains("vacuum"), stranded.getMessage)
  }

  test("constraints: CHECK enforcement covers merge and partitioned appends; UNSET lifts it") {
    // The q_sql_table_constraints key drives plain INSERT; this pins
    // the rest of the write surface: a violating merge and a violating
    // partitioned append both fail ATOMICALLY (head untouched, no
    // version published), and dropping the constraint property
    // re-admits the same frame.
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.c (k BIGINT, grp STRING, v DOUBLE)")
    val root = new java.io.File(base, "c").toString
    spark.sql(s"ALTER TABLE $cat.c SET TBLPROPERTIES " +
      "('constraint.v_small' = 'v < 100')")
    import spark.implicits._
    val clean = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "grp", "v")
    CommitLog.appendPartitioned(spark, root, clean, "grp", filesPerPartition = 1)
    val head0 = CommitLog.latestVersion(root).get

    val dirty = Seq((3L, "a", 500.0)).toDF("k", "grp", "v")
    val exPart = intercept[IllegalArgumentException] {
      CommitLog.appendPartitioned(spark, root, dirty, "grp", filesPerPartition = 1)
    }
    assert(exPart.getMessage.contains("v_small"), exPart.getMessage)
    val exMerge = intercept[IllegalArgumentException] {
      CommitLog.merge(spark, root, dirty, "k", nInsertFiles = 1)
    }
    assert(exMerge.getMessage.contains("v_small"), exMerge.getMessage)
    assert(CommitLog.latestVersion(root).get === head0,
      "a rejected write must publish no version")

    // NULL checks pass (three-valued CHECK), and UNSET lifts the gate
    CommitLog.appendPartitioned(spark, root,
      Seq((4L, "a", Option.empty[Double])).toDF("k", "grp", "v"),
      "grp", filesPerPartition = 1)
    spark.sql(s"ALTER TABLE $cat.c UNSET TBLPROPERTIES ('constraint.v_small')")
    CommitLog.appendPartitioned(spark, root, dirty, "grp", filesPerPartition = 1)
    assert(spark.sql(s"SELECT * FROM $cat.c").count() === 4)
  }

  test("catalog: ALTER TABLE RENAME/DROP COLUMN are metadata-only; mapped scans read physical files (r10)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    CommitLog.append(spark, root, ev, nFiles = 2)
    val filesBefore = CommitLog.snapshotFiles(root, 0L).toSet
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN value TO amount")
    // metadata-only: no new data files
    assert(CommitLog.snapshotFiles(root,
      CommitLog.latestVersion(root).get).toSet === filesBefore)
    // the DSv2 scan resolves logical 'amount' from physical 'value'
    val got = spark.sql(s"SELECT SUM(CAST(amount AS DECIMAL(18,4))) AS s FROM $cat.t")
      .collect()(0).getDecimal(0)
    val want = ev.agg(sum(col("value").cast("decimal(18,4)"))).collect()(0).getDecimal(0)
    assert(got.compareTo(want) === 0, s"$got != $want")
    // the old name is gone from the head schema
    val exOld = intercept[Exception] {
      spark.sql(s"SELECT value FROM $cat.t").collect()
    }
    assert(exOld.getMessage.contains("value"), exOld.getMessage)
    // ... but VERSION AS OF 0 still reads it (schema is versioned)
    assert(spark.sql(s"SELECT value FROM $cat.t VERSION AS OF 0").count() === ev.count())
    // INSERT INTO after the rename writes PHYSICAL files: a fresh scan
    // still aggregates both eras coherently
    spark.sql(
      s"INSERT INTO $cat.t SELECT event_id, event_type, amount FROM $cat.t VERSION AS OF 1")
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM $cat.t").collect()(0).getLong(0) ===
      2 * ev.count())
    // DROP COLUMN: projection gone at head, intact at older versions
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN event_type")
    assert(!spark.sql(s"SELECT * FROM $cat.t").columns.contains("event_type"))
    assert(spark.sql(s"SELECT event_type FROM $cat.t VERSION AS OF 1").count() === ev.count())
    // physical layer check: head files still store the ORIGINAL names
    val raw = spark.read.parquet(CommitLog.snapshotFiles(root,
      CommitLog.latestVersion(root).get): _*)
    assert(raw.columns.contains("value") && raw.columns.contains("event_type"),
      s"physical names drifted: ${raw.columns.mkString(",")}")
  }

  test("catalog: scans mask deletion vectors; pinned versions see the pre-delete rows (r10)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    CommitLog.append(spark, root, ev, nFiles = 3)
    val (_, nf, nr) =
      CommitLog.deleteMergeOnRead(spark, root, col("user_id") % 4 === 1)
    assert(nf === 3L && nr === ev.filter(col("user_id") % 4 === 1).count())
    // the DSv2 per-file reader must skip the masked row indexes
    val got = spark.sql(
      s"SELECT COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s FROM $cat.t")
      .collect()(0)
    val keep = ev.filter(col("user_id") % 4 =!= 1)
    assert(got.getLong(0) === keep.count())
    assert(math.abs(got.getDouble(1) -
      keep.agg(sum(col("value").cast("decimal(18,4)"))).collect()(0)
        .getDecimal(0).doubleValue()) < 1e-6)
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").count() === ev.count(),
      "pinned version leaked the deletion vectors")
    // row identity, not just counts: no masked row survives, no
    // surviving row was dropped
    val viaCat = spark.sql(s"SELECT event_id, user_id, value FROM $cat.t")
    assert(viaCat.exceptAll(keep).count() === 0 &&
      keep.exceptAll(viaCat).count() === 0,
      "catalog scan rows diverge from the logical delete")
    // statement routing: with enableDeletionVectors, UPDATE goes
    // merge-on-read too — zero rewrites, values still land
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('enableDeletionVectors' = 'true')")
    val upd = spark.sql(
      s"UPDATE $cat.t SET value = value + 9000.0 WHERE user_id % 4 = 2").collect()(0)
    assert(upd.getLong(2) === 0L, s"vectored UPDATE rewrote ${upd.getLong(2)} files")
    assert(spark.sql(s"SELECT * FROM $cat.t WHERE value >= 9000.0").count() ===
      ev.filter(col("user_id") % 4 === 2).count())
  }

  test("catalog: SHOW/SET/UNSET TBLPROPERTIES round-trip the log's properties file") {
    val (cat, base) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.p (k BIGINT)")
    val root = new java.io.File(base, "p").toString
    spark.sql(s"ALTER TABLE $cat.p SET TBLPROPERTIES ('a' = '1', 'b' = 'two')")
    val shown = spark.sql(s"SHOW TBLPROPERTIES $cat.p").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("a").contains("1") && shown.get("b").contains("two"), shown.toString)
    spark.sql(s"ALTER TABLE $cat.p UNSET TBLPROPERTIES ('a')")
    assert(CommitLog.tableProperties(root) === Map("b" -> "two"))
    // DESCRIBE HISTORY on a non-graft identifier delegates to Spark
    val ex = intercept[Exception] {
      spark.sql("DESCRIBE HISTORY not_a_catalog.t").collect()
    }
    assert(!ex.getMessage.contains("graft"), ex.getMessage)
  }

  test("parser: MERGE INTO with a composite ON key routes to mergeKeyed (r11)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .limit(800)
    CommitLog.append(spark, root, ev, nFiles = 2)
    // replace every (event_type, user_id) group's rows... the merge is
    // row-level, so key on the composite (event_id, event_type) pair —
    // event_id alone is unique, so a MATCH requires BOTH columns to
    // line up: rows re-keyed on event_type must NOT match
    val ups = ev.limit(60).withColumn("value", lit(-5.0))
      .unionByName(ev.limit(10)
        .withColumn("event_type", lit("composite_fresh"))
        .withColumn("value", lit(-9.0)))
    ups.createOrReplaceTempView("catspec_ck_src")
    val r = spark.sql(
      s"""MERGE INTO $cat.t t USING catspec_ck_src s
        |ON t.event_id = s.event_id AND t.event_type = s.event_type
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()(0)
    assert(r.getLong(0) === 1L)
    // matched pairs replaced; the re-typed rows did NOT match their
    // event_id twins (second key column differs) and inserted instead
    assert(spark.sql(s"SELECT * FROM $cat.t WHERE value = -5.0").count() === 60)
    assert(spark.sql(
      s"SELECT * FROM $cat.t WHERE event_type = 'composite_fresh'").count() === 10)
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === ev.count() + 10)
    // mismatched qualifiers still refuse by name
    val ex = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $cat.t t USING catspec_ck_src s
          |ON t.event_id = s.user_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(ex.getMessage.contains("shared column"), ex.getMessage)
  }

  test("parser: multi-agg materialized view accepts AVG + any family order/subset, rejects the rest (r12)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    CommitLog.append(spark, root, Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(100), nFiles = 1)
    // r12 (VERDICT item 2): AVG is derivable (total/nv) so the
    // statement surface accepts it — reordered and as a SUBSET of the
    // canonical family; the engine still materializes the full family
    // (maintenance needs it) plus the derived avg_<m> column
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $cat.v AS
        |SELECT user_id, COUNT(*) AS n,
        |  AVG(value) AS avg_value, SUM(value) AS total_value
        |FROM $cat.t GROUP BY user_id""".stripMargin)
    val v = spark.sql(s"SELECT * FROM $cat.v")
    assert(v.columns.contains("avg_value"), v.columns.mkString(","))
    // the derived column IS total/nv over the exact decimal total
    val bad = v.filter(col("nv_value") > 0 &&
      col("avg_value") =!=
        col("total_value").cast("double") / col("nv_value"))
    assert(bad.isEmpty, "avg_value diverges from total/nv")
    // a genuinely unsupported aggregate (MEDIAN — not distributive,
    // not derivable from maintained state) still FAILS the statement
    // — silently creating the view without the requested column
    // would be worse than refusing. (STDDEV maintains since r14 —
    // see the sample-forms test.)
    val ex = intercept[Exception] {
      spark.sql(
        s"""CREATE MATERIALIZED VIEW $cat.v2 AS
          |SELECT user_id, COUNT(*) AS n,
          |  SUM(value) AS total_value, MEDIAN(value) AS med_value
          |FROM $cat.t GROUP BY user_id""".stripMargin)
    }
    assert(ex.getMessage.contains("unsupported aggregates"), ex.getMessage)
    // a mis-aliased canonical aggregate refuses by name too
    val ex2 = intercept[Exception] {
      spark.sql(
        s"""CREATE MATERIALIZED VIEW $cat.v3 AS
          |SELECT user_id, COUNT(*) AS n, SUM(value) AS total_wrong
          |FROM $cat.t GROUP BY user_id""".stripMargin)
    }
    assert(ex2.getMessage.contains("canonical aliases") ||
      ex2.getMessage.contains("unsupported aggregates"), ex2.getMessage)
  }

  test("SQL join view: dim advance with CDF propagates through REFRESH; AVG accepted in the JOIN form (r12)") {
    import graft.sources.CommitLog
    val (cat, base) = freshCatalog()
    val factRoot = new java.io.File(base, "f").toString
    val dimRoot = new java.io.File(base, "d").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(600)
    CommitLog.setTableProperty(factRoot, "enableChangeDataFeed", "true")
    CommitLog.setTableProperty(dimRoot, "enableChangeDataFeed", "true")
    CommitLog.append(spark, factRoot, ev, nFiles = 1)
    CommitLog.append(spark, dimRoot, ev.select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("s"), (col("user_id") % 3).cast("string"))),
      nFiles = 1)
    // the JOIN statement form with AVG + a family subset (r12)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $cat.v AS
        |SELECT segment, COUNT(*) AS n,
        |  AVG(value) AS avg_value, SUM(value) AS total_value
        |FROM $cat.f JOIN $cat.d ON f.user_id = d.user_id
        |GROUP BY segment""".stripMargin)
    assert(spark.sql(s"SELECT * FROM $cat.v").columns.contains("avg_value"))
    // the dim advances (SCD remap) — REFRESH folds Δdim exactly
    spark.sql(s"UPDATE $cat.d SET segment = 's_remap' WHERE user_id % 4 = 1")
    spark.sql(s"REFRESH MATERIALIZED VIEW $cat.v")
    val got = spark.sql(s"SELECT * FROM $cat.v")
    val want = spark.sql(
      s"""SELECT segment, COUNT(*) AS n, COUNT(value) AS nv_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total_value,
        |  MIN(value) AS mn_value, MAX(value) AS mx_value,
        |  CASE WHEN COUNT(value) > 0 THEN
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4))
        |      AS DOUBLE) / COUNT(value) END AS avg_value
        |FROM $cat.f JOIN $cat.d ON f.user_id = d.user_id
        |GROUP BY segment""".stripMargin)
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "SQL REFRESH after a dim advance diverges from recompute")
    assert(got.filter(col("segment") === "s_remap").count() === 1L)
  }

  test("generated columns: omitted fills, supplied validates, divergence fails the write by name (r12)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_gcol_t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(300)
    CommitLog.setTableProperty(root, "generated.day", "event_id % 7")
    // omitted → computed
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    val v0 = CommitLog.read(spark, root, 0L)
    assert(v0.columns.contains("day"))
    assert(v0.filter(!(col("day") <=> expr("event_id % 7"))).count() === 0)
    // supplied-and-matching → validated, accepted
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 =!= 0)
      .withColumn("day", expr("event_id % 7")), nFiles = 1)
    // supplied-and-DIVERGENT → the write fails by name, nothing lands
    val headBefore = CommitLog.latestVersion(root).get
    val ex = intercept[IllegalArgumentException] {
      CommitLog.append(spark, root,
        ev.limit(5).withColumn("day", lit(99L)), nFiles = 1)
    }
    assert(ex.getMessage.contains("generated column 'day'"), ex.getMessage)
    assert(CommitLog.latestVersion(root).get === headBefore,
      "a rejected generated-column write must not publish")
  }

  test("table_changes accepts timestamp string bounds; VACUUM DRY RUN deletes nothing (r12)") {
    import graft.sources.{CommitLog, Tables}
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(300)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 0), nFiles = 1)
    Thread.sleep(30)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 1), nFiles = 1)
    Thread.sleep(30)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 3 === 2), nFiles = 1)
    // timestamp bounds resolve through versionAtTime: FROM at v1's
    // commit instant means "changes since the v1 snapshot" = v2 only
    val ts1 = CommitLog.historySummaries(root)._1.find(_.version == 1L)
      .flatMap(_.ts).get
    val fmt = java.time.Instant.ofEpochMilli(ts1).toString
    val viaTs = spark.sql(
      s"SELECT * FROM table_changes('$cat.t', '$fmt', 2)")
    val viaVer = spark.sql(s"SELECT * FROM table_changes('$cat.t', 1, 2)")
    assert(viaTs.exceptAll(viaVer).count() === 0 &&
      viaVer.exceptAll(viaTs).count() === 0,
      "timestamp FROM must resolve to the version-at-instant bound")
    // a garbage bound refuses by name
    val ex = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$cat.t', 'not-a-time', 2)").collect()
    }
    assert(ex.getMessage.contains("neither a version number nor a timestamp"),
      ex.getMessage)
    // VACUUM DRY RUN reports what a real vacuum would do, removes
    // nothing — a compaction first, so the pre-compaction files are
    // referenced only by older versions (appends alone carry every
    // file forward and leave nothing droppable)
    CommitLog.compact(spark, root, nFiles = 1)
    val filesBefore = Option(new java.io.File(root, "data").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    val dry = spark.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS DRY RUN").collect()(0)
    assert(dry.getLong(0) > 0L, "retaining 1 of 3 versions must have droppable files")
    val filesAfterDry = Option(new java.io.File(root, "data").listFiles())
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(filesAfterDry === filesBefore, "DRY RUN must not delete")
    // and the real vacuum removes exactly what the dry run predicted
    val real = spark.sql(s"VACUUM $cat.t RETAIN 1 VERSIONS").collect()(0)
    assert(real.getLong(0) === dry.getLong(0) &&
      real.getLong(1) === dry.getLong(1),
      s"dry-run prediction ${dry} diverges from the real vacuum ${real}")
  }

  test("ALTER COLUMN TYPE widens through the catalog, off-lattice refuses (r12)") {
    import graft.sources.CommitLog
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(300)
    CommitLog.appendEvolved(spark, root,
      ev.select(col("event_id").cast("int").as("event_id"),
        col("value").cast("float").as("value")), nFiles = 1)
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN event_id TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN value TYPE DOUBLE")
    val got = spark.sql(s"SELECT * FROM $cat.t")
    assert(got.schema("event_id").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(got.schema("value").dataType ===
      org.apache.spark.sql.types.DoubleType)
    // the narrow files read natively under the widened schema, and a
    // wide INSERT now lands
    assert(got.count() === 300)
    spark.sql(s"INSERT INTO $cat.t SELECT event_id + 10000000, " +
      s"CAST(value AS DOUBLE) FROM (SELECT * FROM $cat.t LIMIT 10)")
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === 310)
    // off-lattice refuses by name
    val ex = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN value TYPE STRING")
    }
    assert(ex.getMessage.contains("not a widening") ||
      ex.getMessage.contains("never retypes"), ex.getMessage)
  }

  test("parser: RESTORE/VACUUM/OPTIMIZE on non-graft identifiers delegate verbatim (r11, ADVICE)") {
    // each maintenance statement on an unregistered identifier must
    // fall through to Spark's parser (whose syntax error owns the
    // message) — never fail inside the graft command's catalog
    // resolution. This is what lets the extension COEXIST with another
    // extension (e.g. Delta) that owns the same statements: unmatched
    // identifiers reach the next parser untouched.
    Seq(
      "RESTORE TABLE nocatalog.t TO VERSION AS OF 0",
      "VACUUM nocatalog.t RETAIN 1 VERSIONS",
      "VACUUM nocatalog.t RETAIN 2 HOURS",
      "OPTIMIZE nocatalog.t ZORDER BY (a, b)").foreach { stmt =>
      val ex = intercept[Exception] { spark.sql(stmt).collect() }
      assert(!ex.getMessage.contains("graft catalog"),
        s"'$stmt' failed inside the graft command instead of delegating: ${ex.getMessage}")
    }
  }

  test("MV statement: STDDEV_POP/VAR_POP maintain; sample forms derive at read (r14); FILTER and DISTINCT refuse by name") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    CommitLog.append(spark, root, ev, nFiles = 2)
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $cat.v AS
        |SELECT event_type, COUNT(*) AS n,
        |  STDDEV_POP(value) AS std_value, SUM(value) AS total_value
        |FROM $cat.t GROUP BY event_type""".stripMargin)
    // the full DML mix, then ONE refresh — the folded std/var equal a
    // recompute through the shared derivation
    spark.sql(s"DELETE FROM $cat.t WHERE user_id % 7 = 3")
    spark.sql(s"UPDATE $cat.t SET value = value + 1000.0 WHERE user_id % 4 = 2")
    spark.sql(s"REFRESH MATERIALIZED VIEW $cat.v")
    val view = spark.sql(s"SELECT event_type, std_value, var_value FROM $cat.v")
    val want = spark.sql(
      s"""SELECT event_type,
        |  CASE WHEN nv > 0 THEN SQRT(GREATEST(
        |    CAST(ss AS DOUBLE) / nv -
        |    (CAST(total AS DOUBLE) / nv) * (CAST(total AS DOUBLE) / nv),
        |    0.0D)) END AS std_value,
        |  CASE WHEN nv > 0 THEN GREATEST(
        |    CAST(ss AS DOUBLE) / nv -
        |    (CAST(total AS DOUBLE) / nv) * (CAST(total AS DOUBLE) / nv),
        |    0.0D) END AS var_value
        |FROM (SELECT event_type, COUNT(value) AS nv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
        |      AS DECIMAL(38,8)) AS ss
        |  FROM $cat.t GROUP BY event_type)""".stripMargin)
    assert(view.exceptAll(want).count() === 0 && want.exceptAll(view).count() === 0,
      "maintained STDDEV_POP/VAR_POP diverge from the recompute derivation")
    // sanity: the derived std is the plain STDDEV_POP up to double noise
    val approx = spark.sql(
      s"SELECT event_type, STDDEV_POP(value) AS sp FROM $cat.t GROUP BY event_type")
    val joined = view.join(approx, Seq("event_type"))
      .filter(abs(col("std_value") - col("sp")) > lit(1e-6) * abs(col("sp")))
    assert(joined.count() === 0, "derived std is not the population stddev")
    // negative surface: each refusal names the offending construct
    def refuse(aggs: String, needle: String): Unit = {
      val ex = intercept[Exception] {
        spark.sql(s"""CREATE MATERIALIZED VIEW $cat.vneg AS
          |SELECT event_type, COUNT(*) AS n, $aggs
          |FROM $cat.t GROUP BY event_type""".stripMargin).collect()
      }
      assert(ex.getMessage.contains("unsupported aggregates remain") &&
        ex.getMessage.contains(needle),
        s"expected a named refusal carrying '$needle': ${ex.getMessage}")
    }
    refuse("SUM(DISTINCT value) AS total_value, MIN(value) AS mn_value", "DISTINCT")
    refuse("SUM(value) FILTER (WHERE value > 0) AS total_value, MIN(value) AS mn_value", "FILTER")
    // SAMPLE forms maintain since r14 (VERDICT item 3): STDDEV /
    // STDDEV_SAMP / VARIANCE / VAR_SAMP derive AT READ from the SAME
    // (total, ss, nv) triple with the n/(n−1) Bessel factor — no new
    // folded state; the r13 refusals flip to positives with the
    // exact-derivation pin
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $cat.vs AS
        |SELECT event_type, COUNT(*) AS n,
        |  STDDEV(value) AS stds_value, VAR_SAMP(value) AS vars_value,
        |  SUM(value) AS total_value
        |FROM $cat.t GROUP BY event_type""".stripMargin)
    spark.sql(s"DELETE FROM $cat.t WHERE user_id % 5 = 1")
    spark.sql(s"UPDATE $cat.t SET value = value + 250.0 WHERE user_id % 6 = 4")
    spark.sql(s"REFRESH MATERIALIZED VIEW $cat.vs")
    val viewS = spark.sql(s"SELECT event_type, stds_value, vars_value FROM $cat.vs")
    val wantS = spark.sql(
      s"""SELECT event_type,
        |  CASE WHEN nv > 1 THEN SQRT(GREATEST(
        |    CAST(ss AS DOUBLE) / nv -
        |    (CAST(total AS DOUBLE) / nv) * (CAST(total AS DOUBLE) / nv),
        |    0.0D) * CAST(nv AS DOUBLE) / CAST(nv - 1 AS DOUBLE)) END AS stds_value,
        |  CASE WHEN nv > 1 THEN GREATEST(
        |    CAST(ss AS DOUBLE) / nv -
        |    (CAST(total AS DOUBLE) / nv) * (CAST(total AS DOUBLE) / nv),
        |    0.0D) * CAST(nv AS DOUBLE) / CAST(nv - 1 AS DOUBLE) END AS vars_value
        |FROM (SELECT event_type, COUNT(value) AS nv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
        |      AS DECIMAL(38,8)) AS ss
        |  FROM $cat.t GROUP BY event_type)""".stripMargin)
    assert(viewS.exceptAll(wantS).count() === 0 &&
      wantS.exceptAll(viewS).count() === 0,
      "maintained sample STDDEV/VAR diverge from the n/(n−1) recompute derivation")
    // sanity: the derived sample std is Spark's STDDEV up to noise
    val approxS = spark.sql(
      s"SELECT event_type, STDDEV(value) AS sp FROM $cat.t GROUP BY event_type")
    val joinedS = viewS.join(approxS, Seq("event_type"))
      .filter(abs(col("stds_value") - col("sp")) > lit(1e-6) * abs(col("sp")))
    assert(joinedS.count() === 0, "derived stds is not the sample stddev")
  }

  test("OPTIMIZE MIGRATE LAYOUT converges an evolved table through SQL (r13)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
    // evolve the spec for future statements: repartitionLayout gates
    // the CommitLog evolution, partitionColumn routes the DSv2 INSERT
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES " +
      "('repartitionLayout' = 'day', 'partitionColumn' = 'day')")
    ev.filter(col("event_id") % 2 === 1).createOrReplaceTempView("pe_odd_src")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM pe_odd_src")
    // bounded statement runs converge the old generation
    val r1 = spark.sql(s"OPTIMIZE $cat.t MIGRATE LAYOUT LIMIT 3").collect()(0)
    assert(r1.getLong(1) === 3L && r1.getLong(2) === 2L,
      s"first run: migrated ${r1.getLong(1)}, left ${r1.getLong(2)}")
    val r2 = spark.sql(s"OPTIMIZE $cat.t MIGRATE LAYOUT").collect()(0)
    assert(r2.getLong(1) === 2L && r2.getLong(2) === 0L)
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === ev.count(),
      "migration must be data-neutral through the statement too")
    // a converged table: the statement is a no-op
    val r3 = spark.sql(s"OPTIMIZE $cat.t MIGRATE LAYOUT").collect()(0)
    assert(r3.getLong(1) === 0L && r3.getLong(2) === 0L)
  }

  test("generated columns enforce on EVERY write path — evolved append, overwrite, merge, update (r13, ADVICE)") {
    import graft.sources.{CommitLog, Tables}
    val root = java.nio.file.Files.createTempDirectory("graft_gcol_all").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(300)
    CommitLog.setTableProperty(root, "generated.day", "event_id % 7")
    // appendEvolved omitting the column → computed
    CommitLog.appendEvolved(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    val v0 = CommitLog.read(spark, root, 0L)
    assert(v0.columns.contains("day"), "appendEvolved must fill the generated column")
    assert(v0.filter(!(col("day") <=> expr("event_id % 7"))).count() === 0)
    // overwrite omitting → computed; divergent supplied → fails by name
    CommitLog.overwrite(spark, root, ev.filter(col("event_id") % 2 =!= 0), nFiles = 1)
    val v1 = CommitLog.read(spark, root, 1L)
    assert(v1.filter(!(col("day") <=> expr("event_id % 7"))).count() === 0,
      "overwrite must fill the generated column")
    val exOw = intercept[IllegalArgumentException] {
      CommitLog.overwrite(spark, root, ev.limit(5).withColumn("day", lit(99L)), nFiles = 1)
    }
    assert(exOw.getMessage.contains("generated column 'day'"), exOw.getMessage)
    // mergeKeyed: omitted on the update/insert images → computed on
    // every landed row (survivors keep their already-valid values)
    val ups = ev.filter(col("event_id") % 10 === 1)
      .withColumn("value", col("value") + lit(500.0))
    CommitLog.mergeKeyed(spark, root, ups, Seq("event_id"), nInsertFiles = 1)
    val vm = CommitLog.read(spark, root, CommitLog.latestVersion(root).get)
    assert(vm.filter(!(col("day") <=> expr("event_id % 7"))).count() === 0,
      "merge must fill the generated column on update/insert rows")
    // update: SET on the generated column refuses by name; SET on a
    // SOURCE column recomputes the derived value — never a stale one
    val exUp = intercept[IllegalArgumentException] {
      CommitLog.update(spark, root, col("value") > 0, Seq("day" -> lit(3L)))
    }
    assert(exUp.getMessage.contains("GENERATED"), exUp.getMessage)
    // +71 is NOT a multiple of 7: a stale (un-recomputed) day value
    // cannot accidentally satisfy the invariant below
    val someId = vm.select(col("event_id")).limit(1).collect()(0).getLong(0)
    CommitLog.update(spark, root, col("event_id") === someId,
      Seq("event_id" -> (col("event_id") + lit(71L))))
    val vu = CommitLog.read(spark, root, CommitLog.latestVersion(root).get)
    assert(vu.filter(!(col("day") <=> expr("event_id % 7"))).count() === 0,
      "update must recompute the generated column from the post-image")
    assert(vu.filter(col("event_id") === someId).count() === 0L,
      "the updated row must carry its new event_id")
    assert(vu.filter(col("event_id") === someId + 71L).count() >= 1L)
    // merge-on-read update: same refusal contract
    val exMor = intercept[IllegalArgumentException] {
      CommitLog.updateMergeOnRead(spark, root, col("value") > 0, Seq("day" -> lit(3L)))
    }
    assert(exMor.getMessage.contains("GENERATED"), exMor.getMessage)
  }

  test("INSERT INTO with a column list: omitted generated column COMPUTES; explicit NULL fails by name (r13)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(200)
    CommitLog.setTableProperty(root, "generated.day", "event_id % 7")
    CommitLog.append(spark, root, ev, nFiles = 1) // fills day
    val n0 = spark.sql(s"SELECT * FROM $cat.t").count()
    // the statement's column list omits `day` → it computes (Spark's
    // own analysis would have null-filled it before the V1 writer)
    spark.sql(s"INSERT INTO $cat.t (event_id, value) VALUES (7000001, 1.5), (7000002, 2.5)")
    val got = spark.sql(s"SELECT event_id, day FROM $cat.t WHERE event_id >= 7000000")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(7000001L -> (7000001L % 7), 7000002L -> (7000002L % 7)),
      s"omitted generated column must compute, got $got")
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === n0 + 2)
    // a SELECT-form insert computes too
    spark.sql(s"INSERT INTO $cat.t (event_id, value) " +
      s"SELECT event_id + 8000000, value FROM $cat.t WHERE event_id < 7000000 LIMIT 5")
    assert(spark.sql(
      s"SELECT COUNT(*) FROM $cat.t WHERE event_id >= 8000000 AND day <> event_id % 7")
      .collect()(0).getLong(0) === 0L)
    // supplying the column delegates to the normal path: an explicit
    // NULL (or wrong value) fails VALIDATION by name, nothing lands
    val headBefore = CommitLog.latestVersion(root).get
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t (event_id, value, day) VALUES (7000003, 3.5, NULL)")
    }
    assert(ex.getMessage.contains("generated column 'day'"), ex.getMessage)
    assert(CommitLog.latestVersion(root).get === headBefore,
      "a rejected generated-column INSERT must not publish")
  }

  test("CREATE TABLE ... TBLPROPERTIES declares the whole column contract in one statement (r13)") {
    val (cat, base) = freshCatalog()
    // '''ingest''' is SQL quote-doubling: the property VALUE is the
    // expression 'ingest' (a string literal for the default kernel)
    spark.sql(
      s"""CREATE TABLE $cat.t (
        |  event_id BIGINT, value DOUBLE, src STRING,
        |  day BIGINT, row_id BIGINT)
        |TBLPROPERTIES (
        |  'generated.day' = 'event_id % 7',
        |  'identity.row_id' = '100,1',
        |  'default.src' = '''ingest''',
        |  'constraint.pos_id' = 'event_id > 0')""".stripMargin)
    // one INSERT omitting every computed column: identity allocates,
    // generated derives, default fills
    spark.sql(s"INSERT INTO $cat.t (event_id, value) VALUES (15, 1.5), (22, 2.5)")
    val rows = spark.sql(
      s"SELECT event_id, day, row_id, src FROM $cat.t ORDER BY event_id")
      .collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(3))).toSeq ===
      Seq((15L, 1L, "ingest"), (22L, 1L, "ingest")))
    assert(rows.map(_.getLong(2)).sorted.toSeq === Seq(100L, 101L))
    // the CHECK constraint persisted too: a violating insert refuses
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t (event_id, value) VALUES (-3, 1.0)")
    }
    assert(ex.getMessage.contains("pos_id") ||
      ex.getMessage.contains("constraint"), ex.getMessage)
  }

  test("DEFAULT fills omission through SQL; IDENTITY allocates through SQL and refuses the retry path (r13)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(100)
    CommitLog.setTableProperty(root, "default.source", "'backfill'")
    CommitLog.setTableProperty(root, "identity.row_id", "1,1")
    CommitLog.append(spark, root, ev, nFiles = 1)
    val n0 = ev.count()
    // the INSERT column list omits source AND row_id: the default
    // fills, the identity allocates continuing from the mark
    spark.sql(s"INSERT INTO $cat.t (event_id, value) VALUES (9000001, 1.5)")
    val r = spark.sql(
      s"SELECT source, row_id FROM $cat.t WHERE event_id = 9000001").collect()(0)
    assert(r.getString(0) === "backfill")
    assert(r.getLong(1) === n0 + 1,
      s"identity must continue from the mark: ${r.getLong(1)} vs ${n0 + 1}")
    // a DEFAULT referencing other columns refuses by name
    CommitLog.setTableProperty(root, "default.bad", "event_id + 1")
    val exBad = intercept[IllegalArgumentException] {
      CommitLog.append(spark, root, ev.limit(1), nFiles = 1)
    }
    assert(exBad.getMessage.contains("generated.<col>"), exBad.getMessage)
    CommitLog.removeTableProperty(root, "default.bad")
    // the optimistic-retry ingest path allocates too (r14 — the
    // single-writer refusal is gone): ids continue from the mark
    CommitLog.appendWithRetry(spark, root,
      ev.limit(5).withColumn("event_id", col("event_id") + 9200000L),
      nFiles = 1)
    val idsRetry = spark.sql(s"SELECT row_id FROM $cat.t")
      .collect().map(_.getLong(0))
    assert(idsRetry.length === idsRetry.distinct.length,
      "retry-path append overlapped an identity block")
    assert(idsRetry.max === n0 + 1 + 5,
      s"retry-path allocation must continue from the mark: ${idsRetry.max}")
    // the mark survives a compaction: ids after it continue, no reuse
    CommitLog.compact(spark, root, nFiles = 1)
    CommitLog.append(spark, root, ev.limit(4)
      .withColumn("event_id", col("event_id") + 9100000L), nFiles = 1)
    val ids = spark.sql(s"SELECT row_id FROM $cat.t")
      .collect().map(_.getLong(0))
    assert(ids.length === ids.distinct.length,
      "id reuse after compaction — the mark was not carried")
    assert(ids.max === n0 + 1 + 5 + 4)
  }

  test("SQL MERGE INTO an identity table: matched rows keep ids, inserts allocate, the CDC statement path composes (r14)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(100)
    CommitLog.setTableProperty(root, "identity.row_id", "1,1")
    CommitLog.append(spark, root, ev, nFiles = 2)
    val n0 = ev.count()
    val before = spark.sql(s"SELECT event_id, row_id FROM $cat.t")
      .withColumnRenamed("row_id", "id_before").localCheckpoint()
    // the statement's source OMITS row_id: 10 matched updates keep
    // their recovered ids, 5 inserts allocate the next block — the
    // identity contract holds through the SQL front-end verbatim
    ev.limit(10).withColumn("value", col("value") + lit(500.0))
      .unionByName(ev.limit(5)
        .withColumn("event_id", col("event_id") + 9000000L))
      .localCheckpoint()
      .createOrReplaceTempView("id_merge_src")
    spark.sql(s"""MERGE INTO $cat.t t USING id_merge_src s
      |ON t.event_id = s.event_id
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val after = spark.sql(s"SELECT event_id, row_id FROM $cat.t")
    assert(after.join(before, Seq("event_id"))
      .filter(col("row_id") =!= col("id_before")).count() === 0,
      "matched rows must keep their identity through SQL MERGE")
    val ids = after.select(col("row_id")).collect().map(_.getLong(0)).sorted
    assert(ids.length === n0 + 5 && ids.distinct.length === ids.length)
    assert(ids.head === 1L && ids.last === n0 + 5)
  }

  test("SQL JOIN view accepts sample-variance forms; derivation exact through REFRESH (r14)") {
    val (cat, base) = freshCatalog()
    val fRoot = new java.io.File(base, "f").toString
    val dRoot = new java.io.File(base, "d").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    CommitLog.append(spark, fRoot, ev, nFiles = 2)
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("segment",
        concat(lit("seg_"), (col("user_id") % 4).cast("string")))
    CommitLog.append(spark, dRoot, dim, nFiles = 1)
    spark.sql(s"ALTER TABLE $cat.f SET TBLPROPERTIES ('enableChangeDataFeed' = 'true')")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $cat.v AS
        |SELECT segment, COUNT(*) AS n,
        |  STDDEV_SAMP(value) AS stds_value, SUM(value) AS total_value
        |FROM $cat.f JOIN $cat.d ON f.user_id = d.user_id
        |GROUP BY segment""".stripMargin)
    spark.sql(s"DELETE FROM $cat.f WHERE user_id % 6 = 2")
    spark.sql(s"UPDATE $cat.f SET value = value + 300.0 WHERE user_id % 5 = 3")
    spark.sql(s"REFRESH MATERIALIZED VIEW $cat.v")
    val view = spark.sql(s"SELECT segment, stds_value FROM $cat.v")
    val want = spark.sql(
      s"""SELECT segment,
        |  CASE WHEN nv > 1 THEN SQRT(GREATEST(
        |    CAST(ss AS DOUBLE) / nv -
        |    (CAST(total AS DOUBLE) / nv) * (CAST(total AS DOUBLE) / nv),
        |    0.0D) * CAST(nv AS DOUBLE) / CAST(nv - 1 AS DOUBLE)) END AS stds_value
        |FROM (SELECT segment, COUNT(value) AS nv,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS total,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
        |      AS DECIMAL(38,8)) AS ss
        |  FROM $cat.f JOIN $cat.d ON f.user_id = d.user_id
        |  GROUP BY segment)""".stripMargin)
    assert(view.exceptAll(want).count() === 0 &&
      want.exceptAll(view).count() === 0,
      "JOIN-view sample stddev diverges from the Bessel recompute derivation")
  }

  test("CREATE TABLE column-definition clauses: IDENTITY / GENERATED AS / DEFAULT round-trip to the property encoding (r14)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    // the ANSI/Delta one-statement shape — parsed down to the
    // existing TBLPROPERTIES encoding, kernels untouched
    spark.sql(
      s"""CREATE TABLE $cat.t (
        |  event_id BIGINT,
        |  value DOUBLE,
        |  row_id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 2),
        |  day BIGINT GENERATED ALWAYS AS (event_id % 7),
        |  src STRING DEFAULT 'x')
        |TBLPROPERTIES ('constraint.pos_id' = 'event_id > 0')""".stripMargin)
    assert(CommitLog.tableProperty(root, "identity.row_id") === Some("1000,2"))
    assert(CommitLog.tableProperty(root, "generated.day") === Some("event_id % 7"))
    assert(CommitLog.tableProperty(root, "default.src") === Some("'x'"))
    assert(CommitLog.tableProperty(root, "constraint.pos_id") === Some("event_id > 0"))
    // the declared columns stay IN the schema
    assert(spark.sql(s"SELECT * FROM $cat.t").schema.fieldNames.toSeq ===
      Seq("event_id", "value", "row_id", "day", "src"))
    // one INSERT omitting every computed column: identity allocates
    // from the declared start/step, generated derives, default fills
    spark.sql(s"INSERT INTO $cat.t (event_id, value) VALUES (15, 1.5), (22, 2.5)")
    val rows = spark.sql(
      s"SELECT event_id, row_id, day, src FROM $cat.t ORDER BY event_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq ===
      Seq((15L, 1L, "x"), (22L, 1L, "x")))
    assert(rows.map(_.getLong(1)).sorted.toSeq === Seq(1000L, 1002L),
      "identity must allocate from the declared START WITH / INCREMENT BY")
    // bare IDENTITY takes the 1,1 defaults
    spark.sql(s"CREATE TABLE $cat.t2 (k BIGINT, id BIGINT GENERATED ALWAYS AS IDENTITY)")
    assert(CommitLog.tableProperty(
      new java.io.File(base, "t2").toString, "identity.id") === Some("1,1"))
    // the statement-declared CHECK constraint enforces
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t (event_id, value) VALUES (-3, 1.0)")
    }
    assert(ex.getMessage.contains("pos_id") ||
      ex.getMessage.contains("constraint"), ex.getMessage)
    // a plain CREATE TABLE (no trio clause) still delegates to the
    // V2 catalog path untouched
    spark.sql(s"CREATE TABLE $cat.t3 (k BIGINT, v STRING)")
    assert(spark.sql(s"SELECT * FROM $cat.t3").count() === 0L)
  }

  test("INSERT column list resolves case-insensitively on computed-column tables (r14, ADVICE)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value")).limit(50)
    CommitLog.setTableProperty(root, "default.src", "'ingest'")
    CommitLog.setTableProperty(root, "identity.row_id", "5,1")
    CommitLog.append(spark, root, ev, nFiles = 1)
    val n0 = ev.count()
    // Spark SQL resolution is case-insensitive by default — a
    // mixed-case column list must resolve, the omitted computed
    // columns must still compute (before the r14 fix this failed
    // with 'unknown column' once the table gained a computed column)
    spark.sql(s"INSERT INTO $cat.t (EVENT_ID, Value) VALUES (7654321, 2.5)")
    val r = spark.sql(
      s"SELECT src, row_id FROM $cat.t WHERE event_id = 7654321").collect()(0)
    assert(r.getString(0) === "ingest", "default must fill the omission")
    assert(r.getLong(1) === 4L + n0 + 1,
      s"identity must continue from the mark: ${r.getLong(1)}")
  }

  test("MERGE refuses multiple source rows matching one target row; unmatched duplicates insert (r13, ADVICE)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "t").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value")).limit(400)
    CommitLog.append(spark, root, ev, nFiles = 2)
    val n0 = spark.sql(s"SELECT * FROM $cat.t").count()
    // two update images for one MATCHED key → the statement fails,
    // nothing publishes (a pinned key, not limit(1) — the duplicate
    // must be the SAME key deterministically)
    val k = ev.agg(min(col("event_id"))).collect()(0).getLong(0)
    val one = ev.filter(col("event_id") === k)
    val dupMatched = one.withColumn("value", lit(1.0))
      .unionByName(one.withColumn("value", lit(2.0)))
      .unionByName(ev.filter(col("event_id") % 10 === 3).withColumn("value", lit(9.0)))
    dupMatched.createOrReplaceTempView("dup_matched_src")
    val headBefore = CommitLog.latestVersion(root).get
    val ex = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t t USING dup_matched_src s
        |ON t.event_id = s.event_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(ex.getMessage.contains("multiple source rows match"), ex.getMessage)
    assert(CommitLog.latestVersion(root).get === headBefore,
      "a refused MERGE must not publish")
    // duplicate UNMATCHED keys stay legal: each image inserts
    val dupUnmatched = one
      .withColumn("event_id", col("event_id") + 900000000L)
      .withColumn("value", lit(1.0))
      .unionByName(one
        .withColumn("event_id", col("event_id") + 900000000L)
        .withColumn("value", lit(2.0)))
    dupUnmatched.createOrReplaceTempView("dup_unmatched_src")
    spark.sql(s"""MERGE INTO $cat.t t USING dup_unmatched_src s
      |ON t.event_id = s.event_id
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(spark.sql(s"SELECT * FROM $cat.t").count() === n0 + 2,
      "unmatched duplicate source keys must both insert")
    // mixed-clause CDC batch carrying op='D' AND op='U' for ONE
    // matched key → fails (no deterministic sequential meaning)
    val cdc = one.withColumn("op", lit("D"))
      .unionByName(one.withColumn("value", lit(5.0))
        .withColumn("op", lit("U")))
    cdc.createOrReplaceTempView("dup_cdc_src")
    val ex2 = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t t USING dup_cdc_src s
        |ON t.event_id = s.event_id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""".stripMargin).collect()
    }
    assert(ex2.getMessage.contains("multiple source rows match"), ex2.getMessage)
  }

  // ------------------------------------------------------------------
  // r15, VERDICT item 2: DSv2 filter pushdown — SQL reads skip files
  // ------------------------------------------------------------------

  test("pushdown: SELECT WHERE on a partition column plans only the surviving files (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "pp").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "event_type", filesPerPartition = 1)
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "event_type", filesPerPartition = 1)
    // 5 event_type values x 2 appends = 10 files
    val q = spark.sql(
      s"SELECT event_id, value FROM $cat.pp WHERE event_type IN ('click', 'purchase')")
    // one RDD partition per planned file: 2 values x 2 appends = 4
    assert(q.rdd.getNumPartitions === 4,
      "the IN probe must plan exactly the 4 matching-partition files")
    val st = graft.sources.GraftScanStats.lastFor(root).get
    assert(st.filesTotal === 10 && st.filesRead === 4, st.toString)
    // exactness: pruned SQL read == full-precision API read
    val want = CommitLog.read(spark, root, CommitLog.latestVersion(root).get)
      .filter(col("event_type").isin("click", "purchase"))
      .agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    val got = q.agg(count(lit(1)), sum(col("event_id"))).collect()(0)
    assert(got === want)
    // equality on the partition column prunes to its 2 files
    val q2 = spark.sql(s"SELECT value FROM $cat.pp WHERE event_type = 'error'")
    assert(q2.rdd.getNumPartitions === 2)
    // a prefix filter prunes by ENUMERATING the recorded groups (r17):
    // 'cl%' matches only the 'click' group — its 2 files plan
    val q3 = spark.sql(s"SELECT value FROM $cat.pp WHERE event_type LIKE 'cl%'")
    assert(q3.rdd.getNumPartitions === 2,
      "a prefix on a layout column must plan only the matching groups")
    assert(q3.count() ===
      ev.filter(col("event_type") === "click").count())
  }

  test("pushdown: declared statsColumns prune range predicates; residuals still run row-level (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "st").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val (q1, q2) = (m / 4, m / 2)
    // the table DECLARES its stats contract once; every append then
    // records typed per-file bounds (the Delta indexed-columns shape)
    spark.sql(s"CREATE TABLE $cat.st (event_id BIGINT, event_type STRING, value DOUBLE) " +
      "TBLPROPERTIES ('statsColumns' = 'event_id')")
    ev.createOrReplaceTempView("pushdown_stats_src")
    Seq(s"event_id <= $q1", s"event_id > $q1 AND event_id <= $q2",
        s"event_id > $q2").foreach { w =>
      spark.sql(s"INSERT INTO $cat.st SELECT * FROM pushdown_stats_src WHERE $w")
    }
    // 3 range-aligned inserts x 2 files = 6 files; the BETWEEN covers
    // exactly the second range -> 2 of 6 files survive
    val q = spark.sql(s"SELECT event_id, value FROM $cat.st " +
      s"WHERE event_id > $q1 AND event_id <= $q2")
    assert(q.rdd.getNumPartitions === 2, "typed stats must prune the SQL scan")
    val st = graft.sources.GraftScanStats.lastFor(root).get
    assert(st.filesTotal === 6 && st.filesRead === 2, st.toString)
    assert(q.count() === ev.filter(col("event_id") > q1 && col("event_id") <= q2).count())
    // the pushed range is file-level ADVISORY: a predicate the stats
    // cannot decide row-exactly still filters rows (residual ran)
    val qe = spark.sql(s"SELECT event_id FROM $cat.st WHERE event_id = ${q1 + 1}")
    assert(qe.count() === ev.filter(col("event_id") === q1 + 1).count())
    assert(qe.rdd.getNumPartitions <= 2, "an equality inside one range reads at most that range")
  }

  test("pushdown: layout and stats probes INTERSECT in one scan (r15, item 6)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "cx").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.setTableProperty(root, "statsColumns", "event_id")
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") <= m / 2), "day", filesPerPartition = 1)
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
    // 7 day values x 2 halves = 14 files. The combined probe keeps
    // ONE file: layout alone keeps 2 (day=3 in both halves), stats
    // alone keeps 7 (all first-half files).
    val q = spark.sql(s"SELECT event_id, value FROM $cat.cx " +
      s"WHERE day = '3' AND event_id <= ${m / 2}")
    assert(q.rdd.getNumPartitions === 1,
      "layout and stats must intersect, not apply singly")
    val st = graft.sources.GraftScanStats.lastFor(root).get
    assert(st.filesTotal === 14 && st.filesRead === 1, st.toString)
    assert(q.count() ===
      ev.filter(col("day") === "3" && col("event_id") <= m / 2).count())
    // the API-level unification sees the same intersection
    val head = CommitLog.latestVersion(root).get
    val (dfC, total, readC) = CommitLog.prunedReadCombined(spark, root, head,
      Seq("day" -> Set("3")),
      Seq(CommitLog.RangeProbe("event_id", None, Some(m / 2))))
    assert(total === 14 && readC === 1)
    assert(dfC.filter(col("day") === "3" && col("event_id") <= m / 2).count() === q.count())
  }

  test("pushdown: runtime filtering (DPP) prunes the fact scan from the dim side (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "rf").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    CommitLog.appendPartitioned(spark, root, ev, "event_type", filesPerPartition = 2)
    // a tiny PARQUET-BACKED dim keeping exactly one event_type: DPP
    // needs a scan-backed filter side (a constant-folded
    // LocalRelation never plants the dynamic-pruning subquery)
    import spark.implicits._
    val dimPath = new java.io.File(base, "rf_dim").toString
    Seq(("click", 1L), ("view", 0L), ("error", 0L), ("signup", 0L),
      ("purchase", 0L)).toDF("event_type", "flag").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rf_dim")
    val q = spark.sql(s"""SELECT f.event_id, f.value FROM $cat.rf f
      JOIN rf_dim d ON f.event_type = d.event_type WHERE d.flag = 1""")
    val nRows = q.count()
    assert(nRows === ev.filter(col("event_type") === "click").count())
    val st = graft.sources.GraftScanStats.lastFor(root).get
    assert(st.filesTotal === 10,
      s"staging must produce 5 values x 2 files: $st")
    // static pushdown cannot see the dim values, so any pruning here
    // came from the RUNTIME filter Spark injected at execution
    assert(st.filesRead === 2,
      s"runtime filtering should keep only the click files: $st")
  }

  test("pushdown: IS NULL keeps the null-sentinel partition; IS NOT NULL prunes all-NULL stat files (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "nl").toString
    import spark.implicits._
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (null, "c"))
      .toDF("k", "v").withColumn("part", when(col("k").isNull, lit(null: String)).otherwise(col("k").cast("string")))
    CommitLog.appendPartitioned(spark, root, df, "part", filesPerPartition = 1)
    // 3 partition files: "1", "2", NULL-sentinel
    val qNull = spark.sql(s"SELECT v FROM $cat.nl WHERE part IS NULL")
    assert(qNull.rdd.getNumPartitions === 1 &&
      qNull.collect().map(_.getString(0)).toSeq === Seq("c"))
    val qNotNull = spark.sql(s"SELECT v FROM $cat.nl WHERE part = '1'")
    assert(qNotNull.rdd.getNumPartitions === 1 &&
      qNotNull.collect().map(_.getString(0)).toSeq === Seq("a"))
  }

  test("MERGE WITH SCHEMA EVOLUTION: adds columns, never retypes; CDC form refuses the clause (r15)") {
    val (cat, base) = freshCatalog()
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    // CREATE records the schema at v0 — the authority the no-clause
    // negative depends on (a raw append to a schema-less dir would
    // have nothing to refuse against)
    spark.sql(s"CREATE TABLE $cat.me (event_id BIGINT, event_type STRING, value DOUBLE)")
    ev.createOrReplaceTempView("me_src_base")
    spark.sql(s"INSERT INTO $cat.me SELECT * FROM me_src_base")
    import spark.implicits._
    // 1. WITHOUT the clause, a new-column source refuses (the log is
    // the schema authority)
    val plus = ev.limit(1).withColumn("event_id", col("event_id") + 900000001L)
      .withColumn("score", lit(1.5))
    plus.createOrReplaceTempView("me_src_plus")
    val ex0 = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.me t USING me_src_plus s
        |ON t.event_id = s.event_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(ex0.getMessage != null)
    // 2. WITH the clause, the same merge widens then lands; the
    // pre-merge rows null-fill the new column
    spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.me t
      |USING me_src_plus s ON t.event_id = s.event_id
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val after = spark.sql(s"SELECT * FROM $cat.me")
    assert(after.columns.contains("score"))
    assert(after.filter(col("score").isNotNull).count() === 1)
    assert(after.count() === ev.count() + 1)
    // 3. a RETYPED existing column still refuses BY NAME
    val retyped = ev.limit(1).withColumn("value", lit("not-a-double"))
      .withColumn("score", lit(2.0))
    retyped.createOrReplaceTempView("me_src_retyped")
    val ex = intercept[Exception] {
      spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.me t
        |USING me_src_retyped s ON t.event_id = s.event_id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(ex.getMessage.contains("value") &&
      ex.getMessage.contains("never retypes"), ex.getMessage)
    // 4. the mixed CDC form refuses the clause outright: its source
    // carries routing markers the table must not absorb
    val cdc = plus.withColumn("op", lit("U"))
    cdc.createOrReplaceTempView("me_src_cdc")
    val ex2 = intercept[Exception] {
      spark.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.me t
        |USING me_src_cdc s ON t.event_id = s.event_id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(ex2.getMessage.contains("canonical upsert form"), ex2.getMessage)
  }

  test("PRUNE ESTIMATE: zero-I/O skipping report, consistent with execution; DETAIL lists stats columns (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "pe").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.setTableProperty(root, "statsColumns", "event_id")
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") <= m / 2), "day", filesPerPartition = 1)
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
    val est = spark.sql(s"PRUNE ESTIMATE $cat.pe " +
      s"WHERE day = '3' AND event_id <= ${m / 2}").collect()(0)
    assert(est.getLong(1) === 14 && est.getLong(2) === 1, est.toString)
    assert(est.getLong(3) >= 2, "both translatable predicates must report as pushed")
    // the estimate matches what execution actually plans
    val q = spark.sql(s"SELECT event_id FROM $cat.pe " +
      s"WHERE day = '3' AND event_id <= ${m / 2}")
    assert(q.rdd.getNumPartitions.toLong === est.getLong(2))
    // a prefix predicate enumerates the recorded groups (r17): the
    // '3' day's 2 files — the estimate agrees with execution
    val est2 = spark.sql(s"PRUNE ESTIMATE $cat.pe WHERE day LIKE '3%'").collect()(0)
    assert(est2.getLong(2) === 2, est2.toString)
    // DESCRIBE DETAIL now reports physical size, metadata row count
    // and the recorded stats columns (appended after the r10 columns
    // — positional readers are unaffected)
    val d = spark.sql(s"DESCRIBE DETAIL $cat.pe").collect()(0)
    assert(d.getString(d.length - 1) === "event_id")
    val nBytes = d.getLong(d.length - 3)
    val files = CommitLog.snapshotFiles(root, CommitLog.latestVersion(root).get)
    assert(nBytes === files.map(f => new java.io.File(f).length()).sum)
    assert(d.getLong(d.length - 2) === ev.count(),
      "metadata row count must equal the table's rows")
  }

  test("z-order clustering feeds the SQL pushdown: a two-dim range SELECT prunes to its cells (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "zp").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    CommitLog.append(spark, root, ev, nFiles = 4)
    // 4x4 grid on (event_id, user_id): OPTIMIZE records typed stats
    // on BOTH dims, so the r15 pushdown prunes two-dimensionally
    val mE = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val mU = ev.agg(max(col("user_id"))).collect()(0).getLong(0)
    CommitLog.optimizeClustered(spark, root,
      Seq("event_id" -> Seq(mE / 4, mE / 2, 3 * mE / 4),
          "user_id" -> Seq(mU / 4, mU / 2, 3 * mU / 4)), filesPerCell = 1)
    val q = spark.sql(s"SELECT value FROM $cat.zp " +
      s"WHERE event_id <= ${mE / 4} AND user_id <= ${mU / 4}")
    // one cell of 16 (both predicates land in the first bucket)
    assert(q.rdd.getNumPartitions === 1,
      s"two-dim range must prune to its single cell, planned ${q.rdd.getNumPartitions}")
    assert(q.count() ===
      ev.filter(col("event_id") <= mE / 4 && col("user_id") <= mU / 4).count())
  }

  test("first commit records the schema: no infer fallback, commit-time typing from write one (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "sr").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    CommitLog.append(spark, root, ev, nFiles = 1)
    // the log carries the schema from the FIRST append — the catalog
    // load never touches a parquet footer
    assert(CommitLog.snapshotSchemaOf(root, 0L).isDefined,
      "a plain first append must record the frame's schema")
    assert(spark.sql(s"SELECT * FROM $cat.sr").schema.fieldNames.toSeq ===
      Seq("event_id", "event_type", "value"))
    // and commit-time type checking is live on an API-built table:
    // an extra column refuses (use appendEvolved), a retype refuses
    val extra = ev.limit(1).withColumn("bonus", lit(1))
    val ex = intercept[Exception] {
      CommitLog.append(spark, root, extra, nFiles = 1)
    }
    assert(ex.getMessage.contains("bonus"), ex.getMessage)
    val retyped = ev.limit(1).withColumn("value", lit("oops"))
    val ex2 = intercept[Exception] {
      CommitLog.append(spark, root, retyped, nFiles = 1)
    }
    assert(ex2.getMessage.contains("value"), ex2.getMessage)
  }

  test("pruned-size statistics drive join planning: a filtered catalog side broadcasts (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "bc").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    CommitLog.appendPartitioned(spark, root, ev, "event_type", filesPerPartition = 2)
    val files = CommitLog.snapshotFiles(root, CommitLog.latestVersion(root).get)
    val totalBytes = files.map(f => new java.io.File(f).length()).sum
    // threshold sits between the pruned size (~1/5 of total) and the
    // full size: only the PRUNED estimate can clear it
    val threshold = totalBytes / 2
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold.toString)
    try {
      val other = Tables(spark, sf, "events")
        .select(col("event_id"), col("user_id"))
      other.createOrReplaceTempView("bc_other")
      val q = spark.sql(s"""SELECT o.user_id, f.value FROM bc_other o
        |JOIN $cat.bc f ON o.event_id = f.event_id
        |WHERE f.event_type = 'click'""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"the pruned catalog side (1/5 of $totalBytes bytes < $threshold) " +
          s"must broadcast:\n${plan.take(2000)}")
      // and the result is exact
      assert(q.count() === ev.filter(col("event_type") === "click").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("metadata aggregates: COUNT/MIN/MAX answer from the manifest; deletion vectors refuse (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "ag").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    CommitLog.setTableProperty(root, "statsColumns", "event_id,event_type")
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 1), nFiles = 2)
    val q = spark.sql(
      s"SELECT COUNT(*), COUNT(event_type), MIN(event_id), MAX(event_id) FROM $cat.ag")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-aggregate"),
      s"the unfiltered aggregate must answer from the manifest:\n${plan.take(1500)}")
    val r = q.collect()(0)
    val w = ev.agg(count(lit(1)), count(col("event_type")),
      min(col("event_id")), max(col("event_id"))).collect()(0)
    assert(r === w, s"metadata answer $r != computed $w")
    // value has NO stats entry -> MIN(value) refuses, ordinary scan,
    // same answer
    val q2 = spark.sql(s"SELECT MIN(value) FROM $cat.ag")
    assert(!q2.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(q2.collect()(0).getDouble(0) ===
      ev.agg(min(col("value"))).collect()(0).getDouble(0))
    // a filtered aggregate always scans (every filter is a residual)
    val q3 = spark.sql(
      s"SELECT COUNT(*) FROM $cat.ag WHERE event_type = 'click'")
    assert(!q3.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(q3.collect()(0).getLong(0) ===
      ev.filter(col("event_type") === "click").count())
    // deletion vectors invalidate counts AND bounds -> refuse, exact
    // answer through the masked scan
    spark.sql(s"ALTER TABLE $cat.ag SET TBLPROPERTIES ('enableDeletionVectors' = 'true')")
    spark.sql(s"DELETE FROM $cat.ag WHERE event_id % 10 = 0")
    val q4 = spark.sql(s"SELECT COUNT(*), MAX(event_id) FROM $cat.ag")
    assert(!q4.queryExecution.executedPlan.toString.contains("metadata-aggregate"),
      "a DV'd snapshot must not answer aggregates from metadata")
    val r4 = q4.collect()(0)
    val w4 = ev.filter(col("event_id") % 10 =!= 0)
      .agg(count(lit(1)), max(col("event_id"))).collect()(0)
    assert(r4 === w4)
  }

  test("SHOW PARTITIONS: manifest inventory, unpartitioned generations accounted (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "sp").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    // gen-1: plain (no layout entries); gen-2: partitioned
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    CommitLog.setTableProperty(root, "repartitionLayout", "event_type")
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "event_type", filesPerPartition = 1)
    val rows = spark.sql(s"SHOW PARTITIONS $cat.sp").collect()
    val byPart = rows.map(r => r.getString(0) -> r).toMap
    // every live file is accounted: 5 partition rows + the
    // unpartitioned gen-1 row
    assert(rows.length === 6, rows.map(_.getString(0)).mkString(","))
    assert(byPart.contains("<unpartitioned>"))
    assert(byPart("<unpartitioned>").getLong(1) === 2L)
    assert(byPart("event_type=click").getLong(3) ===
      ev.filter(col("event_id") % 2 === 1 && col("event_type") === "click").count(),
      "metadata row count must be exact per partition")
    // byte sizes come from the manifest and match the filesystem
    val total = rows.map(_.getLong(2)).sum
    val fsTotal = CommitLog.snapshotFiles(root, CommitLog.latestVersion(root).get)
      .map(f => new java.io.File(f).length()).sum
    assert(total === fsTotal)
    // row counts are LIVE (r16): a merge-on-read delete must not leave
    // the inventory (or DESCRIBE DETAIL) presenting footer overcounts
    CommitLog.deleteMergeOnRead(spark, root,
      col("event_type") === "click" && col("event_id") % 4 === 1)
    val rows2 = spark.sql(s"SHOW PARTITIONS $cat.sp").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows2("event_type=click").getLong(3) ===
      ev.filter(col("event_id") % 2 === 1 && col("event_type") === "click" &&
        !(col("event_id") % 4 === 1)).count(),
      "SHOW PARTITIONS must report live counts under deletion vectors")
    val detailRows = spark.sql(s"DESCRIBE DETAIL $cat.sp").collect()(0)
    val liveTotal = ev.count() -
      ev.filter(col("event_type") === "click" && col("event_id") % 4 === 1 &&
        col("event_id") % 2 === 1).count()
    assert(detailRows.getLong(detailRows.fieldIndex("n_rows_metadata")) === liveTotal,
      "DESCRIBE DETAIL must report the live metadata row total")
  }

  test("storage-partitioned join: co-partitioned tables join + aggregate with ZERO exchanges; values exact (r15)") {
    val (cat, base) = freshCatalog()
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    spark.sql(s"CREATE TABLE $cat.f1 (event_id BIGINT, user_id BIGINT, " +
      s"value DOUBLE, day BIGINT) PARTITIONED BY (day)")
    spark.sql(s"CREATE TABLE $cat.f2 (day BIGINT, user_id BIGINT, " +
      s"weight BIGINT) PARTITIONED BY (day)")
    ev.createOrReplaceTempView("spj_spec_src")
    spark.sql(s"INSERT INTO $cat.f1 SELECT event_id, user_id, value, " +
      "event_id % 7 AS day FROM spj_spec_src")
    spark.sql(s"INSERT INTO $cat.f2 SELECT event_id % 7 AS day, user_id, " +
      "COUNT(*) AS weight FROM spj_spec_src GROUP BY 1, 2")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = spark.sql(
        s"""SELECT t1.day AS day, COUNT(*) AS n,
           |  SUM(CAST(t1.value AS DECIMAL(18,4)) * t2.weight) AS w
           |FROM $cat.f1 t1 JOIN $cat.f2 t2
           |  ON t1.day = t2.day AND t1.user_id = t2.user_id
           |GROUP BY t1.day""".stripMargin)
      val got = q.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2))).toMap
      val planStr = q.queryExecution.executedPlan.toString
      assert(!planStr.contains("Exchange"),
        s"storage-partitioned join must plan zero exchanges:\n$planStr")
      assert(planStr.contains("SortMergeJoin"), planStr)
      // values match a plain (shuffled) computation of the same query
      val w = ev.withColumn("day", col("event_id") % 7)
        .groupBy("day", "user_id").agg(count(lit(1)).as("weight"))
      val exp = ev.withColumn("day", col("event_id") % 7)
        .join(w, Seq("day", "user_id"))
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)") * col("weight")).as("w"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDecimal(2))).toMap
      assert(got === exp)
      // without the opt-in conf the same scan plans per-file
      // partitions and the join shuffles — the fallback is live
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val q2 = spark.sql(s"SELECT COUNT(*) FROM $cat.f1 t1 JOIN $cat.f2 t2 " +
        "ON t1.day = t2.day AND t1.user_id = t2.user_id")
      q2.collect()
      assert(q2.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally saved.foreach { case (k, ov) =>
      ov match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  test("preserved grouping: a single-table GROUP BY on the partition key aggregates with zero exchanges (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "agg").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", col("event_id") % 7)
    CommitLog.appendPartitioned(spark, root, ev, "day", filesPerPartition = 2)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.graft.preserveDataGrouping", "true")
    try {
      // SUM is NOT metadata-pushable, so this pins the KEY-GROUPED
      // SCAN path (a plain COUNT(*) profile would be answered by the
      // grouped metadata aggregate and never touch it)
      val q = spark.sql(s"SELECT day, SUM(CAST(value AS DECIMAL(18,4))) AS sv " +
        s"FROM $cat.agg GROUP BY day")
      val got = q.collect().map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      assert(got === ev.groupBy("day")
        .agg(sum(col("value").cast("decimal(18,4)")).as("sv")).collect()
        .map(r => r.getLong(0) -> r.getDecimal(1)).toMap)
      val planStr = q.queryExecution.executedPlan.toString
      assert(!planStr.contains("metadata-aggregate"),
        "the probe aggregate must not be metadata-answered")
      assert(!planStr.contains("Exchange"),
        "a partition-key aggregate over a key-grouped scan must not shuffle")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.graft.preserveDataGrouping")
    }
  }

  test("LIMIT pushdown: plans a file-list prefix from LIVE row counts — exact under deletion vectors via manifest-carried masked counts (r16)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "lim").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    (0 until 4).foreach(i => CommitLog.append(spark, root,
      ev.filter(col("event_id") % 4 === i), nFiles = 1))
    val c0 = ev.filter(col("event_id") % 4 === 0).count()
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    val q = spark.sql(s"SELECT event_id FROM $cat.lim LIMIT ${c0 + 1}")
    assert(q.collect().length === c0 + 1)
    val (t1, k1) = scanOf(q).plannedFiles
    assert(t1 === 4 && k1.size === 2,
      s"LIMIT c0+1 over 4 equal-ish files must plan 2, got ($t1, ${k1.size})")
    assert(q.queryExecution.executedPlan.toString.contains("PushedLimit"),
      "the pushed limit must surface in the plan description")
    // r15 refused under deletion vectors (footer counts overcount);
    // r16 carries per-file masked counts in the manifest, so the
    // prefix uses LIVE counts: half of file 0's rows die, the prefix
    // still covers c0+1 live rows within the first files, and results
    // stay exact
    val (_, _, nDel) =
      CommitLog.deleteMergeOnRead(spark, root, col("event_id") % 8 === 0)
    assert(nDel > 0, "the staged data must actually lose rows")
    val q2 = spark.sql(s"SELECT event_id FROM $cat.lim LIMIT ${c0 + 1}")
    assert(q2.collect().length === c0 + 1)
    val (t2, k2) = scanOf(q2).plannedFiles
    assert(k2.size < t2,
      s"live counts must keep the limit prefix under vectors, got ($t2, ${k2.size})")
    // the masked counts ride the manifest exactly
    val head = CommitLog.latestVersion(root).get
    val aux = CommitLog.auxOf(root, head)
    assert(aux.dvRows.values.sum === nDel,
      s"manifest dvRows ${aux.dvRows} must sum to the $nDel deleted rows")
    // a file with vectors staged WITHOUT counts still refuses: strip
    // the dvRows fragment by hand-editing is out of contract — instead
    // pin the accessor: a dvRows-less aux yields no live count
    assert(aux.dvs.keys.forall(aux.dvRows.contains),
      "every vectored file must carry its masked count")
  }

  test("metadata aggregates GROUP BY layout columns: the partition profile is one manifest parse; non-layout grouping refuses (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "gag").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", col("event_id") % 7)
    CommitLog.setTableProperty(root, "statsColumns", "event_id")
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "day", filesPerPartition = 1)
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
    val q = spark.sql(s"SELECT day, COUNT(*) AS n, COUNT(event_id) AS ni, " +
      s"MIN(event_id) AS mn, MAX(event_id) AS mx FROM $cat.gag GROUP BY day")
    val got = q.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = ev.groupBy("day").agg(count(lit(1)), count(col("event_id")),
      min(col("event_id")), max(col("event_id"))).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === want)
    assert(q.queryExecution.executedPlan.toString.contains("metadata-aggregate"),
      "the grouped profile must answer from the manifest")
    // grouping by a non-layout expression refuses — ordinary scan,
    // identical values
    val q2 = spark.sql(s"SELECT user_id % 2 AS b, COUNT(*) AS n " +
      s"FROM $cat.gag GROUP BY user_id % 2")
    assert(!q2.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(q2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      ev.groupBy(col("user_id") % 2).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // deletion vectors (r16): COUNT(*) STAYS manifest-answerable —
    // live rows = footer counts minus the carried masked counts —
    // while MIN/MAX refuse (a masked row could be the extremum)
    CommitLog.deleteMergeOnRead(spark, root, col("event_id") % 32 === 0)
    val q3 = spark.sql(s"SELECT day, COUNT(*) AS n FROM $cat.gag GROUP BY day")
    assert(q3.queryExecution.executedPlan.toString.contains("metadata-aggregate"),
      "grouped COUNT(*) must answer from live counts under vectors")
    assert(q3.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      ev.filter(col("event_id") % 32 =!= 0).groupBy("day").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val q4 = spark.sql(s"SELECT day, MIN(event_id) AS mn FROM $cat.gag GROUP BY day")
    assert(!q4.queryExecution.executedPlan.toString.contains("metadata-aggregate"),
      "MIN under vectors must refuse to the ordinary scan")
    assert(q4.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      ev.filter(col("event_id") % 32 =!= 0).groupBy("day")
        .agg(min(col("event_id"))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("TopN pushdown: ORDER BY plans only range-overlapping files; missing stats and DVs refuse (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "tn").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val w = m / 4 + 1
    CommitLog.setTableProperty(root, "statsColumns", "event_id")
    (0 until 4).foreach(i => CommitLog.append(spark, root,
      ev.filter(expr(s"event_id DIV $w = $i")), nFiles = 1))
    // ASC head: one file; the returned row is the global minimum
    val qa = spark.sql(s"SELECT event_id FROM $cat.tn ORDER BY event_id LIMIT 1")
    assert(qa.collect()(0).getLong(0) ===
      ev.agg(min(col("event_id"))).collect()(0).getLong(0))
    val stA = graft.sources.GraftScanStats.lastFor(root).get
    assert(stA.filesTotal === 4 && stA.filesRead === 1, stA.toString)
    // DESC tail: one file; the returned row is the global maximum
    val qd = spark.sql(s"SELECT event_id FROM $cat.tn ORDER BY event_id DESC LIMIT 1")
    assert(qd.collect()(0).getLong(0) === m)
    assert(graft.sources.GraftScanStats.lastFor(root).get.filesRead === 1)
    assert(qd.queryExecution.executedPlan.toString.contains("PushedTopN"),
      "the pushed top-n must surface in the plan description")
    // deletion vectors (r16): live counts keep the top-n prune — the
    // envelope still covers n live rows, recorded bounds stay valid
    // (possibly loose), and the returned row is the LIVE minimum
    CommitLog.deleteMergeOnRead(spark, root, col("event_id") % 16 === 0)
    val qDv = spark.sql(s"SELECT event_id FROM $cat.tn ORDER BY event_id LIMIT 1")
    assert(qDv.collect()(0).getLong(0) ===
      ev.filter(col("event_id") % 16 =!= 0)
        .agg(min(col("event_id"))).collect()(0).getLong(0))
    val stDv = qDv.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
        r.scan.asInstanceOf[graft.sources.GraftBatchScan]
    }.head.plannedFiles
    assert(stDv._2.size < stDv._1,
      s"live counts must keep the top-n prune under vectors, got $stDv")
    // a survivor without recorded stats on the order column refuses
    val root2 = new java.io.File(base, "tn2").toString
    CommitLog.append(spark, root2,
      ev.filter(expr(s"event_id DIV $w = 0")), nFiles = 1) // no stats contract
    CommitLog.setTableProperty(root2, "statsColumns", "event_id")
    (1 until 4).foreach(i => CommitLog.append(spark, root2,
      ev.filter(expr(s"event_id DIV $w = $i")), nFiles = 1))
    val q2r = spark.sql(s"SELECT event_id FROM $cat.tn2 ORDER BY event_id LIMIT 1")
    q2r.collect()
    val st2 = graft.sources.GraftScanStats.lastFor(root2).get
    assert(st2.filesRead === st2.filesTotal,
      s"a stats-less survivor must refuse the top-n prune, got $st2")
    // ...and EXPLAIN says so instead of implying an effected prune
    // (r16, ADVICE)
    assert(q2r.queryExecution.executedPlan.toString.contains("(refused)"),
      "a refused top-n must render '(refused)' in the plan description")
    // the writer's NULL routing is reproduced by the V2 bucket
    // function too (r16, ADVICE): pmod(hash(null)=seed 42, n)
    val bf = new graft.sources.GraftBucketLong
    val nullRow = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](8, null))
    assert(bf.produceResult(nullRow) === ((42 % 8) + 8) % 8)
  }

  test("OR-predicate pruning: translatable disjunctions plan the UNION of branch file sets; any opaque branch refuses the probe (r16)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "por").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.setTableProperty(root, "statsColumns", "event_id")
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") <= m / 2), "day", filesPerPartition = 1)
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    // simple layout disjunction: day-1 files ∪ day-5 files = 4 of 14
    val q1 = spark.sql(s"SELECT event_id FROM $cat.por WHERE day='1' OR day='5'")
    val (t1, k1) = scanOf(q1).plannedFiles
    assert(t1 === 14 && k1.size === 4, s"($t1, ${k1.size})")
    assert(q1.count() ===
      ev.filter(col("day") === "1" || col("day") === "5").count())
    // mixed layout × stats branches: day-1 (2 files) ∪ (day-5 ∧ first
    // half: 1 file) = 3
    val q2 = spark.sql(s"SELECT event_id FROM $cat.por " +
      s"WHERE day='1' OR (day='5' AND event_id <= ${m / 2})")
    assert(scanOf(q2).plannedFiles._2.size === 3)
    // nested disjunction flattens: day IN any of three values = 6
    val q3 = spark.sql(s"SELECT event_id FROM $cat.por " +
      "WHERE day='1' OR (day='2' OR day='5')")
    assert(scanOf(q3).plannedFiles._2.size === 6)
    // an opaque branch (no layout, no declared stats on `value`)
    // admits everything → the disjunction contributes no probe
    val q4 = spark.sql(s"SELECT event_id FROM $cat.por " +
      "WHERE day='1' OR value > 0.5")
    assert(scanOf(q4).plannedFiles._2.size === 14,
      "a disjunction with an untranslatable branch must prune nothing")
    // results stay exact either way (pruning is advisory)
    assert(q4.count() ===
      ev.filter(col("day") === "1" || col("value") > 0.5).count())
    // the accepted disjunction surfaces in the EXPLAIN filters
    assert(scanOf(q1).description().contains("Or("),
      s"pushed Or must surface in the plan: ${scanOf(q1).description()}")
  }

  test("timestamp partition probes: canonical rendering under the RECORDED zone prunes for cross-zone readers; zone-less tables and drifted appends refuse (r16, r17)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "pts").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"), col("ts"))
      .withColumn("day_ts", date_trunc("day", col("ts")))
    CommitLog.appendPartitioned(spark, root, ev, "day_ts", filesPerPartition = 1)
    // staging recorded the session zone as the table's layout contract
    val tz0 = spark.conf.get("spark.sql.session.timeZone")
    assert(CommitLog.tableProperty(root, "layout.timeZone").contains(tz0))
    val nDays = ev.select(col("day_ts")).distinct().count()
    // render probe literals through SPARK under the session zone, not
    // java.sql.Timestamp.toString (JVM-default-zone rendering)
    val d0 = ev.agg(date_format(min(col("day_ts")),
      "yyyy-MM-dd HH:mm:ss")).collect()(0).getString(0)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    val q = spark.sql(s"SELECT event_id FROM $cat.pts WHERE day_ts = TIMESTAMP '$d0'")
    val (t1, k1) = scanOf(q).plannedFiles
    assert(t1 === nDays && k1.size === 1,
      s"a one-day probe over $nDays day files must plan 1, got ($t1, ${k1.size})")
    assert(q.count() === ev.filter(col("day_ts") === d0).count())
    // IN over two days plans two files
    val d1 = ev.filter(col("day_ts") > to_timestamp(lit(d0)))
      .agg(date_format(min(col("day_ts")), "yyyy-MM-dd HH:mm:ss"))
      .collect()(0).getString(0)
    val qIn = spark.sql(s"SELECT event_id FROM $cat.pts " +
      s"WHERE day_ts IN (TIMESTAMP '$d0', TIMESTAMP '$d1')")
    assert(scanOf(qIn).plannedFiles._2.size === 2)
    // a probing session under another zone (CLONED — the shared
    // session's zone is never mutated) PRUNES since r17: the filter
    // value is absolute micros, rendered under the RECORDED zone.
    // The same-instant probe (explicit offset) plans the same one
    // day; the naive text re-parsed in the drifted zone denotes a
    // DIFFERENT instant no recorded day spells — zero files, zero
    // rows, exactly what the row-level filter would produce.
    val d0off = ev.agg(date_format(min(col("day_ts")),
      "yyyy-MM-dd HH:mm:ssxxx")).collect()(0).getString(0)
    val s2 = spark.newSession()
    spark.conf.getAll.filter(_._1.startsWith(s"spark.sql.catalog.$cat"))
      .foreach { case (k, v) => s2.conf.set(k, v) }
    s2.conf.set("spark.sql.session.timeZone",
      if (tz0 == "America/New_York") "Asia/Tokyo" else "America/New_York")
    val qSame = s2.sql(s"SELECT event_id FROM $cat.pts WHERE day_ts = TIMESTAMP '$d0off'")
    assert(scanOf(qSame).plannedFiles._2.size === 1,
      "a same-instant probe from a drifted session must prune to the day")
    assert(qSame.count() === ev.filter(col("day_ts") === d0).count())
    val qO = s2.sql(s"SELECT event_id FROM $cat.pts WHERE day_ts = TIMESTAMP '$d0'")
    assert(scanOf(qO).plannedFiles._2.isEmpty,
      "the naive text in a drifted zone denotes an unrecorded instant — zero files")
    assert(qO.count() === 0)
    // a TABLE WITH NO RECORDED ZONE (pre-r16 writer) still refuses:
    // the staged spelling is unknowable, pruning may only ever widen
    val noTz = graft.sources.GraftFilterPushdown.translate(
      Seq(org.apache.spark.sql.sources.EqualTo("day_ts",
        java.sql.Timestamp.valueOf("2021-03-01 00:00:00"))),
      graft.sources.GraftFilterPushdown.PruneMeta(
        layoutCols = Set("day_ts"), tags = Map.empty, legacyCol = None))
    assert(noTz.isEmpty, "no recorded staging zone must contribute no probe")
    // and a timestamp-partitioned APPEND under the drifted zone
    // refuses loudly — mixed-zone layout text cannot prune safely
    try {
      spark.conf.set("spark.sql.session.timeZone",
        if (tz0 == "America/New_York") "Asia/Tokyo" else "America/New_York")
      val err = intercept[IllegalArgumentException] {
        CommitLog.appendPartitioned(spark, root, ev.limit(10), "day_ts",
          filesPerPartition = 1)
      }
      assert(err.getMessage.contains("layout"), err.getMessage)
    } finally spark.conf.set("spark.sql.session.timeZone", tz0)
    // back under the recorded zone both append and probe work again
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("day_ts") === d0), "day_ts", filesPerPartition = 1)
    val q2 = spark.sql(s"SELECT event_id FROM $cat.pts WHERE day_ts = TIMESTAMP '$d0'")
    assert(scanOf(q2).plannedFiles._2.size === 2,
      "post-append the probed day holds two files")
  }

  test("exact filter consumption: layout-exact predicates answer by file selection — filtered metadata aggregates, NOT/IS NULL semantics, refusals (r16)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "exf").toString
    // day has REAL NULLs: the sentinel group's semantics are load-
    // bearing for IS [NOT] NULL and <> consumption
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", when(col("event_id") % 11 === 0, lit(null))
        .otherwise((col("event_id") % 7).cast("string")))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    CommitLog.setTableProperty(root, "statsColumns", "event_id")
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") <= m / 2), "day", filesPerPartition = 1)
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // layout-exact equality CONSUMES: no row-level Filter remains, the
    // result is still exact (file membership IS row membership)
    def residualFilters(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }
    val q = spark.sql(s"SELECT event_id FROM $cat.exf WHERE day = '3'")
    assert(residualFilters(q).isEmpty,
      s"an exact layout filter must be consumed, got: ${residualFilters(q)}")
    assert(q.count() === ev.filter(col("day") === "3").count())
    // ...which is what lets a FILTERED aggregate answer from the
    // manifest: one parse, zero data I/O
    val qa = spark.sql(s"SELECT COUNT(*) AS n, MIN(event_id) AS mn, " +
      s"MAX(event_id) AS mx FROM $cat.exf WHERE day = '3'")
    assert(planOf(qa).contains("metadata-aggregate"), planOf(qa))
    val want = ev.filter(col("day") === "3")
      .agg(count(lit(1)), min(col("event_id")), max(col("event_id"))).collect()(0)
    val got = qa.collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
      ((want.getLong(0), want.getLong(1), want.getLong(2))))
    // NOT and null semantics through consumption: `<>` drops NULL days
    // (value group + sentinel group both pruned), IS NULL keeps
    // exactly the sentinel group, IS NOT NULL excludes it
    val qne = spark.sql(s"SELECT event_id FROM $cat.exf WHERE day <> '3'")
    assert(qne.count() === ev.filter(col("day") =!= "3").count())
    val qn = spark.sql(s"SELECT event_id FROM $cat.exf WHERE day IS NULL")
    assert(qn.count() === ev.filter(col("day").isNull).count())
    assert(qn.count() > 0, "the staged data must actually hold null days")
    val qnn = spark.sql(s"SELECT event_id FROM $cat.exf WHERE day IS NOT NULL")
    assert(qnn.count() === ev.filter(col("day").isNotNull).count())
    // IS NULL consumes + the filtered aggregate answers over the
    // sentinel group alone
    val qan = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.exf WHERE day IS NULL")
    assert(planOf(qan).contains("metadata-aggregate"), planOf(qan))
    assert(qan.collect()(0).getLong(0) === ev.filter(col("day").isNull).count())
    // consumption composes: a filtered GROUPED profile and an
    // OR-filtered count both stay one manifest parse
    val qg = spark.sql(s"SELECT day, COUNT(*) AS n FROM $cat.exf " +
      "WHERE day IN ('2','3') GROUP BY day")
    assert(planOf(qg).contains("metadata-aggregate"), planOf(qg))
    assert(qg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ===
      ev.filter(col("day").isin("2", "3")).groupBy("day").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val qo = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.exf " +
      "WHERE day = '1' OR day = '5'")
    assert(planOf(qo).contains("metadata-aggregate"), planOf(qo))
    assert(qo.collect()(0).getLong(0) ===
      ev.filter(col("day") === "1" || col("day") === "5").count())
    // a range predicate is NOT layout-exact: residual stays, aggregate
    // refuses to the ordinary (exact) scan
    val qr = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.exf " +
      s"WHERE event_id <= ${m / 2}")
    assert(!planOf(qr).contains("metadata-aggregate"))
    assert(qr.collect()(0).getLong(0) ===
      ev.filter(col("event_id") <= m / 2).count())
    // a column only SOME generations record is not consumable: stage a
    // second table with one pre-partitioning append
    val root2 = new java.io.File(base, "exf2").toString
    CommitLog.append(spark, root2, ev.filter(col("event_id") <= m / 2), nFiles = 1)
    CommitLog.setTableProperty(root2, "repartitionLayout", "day")
    CommitLog.appendPartitioned(spark, root2,
      ev.filter(col("event_id") > m / 2), "day", filesPerPartition = 1)
    val q2 = spark.sql(s"SELECT event_id FROM $cat.exf2 WHERE day = '3'")
    assert(residualFilters(q2).nonEmpty,
      "a partially-covered layout column must stay residual")
    assert(q2.count() === ev.filter(col("day") === "3").count())
  }

  test("partitioned staging refuses layout-poisoning values; string stats prune in UTF-8 binary order (r16 review finds)") {
    val (cat, base) = freshCatalog()
    import spark.implicits._
    // a value containing the reserved separator would corrupt the
    // recorded tuple arity — refuse before commit
    val root = new java.io.File(base, "poison").toString
    val bad = Seq((1L, "a\u0001b"), (2L, "ok")).toDF("id", "k")
    val e1 = intercept[IllegalArgumentException] {
      CommitLog.appendPartitioned(spark, root, bad, "k", filesPerPartition = 1)
    }
    assert(e1.getMessage.contains("U+0001") ||
      e1.getMessage.contains("separator"), e1.getMessage)
    // a value spelling the null sentinel would alias into the NULL
    // group — refuse
    val bad2 = Seq((1L, "__GRAFT_NULL_PARTITION__")).toDF("id", "k")
    val e2 = intercept[IllegalArgumentException] {
      CommitLog.appendPartitioned(spark, root, bad2, "k", filesPerPartition = 1)
    }
    assert(e2.getMessage.contains("sentinel") ||
      e2.getMessage.contains("separator"), e2.getMessage)
    assert(CommitLog.latestVersion(root).isEmpty,
      "nothing may commit past the poisoning guard")
    // string stats bounds are Spark min/max — UTF-8 BINARY order. A
    // file holding {U+E000, U+10000} has min=U+E000, max=U+10000; the
    // old UTF-16 compareTo saw max < probe and pruned the file though
    // it HOLDS the probed row.
    val root3 = new java.io.File(base, "utf8").toString
    val s1 = "\uE000"; val s2 = new String(Character.toChars(0x10000))
    CommitLog.setTableProperty(root3, "statsColumns", "k")
    CommitLog.append(spark, root3,
      Seq((1L, s1), (2L, s2)).toDF("id", "k"), nFiles = 1)
    val got = spark.sql(s"SELECT id FROM $cat.utf8 WHERE k = '$s1'").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L),
      "UTF-16 bound compare pruned a file holding the probed row")
  }

  test("segmented manifests read through the catalog: two-level prune, inferred schema, refusals stay loud (r16)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "seg").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val w = m / 4
    CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") <= w), nFiles = 2, statsCol = "event_id")
    CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") > w && col("event_id") <= 2 * w), 2, "event_id")
    CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") > 2 * w), 2, "event_id")
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    // schema reads off the manifest (r17 — appendSegment records it)
    assert(spark.table(s"$cat.seg").schema.fieldNames.toSet ===
      Set("event_id", "value"))
    // full scan: every file, values exact
    assert(spark.sql(s"SELECT event_id FROM $cat.seg").count() === ev.count())
    // a probed read plans only the overlapping segment's files
    val q = spark.sql(s"SELECT event_id FROM $cat.seg " +
      s"WHERE event_id > $w AND event_id <= ${2 * w}")
    val (t1, k1) = scanOf(q).plannedFiles
    assert(t1 === 6 && k1.size === 2, s"($t1, ${k1.size})")
    assert(q.count() ===
      ev.filter(col("event_id") > w && col("event_id") <= 2 * w).count())
    // a disjoint probe plans zero files
    val q0 = spark.sql(s"SELECT event_id FROM $cat.seg WHERE event_id > ${m + 10}")
    assert(scanOf(q0).plannedFiles._2.isEmpty)
    assert(q0.count() === 0)
    // COUNT(*) answers from the manifest's per-segment row totals (r17)
    val qa = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.seg")
    assert(qa.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qa.collect()(0).getLong(0) === ev.count())
    // streaming a segmented table WORKS since r18 (per-segment
    // version-diff admission; the dedicated r18 StreamingSpec test
    // pins the incremental contracts) — the r16 hard refusal is gone
    spark.readStream.format("graft.sources.TableStreamProvider")
      .option("path", root).load().writeStream
      .format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
  }

  test("segmented metadata answers: COUNT(*)/stats-MIN/MAX from the manifest, segment-first LIMIT prefix, pre-r17 manifests refuse (r17)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "sega").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val (s1, s2, s3) = (m / 4, m / 2, 3 * m / 4)
    CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") <= s1), nFiles = 1, statsCol = "event_id")
    CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") > s1 && col("event_id") <= s2), 1, "event_id")
    CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") > s2 && col("event_id") <= s3), 1, "event_id")
    val head = CommitLog.appendSegment(spark, root,
      ev.filter(col("event_id") > s3), 1, "event_id")
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    // COUNT(*) + MIN/MAX of the stats column: one manifest parse
    val qm = spark.sql(s"SELECT COUNT(*) AS n, MIN(event_id) AS lo, " +
      s"MAX(event_id) AS hi FROM $cat.sega")
    assert(qm.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    val r0 = qm.collect()(0)
    assert(r0.getLong(0) === ev.count())
    assert(r0.getLong(1) === ev.agg(min(col("event_id"))).collect()(0).getLong(0))
    assert(r0.getLong(2) === m)
    // MIN/MAX of a NON-stats column refuses — ordinary exact scan
    val qv = spark.sql(s"SELECT MIN(value) AS v FROM $cat.sega")
    assert(!qv.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qv.collect()(0).getDouble(0) ===
      ev.agg(min(col("value"))).collect()(0).getDouble(0))
    // COUNT(statsCol) answers from the per-segment null totals since
    // r18; COUNT of any OTHER column still refuses (no null counts
    // recorded for it by design)
    val qc = spark.sql(s"SELECT COUNT(event_id) AS n FROM $cat.sega")
    assert(qc.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qc.collect()(0).getLong(0) === ev.count())
    val qcv = spark.sql(s"SELECT COUNT(value) AS n FROM $cat.sega")
    assert(!qcv.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qcv.collect()(0).getLong(0) === ev.count())
    // LIMIT prefix is segment-first: whole segment 1 off the manifest
    // row total, only segment 2 opens per-file counts
    val c1 = ev.filter(col("event_id") <= s1).count()
    val qLim = spark.sql(s"SELECT event_id FROM $cat.sega LIMIT ${c1 + 1}")
    assert(qLim.collect().length === c1 + 1)
    val (total, keep) = scanOf(qLim).plannedFiles
    assert(total === 4 && keep.size === 2, s"($total, ${keep.size})")
    val Some((keepDirect, _, opened)) =
      CommitLog.segmentedLimitFiles(root, head, (c1 + 1).toInt)
    assert(keepDirect === keep && opened === 2)
    // the EXPLAIN surface reports the effected prefix, not "(refused)"
    assert(!scanOf(qLim).description().contains("(refused)"))
    // size/row statistics answer from the manifest's per-segment totals
    val st = scanOf(spark.sql(s"SELECT event_id FROM $cat.sega")).estimateStatistics()
    assert(st.numRows().getAsLong === ev.count())
    assert(st.sizeInBytes().getAsLong > 0L)
    // DESCRIBE DETAIL / SHOW PARTITIONS answer from per-segment totals
    // instead of throwing the flat-manifest refusal (r17)
    val dd = spark.sql(s"DESCRIBE DETAIL $cat.sega").collect()(0)
    assert(dd.getLong(1) === 4L) // n_files
    assert(dd.getLong(dd.length - 2) === ev.count()) // n_rows_metadata
    assert(dd.getString(dd.length - 1) === "event_id") // stats_columns
    val sp = spark.sql(s"SHOW PARTITIONS $cat.sega").collect()
    assert(sp.length === 1 && sp(0).getString(0) === "<unpartitioned>" &&
      sp(0).getLong(3) === ev.count())
    // a manifest a PRE-r17 writer committed (no per-segment counts)
    // refuses every metadata answer and plans everything, as before
    val mf = new java.io.File(root, f"_graft_log/v$head%09d.json")
    val stripped = java.nio.file.Files.readString(mf.toPath)
      .replaceAll(""","nRows":\d+""", "").replaceAll(""","nBytes":\d+""", "")
    java.nio.file.Files.writeString(mf.toPath, stripped)
    val qa2 = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.sega")
    assert(!qa2.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qa2.collect()(0).getLong(0) === ev.count())
    val qLim2 = spark.sql(s"SELECT event_id FROM $cat.sega LIMIT ${c1 + 1}")
    assert(qLim2.collect().length === c1 + 1)
    assert(scanOf(qLim2).plannedFiles._2.size === 4,
      "a count-less manifest must refuse the prefix and plan everything")
    // stats-column MIN/MAX still answers on the count-less manifest:
    // bounds were exact in every segment generation
    val qm2 = spark.sql(s"SELECT MIN(event_id) AS lo, MAX(event_id) AS hi " +
      s"FROM $cat.sega")
    assert(qm2.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qm2.collect()(0).getLong(1) === m)
    // one stats column per segmented table — a second column refuses
    // at commit (its bounds under the first's name would mis-prune)
    val err = intercept[IllegalArgumentException] {
      CommitLog.appendSegment(spark, root, ev.limit(5), 1, "user_id")
    }
    assert(err.getMessage.contains("one stats column"), err.getMessage)
  }

  test("pushdown witnesses are deterministic: plannedFiles reads the query's OWN scan — interleaved scans and repeated planning never change it (r16)") {
    // the r15 driver gate flaked exactly here: the limit/topn keys read
    // the global last-write-wins GraftScanStats, which any second
    // planning pass of the same root could overwrite between collect
    // and witness read. The r16 witness is the scan instance's own
    // plannedFiles — a pure function of (pinned version, pushed state).
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "wit").toString
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value"))
    (0 until 4).foreach(i => CommitLog.append(spark, root,
      ev.filter(col("event_id") % 4 === i), nFiles = 1))
    val c0 = ev.filter(col("event_id") % 4 === 0).count()
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    val q = spark.sql(s"SELECT event_id FROM $cat.wit LIMIT ${c0 + 1}")
    assert(q.collect().length === c0 + 1)
    val first = scanOf(q).plannedFiles
    assert(first._1 === 4 && first._2.size === 2,
      s"LIMIT c0+1 over 4 equal-ish files must plan 2, got $first")
    // interleave OTHER planning passes over the same root — exactly
    // the overwrite that flipped the r15 global witness — and re-read:
    // the instance reading must not move
    (1 to 2).foreach(_ => spark.sql(s"SELECT event_id FROM $cat.wit").collect())
    spark.sql(s"SELECT event_id FROM $cat.wit ORDER BY event_id DESC LIMIT 1").collect()
    assert(scanOf(q).plannedFiles === first,
      "an interleaved scan of the same root changed the witness")
    assert(scanOf(q).plannedFiles === first, "plannedFiles is not idempotent")
    // a genuinely separate planning pass of the identical query agrees
    val q2 = spark.sql(s"SELECT event_id FROM $cat.wit LIMIT ${c0 + 1}")
    q2.collect()
    assert(scanOf(q2).plannedFiles === first)
    // and the REGISTRY keys themselves return identical rows run twice
    // inside this warm multi-query session (the driver's full-surface
    // shape): value columns are plan decisions, now pure predicates
    Seq("q_sql_table_limit_pushdown", "q_sql_table_topn_pushdown").foreach { k =>
      val a = graft.operators.TableFormat.queries(k)(spark, sf).collect().map(_.toSeq).toSeq
      val b = graft.operators.TableFormat.queries(k)(spark, sf).collect().map(_.toSeq).toSeq
      assert(a === b, s"$k witness not stable across runs in one session")
    }
  }

  test("multi-column TopN pushdown: the first sort column's envelope prunes; tie-break columns stay correct (r16)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "tnm").toString
    // day is COARSE (event_id % 4 over range slices) so the first sort
    // column genuinely ties and the second column must break them
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", col("event_id") % 4)
    val m = ev.agg(max(col("event_id"))).collect()(0).getLong(0)
    val w = m / 4 + 1
    CommitLog.setTableProperty(root, "statsColumns", "event_id")
    (0 until 4).foreach(i => CommitLog.append(spark, root,
      ev.filter(expr(s"event_id DIV $w = $i")), nFiles = 1))
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    // two-column ORDER BY on the STATS column first: envelope prunes
    // to one file, rows match the full sort
    val q = spark.sql(s"SELECT event_id, user_id FROM $cat.tnm " +
      "ORDER BY event_id, user_id LIMIT 5")
    val want = ev.orderBy(col("event_id"), col("user_id"))
      .select(col("event_id"), col("user_id")).limit(5).collect().map(_.toSeq)
    assert(q.collect().map(_.toSeq).toSeq === want.toSeq)
    assert(scanOf(q).plannedFiles._2.size === 1,
      "the first-column envelope must prune a 5-row head to one file")
    // first sort column WITHOUT stats refuses — reads everything, but
    // the multi-column sort is still exact
    val q2 = spark.sql(s"SELECT event_id, user_id FROM $cat.tnm " +
      "ORDER BY user_id, event_id LIMIT 5")
    assert(scanOf(q2).plannedFiles._2.size === 4)
    val want2 = ev.orderBy(col("user_id"), col("event_id"))
      .select(col("event_id"), col("user_id")).limit(5).collect().map(_.toSeq)
    assert(q2.collect().map(_.toSeq).toSeq === want2.toSeq)
  }

  test("bucket transform: bucketed tables join on the HIGH-CARDINALITY key with zero hash exchanges; point lookups prune to one bucket (r15)") {
    val (cat, base) = freshCatalog()
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
    spark.sql(s"CREATE TABLE $cat.b1 (user_id BIGINT, value DOUBLE) " +
      "PARTITIONED BY (bucket(8, user_id))")
    spark.sql(s"CREATE TABLE $cat.b2 (user_id BIGINT, weight BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    ev.createOrReplaceTempView("bspec_src")
    spark.sql(s"INSERT INTO $cat.b1 SELECT user_id, value FROM bspec_src")
    spark.sql(s"INSERT INTO $cat.b2 SELECT user_id, COUNT(*) AS weight " +
      "FROM bspec_src GROUP BY user_id")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.graft.preserveDataGrouping" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = spark.sql(
        s"""SELECT t1.user_id AS user_id, COUNT(*) AS n,
           |  SUM(CAST(t1.value AS DECIMAL(18,4)) * t2.weight) AS w
           |FROM $cat.b1 t1 JOIN $cat.b2 t2 ON t1.user_id = t2.user_id
           |GROUP BY t1.user_id""".stripMargin)
      val got = q.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDecimal(2)))).toMap
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.contains("SortMergeJoin"), planStr)
      assert(!planStr.contains("Exchange"),
        s"bucketed SPJ join + per-user agg must plan zero exchanges:\n$planStr")
      val w = ev.groupBy("user_id").agg(count(lit(1)).as("weight"))
      val exp = ev.join(w, Seq("user_id"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)") * col("weight")).as("w"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDecimal(2)))).toMap
      assert(got === exp)
    } finally saved.foreach { case (k, ov) =>
      ov match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
    // point lookup: `user_id = v` prunes to the probed value's hash
    // bucket — one file of the eight
    val root1 = new java.io.File(base, "b1").toString
    val someUser = ev.select(col("user_id")).limit(1).collect()(0).getLong(0)
    val q2 = spark.sql(s"SELECT value FROM $cat.b1 WHERE user_id = $someUser")
    val nRows = q2.collect().length.toLong
    assert(nRows === ev.filter(col("user_id") === someUser).count(),
      "bucket pruning dropped matching rows")
    val st = graft.sources.GraftScanStats.lastFor(root1).get
    // one file per NON-EMPTY bucket (an empty bucket stages nothing)
    assert(st.filesRead === 1 && st.filesTotal >= 4,
      s"point lookup must read one bucket's file, got $st")
  }

  test("metadata aggregates survive maintenance: COUNT(*) stays manifest-answered across compact and CoW delete (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "mm").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"))
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 2)
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 1), nFiles = 2)
    def profile(): (Long, Boolean) = {
      val q = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.mm")
      (q.collect()(0).getLong(0),
        q.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    }
    assert(profile() === ((ev.count(), true)))
    // a compaction's rewritten files must RE-RECORD their footer
    // counts — the canonical table-size query stays one manifest parse
    CommitLog.compact(spark, root, 2)
    assert(profile() === ((ev.count(), true)),
      "compaction dropped the carried row counts")
    // a CoW delete rewrites dirty files and carries clean ones — both
    // halves must keep their counts
    CommitLog.delete(spark, root, col("event_id") % 8 === 3)
    val want = ev.filter(col("event_id") % 8 =!= 3).count()
    assert(profile() === ((want, true)),
      "CoW delete dropped the carried row counts")
  }

  test("partition spec evolution TO a bucket spec: generations coexist, each file prunes under its OWN layout (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "evb").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    // gen-1 under the identity day spec
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), "day", filesPerPartition = 1)
    // evolve the spec to hash buckets for FUTURE appends — the same
    // repartitionLayout contract identity-spec evolution uses
    CommitLog.setTableProperty(root, "repartitionLayout", "bucket(4;user_id)")
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "bucket(4;user_id)",
      filesPerPartition = 1)
    val head = CommitLog.latestVersion(root).get
    val total = CommitLog.snapshotFiles(root, head).size
    val gen1 = ev.filter(col("event_id") % 2 === 0)
      .select(col("day")).distinct().count().toInt
    val gen2 = total - gen1
    assert(gen2 >= 2, s"want several bucket files, got $gen2")
    // a day probe prunes gen-1 to day=3; gen-2 files never recorded
    // day — unprunable, all kept
    val (_, t1, read1) = CommitLog.partitionPrunedReadMulti(spark, root, head,
      Seq("day" -> Seq("3")))
    assert(t1 === total && read1 === 1 + gen2,
      s"day probe: want ${1 + gen2} of $total, got $read1")
    // a user point probe through SQL prunes gen-2 to ONE bucket;
    // gen-1 files never recorded a bucket — unprunable, all kept
    val someUser = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id")).limit(1).collect()(0).getLong(0)
    val q = spark.sql(s"SELECT value FROM $cat.evb WHERE user_id = $someUser")
    assert(q.collect().length ===
      ev.filter(col("user_id") === someUser).count(),
      "bucket pruning across generations dropped matching rows")
    val st = graft.sources.GraftScanStats.lastFor(root).get
    assert(st.filesRead === gen1 + 1,
      s"user probe: want ${gen1 + 1} of $total (gen-1 must-read + one bucket), got $st")
    // spec evolution must CARRY the prior generation's per-file row
    // counts and sizes (r15 review find: the evolution branch dropped
    // them) — the post-evolution COUNT(*) still answers from the
    // manifest alone
    val qc = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.evb")
    assert(qc.collect()(0).getLong(0) === ev.count())
    assert(qc.queryExecution.executedPlan.toString.contains("metadata-aggregate"),
      "post-evolution COUNT(*) must still answer from the manifest " +
        "(evolution dropped the carried row counts)")
  }

  test("storage-partitioned join: mixed-generation manifest (a file without the spec's layout) falls back to per-file planning (r15)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "mix").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", col("event_id") % 7)
    // gen-1: UNpartitioned append (no layout entry) — then evolve the
    // spec so the CURRENT property names day
    CommitLog.append(spark, root, ev.filter(col("event_id") % 2 === 0), nFiles = 1)
    CommitLog.setTableProperty(root, "repartitionLayout", "day")
    CommitLog.appendPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), "day", filesPerPartition = 1)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.graft.preserveDataGrouping", "true")
    try {
      val q = spark.sql(s"SELECT day, COUNT(*) AS n FROM $cat.mix GROUP BY day")
      // per-file planning: the gen-1 file cannot announce a key, so
      // the scan must NOT report key-grouped partitioning — the
      // aggregate shuffles and every row is still counted exactly once
      assert(q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        ev.groupBy("day").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(q.queryExecution.executedPlan.toString.contains("Exchange"),
        "mixed-generation scan must fall back to shuffled planning")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.graft.preserveDataGrouping")
    }
  }

  test("consumption gates on the staging guard stamp: an unstamped (pre-guard) table keeps every filter residual and exact (r17)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "gv").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    CommitLog.appendPartitioned(spark, root, ev, "day", filesPerPartition = 1)
    assert(CommitLog.tableProperty(root, "layout.valueGuard").contains("0"),
      "the guarded chokepoint must stamp a freshly-staged table with " +
        "its first guarded version (r18: version-scoped stamp)")
    def residuals(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }
    // stamped: the layout-exact filter is consumed (no residual)
    val q1 = spark.sql(s"SELECT event_id FROM $cat.gv WHERE day = '3'")
    assert(residuals(q1).isEmpty)
    assert(q1.count() === ev.filter(col("day") === "3").count())
    // simulate a PRE-GUARD writer: strip the stamp from the props file
    val pf = new java.io.File(root, "_graft_log/_properties.json")
    val props = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(pf.toPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    props.remove("layout.valueGuard")
    java.nio.file.Files.writeString(pf.toPath, props.toString)
    assert(CommitLog.tableProperty(root, "layout.valueGuard").isEmpty)
    // complete the simulation: a pre-guard table's manifest is a
    // different file too, so its PruneMeta was never cached as guarded
    // (in production the stamp exists before any layout version
    // commits, so a warm cache can never go stale)
    val mf = new java.io.File(root, "_graft_log/v000000000.json")
    assert(mf.setLastModified(mf.lastModified() + 2000))
    // unstamped: the same filter stays RESIDUAL (probes advisory only),
    // the result identical — and no metadata aggregate may claim it
    val q2 = spark.sql(s"SELECT event_id FROM $cat.gv WHERE day = '3'")
    assert(residuals(q2).nonEmpty,
      "an unstamped table must never consume — the residual re-runs row-level")
    assert(q2.count() === ev.filter(col("day") === "3").count())
    val qa = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.gv WHERE day = '3'")
    assert(!qa.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qa.collect()(0).getLong(0) === ev.filter(col("day") === "3").count())
    // a GUARDED append onto the unstamped table must NOT stamp it —
    // the old layout text was never guarded
    CommitLog.appendPartitioned(spark, root, ev.limit(5), "day",
      filesPerPartition = 1)
    assert(CommitLog.tableProperty(root, "layout.valueGuard").isEmpty,
      "a table with pre-guard layout text must stay unstamped forever")
  }

  test("the guard stamp is version-scoped: a read pinned below the stamping version stays advisory (r18)") {
    // THE TIME-TRAVEL HOLE the r17 table-scoped stamp left (r17
    // VERDICT "What's wrong" #2): pre-guard layout text at v0,
    // truncated away at v1 (so the latest version carries no layouts
    // and the stamp's prior-layout check passes), then a guarded
    // append at v2 stamps the table. A `VERSION AS OF 0` read must
    // NOT consume/exclude on v0's unguarded text — the stamp records
    // the first GUARDED version, and pruneMetaOf treats any pinned
    // version below it as unguarded.
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "vs").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    CommitLog.appendPartitioned(spark, root, ev, "day", filesPerPartition = 1)
    // simulate the PRE-GUARD writer: strip the stamp the chokepoint
    // wrote for v0 (and bump the manifest identity so no cached
    // guarded PruneMeta survives — in production the pre-guard text
    // would simply never have been stamped)
    val pf = new java.io.File(root, "_graft_log/_properties.json")
    val props = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(pf.toPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    props.remove("layout.valueGuard")
    java.nio.file.Files.writeString(pf.toPath, props.toString)
    val mf = new java.io.File(root, "_graft_log/v000000000.json")
    assert(mf.setLastModified(mf.lastModified() + 2000))
    // v1: overwrite UNPARTITIONED — the latest version now records no
    // layout text, so the next guarded layout write may stamp
    CommitLog.overwrite(spark, root, ev.limit(50), nFiles = 1)
    // v2: a guarded PARTITIONED overwrite stamps — with ITS version —
    // and leaves a head snapshot every file of which carries a layout
    // (a plain append would leave v1's layout-less files live and the
    // head could not consume either)
    CommitLog.overwrite(spark, root, ev.limit(20), nFiles = 1,
      partCol = Some("day"))
    assert(CommitLog.tableProperty(root, "layout.valueGuard").contains("2"),
      "the stamp must record the first guarded version")
    def residuals(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }
    // head (v2, at/above the stamp): the layout-exact filter consumes
    val qh = spark.sql(s"SELECT event_id FROM $cat.vs WHERE day = '3'")
    assert(residuals(qh).isEmpty,
      "a read at the stamping version must consume")
    assert(qh.count() === ev.limit(20).filter(col("day") === "3").count())
    // pinned BELOW the stamp (v0 — pre-guard layout text): the same
    // filter stays RESIDUAL and exact, and no metadata aggregate
    // may claim it
    val q0 = spark.sql(s"SELECT event_id FROM $cat.vs VERSION AS OF 0 " +
      "WHERE day = '3'")
    assert(residuals(q0).nonEmpty,
      "a read pinned below the stamping version must stay advisory")
    assert(q0.count() === ev.filter(col("day") === "3").count())
    val qa = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.vs VERSION AS OF 0 " +
      "WHERE day = '3'")
    assert(!qa.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qa.collect()(0).getLong(0) === ev.filter(col("day") === "3").count())
    // a RESTORE to the pre-stamp version re-commits its unguarded
    // layout text at a new (above-stamp) version — the stamp must
    // DROP (r18 review find: version numbering alone would have
    // served the resurrected text as guarded), and it never
    // re-applies while layout text exists
    CommitLog.restore(root, 0L)
    assert(CommitLog.tableProperty(root, "layout.valueGuard").isEmpty,
      "restoring pre-stamp layout text must drop the stamp")
    val qr = spark.sql(s"SELECT event_id FROM $cat.vs WHERE day = '3'")
    assert(residuals(qr).nonEmpty,
      "post-restore reads must stay advisory")
    assert(qr.count() === ev.filter(col("day") === "3").count())
    CommitLog.appendPartitioned(spark, root, ev.limit(5), "day",
      filesPerPartition = 1)
    assert(CommitLog.tableProperty(root, "layout.valueGuard").isEmpty,
      "the stamp must not re-apply over resurrected pre-guard text")
    // control: a table whose WHOLE history is guarded keeps its stamp
    // across restore — toVersion is at/above the stamping version
    val root2 = new java.io.File(base, "vs2").toString
    CommitLog.appendPartitioned(spark, root2, ev, "day", filesPerPartition = 1)
    CommitLog.appendPartitioned(spark, root2, ev.limit(10), "day",
      filesPerPartition = 1)
    CommitLog.restore(root2, 0L)
    assert(CommitLog.tableProperty(root2, "layout.valueGuard").contains("0"),
      "restore within guarded history must keep the stamp")
    val qk = spark.sql(s"SELECT event_id FROM $cat.vs2 WHERE day = '3'")
    assert(residuals(qk).isEmpty, "guarded-history restore keeps consuming")
    assert(qk.count() === ev.filter(col("day") === "3").count())
  }

  test("a filtered readStream.table on a consumable layout column streams exactly — streaming scans never see consumption (r17)") {
    // THE INVARIANT the batch ScanBuilder's consumption rests on:
    // Spark builds streaming scans without relation pushdown, so a
    // filter that WOULD be consumed in batch (layout-exact `day = x`)
    // reaches the stream as an ordinary row-level Filter above the
    // scan. If a future Spark ever pushed it, toMicroBatchStream's
    // guard throws rather than emit unfiltered rows — this spec is the
    // canary that tells us which world we are in.
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "fs").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    CommitLog.appendPartitioned(spark, root, ev, "day", filesPerPartition = 1)
    // batch consumes this exact predicate — proven here so the
    // streaming run below exercises the same consumable filter
    val qb = spark.sql(s"SELECT event_id FROM $cat.fs WHERE day = '3'")
    assert(qb.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty, "precondition: the predicate must be batch-consumable")
    val out = java.nio.file.Files.createTempDirectory("graft_fs_out").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_fs_ck").toString
    spark.readStream.table(s"$cat.fs")
      .filter(col("day") === "3").select(col("event_id"), col("value"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() === ev.filter(col("day") === "3").count())
    assert(got.agg(sum(col("event_id"))).collect()(0).getLong(0) ===
      ev.filter(col("day") === "3")
        .agg(sum(col("event_id"))).collect()(0).getLong(0))
  }

  test("prefix probes enumerate the recorded groups: null sentinel pruned, unstamped tables contribute no probe (r17)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "pfx").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", when(col("event_id") % 11 === 0, lit(null))
        .otherwise((col("event_id") % 7).cast("string")))
    CommitLog.appendPartitioned(spark, root, ev, "day", filesPerPartition = 1)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    // 7 day groups + the null-sentinel group = 8 files; LIKE '3%'
    // keeps ONLY the '3' group — the sentinel group holds NULL rows,
    // and a NULL never matches a prefix, so it prunes too
    val q = spark.sql(s"SELECT event_id FROM $cat.pfx WHERE day LIKE '3%'")
    val (total, keep) = scanOf(q).plannedFiles
    assert(total === 8 && keep.size === 1, s"($total, ${keep.size})")
    assert(q.count() === ev.filter(col("day").startsWith("3")).count())
    // remove the guard stamp (pre-guard writer): the enumeration is no
    // longer trusted — the same prefix plans everything, still exact
    val pf = new java.io.File(root, "_graft_log/_properties.json")
    val props = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(pf.toPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    props.remove("layout.valueGuard")
    java.nio.file.Files.writeString(pf.toPath, props.toString)
    val mf = new java.io.File(root, "_graft_log/v000000000.json")
    assert(mf.setLastModified(mf.lastModified() + 2000))
    // all 8 plan: the prefix enumeration AND the implicit
    // IsNotNull(day)'s sentinel veto both gate on the stamp (r17
    // review find — an unguarded table may have recorded a REAL value
    // as the sentinel text, so even the exclusion must not run)
    val q2 = spark.sql(s"SELECT event_id FROM $cat.pfx WHERE day LIKE '3%'")
    assert(scanOf(q2).plannedFiles._2.size === 8,
      "an unstamped table's probes must skip nothing")
    assert(q2.count() === ev.filter(col("day").startsWith("3")).count())
  }

  test("range/suffix/substring probes enumerate the recorded universe under COLUMN semantics and consume on guarded identity layouts (r18)") {
    val (cat, base) = freshCatalog()
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    def residuals(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }
    // LONG identity layout: 13 value groups (0..12) + the sentinel
    val root = new java.io.File(base, "rng").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"))
      .withColumn("num", when(col("event_id") % 11 === 0, lit(null))
        .otherwise((col("event_id") % 13).cast("long")))
    CommitLog.appendPartitioned(spark, root, ev, "num", filesPerPartition = 1)
    // numeric semantics: num <= 10 keeps 11 of 14 files — a TEXT
    // compare would keep {"0","1","10"} only; the sentinel (NULL
    // group) never matches a range
    val q = spark.sql(s"SELECT event_id FROM $cat.rng WHERE num <= 10")
    val (total, keep) = scanOf(q).plannedFiles
    assert(total === 14 && keep.size === 11, s"($total, ${keep.size})")
    assert(q.count() === ev.filter(col("num") <= 10).count())
    // CONSUMED: file membership is row membership on the guarded
    // identity layout — no residual Filter remains, result exact
    assert(residuals(q).isEmpty,
      "a range on a guarded identity layout column must consume")
    // strict bound + composition into the metadata aggregate: ONE
    // manifest parse answers the filtered COUNT(*)
    val qm = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.rng WHERE num > 7")
    assert(qm.queryExecution.executedPlan.toString.contains("metadata-aggregate"),
      "a consumed range filter must compose into the metadata aggregate")
    assert(qm.collect()(0).getLong(0) === ev.filter(col("num") > 7).count())
    // BETWEEN arrives as And(>=, <=): the probes intersect to 6 groups
    val qb = spark.sql(s"SELECT event_id FROM $cat.rng WHERE num BETWEEN 5 AND 10")
    assert(scanOf(qb).plannedFiles._2.size === 6)
    assert(qb.count() === ev.filter(col("num").between(5, 10)).count())
    // one unparseable recorded spelling ("03" aliases "3") refuses the
    // WHOLE enumeration — never a partial match set
    val foreign = graft.sources.GraftFilterPushdown.translate(
      Seq(org.apache.spark.sql.sources.LessThanOrEqual("num", 10L)),
      graft.sources.GraftFilterPushdown.PruneMeta(
        layoutCols = Set("num"), tags = Map.empty, legacyCol = None,
        layoutValues = Map("num" -> Set("1", "03", "5")), guarded = true))
    assert(foreign.isEmpty,
      "a non-canonical recorded spelling must refuse the range enumeration")
    // STRING layout: suffix / substring / UTF-8-ordered range
    val root2 = new java.io.File(base, "rng2").toString
    val ev2 = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"))
      .withColumn("grp", concat(
        when(col("event_id") % 4 < 2, lit("a")).otherwise(lit("b")),
        (col("event_id") % 2).cast("string")))
    CommitLog.appendPartitioned(spark, root2, ev2, "grp", filesPerPartition = 1)
    val qs = spark.sql(s"SELECT event_id FROM $cat.rng2 WHERE grp LIKE '%1'")
    assert(scanOf(qs).plannedFiles._2.size === 2, "suffix keeps a1, b1")
    assert(residuals(qs).isEmpty, "a suffix on a guarded identity layout consumes")
    assert(qs.count() === ev2.filter(col("grp").endsWith("1")).count())
    val qc = spark.sql(s"SELECT event_id FROM $cat.rng2 WHERE grp LIKE '%0%'")
    assert(scanOf(qc).plannedFiles._2.size === 2, "substring keeps a0, b0")
    assert(qc.count() === ev2.filter(col("grp").contains("0")).count())
    val qr = spark.sql(s"SELECT event_id FROM $cat.rng2 WHERE grp >= 'b'")
    assert(scanOf(qr).plannedFiles._2.size === 2, "UTF-8 order keeps b0, b1")
    assert(qr.count() === ev2.filter(col("grp") >= "b").count())
  }

  test("segmented consumption: layout filters answer by file selection, IS NOT NULL enforced via the sentinel veto, grouped/filtered aggregates from segment metadata (r18)") {
    val (cat, base) = freshCatalog()
    def residuals(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }
    def fromManifest(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("metadata-aggregate")
    val root = new java.io.File(base, "sc").toString
    // day carries REAL NULLs: the sentinel group's enforcement is the
    // load-bearing half of IS [NOT] NULL consumption
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", when(col("event_id") % 11 === 0, lit(null))
        .otherwise((col("event_id") % 7).cast("string")))
    CommitLog.appendSegmentPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 0), Seq("day"), 1, "event_id")
    CommitLog.appendSegmentPartitioned(spark, root,
      ev.filter(col("event_id") % 2 === 1), Seq("day"), 1, "event_id")
    // layout-exact equality CONSUMES (no residual) and stays exact
    val q = spark.sql(s"SELECT event_id FROM $cat.sc WHERE day = '3'")
    assert(residuals(q).isEmpty,
      "a layout-exact filter on a fully-covered segmented layout must consume")
    assert(q.count() === ev.filter(col("day") === "3").count())
    // IS NOT NULL consumes AND is ENFORCED: the sentinel veto prunes
    // the null groups at both levels, so the count excludes them
    val qn = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.sc WHERE day IS NOT NULL")
    assert(fromManifest(qn))
    assert(qn.collect()(0).getLong(0) === ev.filter(col("day").isNotNull).count())
    // IS NULL consumes to exactly the sentinel groups
    val qz = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.sc WHERE day IS NULL")
    assert(fromManifest(qz))
    assert(qz.collect()(0).getLong(0) === ev.filter(col("day").isNull).count())
    // the grouped partition profile answers from segment metadata and
    // equals the row-level groupBy (NULL group included)
    val qg = spark.sql(s"SELECT day, COUNT(*) AS n FROM $cat.sc GROUP BY day")
    assert(fromManifest(qg))
    val got = qg.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val want = ev.groupBy(col("day")).count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got === want)
    // filtered MIN/MAX folds the surviving files' per-file stats
    val qr = spark.sql(s"SELECT MIN(event_id) AS mn FROM $cat.sc WHERE day >= '5'")
    assert(fromManifest(qr))
    assert(qr.collect()(0).getLong(0) ===
      ev.filter(col("day") >= "5").agg(min(col("event_id")))
        .collect()(0).getLong(0))
    // a PLAIN (layout-less) segmented table never consumes
    val root2 = new java.io.File(base, "scp").toString
    CommitLog.appendSegment(spark, root2,
      ev.select(col("event_id"), col("value")), 1, "event_id")
    val qp = spark.sql(s"SELECT event_id FROM $cat.scp WHERE event_id > 5")
    assert(residuals(qp).nonEmpty,
      "a plain segmented table must keep every filter residual")
    // strip the universes (pre-r18 refs): consumption must stop —
    // fullLayoutCols demands EVERY ref record the column
    val head = CommitLog.latestVersion(root).get
    val mf = new java.io.File(root, f"_graft_log/v$head%09d.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(mf.toPath))
    node.get("segments").forEach { sn =>
      sn.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .remove("lv"); ()
    }
    java.nio.file.Files.writeString(mf.toPath, node.toString)
    assert(mf.setLastModified(mf.lastModified() + 2000))
    val q2 = spark.sql(s"SELECT event_id FROM $cat.sc WHERE day = '3'")
    assert(residuals(q2).nonEmpty,
      "stripped universes must stop consumption — probes stay advisory")
    assert(q2.count() === ev.filter(col("day") === "3").count())
  }

  test("filtered segmented LIMIT/TopN: exact over survivors, refusals on nullable stats and pre-r17 rows (r18)") {
    val (cat, base) = freshCatalog()
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    // a segmented table whose STATS column holds NULLs: a consumed
    // layout filter + TopN must REFUSE the envelope (NULL rows sort
    // outside the recorded bounds) and plan every surviving file
    val root = new java.io.File(base, "pk").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("value"))
      .withColumn("day", (col("event_id") % 3).cast("string"))
      .withColumn("vid", when(col("event_id") % 11 === 0, lit(null))
        .otherwise(col("event_id")))
    CommitLog.appendSegmentPartitioned(spark, root,
      ev, Seq("day"), 1, "vid")
    val qt = spark.sql(s"SELECT vid FROM $cat.pk WHERE day = '1' " +
      "ORDER BY vid DESC LIMIT 3")
    // consumed filter prunes to the day's file; the TopN envelope
    // refuses (nNulls > 0) so the whole surviving set plans
    assert(scanOf(qt).plannedFiles._2.size === 1,
      "the consumed filter must still prune to the day's file")
    val want = ev.filter(col("day") === "1").select(col("vid"))
      .orderBy(col("vid").desc_nulls_last).limit(3)
      .collect().map(r => Option(r.get(0)))
    assert(qt.collect().map(r => Option(r.get(0))).toSet === want.toSet)
    assert(CommitLog.segmentedTopNFilesTree(root, 0L, "vid", asc = false, 3,
      CommitLog.ProbeTree(Seq("day" -> Set("1")), Nil)).isEmpty,
      "a nullable stats column must refuse the filtered TopN envelope")
    // descending envelopes must sort by Ordering.reverse, never
    // negation (r18 review find): -Long.MinValue overflows back to
    // MinValue, sorting a MinValue-bounded segment FIRST and planning
    // an envelope that drops files holding true top-n rows
    import spark.implicits._
    val root2 = new java.io.File(base, "mn").toString
    CommitLog.appendSegment(spark, root2,
      Seq(Long.MinValue, Long.MinValue + 1).toDF("v"), 1, "v")
    CommitLog.appendSegment(spark, root2, Seq(100L, 200L).toDF("v"), 1, "v")
    CommitLog.appendSegment(spark, root2, Seq(10L, 20L, 50L).toDF("v"), 1, "v")
    val qm = spark.sql(s"SELECT v FROM $cat.mn ORDER BY v DESC LIMIT 4")
    assert(qm.collect().map(_.getLong(0)).toSeq === Seq(200L, 100L, 50L, 20L),
      "the DESC TopN envelope mis-sorted a Long.MinValue-bounded segment")
  }

  test("segmented partition layouts: two-level pruning, pre-r18 refs unprunable, spec mixing refused, marker-gated TopN/COUNT(col) (r18)") {
    val (cat, base) = freshCatalog()
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
            if r.scan.isInstanceOf[graft.sources.GraftBatchScan] =>
          r.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }.head
    val root = new java.io.File(base, "sp").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    // seg1 = days 0..3 (4 files), seg2 = days 4..6 (3 files)
    CommitLog.appendSegmentPartitioned(spark, root,
      ev.filter(col("event_id") % 7 <= 3), Seq("day"), 1, "event_id")
    val head = CommitLog.appendSegmentPartitioned(spark, root,
      ev.filter(col("event_id") % 7 > 3), Seq("day"), 1, "event_id")
    // two-level: day='5' opens ONLY seg2 and plans its one day file
    val q = spark.sql(s"SELECT event_id FROM $cat.sp WHERE day = '5'")
    val (total, keep) = scanOf(q).plannedFiles
    assert(total === 7 && keep.size === 1, s"($total, ${keep.size})")
    assert(q.count() === ev.filter(col("day") === "5").count())
    val (_, _, segsTotal, segsRead) = CommitLog.segmentedPrunedFilesTree(root,
      head, CommitLog.ProbeTree(Seq("day" -> Set("5")), Nil))
    assert(segsTotal === 2 && segsRead === 1)
    // layout probes intersect the bounds prune: day='5' AND an id
    // range covering only seg2's ids still plans 1 file, 1 segment
    // (both decide at segment level)
    // estimateStatistics: the layout-filtered scan reports the
    // surviving segment's bytes, not the table's
    val statsAll = scanOf(spark.sql(s"SELECT event_id FROM $cat.sp"))
      .estimateStatistics().sizeInBytes().getAsLong
    val statsDay = scanOf(q).estimateStatistics().sizeInBytes().getAsLong
    assert(statsDay < statsAll,
      "a layout-pruned segmented scan must report pruned statistics")
    // SPEC MIXING refuses loudly, in all three directions
    val e1 = intercept[IllegalArgumentException] {
      CommitLog.appendSegment(spark, root, ev.limit(5), 1, "event_id")
    }
    assert(e1.getMessage.contains("appendSegmentPartitioned"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      CommitLog.appendSegmentPartitioned(spark, root, ev.limit(5),
        Seq("user_id"), 1, "event_id")
    }
    assert(e2.getMessage.contains("one partition spec"), e2.getMessage)
    val rootPlain = new java.io.File(base, "spp").toString
    CommitLog.appendSegment(spark, rootPlain,
      ev.select(col("event_id"), col("value")), 1, "event_id")
    val e3 = intercept[IllegalArgumentException] {
      CommitLog.appendSegmentPartitioned(spark, rootPlain,
        ev.select(col("event_id"), col("value")), Seq("event_id"), 1,
        "event_id")
    }
    assert(e3.getMessage.contains("UNPARTITIONED"), e3.getMessage)
    // PRE-r18 REFS: strip the lv/nNulls markers from the manifest (a
    // pre-r18 writer never recorded them) — layout probes contribute
    // nothing (all 7 files plan, result exact), TopN and COUNT(col)
    // refuse rather than answer from absent metadata
    val mf = new java.io.File(root, f"_graft_log/v${head}%09d.json")
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(mf.toPath))
    node.get("segments").forEach { sn =>
      val on = sn.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      on.remove("lv"); on.remove("nNulls"); ()
    }
    java.nio.file.Files.writeString(mf.toPath, node.toString)
    assert(mf.setLastModified(mf.lastModified() + 2000))
    val q2 = spark.sql(s"SELECT event_id FROM $cat.sp WHERE day = '5'")
    assert(scanOf(q2).plannedFiles._2.size === 7,
      "pre-r18 segment refs must stay layout-unprunable")
    assert(q2.count() === ev.filter(col("day") === "5").count())
    assert(CommitLog.segmentedTopNFiles(root, head, "event_id",
      asc = false, 3).isEmpty,
      "TopN must refuse when any segment lacks the r18 null marker")
    assert(CommitLog.segmentedCountCol(root, head).isEmpty,
      "COUNT(col) must refuse when any segment lacks the r18 null marker")
    val qc = spark.sql(s"SELECT COUNT(event_id) AS n FROM $cat.sp")
    assert(!qc.queryExecution.executedPlan.toString.contains("metadata-aggregate"))
    assert(qc.collect()(0).getLong(0) === ev.count())
  }

  test("a table root deleted and re-staged at the same path never serves the old table's prune metadata (r17)") {
    val (cat, base) = freshCatalog()
    val root = new java.io.File(base, "rs").toString
    val ev = Tables(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("day", (col("event_id") % 7).cast("string"))
    CommitLog.appendPartitioned(spark, root, ev, "day", filesPerPartition = 1)
    // plan a consumed query — warms the PruneMeta cache for (root, v0)
    val q1 = spark.sql(s"SELECT event_id FROM $cat.rs WHERE day = '3'")
    assert(q1.count() === ev.filter(col("day") === "3").count())
    // delete the table and re-stage DIFFERENT data, UNPARTITIONED, at
    // the same path — version numbers restart at 0
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(root))
    CommitLog.append(spark, root, ev.drop("day"), nFiles = 2)
    // the stale (root, v0) PruneMeta carried day in fullLayoutCols; a
    // cache hit would CONSUME day='3' against a table whose files
    // record no layout at all → zero files → zero rows. The manifest
    // identity in the cache key makes this a miss: day is not even a
    // column now, and a query on the surviving columns is exact.
    val q2 = spark.sql(s"SELECT COUNT(*) AS n FROM $cat.rs")
    assert(q2.collect()(0).getLong(0) === ev.count())
    val meta = graft.sources.GraftFilterPushdown.pruneMetaOf(root, 0L)
    assert(meta.fullLayoutCols.isEmpty && meta.layoutCols.isEmpty,
      s"re-staged table must not inherit the old layout metadata: $meta")
  }

  private def rel(root: String, p: String): String =
    new java.io.File(root).toURI.relativize(new java.io.File(p).toURI).getPath

  test("typed stats from parquet footers equal the Spark job's; other types fall back to it") {
    val root = java.nio.file.Files.createTempDirectory("graft_footstats").toString
    val df = spark.range(6000).selectExpr(
      "id - 3000 AS b",
      "CAST(id % 1000 - 500 AS INT) AS i",
      "CAST(id % 300 - 150 AS SMALLINT) AS sh",
      "CAST(id % 200 - 100 AS TINYINT) AS by",
      "date_sub(DATE'1970-01-10', CAST(id % 40 AS INT)) AS d",
      "CAST(NULL AS BIGINT) AS nul",
      "IF(id % 3 = 0, NULL, id * 7 - 9000) AS mixed",
      "CASE id % 4 WHEN 0 THEN CAST('NaN' AS DOUBLE) WHEN 1 THEN -0.0D " +
        "WHEN 2 THEN 0.0D ELSE id / 3.0D END AS dbl",
      "CAST(id AS STRING) AS s",
      "TIMESTAMP'1969-12-31 23:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts")
    CommitLog.append(spark, root, df, nFiles = 3)
    // a second commit whose files hold only NULLs in `mixed` and only
    // finite doubles
    CommitLog.append(spark, root, df.filter("id % 3 = 0 AND id % 4 >= 2"), nFiles = 2)
    val head = CommitLog.latestVersion(root).get
    // plus two files of the same data with small row groups, written
    // beside the table
    df.coalesce(2).write.option("parquet.block.size", "1024")
      .parquet(new java.io.File(root, "rg").toString)
    val rgFiles = new java.io.File(root, "rg").listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted.map("rg/" + _)
    val files = CommitLog.snapshotFiles(root, head).map(rel(root, _)) ++ rgFiles
    assert(files.size === 7, files.toString)
    val groups = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(new java.io.File(root, f).getAbsolutePath),
          new org.apache.hadoop.conf.Configuration()))
      try r.getRowGroups.size finally r.close()
    }
    assert(groups.takeRight(2).forall(_ > 1), s"row groups per file: $groups")
    val integral = Seq("b", "i", "sh", "by", "d", "nul", "mixed")
    val job = CommitLog.perFileColStatsJob(spark, root, files, integral)
    assert(job.stats2.size === 7 && job.statsTags === integral.map(_ -> "long").toMap)
    var footer = CommitLog.Aux()
    assert(jobsOf { footer = CommitLog.perFileColStats(spark, root, files, integral) } === 0,
      "integral and DATE stats must come from the footers, with no Spark job")
    assert(footer === job)
    val d = job.stats2.values.map(_("d")).toSeq
    assert(d.forall(_.lo.exists(_.toString.toLong < 0)), s"dates before 1970: $d")
    assert(job.stats2.values.forall(m => m("nul").lo.isEmpty && m("nul").nulls > 0))
    // doubles with NaN and -0.0, strings and timestamps go through the
    // job, alone and mixed with footer columns
    val all = integral ++ Seq("dbl", "s", "ts")
    assert(CommitLog.perFileColStats(spark, root, files, all) ===
      CommitLog.perFileColStatsJob(spark, root, files, all))
    assert(CommitLog.perFileColStats(spark, root, files, Seq("dbl", "s", "ts")) ===
      CommitLog.perFileColStatsJob(spark, root, files, Seq("dbl", "s", "ts")))
    // column mapping: the renamed columns' stats read their PHYSICAL
    // names in the footers
    CommitLog.renameColumn(spark, root, "b", "b2")
    CommitLog.renameColumn(spark, root, "d", "d2")
    val mapped = Seq("b2", "d2", "mixed")
    val mappedJob = CommitLog.perFileColStatsJob(spark, root, files, mapped)
    assert(mappedJob.stats2.values.forall(_.keySet === mapped.toSet))
    assert(jobsOf { footer = CommitLog.perFileColStats(spark, root, files, mapped) } === 0)
    assert(footer === mappedJob)
  }

  test("BIGINT statsColumns add no Spark job to DELETE, UPDATE, INSERT or OPTIMIZE ZORDER") {
    val (cat, base) = freshCatalog()
    val ev = Tables(spark, sf, "events").select(col("event_id"), col("value")).limit(2000)
    ev.createOrReplaceTempView("stats_jobs_src")
    Seq("plain" -> "", "st" -> " TBLPROPERTIES ('statsColumns' = 'event_id')").foreach {
      case (t, props) =>
        spark.sql(s"CREATE TABLE $cat.$t (event_id BIGINT, value DOUBLE)$props")
        spark.sql(s"INSERT INTO $cat.$t SELECT * FROM stats_jobs_src")
    }
    Seq("DELETE FROM TBL WHERE event_id % 7 = 0",
        "UPDATE TBL SET value = value + 1 WHERE event_id % 5 = 0",
        "INSERT INTO TBL SELECT * FROM stats_jobs_src",
        "OPTIMIZE TBL ZORDER BY (event_id)").foreach { q =>
      val plain = jobsOf(spark.sql(q.replace("TBL", s"$cat.plain")))
      val st = jobsOf(spark.sql(q.replace("TBL", s"$cat.st")))
      assert(st === plain, s"$q: $st jobs with statsColumns, $plain without")
    }
    // and every live file still carries its typed stats
    val root = new java.io.File(base, "st").toString
    val head = CommitLog.latestVersion(root).get
    val aux = CommitLog.auxOf(root, head)
    assert(aux.statsTags === Map("event_id" -> "long"))
    assert(CommitLog.snapshotFiles(root, head).forall(p =>
      aux.stats2.get(rel(root, p)).exists(_.contains("event_id"))))
    assert(spark.sql(s"SELECT * FROM $cat.st").count() ===
      spark.sql(s"SELECT * FROM $cat.plain").count())
  }

  test("row-level DML: copy-on-write and deletion-vector tables answer and refuse alike") {
    val (cat, _) = freshCatalog()
    val modes = Seq("cow" -> "", "dv" -> " TBLPROPERTIES ('enableDeletionVectors' = 'true')")
    // an empty table: nothing to change, version 0 stays the head
    modes.foreach { case (m, props) =>
      spark.sql(s"CREATE TABLE $cat.empty_$m (id BIGINT, v INT)$props")
      Seq(s"UPDATE $cat.empty_$m SET v = 1 WHERE id = 1",
        s"DELETE FROM $cat.empty_$m WHERE id = 1").foreach { stmt =>
        val r = spark.sql(stmt).collect()(0)
        assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((0L, 0L, 0L)), s"$m: $stmt")
      }
    }
    // a composite partition spec: SET on either spec column refuses in
    // both modes, with one message
    val refusals = modes.map { case (m, props) =>
      spark.sql(s"CREATE TABLE $cat.part_$m (k BIGINT, a STRING, b STRING) PARTITIONED BY (a, b)$props")
      spark.sql(s"INSERT INTO $cat.part_$m VALUES (1, 'x', 'y'), (2, 'x', 'z')")
      Seq("a", "b").map { c =>
        intercept[IllegalArgumentException](
          spark.sql(s"UPDATE $cat.part_$m SET $c = 'q' WHERE k = 1").collect()).getMessage
      }
    }
    assert(refusals.distinct.size === 1, refusals)
    assert(refusals.head.head.contains("assigning partition column 'a'"), refusals.head.head)
    assert(spark.sql(s"SELECT * FROM $cat.part_dv WHERE a = 'q' OR b = 'q'").count() === 0L)
    // CHECK judges the post-image of each row the predicate matched
    // BEFORE the assignment, also when the assignment moves the
    // predicate's own column
    modes.foreach { case (m, props) =>
      spark.sql(s"CREATE TABLE $cat.chk_$m (k BIGINT, v INT)$props")
      spark.sql(s"ALTER TABLE $cat.chk_$m SET TBLPROPERTIES ('constraint.v_small' = 'v < 3')")
      spark.sql(s"INSERT INTO $cat.chk_$m VALUES (1, 1), (2, 2)")
      val ex = intercept[IllegalArgumentException](
        spark.sql(s"UPDATE $cat.chk_$m SET v = 5 WHERE v = 1").collect())
      assert(ex.getMessage.contains("v_small"), s"$m: ${ex.getMessage}")
      assert(spark.sql(s"SELECT * FROM $cat.chk_$m WHERE v = 5").count() === 0L, m)
    }
  }
}
