package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.Row
import graft.sources.CommitLog

/** `table_mix`: one client runs a seeded mix of about 80 % reads and
  * 20 % writes in SQL against one catalog table built through SQL
  * (CREATE TABLE plus one INSERT per key-range chunk, so per-file
  * l_orderkey stats have files to skip). Every [[maintainEvery]] writes
  * it runs OPTIMIZE ZORDER BY (l_orderkey) and VACUUM, which keeps the file
  * count at a steady state. A plain in-memory replay of the same
  * statements is the reference every result is checked against. */
object TableMix {
  val chunks = 4
  val ordersPerChunk = 500
  val setupReps = 3
  val maintainEvery = 8
  val retainVersions = 1
  /** Statements of one compaction cycle: four reads to one write, and a
    * maintenance pass after every [[maintainEvery]] writes. */
  val cycle = 5 * maintainEvery
  /** Timed statements per second of `--seconds`. The statement count
    * follows from `--seconds` alone, never from the engine's speed, so
    * every run takes its percentiles over the same number of reads; at
    * this rate a run times about `--seconds` on a 4-core host. */
  val statementsPerSecond = 2.5

  /** Statements a run times: whole compaction cycles, so every run leaves
    * the table at the same point of its cycle. One cycle holds 32 reads,
    * enough for a read tail (ten reads beyond it) above the median. */
  def statements(seconds: Double): Int =
    cycle * math.max(1, math.ceil(seconds * statementsPerSecond / cycle).toInt)
  /** Statements of the untimed warm-up pass in set-up. */
  val warmStatements = 5

  /** Statement classes in a fixed weighted rotation: four reads to one
    * write, so every run holds the same class shares and the seed picks
    * only keys, ranges and values. */
  val reads: Seq[String] = Seq("point", "range", "flag_range", "point", "range",
    "version", "point", "range", "aggregate", "point", "range", "count",
    "point", "range", "flag_range", "version")
  val writes: Seq[String] = Seq("merge", "delete", "update", "insert")

  /** Row state in the reference: (orderkey, linenumber) → columns. */
  final case class Line(partkey: Long, suppkey: Long, qty: Double, price: Double,
      disc: Double, tax: Double, flag: String, status: String, ship: java.sql.Timestamp)

  final class Model(rows: Seq[Row]) {
    val lines: mutable.Map[(Long, Int), Line] = mutable.HashMap(rows.map(rowToEntry): _*)
    def rowToEntry(r: Row): ((Long, Int), Line) =
      (r.getLong(1), r.getInt(4)) -> Line(r.getLong(2), r.getLong(3), r.getDouble(5),
        r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getString(9),
        r.getString(10), r.getTimestamp(11))
    def keys: Seq[Long] = lines.keysIterator.map(_._1).toSeq.distinct.sorted
    def in(lo: Long, hi: Long): Seq[((Long, Int), Line)] =
      lines.toSeq.filter { case ((k, _), _) => k >= lo && k <= hi }
    /** (count, sum price, sum quantity, key checksum) */
    def summary: (Long, Double, Double, Long) = (lines.size.toLong,
      lines.valuesIterator.map(_.price).sum, lines.valuesIterator.map(_.qty).sum,
      lines.keysIterator.map { case (k, l) => k * 8 + l }.sum)
  }

  val cols = "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, " +
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"

  private def createAndLoad(ctx: Ctx, name: String, files: Seq[String]): Unit = {
    val s = ctx.spark
    s.sql(s"CREATE TABLE bench.$name (l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate TIMESTAMP) " +
      "TBLPROPERTIES ('statsColumns' = 'l_orderkey')")
    files.foreach(f => s.sql(s"INSERT INTO bench.$name SELECT $cols FROM parquet.`$f`"))
  }

  /** One timed statement with its class, latency and Spark-side facts. */
  final case class Stmt(kind: String, isRead: Boolean, ms: Double, traced: Boolean,
      planMs: Double, rowsOut: Long, spanId: Int)

  /** One client's statement stream against table `bench.t<idx>`, with
    * the in-memory reference it is checked against. With `counted` false
    * (the set-up warm-up pass) nothing is checked or recorded. */
  final class Mix(ctx: Ctx, idx: Int, rows: Seq[Row], counted: Boolean) {
    private val s = ctx.spark
    private val tr = ctx.tracer
    val table = s"bench.t$idx"
    val root: String = new File(ctx.work, s"catalog/t$idx").getAbsolutePath
    val model = new Model(rows)
    private val r = Gen.rng(ctx.seed, idx, 5)
    private val used = mutable.HashSet[Long](model.keys: _*)
    private val orders = chunks * ordersPerChunk
    // summary of the reference at each published version
    private val atVersion = mutable.LinkedHashMap[Long, (Long, Double, Double, Long)]()
    def head(): Long = CommitLog.latestVersion(root).get
    atVersion(head()) = model.summary
    private var oldest = 0L

    val stmts = mutable.ArrayBuffer[Stmt]()
    val maint = mutable.ArrayBuffer[(String, Double)]()
    val rewrite = mutable.ArrayBuffer[(Long, Long)]() // (bytes added, rows changed)
    var filesAdded = 0L
    val firstVersion: Long = head()
    var nWrites = 0
    var i = 0

    /** An unused order key next to order `o`, so inserted rows stay
      * inside the key range the table's files are clustered on. */
    private def freshKey(o: Int): Long = {
      var k = 0L
      var n = o
      while (k == 0L || used.contains(k)) { k = 4L * n + 1 + r.nextInt(3); n = 1 + (n % orders) }
      used += k
      k
    }
    private def someOrder(): Int = 1 + r.nextInt(orders)
    private def someKey(): Long = { val ks = model.keys; ks(r.nextInt(ks.size)) }

    private def check(what: String)(ok: => Boolean): Unit =
      if (counted) ctx.check(what)(ok)

    private def parseSpan(kind: String, sql: String): Unit =
      if (tr.enabled) tr.span("GraftSqlParser", s"parse $kind")(
        s.sessionState.sqlParser.parsePlan(sql))

    private def readStmt(kind: String, sql: String)(ok: Array[Row] => Boolean): Unit = {
      var plan = 0.0
      var spanId = 0
      val (rows, ns) = try ctx.nanos(tr.span("op", kind, isOp = true) {
        spanId = tr.current
        parseSpan("select", sql)
        tr.span("GraftCatalog", s"select $kind") {
          val df = s.sql(sql)
          val out = df.collect()
          plan = df.queryExecution.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
          out
        }
      }) catch {
        case e: Throwable if counted => ctx.threw(s"$kind read", 1, e); return
      }
      stmts += Stmt(kind, isRead = true, ns / 1e6, tr.enabled, plan, rows.length, spanId)
      check(s"$kind read")(ok(rows))
    }

    /** Run one write; `apply` replays it on the reference and returns
      * the rows it changed. Maintenance (`isMaint`) stays out of the
      * write latencies. */
    private def writeStmt(kind: String, sql: String, isMaint: Boolean = false)(apply: => Long): Unit = {
      val before = CommitLog.snapshotFiles(root, head()).toSet
      var spanId = 0
      val (_, ns) = try ctx.nanos(tr.span("op", kind, isOp = true) {
        spanId = tr.current
        parseSpan(kind, sql)
        tr.span("CommitLog", kind)(s.sql(sql).collect())
      }) catch {
        case e: Throwable if counted => ctx.threw(s"$kind write", 1, e); return
      }
      if (isMaint) maint += ((kind, ns / 1e6))
      else {
        if (counted) ctx.attempted += 1
        stmts += Stmt(kind, isRead = false, ns / 1e6, tr.enabled, 0.0, 0, spanId)
      }
      val changed = apply
      val v = head()
      atVersion(v) = model.summary
      val fresh = CommitLog.snapshotFiles(root, v).filterNot(before)
      filesAdded += fresh.size
      if (!isMaint && changed > 0) rewrite += ((fresh.map(f => new File(f).length()).sum, changed))
    }

    /** Upsert rows for one window of 25 orders: half replace existing
      * lines, half are new orders. */
    private def upsertSource(n: Int): Seq[Row] = {
      val o = someOrder()
      val lo = 4L * o
      val existing = model.in(lo, lo + 100).map(_._1)
      (0 until n).map { j =>
        if (j % 2 == 0 && existing.nonEmpty) {
          val (k, line) = existing(r.nextInt(existing.size))
          Gen.lineRow(r, 0, k, line)
        } else Gen.lineRow(r, 0, freshKey(o), 1)
      }.groupBy(x => (x.getLong(1), x.getInt(4))).values.map(_.head).toSeq
    }

    private def view(name: String, rows: Seq[Row]): Unit =
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), Gen.lineitemSchema)
        .selectExpr(cols.split(", ").toSeq: _*).createOrReplaceTempView(name)

    private def sameSet(got: Array[Row], want: Seq[((Long, Int), Line)]): Boolean =
      got.map(x => (x.getLong(0), x.getInt(1), x.getDouble(2))).toSet ==
        want.map { case ((k, l), v) => (k, l, v.price) }.toSet && got.length == want.size

    /** One statement of the rotation, plus maintenance when due. */
    def step(traceable: Boolean): Unit = {
      val isRead = i % 5 != 4
      // traced runs alternate traced and untraced passes over each class rotation
      tr.enabled = traceable &&
        (if (isRead) ((i - i / 5) / reads.size) % 2 == 1 else (nWrites / writes.size) % 2 == 1)
      if (isRead) reads((i - i / 5) % reads.size) match {
        case "point" =>
          val k = someKey()
          readStmt("point", s"SELECT l_orderkey, l_linenumber, l_extendedprice FROM $table WHERE l_orderkey = $k")(
            got => sameSet(got, model.in(k, k)))
        case "range" =>
          val lo = someKey(); val hi = lo + 200
          readStmt("range", s"SELECT l_orderkey, l_linenumber, l_extendedprice FROM $table " +
            s"WHERE l_orderkey BETWEEN $lo AND $hi")(got => sameSet(got, model.in(lo, hi)))
        case "flag_range" =>
          val lo = someKey(); val hi = lo + 400; val f = Gen.flags(r.nextInt(3))
          readStmt("flag_range", s"SELECT l_orderkey, l_linenumber, l_extendedprice FROM $table " +
            s"WHERE l_returnflag = '$f' AND l_orderkey BETWEEN $lo AND $hi")(
            got => sameSet(got, model.in(lo, hi).filter(_._2.flag == f)))
        case "aggregate" =>
          val lo = someKey(); val hi = lo + 2000
          readStmt("aggregate", s"SELECT l_returnflag, l_linestatus, COUNT(*), SUM(l_quantity), " +
            s"SUM(l_extendedprice) FROM $table WHERE l_orderkey BETWEEN $lo AND $hi GROUP BY 1, 2")(
            got => got.map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toSet ==
              model.in(lo, hi).groupBy(e => (e._2.flag, e._2.status)).map { case ((f, st), es) =>
                (f, st, es.size.toLong, es.map(_._2.qty).sum, es.map(_._2.price).sum) }.toSet)
        case "count" =>
          readStmt("count", s"SELECT COUNT(*) FROM $table")(got => got(0).getLong(0) == model.lines.size)
        case "version" =>
          val vs = atVersion.keys.filter(_ >= oldest).toSeq
          val v = vs(r.nextInt(vs.size))
          val want = atVersion(v)
          readStmt("version", s"SELECT COUNT(*), SUM(l_extendedprice), SUM(l_quantity) FROM $table VERSION AS OF $v")(
            got => got(0).getLong(0) == want._1 && got(0).getDouble(1) == want._2 && got(0).getDouble(2) == want._3)
      } else {
        writes(nWrites % writes.size) match {
          case "merge" =>
            val src = upsertSource(8)
            view("mix_merge_src", src)
            writeStmt("merge", s"MERGE INTO $table t USING mix_merge_src s " +
              "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *") {
              src.foreach(x => model.lines += model.rowToEntry(x)); src.size.toLong
            }
          case "delete" =>
            val k = someKey()
            writeStmt("delete", s"DELETE FROM $table WHERE l_orderkey = $k") {
              val gone = model.in(k, k).map(_._1); model.lines --= gone; gone.size.toLong
            }
          case "update" =>
            val lo = someKey(); val hi = lo + 8
            writeStmt("update", s"UPDATE $table SET l_quantity = l_quantity + 1 " +
              s"WHERE l_orderkey BETWEEN $lo AND $hi") {
              val hit = model.in(lo, hi)
              hit.foreach { case (key, l) => model.lines(key) = l.copy(qty = l.qty + 1) }
              hit.size.toLong
            }
          case "insert" =>
            val k = freshKey(someOrder())
            val rows = (1 to 1 + r.nextInt(7)).map(l => Gen.lineRow(r, 0, k, l))
            view("mix_insert_src", rows)
            writeStmt("insert", s"INSERT INTO $table SELECT $cols FROM mix_insert_src") {
              rows.foreach(x => model.lines += model.rowToEntry(x)); rows.size.toLong
            }
        }
        nWrites += 1
        if (nWrites % maintainEvery == 0) {
          writeStmt("optimize", s"OPTIMIZE $table ZORDER BY (l_orderkey)", isMaint = true)(0L)
          writeStmt("vacuum", s"VACUUM $table RETAIN $retainVersions VERSIONS", isMaint = true)(0L)
          oldest = head() - retainVersions + 1
        }
      }
      tr.enabled = false
      i += 1
    }
  }

  def run(ctx: Ctx): Outcome = {
    val s = ctx.spark
    // set-up repeated at fresh table roots; one warm-up pass of the
    // statement rotation runs on the first table, the timed mix on the last
    val tables = (1 to setupReps).map { i =>
      val (files, rows) = Gen.lineitem(s, ctx.work, ctx.seed, i, chunks, ordersPerChunk)
      (ctx.nanos(createAndLoad(ctx, s"t$i", files))._2 / 1e9, rows)
    }
    val warm = new Mix(ctx, 1, tables.head._2, counted = false)
    val warmS = ctx.nanos((1 to warmStatements).foreach(_ => warm.step(traceable = false)))._2 / 1e9
    ctx.log(f"table_mix: set-up done, warm-up $warmS%.2f s")
    val mix = new Mix(ctx, setupReps, tables.last._2, counted = true)
    (1 to statements(ctx.seconds)).foreach(_ => mix.step(traceable = ctx.trace))
    val stmts = mix.stmts.toSeq

    // the final snapshot against the reference; a mismatch fails every write
    val (n, price, qty, ck) = mix.model.summary
    val fin = s.sql(s"SELECT COUNT(*), SUM(l_extendedprice), SUM(l_quantity), " +
      s"SUM(l_orderkey * 8 + l_linenumber) FROM ${mix.table}").collect()(0)
    val finalOk = fin.getLong(0) == n && fin.getDouble(1) == price &&
      fin.getDouble(2) == qty && fin.getLong(3) == ck
    if (!finalOk) {
      ctx.failed += stmts.count(!_.isRead)
      ctx.problems += s"table_mix final snapshot ${fin.mkString("/")} != reference ($n/$price/$qty/$ck)"
    }
    val rd = stmts.filter(_.isRead).map(_.ms)
    val wr = stmts.filterNot(_.isRead).map(_.ms)
    val e2e = Map(
      "throughput_per_s" -> stmts.size / (stmts.map(_.ms).sum / 1e3),
      "op_p50_ms" -> Stats.median(rd), "op_tail_ms" -> ctx.tail("table_mix reads", rd),
      "op2_p50_ms" -> Stats.median(wr),
      "bytes_per_row" -> Ingest.dirBytes(new File(mix.root)).toDouble / n)
    ctx.log(s"table_mix: ${rd.size} reads, ${wr.size} writes, ${mix.maint.size} maintenance; p50 ms by class: " +
      stmts.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, xs) => f"$k ${Stats.median(xs.map(_.ms))}%.0f (${xs.size})" }.mkString(", "))
    val layers = if (!ctx.trace) Map.empty[String, Double]
      else traced(ctx, mix.root, stmts, mix.maint.toSeq, mix.rewrite.toSeq,
        mix.filesAdded.toDouble / math.max(1L, mix.head() - mix.firstVersion))
    Outcome(warmS, tables.map(_._1), e2e, layers)
  }

  private def traced(ctx: Ctx, root: String, stmts: Seq[Stmt], maint: Seq[(String, Double)],
      rewrite: Seq[(Long, Long)], filesPerVersion: Double): Map[String, Double] = {
    val spans = ctx.tracer.spans
    val common = Layers.common(ctx, spans)
    val (byspan, _) = Layers.attribute(spans, Layers.finishedJobs(ctx))
    def med(xs: Seq[Double]): Double = Stats.medianOr0(xs)
    val byId = spans.map(x => x.id -> x).toMap
    val tReads = stmts.filter(x => x.isRead && x.traced)
    val tWrites = stmts.filter(x => !x.isRead && x.traced)
    val readJobs = tReads.map(x => Layers.jobsUnder(spans, byspan, x.spanId))
    val writeJobs = tWrites.map(x => Layers.jobsUnder(spans, byspan, x.spanId))
    val readAgg = Layers.agg(readJobs.flatten)
    val parse = Seq("select", "merge", "delete", "update", "insert", "optimize", "vacuum").map { k =>
      s"GraftSqlParser.parse_${k}_ms" -> med(spans.filter(_.name == s"parse $k").map(_.dur / 1e6))
    }
    val head = CommitLog.latestVersion(root).get
    val filesLive = CommitLog.snapshotFiles(root, head).size.toDouble
    val untracedOps = stmts.filterNot(_.traced).map(_.ms)
    val tracedOps = stmts.filter(_.traced).map(_.ms)
    common ++ parse ++ Map(
      "CommitLog.write_jobs" -> med(writeJobs.map(_.size.toDouble)),
      "CommitLog.write_gap_ms" -> med(tWrites.zip(writeJobs).map { case (w, js) =>
        Layers.gapMs(byId(w.spanId), js) }),
      "CommitLog.rewrite_bytes_per_changed_row" ->
        (if (rewrite.isEmpty) 0.0 else rewrite.map(_._1).sum.toDouble / rewrite.map(_._2).sum),
      "CommitLog.optimize_ms" -> med(maint.filter(_._1 == "optimize").map(_._2)),
      "CommitLog.vacuum_ms" -> med(maint.filter(_._1 == "vacuum").map(_._2)),
      "CommitLog.manifest_bytes" -> new File(root, f"_graft_log/v$head%09d.json").length().toDouble,
      "CommitLog.files_live" -> filesLive,
      "CommitLog.files_per_version" -> filesPerVersion,
      "GraftCatalog.plan_ms" -> med(tReads.map(_.planMs)),
      "GraftCatalog.rows_read_per_row_returned" ->
        readAgg.inputRecords.toDouble / math.max(1L, tReads.map(_.rowsOut).sum),
      "GraftCatalog.bytes_read" -> med(readJobs.map(js => js.map(_.inputBytes).sum.toDouble)),
      "GraftCatalog.read_jobs" -> med(readJobs.map(_.size.toDouble)),
      "GraftCatalog.tasks_per_read" -> med(readJobs.map(js => js.map(_.tasks).sum.toDouble)),
      "trace.overhead_frac" -> (if (tracedOps.isEmpty || untracedOps.isEmpty) 0.0
        else med(tracedOps) / med(untracedOps) - 1.0))
  }
}
