package perfbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input of repetition `rep` of a run with
  * seed `seed` lives under [[Gen.repDir]], a path no other (seed, rep)
  * shares, so the engine's input-identity memos never serve a later
  * repetition from an earlier one. Rows are built in the harness JVM from a
  * java.util.Random seeded by (seed, rep, stream) and written one file
  * per chunk in a fixed row order, so a seed always yields byte-identical
  * files. */
object Gen {
  def repDir(work: String, workload: String, seed: Long, rep: Int): String =
    new File(work, s"inputs/$workload/s$seed/r$rep").getPath

  def rng(seed: Long, rep: Int, stream: Int): Random =
    new Random(seed * 1000003L + rep * 7919L + stream)

  /** Write `rows` as one parquet file per chunk, `<dir>/<prefix><chunk>.parquet`,
    * rows ordered by `orderCol` inside each file. */
  def writeChunks(s: SparkSession, rows: Seq[Row], schema: StructType,
      chunkCol: String, orderCol: String, dir: String, prefix: String,
      project: DataFrame => DataFrame = identity): Seq[String] = {
    val scratch = new File(dir, "_scratch").getPath
    val df = s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)
    project(df).repartition(col(chunkCol)).sortWithinPartitions(col(orderCol))
      .write.partitionBy(chunkCol).mode("overwrite").parquet(scratch)
    val out = new File(scratch).listFiles().filter(_.getName.startsWith(chunkCol + "="))
      .sortBy(_.getName.stripPrefix(chunkCol + "=").toInt).map { d =>
        val part = d.listFiles().filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
        val idx = d.getName.stripPrefix(chunkCol + "=").toInt
        val dst = new File(dir, f"$prefix$idx%05d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.getPath
      }
    deleteTree(new File(scratch))
    out.toSeq
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---------------------------------------------------------------- ingest

  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  private val day0Micros = 1704067200000000L // 2024-01-01T00:00:00Z

  /** One Kafka-shaped backlog: `files` frames files of `rowsPerFile` rows
    * with partition, offset, timestamp and a binary JSON `value` encoded
    * with the registry's `events` encode options. A planted `badShare`
    * of payloads is truncated JSON. Event ids are fresh per (seed, rep).
    * The typed columns follow the `events` fixture schema and domains. */
  final case class Backlog(dir: String, files: Seq[String], goodRows: Long,
      goodValueSum: Double)

  def backlog(s: SparkSession, work: String, seed: Long, rep: Int,
      files: Int, rowsPerFile: Int, badShare: Double): Backlog = {
    val r = rng(seed, rep, 1)
    val dir = new File(repDir(work, "ingest", seed, rep), "backlog").getPath
    new File(dir).mkdirs()
    val idBase = (seed & 0xffff) * 1000000000L + rep * 10000000L
    val partitions = 4
    val nextOffset = Array.fill(partitions)(0L)
    var bad = 0L
    var goodSum = 0.0
    val rows = (0 until files * rowsPerFile).map { i =>
      val p = r.nextInt(partitions)
      val off = nextOffset(p); nextOffset(p) += 1
      val ts = day0Micros + r.nextInt(30 * 86400) * 1000000L + r.nextInt(1000000)
      val value = r.nextInt(4000) * 0.25
      val isBad = r.nextDouble() < badShare
      if (isBad) bad += 1 else goodSum += value
      Row(i / rowsPerFile, p, off, new java.sql.Timestamp(ts / 1000),
        idBase + i, new java.sql.Timestamp(ts / 1000), 1L + r.nextInt(1500),
        eventTypes(r.nextInt(eventTypes.size)), value,
        s"""{"k": ${r.nextInt(100)}}""", isBad)
    }
    val schema = StructType(Seq(
      StructField("file", IntegerType), StructField("partition", IntegerType),
      StructField("offset", LongType), StructField("timestamp", TimestampType),
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType),
      StructField("bad", BooleanType)))
    val typed = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val written = writeChunks(s, rows, schema, "file", "offset", dir, "frames-",
      df => {
        val json = to_json(struct(typed.map(col): _*),
          graft.sources.SchemaRegistry.encodeOptions)
        // truncated payload: an unterminated object from_json cannot parse
        val payload = when(col("bad"), substring(json, 1, 24)).otherwise(json)
        df.select(col("file"), col("partition"), col("offset"), col("timestamp"),
          payload.cast("binary").as("value"))
      })
    Backlog(dir, written, files.toLong * rowsPerFile - bad, goodSum)
  }

  // ------------------------------------------------------------- table_mix

  /** lineitem-shaped rows (the fixture's schema and domains); orders are
    * clustered into chunks by key range so per-file stats prune. Prices
    * are multiples of 0.25 and quantities whole numbers, so sums are
    * exact in doubles. */
  val lineitemSchema: StructType = StructType(Seq(
    StructField("chunk", IntegerType),
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val flags: Seq[String] = Seq("A", "N", "R")

  def lineRow(r: Random, chunk: Int, orderKey: Long, line: Int): Row = {
    val ship = day0Micros - 9L * 365 * 86400 * 1000000L + r.nextInt(2500) * 86400L * 1000000L
    Row(chunk, orderKey, 1L + r.nextInt(20000), 1L + r.nextInt(1000), line,
      (1 + r.nextInt(50)).toDouble, (100 + r.nextInt(400000)) * 0.25,
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, flags(r.nextInt(3)),
      if (r.nextBoolean()) "F" else "O", new java.sql.Timestamp(ship / 1000))
  }

  /** `chunks` files of `ordersPerChunk` consecutive orders, 1–7 lines each. */
  def lineitem(s: SparkSession, work: String, seed: Long, rep: Int,
      chunks: Int, ordersPerChunk: Int): (Seq[String], Seq[Row]) = {
    val r = rng(seed, rep, 2)
    val dir = new File(repDir(work, "table_mix", seed, rep), "lineitem").getPath
    new File(dir).mkdirs()
    val rows = for {
      c <- 0 until chunks
      o <- 0 until ordersPerChunk
      key = (c * ordersPerChunk + o + 1).toLong * 4
      line <- 1 to 1 + r.nextInt(7)
    } yield lineRow(r, c, key, line)
    (writeChunks(s, rows, lineitemSchema, "chunk", "l_orderkey", dir, "lineitem-"),
      rows)
  }

  // ------------------------------------------------------------- llm_dedup

  /** A corpus in the `documents` schema. Background documents draw
    * `words` tokens from a seeded vocabulary. Each planted family is a
    * base document plus variants with the first or last word replaced,
    * so every pair in a family has word-trigram Jaccard >= 0.85. Each
    * decoy replaces a middle word, which lands just under 0.8. */
  final case class Corpus(path: String, texts: Map[Long, String],
      families: Seq[Seq[Long]], planted: Set[(Long, Long)], decoys: Set[(Long, Long)])

  def vocabulary(r: Random, n: Int): IndexedSeq[String] = {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    (0 until n).map(_ => (0 until 3 + r.nextInt(6))
      .map(_ => letters(r.nextInt(26))).mkString).distinct
  }

  def corpus(s: SparkSession, work: String, seed: Long, rep: Int, docs: Int,
      families: Int, decoys: Int, words: Int = 27): Corpus = {
    val r = rng(seed, rep, 3)
    val vocab = vocabulary(r, 4000)
    def text(): Array[String] = Array.fill(words)(vocab(r.nextInt(vocab.size)))
    def fresh(old: String): String = {
      var w = old
      while (w == old) w = vocab(r.nextInt(vocab.size))
      w
    }
    val texts = scala.collection.mutable.LinkedHashMap[Long, String]()
    val fams = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val decoyPairs = scala.collection.mutable.Set[(Long, Long)]()
    val idBase = rep * 1000000L
    var next = idBase
    def add(ws: Array[String]): Long = { next += 1; texts(next) = ws.mkString(" "); next }
    for (_ <- 0 until families) {
      val base = text()
      val a = base.clone(); a(0) = fresh(a(0))
      val b = base.clone(); b(words - 1) = fresh(b(words - 1))
      fams += Seq(add(base), add(a), add(b))
    }
    for (_ <- 0 until decoys) {
      val base = text()
      val d = base.clone(); d(words / 2) = fresh(d(words / 2))
      decoyPairs += ((add(base), add(d)))
    }
    while (next - idBase < docs) add(text())
    val rows = texts.toSeq.map { case (id, t) =>
      Row(0, id, Seq("de", "en", "es", "fr", "zh")(r.nextInt(5)), t, t.length)
    }
    val schema = StructType(Seq(StructField("chunk", IntegerType),
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("text", StringType), StructField("n_chars", IntegerType)))
    val dir = repDir(work, "llm_dedup", seed, rep)
    new File(dir).mkdirs()
    val path = writeChunks(s, rows, schema, "chunk", "doc_id", dir, "documents-").head
    val planted = for (f <- fams.toSeq; i <- f; j <- f if i < j) yield (i, j)
    Corpus(path, texts.toMap, fams.toSeq, planted.toSet, decoyPairs.toSet)
  }

  /** 64-dim unit vectors; `pairs` planted neighbours sit at distance
    * `eps`-ish from their base, far below the ~1.41 typical distance. */
  final case class Vectors(path: String, planted: Set[(Long, Long)])

  def vectors(s: SparkSession, work: String, seed: Long, rep: Int, n: Int,
      pairs: Int, eps: Double, dim: Int = 64): Vectors = {
    val r = rng(seed, rep, 4)
    def unit(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / norm)
    }
    val idBase = rep * 1000000L
    val bases = (0 until n - pairs).map(i =>
      (idBase + i + 1) -> unit(Array.fill(dim)(r.nextGaussian())))
    val nbrs = (0 until pairs).map { i =>
      val (bid, bv) = bases(i)
      val noise = Array.fill(dim)(r.nextGaussian() * eps / math.sqrt(dim))
      (idBase + n - pairs + i + 1, bid, unit(bv.zip(noise).map(t => t._1 + t._2)))
    }
    val rows = (bases ++ nbrs.map(t => t._1 -> t._3)).map { case (id, v) =>
      Row(0, id, v.toSeq)
    }
    val schema = StructType(Seq(StructField("chunk", IntegerType),
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = false))))
    val dir = repDir(work, "llm_dedup", seed, rep)
    new File(dir).mkdirs()
    val path = writeChunks(s, rows, schema, "chunk", "vec_id", dir, "vectors-").head
    Vectors(path, nbrs.map(t => (t._2, t._1)).toSet)
  }
}
