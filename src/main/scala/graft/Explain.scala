package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operator-facing EXPLAIN dump: one JVM pass over EVERY registry key
  * writing EXPLAIN.md — a normalized `explain("formatted")` plan plus
  * the PlanKey leaf identity per key — so a cluster operator can diff
  * plans across library versions without sbt or a notebook (PLANS.md
  * is the curated, annotated subset; this is the exhaustive surface).
  *
  * Normalization masks the run-varying tokens (expression ids, plan
  * ids, checkpoint RDD ids, /tmp staging dirs) so two runs on the same
  * version produce byte-identical output and a cross-version diff
  * shows only real plan changes.
  *
  * NOTE: building an s_* key's DataFrame executes its (AvailableNow,
  * checkpointed) stream first — those keys' "plan" is the batch
  * read-back; the tool is therefore also a full registry smoke pass.
  *
  * Run: tools/run.sh graft.Explain [sfDir] [outPath]
  */
object Explain {

  /** Mask tokens that legitimately differ run-to-run: expression /
    * plan / checkpoint-RDD ids, /tmp staging dirs, and JVM lambda
    * identities (typed mapPartitions nodes print the function OBJECT —
    * `Foo$$Lambda$4082/0x7f13...@68fce3e5` — whose index, hidden-class
    * address, and identity hash are fresh every JVM). */
  private[graft] def normalize(p: String): String = p
    .replaceAll("#\\d+", "#x")
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("\\[id=#x\\]", "[id=x]")
    .replaceAll("rdd:\\d+", "rdd:x")
    .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda@x")
    .replaceAll("@[0-9a-f]{6,}", "@x")
    .replaceAll("file:/tmp/[^,\\]\\s)]*", "file:/tmp/_")
    .replaceAll("/tmp/[^,\\]\\s)]*", "/tmp/_")
    .replaceAll("gid#x = \\d+", "gid#x = n")
    .linesIterator.map(canonDetailLine).mkString("\n")

  private val DetailLine =
    """^(\s*)((?:Arguments|Input|Output|Keys|Results|Functions|Aggregate Attributes)(?: \[\d+\])?): (.*)$""".r

  /** Canonicalize the attribute/argument lists of formatted-explain
    * detail lines by sorting comma-separated elements at every bracket
    * depth. Needed because Spark's multi-distinct rewrite
    * (RewriteDistinctAggregates) orders its Expand projections by a
    * hash over exprId-bearing attribute sets — a fresh order every
    * JVM for the SAME plan (q_profile_table's two countDistincts).
    * Sorting loses positional order in the dump (elements all remain
    * visible) and buys byte-stable cross-version diffs. */
  private[graft] def canonDetailLine(line: String): String = line match {
    case DetailLine(indent, label, payload) =>
      s"$indent$label: ${canonList(payload)}"
    case _ => line
  }

  private def canonList(s: String): String = {
    // split on top-level commas, honoring [] and () nesting
    def split(p: String): Seq[String] = {
      val parts = Seq.newBuilder[String]
      var depth = 0; val cur = new StringBuilder
      p.foreach {
        case c @ ('[' | '(') => depth += 1; cur.append(c)
        case c @ (']' | ')') => depth -= 1; cur.append(c)
        case ',' if depth == 0 => parts += cur.toString.trim; cur.clear()
        case c => cur.append(c)
      }
      val last = cur.toString.trim
      if (last.nonEmpty) parts += last
      parts.result()
    }
    def canon(p: String): String = {
      val t = p.trim
      if (t.startsWith("[") && t.endsWith("]"))
        "[" + split(t.substring(1, t.length - 1)).map(canon).sorted.mkString(", ") + "]"
      // the multi-distinct rewrite's gid VALUES leak into Expand
      // projections (bare ints) and hashpartitioning key order —
      // mask/sort those two specifically, nothing broader
      else if (t.matches("\\d+")) "n"
      else if (t.startsWith("hashpartitioning(") && t.endsWith(")"))
        "hashpartitioning(" +
          split(t.stripPrefix("hashpartitioning(").stripSuffix(")"))
            .map(canon).sorted.mkString(", ") + ")"
      else t
    }
    split(s).map(canon).sorted.mkString(", ")
  }

  /** Stable digest + human-diffable leaf roots of the key's inputs:
    * the "what does this query actually read" line. Fixture leaves
    * keep their real paths; staged/stream leaves mask to /tmp/_. */
  private[graft] def leafIdentity(df: DataFrame): String =
    graft.plans.PlanKey.of(df) match {
      case Some(k) =>
        // part-file basenames are fresh UUIDs on every staging rewrite
        // (bucketed tables re-save per session) — the DIFF surface
        // wants "same inputs, same digest", so digest over roots, not
        // concrete parts (PlanKey itself keeps the concrete list: the
        // memo must NOT hit across rewrites, this tool must)
        val n = normalize(k).replaceAll("/part-[^,;|]*", "/part-_")
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(n.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val roots = "files:([^;|]*)".r.findAllMatchIn(k)
          .flatMap(_.group(1).split(",").iterator)
          .map(f => normalize(f.replaceAll("/[^/]*$", "")))
          .toSeq.distinct.sorted
        s"md5=$digest roots=[${roots.mkString(", ")}]"
      case None => "unkeyable (local/stream-internal leaves)"
    }

  private[graft] def section(key: String, df: DataFrame): String = {
    val plan = normalize(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    s"\n## $key\n\nleaf: ${leafIdentity(df)}\n\n```\n$plan```\n"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("EXPLAIN.md")
    val spark = Session("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# EXPLAIN — normalized physical plans, all registry keys\n\n")
    sb.append(s"Generated by `tools/run.sh graft.Explain` on `$sfDir`.\n")
    sb.append("Expression/plan/RDD ids and /tmp staging paths are normalized\n")
    sb.append("so a cross-version diff shows only real plan changes; see\n")
    sb.append("PLANS.md for the curated, annotated subset.\n")
    var failed = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
      try sb.append(section(k, fn(spark, sfDir)))
      catch { case e: Throwable =>
        failed ::= k
        sb.append(s"\n## $k\n\nERROR ${e.getClass.getSimpleName}: " +
          s"${String.valueOf(e.getMessage).linesIterator.next().take(160)}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out (${SparkEntry.queries.size} keys, ${failed.size} errors)")
    if (failed.nonEmpty) System.err.println(s"[explain] errors: ${failed.sorted.mkString(", ")}")
    spark.stop()
    // the tool doubles as a full registry smoke pass — a CI invocation
    // must FAIL when any key throws, not just mention it on stderr
    if (failed.nonEmpty) sys.exit(1)
  }
}
