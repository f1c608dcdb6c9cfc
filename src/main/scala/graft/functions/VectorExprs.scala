package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Cosine similarity between two ARRAY<DOUBLE> columns as a native
  * Catalyst expression with whole-stage codegen (SURVEY.md §7.5).
  *
  * This is the hot inner loop of the similarity/dedup operators: at
  * 100 TB the candidate-pair relation is billions of rows, and a
  * codegen'd tight loop (no lambda-function interpretation, no per-
  * element boxing as with the `aggregate`/`zip_with` HOF formulation)
  * keeps it inside the WholeStageCodegen span of the join it feeds.
  *
  * Numerics contract: one sequential pass, index order, independent
  * double accumulators for Σab, Σaa, Σbb, result = Σab/(√Σaa·√Σbb).
  * This is bit-identical to the HOF formulation AND to the DuckDB
  * oracle's `list_sum(list_transform(...))` (verified sequential).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must already be ARRAY<DOUBLE> (callers cast explicitly;
  // AbstractDataType/ExpectsInputTypes is private[sql] so declarative
  // input typing isn't available to third-party expressions)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // null when either norm is zero (undefined angle), so nullable even
  // over non-null inputs
  override def nullable: Boolean = true

  /** Contract: equal dimensions required (a silent min-length truncate
    * would turn dimension bugs into plausible-looking similarities);
    * zero-norm input → null (angle undefined; 0/0 would yield NaN). */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"cosine_sim: dimension mismatch ($n vs ${y.numElements()})")
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "cosine_sim: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i); double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature of a string-set column as a native codegen
  * expression (SURVEY.md §7.5 `MinHashSignature`): k independent
  * 64-bit hash functions (FNV-1a base hash + splitmix64-mixed seeds —
  * public algorithms), min over the set per function, emitted as
  * ARRAY<BIGINT>.
  *
  * 100 TB posture: signature computation is the linear pass of
  * MinHash-LSH dedup — k·|set| multiply-mix ops per row inside
  * whole-stage codegen, no boxing, no intermediate arrays. The banded
  * LSH join built on top (graft.operators.Dedup.minhashPairs) shuffles
  * only (band, bucket-hash) keys, never signatures-cross-signatures.
  * Deterministic: fixed seed schedule → stable across runs/engines. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val bytes = arr.getUTF8String(i).getBytes
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < bytes.length) { h = (h ^ (bytes(j) & 0xffL)) * 0x100000001b3L; j += 1 }
      var k = 0
      while (k < numHashes) {
        var z = h ^ ((k + 1) * 0x9e3779b97f4a7c15L)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (z < mins(k)) mins(k) = z
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mins"); val i = ctx.freshName("i")
      val bytes = ctx.freshName("bytes"); val h = ctx.freshName("h")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val z = ctx.freshName("z")
      s"""
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  byte[] $bytes = $a.getUTF8String($i).getBytes();
         |  long $h = 0xcbf29ce484222325L;
         |  for (int $j = 0; $j < $bytes.length; $j++) {
         |    $h = ($h ^ ($bytes[$j] & 0xffL)) * 0x100000001b3L;
         |  }
         |  for (int $k = 0; $k < $numHashes; $k++) {
         |    long $z = $h ^ (($k + 1) * 0x9e3779b97f4a7c15L);
         |    $z = ($z ^ ($z >>> 30)) * 0xbf58476d1ce4e5b9L;
         |    $z = ($z ^ ($z >>> 27)) * 0x94d049bb133111ebL;
         |    $z = $z ^ ($z >>> 31);
         |    if ($z < $mins[$k]) $mins[$k] = $z;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

/** Euclidean distance between two ARRAY<DOUBLE> columns — codegen
  * sibling of [[CosineSimilarity]] (same numerics contract: one
  * sequential pass, index order). */
case class EuclideanDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "euclidean_dist"

  /** Same dimension contract as [[CosineSimilarity]]: mismatched
    * lengths raise instead of silently truncating. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"euclidean_dist: dimension mismatch ($n vs ${y.numElements()})")
    var acc = 0.0; var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i); acc += d * d; i += 1
    }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "euclidean_dist: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EuclideanDistance =
    copy(left = newLeft, right = newRight)
}

/** Sign-random-projection (hyperplane) LSH signature of an
  * ARRAY<DOUBLE> vector (Charikar'02 SRP, public algorithm): `tables`
  * band keys, each packing `bits` sign bits of dot products with
  * pseudo-random ±1 projection vectors (Achlioptas-style, derived
  * deterministically from (table, bit, index) via splitmix64 — no
  * stored projection matrix, identical on every executor).
  *
  * P(bit agrees) = 1 − θ/π for angle θ, so a band of b bits collides
  * with (1−θ/π)^b — near-duplicate vectors share a band key with high
  * probability while background pairs are filtered geometrically.
  * 100 TB posture: the ANN join shuffles (table, band-key) only —
  * O(n·tables) rows — and scores just bucket-colliding candidates
  * with the codegen distance kernels. */
/** Fixed-point squared L2 distance: Σᵢ floor((xᵢ−yᵢ)²·1e12) as a LONG.
  * Each term is an IEEE-identical double in any engine (same inputs,
  * same op sequence), and the floor-quantized terms sum as exact
  * integers — so the total is partition-order-independent and
  * bit-reproducible cross-engine, unlike a raw double Σ(x−y)².
  * Distance COMPARISONS (k-means argmin, k-NN ranking) only need the
  * order, which quantization at 1e-12 granularity preserves far below
  * input precision. DuckDB twin:
  * `list_sum(list_transform(range(1,n+1), i ->
  *    CAST(FLOOR((a[i]-b[i])*(a[i]-b[i])*1e12) AS BIGINT)))`. */
case class L2DistQ(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "l2_dist_q"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n)
      throw new IllegalArgumentException(
        s"l2_dist_q: dimension mismatch ($n vs ${y.numElements()})")
    var acc = 0L; var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += math.floor(d * d * 1e12).toLong; i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "l2_dist_q: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $acc += (long) java.lang.Math.floor($d * $d * 1.0e12);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistQ =
    copy(left = newLeft, right = newRight)
}

case class SrpSignature(child: Expression, tables: Int, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "srp_sig"

  /** The last dimension's sign table; every row of a vector column
    * usually has the same dimension, so it is built once per task. */
  @transient private var signCache: (Int, Array[Double]) = _

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val cached = signCache
    val signs =
      if (cached != null && cached._1 == n) cached._2
      else { val t = SrpSignature.signs(tables, bits, n); signCache = (n, t); t }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      SrpSignature.keys(v, signs, tables, bits))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signs = ctx.addMutableState("double[]", "srpSigns")
    val signsDim = ctx.addMutableState("int", "srpSignsDim", v => s"$v = -1;")
    val obj = classOf[SrpSignature].getName
    nullSafeCodeGen(ctx, ev, a => s"""
       |if ($a.numElements() != $signsDim) {
       |  $signsDim = $a.numElements();
       |  $signs = $obj.signs($tables, $bits, $signsDim);
       |}
       |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
       |  .fromPrimitiveArray($obj.keys($a, $signs, $tables, $bits));
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSignature =
    copy(child = newChild)
}

object SrpSignature {
  /** The ±1 projection signs, indexed [(table · bits + bit) · dim + i]:
    * bit 0 of a splitmix64 hash of (table, bit, i). */
  def signs(tables: Int, bits: Int, dim: Int): Array[Double] =
    Array.tabulate(tables * bits * dim) { k =>
      var z = ((k / dim).toLong * 4099L + k % dim) * 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      if ((z & 1L) == 0L) 1.0 else -1.0
    }

  /** One key per table, bit h set when the h-th signed sum is > 0. The
    * sums run in index order and a sign times a value is exactly
    * ±value, so keys match adding or subtracting values directly. */
  def keys(v: ArrayData, signs: Array[Double], tables: Int, bits: Int): Array[Long] = {
    val n = v.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var h = 0
      while (h < bits) {
        val row = (t * bits + h) * n
        var acc = 0.0
        var i = 0
        while (i < n) { acc += signs(row + i) * v.getDouble(i); i += 1 }
        if (acc > 0) out(t) |= 1L << h
        h += 1
      }
      t += 1
    }
    out
  }
}

/** Distinct word n-gram shingles of a token array, computed in
  * compiled code. The HOF formulation (filter ∘ transform ∘ sequence ∘
  * array_distinct with nested lambdas) costs ~100 interpreted lambda
  * dispatches per row — measured as the dominant stage of the dedup
  * pipeline at sf0.1. Tokens that are empty strings are dropped;
  * fewer than n usable tokens → empty array. */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  def compute(input: ArrayData): ArrayData = {
    val toks = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < input.numElements()) {
      val s = input.getUTF8String(i)
      if (s != null && s.numBytes() > 0) toks.add(s)
      i += 1
    }
    val m = toks.size - n + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val space = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var j = 0
    while (j < m) {
      var sh = toks.get(j)
      var k = 1
      while (k < n) { sh = UTF8String.concat(sh, space, toks.get(j + k)); k += 1 }
      seen.add(sh)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size)))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** The length-(sz − ⌈(num/den)·sz⌉ + 1) prefix of a shingle set under
  * a fixed global total order — the candidate-generation half of the
  * prefix-filtered similarity join. The order is (FNV-hash, value):
  * any consistent global order preserves prefix-filter EXACTNESS
  * (a pair with J ≥ num/den must share a prefix token under the shared
  * order); document-frequency-ascending order would minimize
  * candidates when the vocabulary has hot tokens, at the cost of a
  * vocabulary aggregate + join + per-doc re-sort — on near-uniform
  * vocabularies (this corpus: max df 25) hash order gives the same
  * candidate volume for a fraction of the plan. */
case class PrefixShingles(child: Expression, num: Int, den: Int)
    extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "prefix_shingles"

  def compute(input: ArrayData): ArrayData = {
    val sz = input.numElements()
    if (sz == 0) return input
    // p = sz - ceil(num/den * sz) + 1, exact integer arithmetic
    val p = sz - ((num * sz + den - 1) / den) + 1
    if (p <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val keyed = new Array[(Long, UTF8String)](sz)
    var i = 0
    while (i < sz) {
      val s = input.getUTF8String(i)
      val bytes = s.getBytes
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < bytes.length) { h = (h ^ (bytes(j) & 0xffL)) * 0x100000001b3L; j += 1 }
      keyed(i) = (h, s)
      i += 1
    }
    val sorted = keyed.sortBy { case (h, s) => (h, s.toString) }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sorted.take(math.min(p, sz)).map(_._2: AnyRef))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("prefixShingles", this, classOf[PrefixShingles].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): PrefixShingles =
    copy(child = newChild)
}

/** |distinct(a) ∩ distinct(b)| of two ARRAY<STRING> columns — the
  * exact value of `size(array_intersect(a, b))` (r20, guide §1.2
  * per-task work) without materializing the intersection: the
  * built-in builds a hash set of one side, then ALLOCATES the
  * intersection as a new array (UTF8String refs + ArrayData) only for
  * `size` to read its length. The dedup verify stages run this on a
  * shingle pair per candidate inside a single-task plan, so the
  * allocation is pure hot-path garbage. Null elements match
  * array_intersect's null-safe semantics: a null in both sides counts
  * once. */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_count"

  def compute(a: ArrayData, b: ArrayData): Int = {
    // count each common DISTINCT element once (remove-on-match), with
    // the SMALLER side as the set — |distinct ∩ distinct| is symmetric
    val (s, l) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String](s.numElements() * 2)
    var setHasNull = false
    var i = 0
    while (i < s.numElements()) {
      if (s.isNullAt(i)) setHasNull = true else set.add(s.getUTF8String(i))
      i += 1
    }
    var c = 0
    i = 0
    while (i < l.numElements()) {
      if (l.isNullAt(i)) {
        if (setHasNull) { c += 1; setHasNull = false }
      } else if (set.remove(l.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("intersectCount", this, classOf[IntersectCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCount =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash of a string-set column as a native codegen
  * expression (document fingerprinting, SURVEY.md §2 B10): per element
  * a 64-bit FNV-1a hash casts a ±1 vote on each bit position; the sign
  * vector is the fingerprint. Near-identical token sets differ in few
  * bits → hamming-distance banding finds near-dups (Charikar'02,
  * public algorithm).
  *
  * Native because the HOF formulation (aggregate over sequence(0,63)
  * nesting aggregate over tokens) is 64·|tokens| interpreted lambda
  * invocations per row — measured ~10× slower than this loop. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val bytes = arr.getUTF8String(i).getBytes
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < bytes.length) { h = (h ^ (bytes(j) & 0xffL)) * 0x100000001b3L; j += 1 }
      var k = 0
      while (k < 64) { votes(k) += (((h >>> k) & 1L).toInt * 2 - 1); k += 1 }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) { if (votes(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes"); val i = ctx.freshName("i")
      val bytes = ctx.freshName("bytes"); val h = ctx.freshName("h")
      val j = ctx.freshName("j"); val k = ctx.freshName("k")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  byte[] $bytes = $a.getUTF8String($i).getBytes();
         |  long $h = 0xcbf29ce484222325L;
         |  for (int $j = 0; $j < $bytes.length; $j++) {
         |    $h = ($h ^ ($bytes[$j] & 0xffL)) * 0x100000001b3L;
         |  }
         |  for (int $k = 0; $k < 64; $k++) {
         |    $votes[$k] += ((int) (($h >>> $k) & 1L)) * 2 - 1;
         |  }
         |}
         |long $sig = 0L;
         |for (int $k = 0; $k < 64; $k++) {
         |  if ($votes[$k] > 0) $sig |= (1L << $k);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Unicode NFC normalization as a native codegen expression — the
  * encoding-cleanup primitive (ftfy/CCNet shape) Spark SQL lacks:
  * canonical composition folds decomposed sequences (e + U+0301) into
  * their precomposed forms (U+00E9) so that byte-different, canonically
  * equivalent strings get ONE canonical key for exact dedup and
  * fingerprinting. Backed by `java.text.Normalizer` (the JDK's ICU
  * subset — the same tables DuckDB's `nfc_normalize` uses, asserted by
  * the q_text_normalize oracle).
  *
  * Hot-path contract: `isNormalized` runs first — on already-NFC text
  * (the overwhelming majority of a real corpus, and a pure quick-check
  * scan over the UTF-16 form) the input UTF8String is returned
  * UNCOPIED; only strings that actually need composing pay the
  * String round-trip. Stays inside the WholeStageCodegen span. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nfcNormalize", this, classOf[NfcNormalize].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object VectorExprs {
  /** Register the native expressions on the session (idempotent);
    * callers then use `call_function("cosine_sim", …)` etc. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", (args: Seq[Expression]) => CosineSimilarity(args.head, args(1)),
      "built-in")
    reg.createOrReplaceTempFunction(
      "minhash_sig", (args: Seq[Expression]) => MinHashSignature(args.head,
        args(1).eval(null) match { case i: Int => i; case l: Long => l.toInt }),
      "built-in")
    reg.createOrReplaceTempFunction(
      "simhash64", (args: Seq[Expression]) => SimHash64(args.head),
      "built-in")
    reg.createOrReplaceTempFunction(
      "euclidean_dist", (args: Seq[Expression]) => EuclideanDistance(args.head, args(1)),
      "built-in")
    reg.createOrReplaceTempFunction(
      "l2_dist_q", (args: Seq[Expression]) => L2DistQ(args.head, args(1)),
      "built-in")
    def asInt(e: Expression): Int = e.eval(null) match {
      case i: Int => i; case l: Long => l.toInt
    }
    reg.createOrReplaceTempFunction(
      "srp_sig", (args: Seq[Expression]) => SrpSignature(args.head,
        asInt(args(1)), asInt(args(2))),
      "built-in")
    reg.createOrReplaceTempFunction(
      "word_shingles", (args: Seq[Expression]) => WordShingles(args.head, asInt(args(1))),
      "built-in")
    reg.createOrReplaceTempFunction(
      "prefix_shingles", (args: Seq[Expression]) => PrefixShingles(args.head,
        asInt(args(1)), asInt(args(2))),
      "built-in")
    // Catalyst ships BloomFilterAggregate/BloomFilterMightContain (its
    // runtime-filter pair) but exposes neither in the public
    // FunctionRegistry; register both so user-level bloom-membership
    // plans (q_text_decontaminate_bloom) stay fully codegen with zero
    // custom code.
    reg.createOrReplaceTempFunction(
      "bloom_filter_agg", (args: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          args.head, args(1), args(2)),
      "built-in")
    reg.createOrReplaceTempFunction(
      "might_contain", (args: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args.head, args(1)),
      "built-in")
    reg.createOrReplaceTempFunction(
      "nfc_normalize", (args: Seq[Expression]) => NfcNormalize(args.head),
      "built-in")
    reg.createOrReplaceTempFunction(
      "intersect_count", (args: Seq[Expression]) =>
        IntersectCount(args.head, args(1)),
      "built-in")
  }
}
