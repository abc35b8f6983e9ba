package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the LLM-pipeline operators — scalar
  * kernels that stay inside whole-stage codegen (each doGenCode emits a
  * single static call, no boxing, no UDF serialization penalty).
  * Registered under `graft_*` SQL names by [[GraftFunctions]].
  */

/** Cosine similarity over two float vectors, accumulated in double in
  * element order — matching DuckDB's list_cosine_similarity on DOUBLE[]
  * bit-for-bit (verified empirically on the embeddings fixture), so ANN
  * queries are oracle-checkable. Zero-norm inputs yield -1.0 (DuckDB's
  * list_cosine_similarity convention: no direction = least similar).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.CosineSim.compute($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_cosine"
}

object CosineSim {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zero-norm convention: -1.0 ("least similar"), matching DuckDB's
    // list_cosine_similarity so zero vectors (failed-encoder rows in a
    // real corpus — edge_sweep-found divergence) rank LAST in every
    // top-k instead of mid-pack at 0, identically on both engines
    if (na == 0.0 || nb == 0.0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Shared 64-bit string hash (FNV-1a over UTF-8 bytes, xor-folded with a
  * seed) for the sketch expressions below. Self-contained and stable —
  * the sketches have no SQL oracle, but must be deterministic across
  * runs, JVMs, and partitionings.
  */
object StrHash {
  def hash(s: UTF8String, seed: Long): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L ^ seed
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    // final avalanche (splitmix64 tail) so low bits are well mixed
    h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
    h ^= (h >>> 27); h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }
}

/** 64-bit SimHash over a token array: per bit j, sum ±1 weighted by bit j
  * of each token's hash; bit j of the result is the sign of the sum.
  * Near-duplicate texts differ in few bits (compare with
  * bit_count(a ^ b) — Spark's codegen'd bitwise ops).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(tokens: Any): Any =
    SimHash64.compute(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash"
}

object SimHash64 {
  def compute(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = StrHash.hash(tokens.getUTF8String(i), 0L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }
}

/** 64-bit SimHash with PORTABLE hashing, returned as TWO 32-bit halves
  * `array(hi, lo)` so the oracle can rebuild each half without BIGINT
  * sign/overflow games. Token hash = first 16 hex chars of md5 split
  * into hi/lo 32-bit words (SQL twin: ('0x' || substr(md5(s), 1, 8))
  * ::BIGINT and substr(..., 9, 8)); bit j of each half is the sign of
  * the ±1 count over tokens, exactly as SimHash64. Hamming distance =
  * bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b).
  */
case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(tokens: Any): Any =
    SimHashMd5.compute(tokens.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashMd5.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash_md5"
}

object SimHashMd5 {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(tokens: ArrayData): ArrayData = {
    val counts = new Array[Int](64) // 0..31 = lo bits, 32..63 = hi bits
    val n = tokens.numElements()
    val d = md.get()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        d.reset()
        val dig = d.digest(tokens.getUTF8String(i).getBytes)
        val hi = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
          ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
        val lo = ((dig(4) & 0xffL) << 24) | ((dig(5) & 0xffL) << 16) |
          ((dig(6) & 0xffL) << 8) | (dig(7) & 0xffL)
        var j = 0
        while (j < 32) {
          if (((lo >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          if (((hi >>> j) & 1L) == 1L) counts(32 + j) += 1 else counts(32 + j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var hiSig = 0L; var loSig = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) loSig |= (1L << j)
      if (counts(32 + j) > 0) hiSig |= (1L << j)
      j += 1
    }
    new GenericArrayData(Array(hiSig, loSig))
  }
}

/** MinHash signature (k permutations) over a shingle array. One base
  * FNV/splitmix hash per shingle, then k universal-hash permutations
  * (a_i·h + b_i with fixed odd multipliers), min per permutation —
  * O(k·|shingles|) per row, no shuffle. Returns array<long> of length k.
  */
case class MinHashSig(child: Expression, k: Int, tokenMode: Boolean = false)
    extends UnaryExpression {
  require(k > 0 && k <= 256, "minhash k must be in (0, 256]")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(arr: Any): Any =
    if (tokenMode) MinHashSig.computeTokens(arr.asInstanceOf[ArrayData], k)
    else MinHashSig.compute(arr.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (tokenMode) "computeTokens" else "compute"
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.$fn($c, $k)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String =
    if (tokenMode) "graft_minhash_tokens" else "graft_minhash"
}

object MinHashSig {
  private val MaxK = 256
  // fixed, seeded permutation constants (odd multipliers) — deterministic
  private val (as, bs) = {
    val rnd = new scala.util.Random(42)
    val a = Array.fill(MaxK)(rnd.nextLong() | 1L)
    val b = Array.fill(MaxK)(rnd.nextLong())
    (a, b)
  }

  private def updateMins(mins: Array[Long], h: Long, k: Int): Unit = {
    var j = 0
    while (j < k) {
      val p = as(j) * h + bs(j)
      if (p < mins(j)) mins(j) = p
      j += 1
    }
  }

  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        updateMins(mins, StrHash.hash(shingles.getUTF8String(i), 0L), k)
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** In-kernel 3-gram shingling: one hash per TOKEN, shingle hashes via
    * sliding-window mixing — no 3-word string concat, no intermediate
    * shingle array, and duplicate shingles need no dedup (min is
    * idempotent). ~3× less per-row allocation than shingling in the
    * plan. Note: a different hash basis than compute(shingles, k), so
    * signatures are not interchangeable between the two forms.
    */
  def computeTokens(tokens: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = tokens.numElements()
    if (n >= 3) {
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        th(i) =
          if (tokens.isNullAt(i)) 0L
          else StrHash.hash(tokens.getUTF8String(i), 0L)
        i += 1
      }
      i = 0
      while (i <= n - 3) {
        // order-sensitive 3-token mix (splitmix-style avalanche)
        var h = th(i) * 0x9e3779b97f4a7c15L + th(i + 1)
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        h = h * 31L + th(i + 2)
        h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
        h ^= (h >>> 31)
        updateMins(mins, h, k)
        i += 1
      }
    }
    new GenericArrayData(mins)
  }
}

/** Engine-portable hashing: every value is derived from md5 (the one
  * hash primitive Spark and DuckDB share bit-for-bit), so sketches built
  * on it can be INDEPENDENTLY recomputed by the DuckDB oracle and
  * hash-compared — the sketch queries stop being rows-only checks.
  *
  * SQL twins:
  *   md5h32(s) ≡ Spark  CAST(conv(substr(md5(s), 1, 8), 16, 10) AS BIGINT)
  *            ≡ DuckDB ('0x' || substr(md5(s), 1, 8))::BIGINT
  *   md5h60(s) ≡ DuckDB ('0x' || substr(md5(s), 1, 15))::BIGINT
  */
object PortableHash {
  /** 2^31 − 1 (Mersenne prime) — the affine-permutation modulus. A
    * 32-bit base hash times a sub-P multiplier stays under 2^63, so the
    * arithmetic is overflow-free in both engines' BIGINT.
    */
  val P: Long = 2147483647L

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 hex chars (32 bits) of md5, as an unsigned value in a long. */
  def md5h32(bytes: Array[Byte]): Long = {
    val d = md.get(); d.reset()
    val dig = d.digest(bytes)
    ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
      ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
  }

  /** First 15 hex chars (60 bits) of md5 — a uniform draw from [0, 2^60). */
  def md5h60(bytes: Array[Byte]): Long = {
    val d = md.get(); d.reset()
    val dig = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v >>> 4
  }

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Affine permutation constants (a_j, b_j) ∈ [1, P−1], splitmix-derived
    * — the same literals are embedded into the DuckDB oracle SQL.
    */
  def minhashConsts(k: Int): (IndexedSeq[Long], IndexedSeq[Long]) = (
    IndexedSeq.tabulate(k)(j => (mix(j.toLong) & Long.MaxValue) % (P - 1) + 1),
    IndexedSeq.tabulate(k)(j => (mix(j.toLong + 4096) & Long.MaxValue) % (P - 1) + 1))
}

/** MinHash signature over a token array with PORTABLE hashing: 3-token
  * shingle strings (token[i] ⧺ ' ' ⧺ token[i+1] ⧺ ' ' ⧺ token[i+2], the
  * same shingles the exact-Jaccard oracle uses), base hash = md5h32 of
  * the shingle, permutation j = (a_j·h + b_j) mod P, min per
  * permutation. Unlike MinHashSig's FNV basis, every stage has an exact
  * DuckDB twin, so minhash queries are oracle-checkable end to end.
  * Duplicate shingles need no dedup (min is idempotent — both engines
  * see the same duplicates).
  */
case class MinHashMd5(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0 && k <= 64, "portable minhash k must be in (0, 64]")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(tokens: Any): Any =
    MinHashMd5.compute(tokens.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashMd5.compute($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashMd5 =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_md5"
}

object MinHashMd5 {
  val (as, bs) = PortableHash.minhashConsts(64)

  def compute(tokens: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = tokens.numElements()
    if (n >= 3) {
      val toks = new Array[String](n)
      var i = 0
      while (i < n) {
        toks(i) = if (tokens.isNullAt(i)) "" else tokens.getUTF8String(i).toString
        i += 1
      }
      i = 0
      while (i <= n - 3) {
        val shingle = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
        val h = PortableHash.md5h32(
          shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var j = 0
        while (j < k) {
          val p = (as(j) * h + bs(j)) % PortableHash.P
          if (p < mins(j)) mins(j) = p
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(mins)
  }
}

/** Random-hyperplane LSH bucket for a float vector: `planes` hyperplanes
  * with deterministic ±1 (Rademacher) weights derived from
  * hash(table, plane, dim); bit p of the bucket is the sign of the dot
  * product with plane p. Vectors in the same (table, bucket) are ANN
  * candidates.
  */
case class LshBucket(left: Expression, right: Expression, planes: Int)
    extends BinaryExpression {
  require(planes > 0 && planes <= 30, "planes must be in (0, 30]")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(vec: Any, table: Any): Any =
    LshBucket.compute(vec.asInstanceOf[ArrayData], table.asInstanceOf[Int], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, t) => s"graft.functions.LshBucket.compute($v, $t, $planes)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshBucket =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_lsh_bucket"
}

object LshBucket {
  /** splitmix64 of a packed (table, plane, dim) key → sign bit. */
  private def signOf(table: Int, plane: Int, dim: Int): Double = {
    var z = (table.toLong << 40) ^ (plane.toLong << 20) ^ dim.toLong
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= (z >>> 31)
    if ((z & 1L) == 1L) 1.0 else -1.0
  }

  def compute(vec: ArrayData, table: Int, planes: Int): Int = {
    val n = vec.numElements()
    var bucket = 0
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var d = 0
      while (d < n) {
        dot += vec.getFloat(d).toDouble * signOf(table, p, d)
        d += 1
      }
      if (dot > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }
}

/** Random-hyperplane LSH bucket with PORTABLE (md5-derived) Rademacher
  * signs: sign(t, p, d) = ±1 from the low bit of md5h32("t_p_d"). The
  * sign matrix is tiny (tables × planes × dims) and cached per shape;
  * the per-row work is the same ordered dot-product loop as LshBucket.
  * A DuckDB oracle rebuilds the identical sign lists from the same md5
  * formula and folds the dot product in the same element order, so the
  * buckets — and therefore the LSH candidate sets — match exactly.
  */
case class LshBucketMd5(left: Expression, right: Expression, planes: Int)
    extends BinaryExpression {
  require(planes > 0 && planes <= 30, "planes must be in (0, 30]")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(vec: Any, table: Any): Any =
    LshBucketMd5.compute(vec.asInstanceOf[ArrayData], table.asInstanceOf[Int], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, t) => s"graft.functions.LshBucketMd5.compute($v, $t, $planes)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshBucketMd5 =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_lsh_bucket_md5"
}

object LshBucketMd5 {
  private val matCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  /** SQL twin: CASE WHEN (('0x' || substr(md5(t||'_'||p||'_'||d), 1, 8))
    * ::BIGINT & 1) = 1 THEN 1.0 ELSE -1.0 END
    */
  def signOf(table: Int, plane: Int, dim: Int): Double = {
    val h = PortableHash.md5h32(
      s"${table}_${plane}_${dim}"
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    if ((h & 1L) == 1L) 1.0 else -1.0
  }

  private def mat(table: Int, planes: Int, dims: Int): Array[Double] =
    matCache.computeIfAbsent(
      (table, planes, dims),
      { key =>
        val (t, p, nd) = key
        Array.tabulate(p * nd)(i => signOf(t, i / nd, i % nd))
      })

  def compute(vec: ArrayData, table: Int, planes: Int): Int = {
    val n = vec.numElements()
    val m = mat(table, planes, n)
    var bucket = 0
    var p = 0
    while (p < planes) {
      var dot = 0.0
      val off = p * n
      var d = 0
      while (d < n) {
        dot += vec.getFloat(d).toDouble * m(off + d)
        d += 1
      }
      if (dot > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }
}

/** Morton (Z-order) code: interleave the low 31 bits of two
  * non-negative keys into one 62-bit long. Sorting by this code gives a
  * space-filling-curve layout where each contiguous file covers a
  * compact 2-D tile — so per-file min/max statistics prune on BOTH
  * dimensions, where a lexicographic (x, y) sort prunes only on x.
  * Negative inputs clamp to 0 (layout keys, not semantics). Codegen'd
  * static call like every graft kernel.
  */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(x: Any, y: Any): Any =
    MortonCode.interleave(x.asInstanceOf[Long], y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MortonCode.interleave($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonCode =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_morton"
}

object MortonCode {
  /** Spread the low 31 bits of v to even bit positions (0,2,4,…,60). */
  private def spread(v: Long): Long = {
    var x = math.max(v, 0L) & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
  def interleave(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
}

/** All W-token window hashes of a token array in O(n) — the kernel
  * behind dedup_substring/dedup_substring_spans at corpus scale.
  * Per-token 64-bit hashes are computed once, then each window hash is
  * a degree-(W−1) polynomial over them in the odd constant B (mod 2^64,
  * natural overflow), slid in O(1) per position:
  *
  *   h_{i+1} = (h_i − th_i · B^{W−1}) · B + th_{i+W}
  *
  * and avalanche-finalized on emission so bucket keys carry no
  * positional structure. The transform+slice formulation re-hashes
  * every W-token window STRING — O(n·W) bytes hashed per doc plus a
  * ~300-byte transient string per window; this is O(n) with zero
  * transient allocations beyond the two long arrays. Hash VALUES differ
  * from the xxhash64-of-string form, but only bucket identity matters
  * (the oracle self-joins raw window strings), so the swap is
  * result-identical modulo 64-bit collisions — the same
  * collision-audited equivalence dedup_jaccard runs under. Rolling-hash
  * window scans are the standard fixed-target-length alternative to
  * suffix arrays (Lee et al. 2022, §4 — public knowledge).
  */
case class TokenWindowHashes(child: Expression, w: Int)
    extends UnaryExpression {
  require(w > 0 && w <= 4096, "window length must be in (0, 4096]")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(tokens: Any): Any =
    TokenWindowHashes.compute(tokens.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenWindowHashes.compute($c, $w)")
  override protected def withNewChildInternal(newChild: Expression): TokenWindowHashes =
    copy(child = newChild)
  override def prettyName: String = "graft_window_hashes"
}

object TokenWindowHashes {
  private val B = 0x9e3779b97f4a7c15L // odd golden-ratio multiplier

  private def fmix(v: Long): Long = {
    var h = v
    h ^= (h >>> 30); h *= 0xbf58476d1ce4e5b9L
    h ^= (h >>> 27); h *= 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def compute(tokens: ArrayData, w: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < w) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) =
        if (tokens.isNullAt(i)) 0L
        else StrHash.hash(tokens.getUTF8String(i), 0L)
      i += 1
    }
    var bw = 1L // B^{w-1}
    i = 1
    while (i < w) { bw *= B; i += 1 }
    val out = new Array[Long](n - w + 1)
    var h = 0L
    i = 0
    while (i < w) { h = h * B + th(i); i += 1 }
    out(0) = fmix(h)
    i = 1
    while (i <= n - w) {
      h = (h - th(i - 1) * bw) * B + th(i + w - 1)
      out(i) = fmix(h)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Registers the expressions as SQL functions (graft_cosine, graft_simhash,
  * graft_minhash, graft_lsh_bucket) so queries can use them via expr(...)
  * / spark.sql(...). Idempotent per session.
  */
/** Count of positionally equal elements across two integral arrays —
  * the codegen'd replacement for the
  * `size(filter(zip_with(a, b, (x, y) -> x = y), b -> b))` HOF chain on
  * the minhash verify paths. The HOF form allocates two intermediate
  * arrays PER ROW, and on the verify paths that row is every candidate
  * pair (StageProfile: dedup_detector_agreement's scoring stage at
  * 10.3 CPU-s, allocation-dominated). Semantics match the HOF form
  * exactly: positions beyond the shorter array (zip_with's null
  * padding) and null elements never count. Element types may be int or
  * long on either side (the funnel narrows sigs to int32 for the band
  * shuffle), compared widened.
  */
case class SigMatches(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    SigKernels.checkIntegralArrays(prettyName, left, right)
  private def isInt(e: Expression): Boolean = e.dataType match {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    SigMatches.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], isInt(left), isInt(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SigMatches.compute($a, $b, ${isInt(left)}, ${isInt(right)})")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatches =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_sig_matches"
}

/** Shared analysis-time input check for the sig kernels: both children
  * must be arrays of int or long (the only widths `compute` reads).
  * Without this, a mistyped call surfaced as a runtime
  * ClassCastException inside codegen instead of an analysis error.
  */
object SigKernels {
  def checkIntegralArrays(
      name: String, left: Expression, right: Expression): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(IntegerType | LongType, _) => true
      case _                                    => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires two array<int>/array<bigint> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }
}

object SigMatches {
  def compute(a: ArrayData, b: ArrayData, aInt: Boolean, bInt: Boolean): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (aInt) a.getInt(i).toLong else a.getLong(i)
        val y = if (bInt) b.getInt(i).toLong else b.getLong(i)
        if (x == y) c += 1
      }
      i += 1
    }
    c
  }
}

/** True iff some aligned band of `bandSize` consecutive positions is
  * entirely equal across the two sig arrays — the codegen'd form of
  * `exists(sequence(0, bands-1), b -> eqs[w*b] AND … AND eqs[w*b+w-1])`
  * over the zip_with equality array. Only bands fully inside BOTH
  * arrays can hit (a zip_with-padded position is null, and an AND with
  * null can never be true), so the trailing partial band is skipped —
  * identical verdicts to the HOF form on the equal-length sigs the
  * dedup tier compares.
  */
case class SigBandHit(left: Expression, right: Expression, bandSize: Int)
    extends BinaryExpression {
  require(bandSize > 0, "bandSize must be positive")
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    SigKernels.checkIntegralArrays(prettyName, left, right)
  private def isInt(e: Expression): Boolean = e.dataType match {
    case ArrayType(IntegerType, _) => true
    case _                         => false
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    SigBandHit.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      bandSize, isInt(left), isInt(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SigBandHit.compute($a, $b, $bandSize, ${isInt(left)}, ${isInt(right)})")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigBandHit =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_sig_band_hit"
}

object SigBandHit {
  def compute(
      a: ArrayData, b: ArrayData, w: Int, aInt: Boolean, bInt: Boolean): Boolean = {
    val n = math.min(a.numElements(), b.numElements())
    var base = 0
    while (base + w <= n) {
      var i = base
      var all = true
      while (all && i < base + w) {
        all = !a.isNullAt(i) && !b.isNullAt(i) && {
          val x = if (aInt) a.getInt(i).toLong else a.getLong(i)
          val y = if (bInt) b.getInt(i).toLong else b.getLong(i)
          x == y
        }
        i += 1
      }
      if (all) return true
      base += w
    }
    false
  }
}

/** Per-document n-gram frequency stats computed IN-ROW:
  * struct(n_g = total n-grams, nd = distinct n-grams, top_cnt = count
  * of the most frequent n-gram). Replaces the
  * explode → groupBy(doc, gram) → groupBy(doc) shape on the repetition
  * gates (guide §2.4 — the per-doc aggregate never needs to leave the
  * row): the exploded form shuffles one row PER GRAM OCCURRENCE
  * carrying the gram string, twice, plus a doc-level join back. Here
  * the whole frequency table lives in one per-row hash map bounded by
  * doc vocabulary, and only the 3 longs leave the row.
  *
  * Grouping semantics match the exploded form EXACTLY: grams are the
  * ' '-joined token windows (tokens from split can never contain the
  * separator, so the join is injective — the same concat the old
  * groupBy keyed on), and a window containing a null token maps to the
  * null gram (concat's null absorption) which counts as one group, like
  * groupBy's null bucket. Inputs shorter than n yield (0, 0, 0) — the
  * callers either filter size ≥ n first or compare against 0 exactly as
  * the old left-join-miss coalesce did.
  */
case class GramStats(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1 && n <= 16, "gram size must be in [1, 16]")
  override def dataType: DataType = StructType(Seq(
    StructField("n_g", LongType, nullable = false),
    StructField("nd", LongType, nullable = false),
    StructField("top_cnt", LongType, nullable = false)))
  override def nullSafeEval(tokens: Any): Any =
    GramStats.compute(tokens.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramStats.compute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): GramStats =
    copy(child = newChild)
  override def prettyName: String = "graft_gram_stats"
}

object GramStats {
  def compute(tokens: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val len = tokens.numElements()
    val m = len - n + 1
    if (m <= 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](0L, 0L, 0L))
    // UTF8String keys for unigrams (no copy — the backing buffer outlives
    // the call); ' '-joined String keys for n ≥ 2. A null token nulls its
    // gram (concat semantics); HashMap accepts the null key directly.
    val map = new java.util.HashMap[Any, Int](math.min(m * 2, 1 << 16))
    var top = 0
    var i = 0
    while (i < m) {
      val key: Any =
        if (n == 1) {
          if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
        } else {
          var nullTok = false
          val sb = new java.lang.StringBuilder(16 * n)
          var j = 0
          while (j < n && !nullTok) {
            if (tokens.isNullAt(i + j)) nullTok = true
            else {
              if (j > 0) sb.append(' ')
              sb.append(tokens.getUTF8String(i + j).toString)
            }
            j += 1
          }
          if (nullTok) null else sb.toString
        }
      val c = map.merge(key, 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](m.toLong, map.size.toLong, top.toLong))
  }
}

/** The `graft_*` SQL functions: one (name -> builder) table.
  * [[GraftExtensions]] injects all of them into every session it builds;
  * [[register]] adds them to a session built without it.
  */
object GraftFunctions {
  private val builders: Seq[(String, FunctionBuilder)] = Seq(
    "graft_cosine" -> (exprs => CosineSim(exprs(0), exprs(1))),
    "graft_sig_matches" -> (exprs => SigMatches(exprs(0), exprs(1))),
    "graft_sig_band_hit" ->
      (exprs => SigBandHit(exprs(0), exprs(1), exprs(2).eval().asInstanceOf[Int])),
    "graft_simhash" -> (exprs => SimHash64(exprs.head)),
    "graft_simhash_md5" -> (exprs => SimHashMd5(exprs.head)),
    "graft_minhash" -> (exprs => MinHashSig(exprs(0), exprs(1).eval().asInstanceOf[Int])),
    "graft_minhash_tokens" ->
      (exprs => MinHashSig(exprs(0), exprs(1).eval().asInstanceOf[Int], tokenMode = true)),
    "graft_minhash_md5" -> (exprs => MinHashMd5(exprs(0), exprs(1).eval().asInstanceOf[Int])),
    // NOTE: the table index is a true child expression (it is usually a
    // transform() lambda variable); only `planes` must be a literal.
    "graft_lsh_bucket" ->
      (exprs => LshBucket(exprs(0), exprs(1), exprs(2).eval().asInstanceOf[Int])),
    "graft_lsh_bucket_md5" ->
      (exprs => LshBucketMd5(exprs(0), exprs(1), exprs(2).eval().asInstanceOf[Int])),
    "graft_lang_id" -> (exprs => LangIdPredict(exprs.head)),
    "graft_window_hashes" ->
      (exprs => TokenWindowHashes(exprs(0), exprs(1).eval().asInstanceOf[Int])),
    "graft_morton" -> (exprs => MortonCode(exprs(0), exprs(1))),
    "graft_gram_stats" -> (exprs => GramStats(exprs(0), exprs(1).eval().asInstanceOf[Int])))

  /** The table in the form `SparkSessionExtensions.injectFunction` takes. */
  private[functions] val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    builders.map { case (name, build) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft.functions", name), build)
    }

  /** Register the `graft_*` functions the session's registry lacks, for
    * a session built without [[GraftExtensions]]. Idempotent: a name
    * already there is left alone, so repeated calls neither replace
    * functions nor log a warning each. `SparkEntry.queries` calls it
    * before every query build.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }
}
