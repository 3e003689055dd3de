package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.index.CellIndex

/** Allocation-free kernels over Catalyst ArrayData — called from generated
  * code. Copying the ring to Array[Double] per candidate row (toDoubleArray)
  * costs an allocation in the join's innermost loop; at 10^8+ rows/s across
  * 32 threads that allocation wall dominates, so the winding test reads the
  * UnsafeArrayData in place. */
object GeoKernels {
  def windingContains(ring: ArrayData, px: Double, py: Double): Boolean = {
    val n = ring.numElements() / 2
    if (n < 3) return false
    var wn = 0
    var i = 0
    while (i < n) {
      val x1 = ring.getDouble(2 * i); val y1 = ring.getDouble(2 * i + 1)
      val j = if (i == n - 1) 0 else i + 1
      val x2 = ring.getDouble(2 * j); val y2 = ring.getDouble(2 * j + 1)
      val cross = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
      if (cross == 0.0 &&
          px >= math.min(x1, x2) && px <= math.max(x1, x2) &&
          py >= math.min(y1, y2) && py <= math.max(y1, y2)) return true
      if (y1 <= py) { if (y2 > py && cross > 0) wn += 1 }
      else          { if (y2 <= py && cross < 0) wn -= 1 }
      i += 1
    }
    wn != 0
  }

  /** Exact Jaccard similarity of two SORTED distinct string arrays by a
    * single merge walk — no hash sets, no union-array allocation. With
    * millions of candidate pairs per LSH band this is the refine hot loop. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }
}

/** Text kernels for the dedup/fingerprint pipeline hot loops. */
object TextKernels {
  private val md5TL: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
  private val HexDigits = "0123456789abcdef".toCharArray

  /**
   * Min (lexicographic hex) MD5 over all k-token shingles of `toks`, in one
   * pass: token bytes materialized once, digests compared as unsigned bytes
   * (same order as their hex strings), hex-encoded once at the end. Exactly
   * equivalent to array_min(transform(sequence(0, greatest(n-k, 0)),
   * i -> md5(concat_ws(' ', slice(toks, i+1, k))))) — including the n < k
   * degenerate single-shingle case — but without the per-shingle slice/
   * concat/transform allocations, which dominate the fingerprint scan.
   */
  def shingleMinMd5Hex(toks: ArrayData, k: Int): org.apache.spark.unsafe.types.UTF8String = {
    val n = toks.numElements()
    val bytes = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) { bytes(t) = toks.getUTF8String(t).getBytes; t += 1 }
    val md = md5TL.get()
    var best: Array[Byte] = null
    var i = 0
    val last = math.max(n - k, 0)
    while (i <= last) {
      md.reset()
      val end = math.min(i + k, n)
      var j = i
      while (j < end) {
        if (j > i) md.update(' '.toByte)
        md.update(bytes(j))
        j += 1
      }
      val d = md.digest()
      if (best == null || unsignedLess(d, best)) best = d
      i += 1
    }
    val hex = new Array[Char](32)
    var h = 0
    while (h < 16) {
      hex(2 * h) = HexDigits((best(h) >> 4) & 0xf)
      hex(2 * h + 1) = HexDigits(best(h) & 0xf)
      h += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(new String(hex))
  }

  private def unsignedLess(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  /**
   * MinHash band signature (the q37/q76 signature hot loop): for band b over
   * the distinct-token array, the 24-hex-char concatenation of
   *   min over tokens t of substr(md5(b + "|" + t), 4j+1, 4)   for j = 0..5.
   * Exactly equivalent to the transform/array_min/substring Column pipeline
   * it replaces: a 4-hex-char window of the digest is digest bytes
   * [2j, 2j+2), and lexicographic order on lowercase hex equals unsigned
   * order on those two bytes — but ONE digest per token with no 32-char hex
   * materialization, no per-band intermediate arrays, and a codegen'd call
   * (ArrayTransform/ArrayMin are CodegenFallback and broke whole-stage
   * codegen for the signature projection).
   */
  def minhashBandSig(tset: ArrayData, band: Int): org.apache.spark.unsafe.types.UTF8String = {
    val n = tset.numElements()
    if (n == 0) return null // concat over array_min(empty) = null upstream
    val md = md5TL.get()
    val prefix = (String.valueOf(band) + "|")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val best = new Array[Int](6)
    java.util.Arrays.fill(best, -1)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(prefix)
      md.update(tset.getUTF8String(i).getBytes)
      val d = md.digest()
      var j = 0
      while (j < 6) {
        val v = ((d(2 * j) & 0xff) << 8) | (d(2 * j + 1) & 0xff)
        if (best(j) < 0 || v < best(j)) best(j) = v
        j += 1
      }
      i += 1
    }
    val hex = new Array[Char](24)
    var j = 0
    while (j < 6) {
      val v = best(j)
      hex(4 * j) = HexDigits((v >> 12) & 0xf)
      hex(4 * j + 1) = HexDigits((v >> 8) & 0xf)
      hex(4 * j + 2) = HexDigits((v >> 4) & 0xf)
      hex(4 * j + 3) = HexDigits(v & 0xf)
      j += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(new String(hex))
  }

  /** Count of elements equal to `needle` — replaces
    * `size(filter(toks, t => t === needle))` (ArrayFilter is
    * CodegenFallback: a lambda eval + result-array allocation per row for
    * what is one binary-equality scan). Bit-identical for non-null
    * elements (split() never yields null tokens). */
  def countEq(toks: ArrayData, needle: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = toks.numElements()
    var c = 0L
    var i = 0
    while (i < n) { if (toks.getUTF8String(i).equals(needle)) c += 1; i += 1 }
    c
  }

  /** Count of elements contained in the (small, literal) `set` array —
    * replaces `size(filter(toks, t => t.isin(set: _*)))`. Linear scan per
    * token: the call sites pass single-digit stopword lists, where a scan
    * beats any hash-set build-per-row. */
  def countIn(toks: ArrayData, set: ArrayData): Long = {
    val n = toks.numElements(); val k = set.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      var j = 0
      var hit = false
      while (j < k && !hit) { hit = t.equals(set.getUTF8String(j)); j += 1 }
      if (hit) c += 1
      i += 1
    }
    c
  }

  /** The q38 language-marker count: tokens t where hex(md5(prefix ++ t))
    * starts with '0'..'4' — i.e. the digest's first nibble is <= 4 (hex
    * chars are ordered like their nibbles). Replaces
    * `size(filter(toks, t => substring(md5(concat(prefix, t)), 1, 1)
    * .isin("0".."4")))`: one digest per token either way, but no 32-char
    * hex materialization, no per-token substring/isin tree, one codegen'd
    * call per document. */
  def langidScore(toks: ArrayData, prefix: org.apache.spark.unsafe.types.UTF8String): Long = {
    val n = toks.numElements()
    val md = md5TL.get()
    val pfx = prefix.getBytes
    var c = 0L
    var i = 0
    while (i < n) {
      md.reset()
      md.update(pfx)
      md.update(toks.getUTF8String(i).getBytes)
      val d = md.digest()
      if (((d(0) >> 4) & 0xf) <= 4) c += 1
      i += 1
    }
    c
  }

  /** Max CHARACTER length over a string array, 0 for empty — replaces the
    * `aggregate(units, 0L, (acc, u) => greatest(acc, length(u)))` fold
    * (ArrayAggregate is CodegenFallback). length() on StringType counts
    * characters (UTF8String.numChars), replicated exactly. */
  def maxCharLen(toks: ArrayData): Long = {
    val n = toks.numElements()
    var m = 0L
    var i = 0
    while (i < n) {
      val l = toks.getUTF8String(i).numChars().toLong
      if (l > m) m = l
      i += 1
    }
    m
  }

  /**
   * 16-bit SimHash over the token MULTISET in one pass (the q36 hot loop):
   * bit b votes with the ASCII parity of hex char b of md5(token) —
   * vote = ascii(h[b]) % 2 * 2 - 1 summed over token occurrences, bit set
   * iff the sum is positive. ASCII parity, not nibble parity: '0'..'9' are
   * 48..57 (parity = digit parity) but 'a'..'f' are 97..102 (parity
   * flipped) — replicated exactly so the result is bit-identical to the
   * explode + 16-aggregate pipeline it replaces (and to the DuckDB
   * replay). One digest per token occurrence, no 32-char hex string, no
   * 64x row explosion, no (doc) shuffle — the aggregation disappears from
   * the plan entirely.
   */
  def simhash16(toks: ArrayData): Long = {
    val n = toks.numElements()
    val votes = new Array[Int](16)
    val md = md5TL.get()
    var i = 0
    while (i < n) {
      md.reset()
      md.update(toks.getUTF8String(i).getBytes)
      val d = md.digest()
      var b = 0
      while (b < 16) {
        val nib = if ((b & 1) == 0) (d(b >> 1) >> 4) & 0xf else d(b >> 1) & 0xf
        val ascii = if (nib < 10) '0' + nib else 'a' + nib - 10
        votes(b) += (ascii % 2) * 2 - 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 16) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  /**
   * The q52 repetition signals in ONE pass per document:
   * (n_tokens, n_distinct, top_bigram_n, n_bigrams) — replacing an
   * interpreted `array_distinct` + a bigram `transform(sequence)` explode
   * whose per-(doc, bigram) counts took TWO hash-aggregation exchanges and
   * a join to reduce back to one row per document. Tokens come from
   * split(text, ' ') so they cannot contain spaces, hence bigram-string
   * equality (t[i] + " " + t[i+1]) is exactly adjacent-pair equality and
   * the in-memory count map reproduces the groupBy counts bit-for-bit.
   * Per-document state is O(distinct tokens + distinct bigrams) — the same
   * bound the exploded aggregation's hash map needed per (doc) partition
   * slice, now freed per row instead of per partition.
   */
  def repetitionStats(toks: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = toks.numElements()
    val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](
      math.max(16, n * 2))
    var i = 0
    while (i < n) { seen.add(toks.getUTF8String(i)); i += 1 }
    var topBigram = 0L
    val nBigrams = if (n >= 2) (n - 1).toLong else 0L
    if (n >= 2) {
      val counts = new java.util.HashMap[Long, Long](math.max(16, n * 2))
      // key bigrams by (index of first occurrence of t[i], same of t[i+1]):
      // equal pairs of tokens map to equal keys and vice versa, without
      // building a concatenated string per bigram
      val firstIdx = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer](
        math.max(16, n * 2))
      val ids = new Array[Int](n)
      i = 0
      while (i < n) {
        val t = toks.getUTF8String(i)
        val prev = firstIdx.putIfAbsent(t, i)
        ids(i) = if (prev == null) i else prev.intValue()
        i += 1
      }
      i = 0
      while (i < n - 1) {
        val key = ids(i).toLong << 32 | ids(i + 1).toLong
        val c = counts.getOrDefault(key, 0L) + 1L
        counts.put(key, c)
        if (c > topBigram) topBigram = c
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, seen.size(), topBigram, nBigrams))
  }

  /**
   * The q33 4-window MinHash signature in one digest pass per distinct
   * token: sig_i = min over tokens of hex chars [8i, 8i+8) of md5(token) —
   * lexicographic min on 8 lowercase hex chars equals unsigned min on
   * digest bytes [4i, 4i+4), tracked as four 32-bit minima and hex-encoded
   * once at the end. Bit-identical to
   * `array_min(transform(transform(tset, md5), h => substring(h, 8i+1, 8)))`
   * without the per-token 32-char hex strings and the four interpreted
   * array passes. Empty input yields null fields (array_min of empty).
   */
  def minhashSigs4(tset: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = tset.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](null, null, null, null))
    val md = md5TL.get()
    val best = Array.fill(4)(-1L)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(tset.getUTF8String(i).getBytes)
      val d = md.digest()
      var w = 0
      while (w < 4) {
        val v = ((d(4 * w) & 0xffL) << 24) | ((d(4 * w + 1) & 0xffL) << 16) |
                ((d(4 * w + 2) & 0xffL) << 8) | (d(4 * w + 3) & 0xffL)
        if (best(w) < 0 || v < best(w)) best(w) = v
        w += 1
      }
      i += 1
    }
    val out = new Array[Any](4)
    var w = 0
    while (w < 4) {
      val hex = new Array[Char](8)
      var j = 0
      while (j < 8) {
        hex(j) = HexDigits(((best(w) >> (28 - 4 * j)) & 0xf).toInt)
        j += 1
      }
      out(w) = org.apache.spark.unsafe.types.UTF8String.fromString(new String(hex))
      w += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
}

/** Embedding kernels for the ANN/near-dup hot loops. */
object AnnKernels {
  /**
   * Left-to-right dot product over two EQUAL-LENGTH double arrays — the
   * accumulation order is exactly `aggregate(zip_with(a, b, (x, y) => x*y),
   * 0.0, (acc, x) => acc + x)`: s = ((0.0 + a0*b0) + a1*b1) + ..., so the
   * result is bit-identical to the HOF pipeline it replaces (including NaN
   * propagation), without the per-row zipped-array materialization and
   * per-element boxing of the CodegenFallback ZipWith/ArrayAggregate chain.
   * Callers own the equal-length invariant (two 64-dim embeddings
   * everywhere this is used), like graft_jaccard owns sortedness.
   */
  def dotD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /**
   * All `planes` sign bits of one hyperplane table in a single pass over the
   * vector — bit p of the result is (w_tp . v) >= 0 with the deterministic
   * integer-ladder weights w_tp[d] = (((t*61+p)*131 + d*31) % 17) - 8.
   * Accumulation is per-plane left-to-right over d: bit-identical to the
   * aggregate(zip_with(...)) Column pipeline it replaces (and to the DuckDB
   * list_dot_product replay), but one allocation-free call per row instead
   * of `planes` zipped-array materializations.
   */
  def hyperplaneBucket(v: ArrayData, table: Int, planes: Int): Long = {
    val n = v.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val seed = (table * 61 + p) * 131
      var acc = 0.0
      var d = 0
      while (d < n) {
        acc += v.getDouble(d) * ((seed + d * 31) % 17 - 8)
        d += 1
      }
      if (acc >= 0.0) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}

/**
 * `name(children)` as a codegen'd static call to the kernel that
 * [[GraftKernel.table]] lists under `name`; any null argument gives null.
 * Lives under org.apache.spark.sql because ExpectsInputTypes and
 * AbstractDataType are private[sql].
 */
case class GraftKernel(name: String, children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  @transient private lazy val sig = GraftKernel.table(name)

  override def inputTypes: Seq[AbstractDataType] = sig.inputs
  override def dataType: DataType = sig.result
  override def nullable: Boolean = sig.nullableResult || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator

  // the interpreted path (CodegenFallback parents such as `transform`, or
  // NO_CODEGEN): the row's typed kernel body, called directly
  override def eval(input: InternalRow): Any = {
    val a = children.head.eval(input)
    if (a == null) return null
    var b: Any = null
    if (children.length > 1) { b = children(1).eval(input); if (b == null) return null }
    var c: Any = null
    if (children.length > 2) { c = children(2).eval(input); if (c == null) return null }
    sig.body(a, b, c)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val call = s"${ev.value} = ${sig.ownerName}.${sig.method}(${args.map(_.value).mkString(", ")});" +
      (if (sig.nullableResult) s"\n${ev.isNull} = (${ev.value} == null);" else "")
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val guarded = children.zip(args).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, a), inner) => s"${a.code}\n${ctx.nullSafeExec(c.nullable, a.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $decl
        $guarded""")
    } else {
      ev.copy(code = code"""
        ${args.map(_.code).mkString("\n")}
        $decl
        $call""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftKernel = copy(children = newChildren)
}

object GraftKernel {
  /** A kernel as `eval` calls it: its non-null arguments, unused ones null. */
  type Body = (Any, Any, Any) => Any

  /** A kernel's static `owner.method` (what generated code calls), its
    * argument and result types, the same kernel as a typed [[Body]], and
    * whether the kernel itself can return null. */
  case class Signature(owner: Class[_], method: String, inputs: Seq[DataType],
                       result: DataType, body: Body, nullableResult: Boolean = false) {
    def ownerName: String = owner.getName.stripSuffix("$")
  }

  private def k1[A](f: A => Any): Body = (a, _, _) => f(a.asInstanceOf[A])
  private def k2[A, B](f: (A, B) => Any): Body =
    (a, b, _) => f(a.asInstanceOf[A], b.asInstanceOf[B])
  private def k3[A, B, C](f: (A, B, C) => Any): Body =
    (a, b, c) => f(a.asInstanceOf[A], b.asInstanceOf[B], c.asInstanceOf[C])

  private val Doubles = ArrayType(DoubleType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)

  /** Every native kernel, keyed by its SQL name: the Column wrappers in
    * `graft.functions.GraftFunctions`, its SQL registration and
    * `graft.GraftExtensions` all read this table. */
  val table: Map[String, Signature] = Map(
    // spatial join's innermost loop: one call per candidate row (SURVEY.md §4)
    "graft_cell_id" -> Signature(CellIndex.getClass, "cellId",
      Seq(DoubleType, DoubleType, IntegerType), LongType, k3(CellIndex.cellId)),
    // exact PIP refine (winding rule, boundary inclusive) after the cell-cover prefilter
    "graft_contains" -> Signature(GeoKernels.getClass, "windingContains",
      Seq(Doubles, DoubleType, DoubleType), BooleanType, k3(GeoKernels.windingContains)),
    // LSH candidate refine; callers pass sort_array(array_distinct(...)) inputs
    "graft_jaccard" -> Signature(GeoKernels.getClass, "jaccardSorted",
      Seq(Strings, Strings), DoubleType, k2(GeoKernels.jaccardSorted)),
    // q35 fingerprint: replaces a per-shingle transform/slice/concat_ws pipeline
    "graft_shingle_min_md5" -> Signature(TextKernels.getClass, "shingleMinMd5Hex",
      Seq(Strings, IntegerType), StringType, k2(TextKernels.shingleMinMd5Hex)),
    // q41/q42 embedding near-dup: 48 projections per vector across 3 tables
    "graft_hyperplane_bucket" -> Signature(AnnKernels.getClass, "hyperplaneBucket",
      Seq(Doubles, IntegerType, IntegerType), LongType, k3(AnnKernels.hyperplaneBucket)),
    // q37/q76 band signature; null for an empty array, as the concat of array_mins was
    "graft_minhash_band_sig" -> Signature(TextKernels.getClass, "minhashBandSig",
      Seq(Strings, IntegerType), StringType, k2(TextKernels.minhashBandSig),
      nullableResult = true),
    // q36: replaces the explode + 16-sum groupBy, so the plan has no shuffle
    "graft_simhash16" -> Signature(TextKernels.getClass, "simhash16",
      Seq(Strings), LongType, k1(TextKernels.simhash16)),
    // the ANN norms and cosine refines (q40-q44, q97, q102/q103/q108): replaces aggregate(zip_with)
    "graft_dot" -> Signature(AnnKernels.getClass, "dotD",
      Seq(Doubles, Doubles), DoubleType, k2(AnnKernels.dotD)),
    // q31 token count: replaces size(filter(...)), whose ArrayFilter is CodegenFallback
    "graft_count_eq" -> Signature(TextKernels.getClass, "countEq",
      Seq(Strings, StringType), LongType, k2(TextKernels.countEq)),
    // q45 stopword ratio against a small literal set
    "graft_count_in" -> Signature(TextKernels.getClass, "countIn",
      Seq(Strings, Strings), LongType, k2(TextKernels.countIn)),
    // q38 language-marker count: one digest per token, no hex string
    "graft_langid_score" -> Signature(TextKernels.getClass, "langidScore",
      Seq(Strings, StringType), LongType, k2(TextKernels.langidScore)),
    // q39 unit-length fold: replaces aggregate(...), which is CodegenFallback
    "graft_max_char_len" -> Signature(TextKernels.getClass, "maxCharLen",
      Seq(Strings), LongType, k1(TextKernels.maxCharLen)),
    // q52: replaces the bigram explode + two aggregation exchanges + join
    "graft_repetition" -> Signature(TextKernels.getClass, "repetitionStats",
      Seq(Strings), StructType(Seq(
        StructField("n_tokens", IntegerType), StructField("n_distinct", IntegerType),
        StructField("top_bigram_n", LongType), StructField("n_bigrams", LongType))),
      k1(TextKernels.repetitionStats)),
    // q33 4-window signature in one digest pass; null fields for an empty array
    "graft_minhash_sigs4" -> Signature(TextKernels.getClass, "minhashSigs4",
      Seq(Strings), StructType(Seq(
        StructField("sig1", StringType), StructField("sig2", StringType),
        StructField("sig3", StringType), StructField("sig4", StringType))),
      k1(TextKernels.minhashSigs4)))
}
