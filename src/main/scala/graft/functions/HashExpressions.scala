package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the dedup hot path (SURVEY.md §7.3 tier (b)).
  *
  * The composable SQL forms (`transform(sh, s -> conv(substr(md5(s),…)))`,
  * k × `array_min(transform(hs, …))`) are correct but interpreted: Spark's
  * higher-order functions evaluate their lambda once per element outside
  * whole-stage codegen, and the k MinHash mixes re-walk the hash array k
  * times. At 100 TB the signature projection runs once per document — these
  * expressions fuse it into one digest pass + one k-way min pass per row,
  * all inside codegen.
  *
  * Bit-compatibility contract (asserted by DedupSpec): every kernel equals
  * its SQL form literally —
  *  - md5_i64(s)      == CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
  *                       (top 60 digest bits, unsigned)
  *  - minhash_sig i   == array_min(transform(hs, h -> (a_i*(h%P)+b_i) % P))
  *  - simhash16       == the 16 per-bit ±1-sum aggregates
  *  - intradoc_cut    == q184's gram self-join + island union + rebuild
  *                       aggregate (row for row, as a multiset)
  * so the DuckDB oracle (which keeps the SQL form) still matches bit-for-bit.
  */
object HashKernels {

  /** Mersenne prime 2^31-1: mix products stay < 2^62 (no int64 overflow). */
  val P = 2147483647L

  /** Affine mix constants for MinHash function i — fixed pseudo-random
    * multipliers, identical literals baked into the DuckDB oracle. */
  def mixConsts(i: Int): (Long, Long) = {
    val a = ((i * 2654435761L + 1000003L) % (P - 1)) + 1
    val b = (i * 40014L + 12345L) % P
    (a, b)
  }

  private val constCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]
  private def consts(k: Int): (Array[Long], Array[Long]) =
    constCache.computeIfAbsent(k, k => {
      val as = new Array[Long](k); val bs = new Array[Long](k)
      var i = 0
      while (i < k) { val (a, b) = mixConsts(i); as(i) = a; bs(i) = b; i += 1 }
      (as, bs)
    })

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5(s) as unsigned int64: the top 60 digest
    * bits = first 8 bytes big-endian >>> 4. */
  def md5i64(s: UTF8String): Long = {
    val md = md5Local.get(); md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def md5i64Array(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = md5i64(arr.getUTF8String(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** md5i64 of (prefix || element), per element — equals
    * transform(arr, s -> md5_i64-of concat(prefix, s)) without the
    * interpreted per-element concat. */
  def md5i64ArrayPrefixed(arr: ArrayData, prefix: UTF8String): ArrayData = {
    if (prefix.numBytes() == 0) return md5i64Array(arr)
    val pb = prefix.getBytes
    val md = md5Local.get()
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(pb)
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = v >>> 4
      i += 1
    }
    new GenericArrayData(out)
  }

  private val Space = UTF8String.fromString(" ")

  /** Distinct word n-gram shingles (space-joined) from a words array, in
    * first-occurrence order — equals array_distinct(transform(sequence(1,
    * size-n+1), i -> concat(w[i], ' ', …, w[i+n-1]))) with the empty-array
    * guard for short inputs. */
  def wordShingles(w: ArrayData, n: Int): ArrayData = {
    val m = w.numElements() - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    val parts = new Array[UTF8String](2 * n - 1)
    var k = 1
    while (k < parts.length) { parts(k) = Space; k += 2 }
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) { parts(2 * j) = w.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concat(parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray)
  }

  /** Distinct character n-gram shingles in first-occurrence order —
    * equals array_distinct(transform(sequence(1, length-n+1),
    * i -> substr(s, i, n))) with the short-input guard. Character (not
    * byte) positions, matching substr(). One pass over the UTF-8 bytes
    * building a char→byte offset table — substringSQL per position would
    * re-scan from the start and make this O(L²) per document. */
  def charShingles(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    // offsets(c) = byte offset of character c; offsets(numChars) = length
    val offsets = new Array[Int](bytes.length + 1)
    var nc = 0
    var off = 0
    while (off < bytes.length) {
      offsets(nc) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nc += 1
    }
    offsets(nc) = bytes.length
    val m = nc - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](m * 2)
    var i = 0
    while (i < m) {
      seen.add(UTF8String.fromBytes(bytes, offsets(i), offsets(i + n) - offsets(i)))
      i += 1
    }
    new GenericArrayData(seen.toArray)
  }

  private val SpaceByte = ' '.toByte

  /** Distinct-common-value count over two ASCENDING-sorted int64 arrays
    * (`sort_array` order: nulls first) — equals
    * `size(array_intersect(a, b))` for any arrays whose sorted forms are
    * passed in. One allocation-free two-pointer merge per pair replaces
    * array_intersect's per-row hash-set build (O(n+m) inserts + probes +
    * a result array nobody reads when only the SIZE is consumed): the
    * merge skips duplicate runs on match (set semantics) and counts null
    * as a value iff both sides contain one, exactly like array_intersect. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    while (i < na && a.isNullAt(i)) i += 1
    var j = 0
    while (j < nb && b.isNullAt(j)) j += 1
    var c = if (i > 0 && j > 0) 1 else 0
    var haveLast = false
    var last = 0L
    while (i < na && j < nb) {
      val va = a.getLong(i)
      val vb = b.getLong(j)
      if (va < vb) i += 1
      else if (va > vb) j += 1
      else {
        if (!haveLast || va != last) { c += 1; last = va; haveLast = true }
        i += 1; j += 1
      }
    }
    c
  }

  /** Positional space-joined word k-gram 60-bit hashes — equals
    * transform(sequence(1, size(w)-k+1), pos ->
    *   CAST(conv(substr(md5(concat_ws(' ', slice(w, pos, k))), 1, 15),
    *        16, 10) AS BIGINT))
    * (empty for short inputs, duplicates kept, positional order). The
    * SQL form pays a slice allocation, a concat_ws string build, a hex
    * string, a conv parse and a string→long cast per gram; here each
    * word's bytes extract once per row and every gram is one digest
    * update sweep. */
  def wordGramHashes(w: ArrayData, k: Int): ArrayData =
    new GenericArrayData(gramHashes(wordBytes(w), k))

  private def wordBytes(w: ArrayData): Array[Array[Byte]] = {
    val n = w.numElements()
    val wb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { wb(i) = w.getUTF8String(i).getBytes; i += 1 }
    wb
  }

  /** The [[wordGramHashes]] digest over pre-extracted word bytes; empty
    * when there are fewer than k words. */
  private def gramHashes(wb: Array[Array[Byte]], k: Int): Array[Long] = {
    val m = math.max(0, wb.length - k + 1)
    val md = md5Local.get()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(SpaceByte)
        md.update(wb(i + j))
        j += 1
      }
      val d = md.digest()
      var v = 0L
      j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = v >>> 4
      i += 1
    }
    out
  }

  /** Within-document repetition cut of one words array: the k-grams are
    * hashed by the [[wordGramHashes]] digest, the first position of each
    * hash keeps its gram, every later occurrence at position p covers
    * words p..p+k-1, and the uncovered words are joined by ' ' in
    * position order. Returns (n_tokens, kept_tokens, clean_text), or
    * null for an empty array (no word, so no row). Equals the gram
    * self-join + island union + rebuild aggregate it replaced (asserted
    * against that spelling in DedupSpec). Position 1 always keeps its
    * gram, so a non-empty array keeps at least one word. */
  def intradocCut(w: ArrayData, k: Int): InternalRow = {
    val n = w.numElements()
    if (n == 0) return null
    val wb = wordBytes(w)
    val hs = gramHashes(wb, k)
    // repeatAt(p): the gram at p repeats an earlier one, so it is cut
    val repeatAt = new Array[Boolean](hs.length)
    val seen = new java.util.HashSet[java.lang.Long](hs.length * 2)
    var p = 0
    while (p < hs.length) { repeatAt(p) = !seen.add(hs(p)); p += 1 }
    val kept = new Array[Boolean](n)
    var keptN = 0
    var keptBytes = 0
    var coverEnd = -1
    p = 0
    while (p < n) {
      if (p < hs.length && repeatAt(p)) coverEnd = p + k - 1
      if (p > coverEnd) {
        kept(p) = true; keptN += 1; keptBytes += wb(p).length
      }
      p += 1
    }
    val text = new Array[Byte](keptBytes + keptN - 1)
    var off = 0
    var first = true
    p = 0
    while (p < n) {
      if (kept(p)) {
        if (!first) { text(off) = SpaceByte; off += 1 }
        first = false
        System.arraycopy(wb(p), 0, text, off, wb(p).length)
        off += wb(p).length
      }
      p += 1
    }
    new GenericInternalRow(
      Array[Any](n, keptN.toLong, UTF8String.fromBytes(text)))
  }

  /** Winnowing fingerprints, fused: positional K-char-gram 60-bit hashes
    * digested straight off the UTF-8 bytes (no substring/hex/conv
    * strings), the sliding window-of-W min via a monotonic deque (O(1)
    * amortized vs array_min(slice) = O(W) per window with a per-window
    * allocation), then ordered distinct. Equals
    *   array_distinct(transform(sequence(1, size(hs)-(W-1)), i ->
    *     array_min(slice(hs, i, W))))
    * over hs = transform(sequence(1, length(s)-(K-1)), p ->
    *   CAST(conv(substr(md5(substr(s, p, K)), 1, 15), 16, 10) AS BIGINT))
    * — the oracle keeps that SQL form; equality is property-asserted in
    * DedupSpec. Character (not byte) gram positions, matching substr().
    * Short inputs (fewer than K+W-1 chars) yield the empty array, the
    * same rows the SQL form's upstream length filter removes. */
  def winnowFps(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val offsets = new Array[Int](bytes.length + 1)
    var nc = 0
    var off = 0
    while (off < bytes.length) {
      offsets(nc) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nc += 1
    }
    offsets(nc) = bytes.length
    val ng = nc - k + 1
    val nw = ng - w + 1
    if (nw <= 0) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    val hs = new Array[Long](ng)
    var i = 0
    while (i < ng) {
      md.reset()
      md.update(bytes, offsets(i), offsets(i + k) - offsets(i))
      val d = md.digest()
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      hs(i) = v >>> 4
      i += 1
    }
    // monotonic deque of indices with ascending hash values; equal values
    // keep the newest index — the window MIN is identical either way
    val deque = new Array[Int](ng)
    var head = 0
    var tail = 0
    val seen = new java.util.LinkedHashSet[java.lang.Long](nw * 2)
    i = 0
    while (i < ng) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(hs(deque(head)))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** k MinHash minima over an int64 hash array, one pass over the array
    * (vs k interpreted array walks). Empty input yields Long.MaxValue
    * sentinels — callers filter empty shingle sets upstream, matching the
    * oracle's WHERE guard. */
  def minhashSig(hs: ArrayData, k: Int): ArrayData = {
    val (as, bs) = consts(k)
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      val hp = hs.getLong(j) % P
      var i = 0
      while (i < k) {
        val v = (as(i) * hp + bs(i)) % P
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `bits`-wide SimHash over an int64 token-hash array: per bit, sum ±1
    * over all tokens (duplicates weighted), set the bit iff the sum is
    * positive. One array walk (vs `bits` interpreted aggregates). md5_i64
    * values carry 60 independent bits (15 hex chars), so bits ≤ 60. */
  def simhash(whs: ArrayData, bits: Int): Long = {
    val counts = new Array[Long](bits)
    val n = whs.numElements()
    var j = 0
    while (j < n) {
      val h = whs.getLong(j)
      var b = 0
      while (b < bits) { counts(b) += ((h >> b) & 1L) * 2L - 1L; b += 1 }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  def simhash16(whs: ArrayData): Long = simhash(whs, 16)

  /** Deterministic ±1 hyperplane components for SRP-LSH: sign(i, d) from
    * the parity of md5_i64("hp{i}:{d}") — a public, engine-independent
    * pseudo-random source, so the DuckDB oracle can carry the same table
    * as literals. Cached per (bits, dims). */
  private val srpCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]
  def srpSigns(bits: Int, dims: Int): Array[Array[Double]] =
    srpCache.computeIfAbsent((bits, dims), { case (b, dm) =>
      Array.tabulate(b, dm) { (i, d) =>
        if ((md5i64(UTF8String.fromString(s"hp$i:$d")) & 1L) == 1L) 1.0 else -1.0
      }
    })

  /** Signed-random-projection signature of a float vector: bit i is the
    * sign of the dot product with hyperplane i (±1 components from
    * [[srpSigns]]). P(bit agrees) = 1 − θ/π for angle θ, making Hamming
    * distance on SRP signatures an unbiased angle estimator — the
    * embedding-space analog of SimHash. Sums run in double over ascending
    * dims, matching the oracle's sequential list_sum exactly. */
  def srpSig(v: ArrayData, bits: Int): Long = {
    val dims = v.numElements()
    val signs = srpSigns(bits, dims)
    var sig = 0L
    var i = 0
    while (i < bits) {
      val row = signs(i)
      var acc = 0.0
      var d = 0
      while (d < dims) { acc += row(d) * v.getFloat(d); d += 1 }
      if (acc > 0) sig |= 1L << i
      i += 1
    }
    sig
  }
}

/** `md5_i64(array<string> [, prefix]) -> array<long>` — element-wise
  * cross-engine 60-bit hash of (prefix || element), codegen'd via a static
  * kernel call. The optional literal prefix implements seeded hash
  * families without a per-element concat. */
case class Md5I64Array(child: Expression, prefix: String = "")
    extends UnaryExpression {
  @transient private lazy val prefixU = UTF8String.fromString(prefix)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_i64"
  override def nullSafeEval(a: Any): Any =
    HashKernels.md5i64ArrayPrefixed(a.asInstanceOf[ArrayData], prefixU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5Prefix", prefixU,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.md5i64ArrayPrefixed($c, $ref)")
  }
  override protected def withNewChildInternal(nc: Expression): Md5I64Array =
    copy(child = nc)
}

/** `word_shingles(array<string>, n) -> array<string>` — distinct
  * space-joined word n-grams, fused (no interpreted transform/concat). */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> and a positive literal n, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def nullSafeEval(a: Any): Any =
    HashKernels.wordShingles(a.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.wordShingles($c, $n)")
  override protected def withNewChildInternal(nc: Expression): WordShingles =
    copy(child = nc)
}

/** `char_shingles(string, n) -> array<string>` — distinct character
  * n-grams, fused (no interpreted transform/substr). */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string and a positive literal n, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_shingles"
  override def nullSafeEval(a: Any): Any =
    HashKernels.charShingles(a.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.charShingles($c, $n)")
  override protected def withNewChildInternal(nc: Expression): CharShingles =
    copy(child = nc)
}

/** `word_gram_hashes(array<string>, k) -> array<long>` — positional
  * space-joined word k-gram hashes, fused. k must be a literal. */
case class WordGramHashes(child: Expression, k: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> and a positive literal k, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_gram_hashes"
  override def nullSafeEval(a: Any): Any =
    HashKernels.wordGramHashes(a.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.wordGramHashes($c, $k)")
  override protected def withNewChildInternal(nc: Expression): WordGramHashes =
    copy(child = nc)
}

/** `intradoc_cut(array<string>, k) -> struct<n_tokens, kept_tokens,
  * clean_text>` — the within-document repetition cut of one words array
  * ([[HashKernels.intradocCut]]), fused into one per-row pass. Null for a
  * null or empty array. k must be a literal. */
case class IntradocCut(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> and a positive literal k, got ${t.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("kept_tokens", LongType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "intradoc_cut"
  override def nullSafeEval(a: Any): Any =
    HashKernels.intradocCut(a.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashKernels.intradocCut($c, $k);
      ${ev.isNull} = ${ev.value} == null;""")
  override protected def withNewChildInternal(nc: Expression): IntradocCut =
    copy(child = nc)
}

/** `winnow_fps(string, k, w) -> array<long>` — the whole q207 fingerprint
  * projection fused: positional k-char-gram hashes, window-of-w sliding
  * min, ordered distinct. k and w must be literals. */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k > 0 && w > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string and positive literal k/w, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  override def nullSafeEval(a: Any): Any =
    HashKernels.winnowFps(a.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.winnowFps($c, $k, $w)")
  override protected def withNewChildInternal(nc: Expression): WinnowFps =
    copy(child = nc)
}

/** `sorted_intersect_count(array<long>, array<long>) -> int` — distinct
  * common values of two ascending-sorted arrays ([[HashKernels
  * .sortedIntersectCount]]); equals `size(array_intersect(a, b))` on the
  * sorted forms, with no per-row hash set or result array. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<long> inputs, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(array<long>, k) -> array<long>` — the k MinHash minima in
  * one fused pass. k must be a literal (it parameterizes codegen). */
case class MinhashSig(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> and a positive literal k, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullSafeEval(a: Any): Any =
    HashKernels.minhashSig(a.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.minhashSig($c, $k)")
  override protected def withNewChildInternal(nc: Expression): MinhashSig =
    copy(child = nc)
}

/** `srp_sig(array<float>, bits) -> bigint` — signed-random-projection
  * signature (hyperplane LSH) in one fused pass; bits ≤ 60 so the oracle's
  * bit sum stays in int64. `bits` must be a literal. */
case class SrpSig(child: Expression, bits: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if bits > 0 && bits <= 60 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> and literal bits in 1..60, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_sig"
  override def nullSafeEval(a: Any): Any =
    HashKernels.srpSig(a.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.srpSig($c, $bits)")
  override protected def withNewChildInternal(nc: Expression): SrpSig =
    copy(child = nc)
}

/** `simhash(array<long>, bits) -> bigint` — `bits`-wide SimHash in one
  * pass (bits ≤ 60: md5_i64 hashes carry 60 independent bits). `bits`
  * must be a literal (it parameterizes codegen). */
case class Simhash(child: Expression, bits: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if bits > 0 && bits <= 60 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> and literal bits in 1..60, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash"
  override def nullSafeEval(a: Any): Any =
    HashKernels.simhash(a.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash($c, $bits)")
  override protected def withNewChildInternal(nc: Expression): Simhash =
    copy(child = nc)
}
