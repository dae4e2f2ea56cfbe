package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static text kernels callable from generated code (see VectorMath). */
object TextMath {
  /** 64-bit SimHash over an array of tokens: each token hashed with
    * xxhash64 (same function as Spark's `xxhash64`, seed 42); bit b of
    * the result is 1 iff the sum of ±1 votes from all tokens' bit b is
    * positive. Single pass, no shuffle — a pure per-row map.
    */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n      = tokens.numElements()
    var i      = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = XxHash64Function.hash(tokens.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b   = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** MinHash signature: k minimums of per-shingle hashes. The hash
    * family is one xxhash64 string hash per shingle plus k splitmix64
    * finalizer mixes (a standard universal family) — k*|shingles|
    * integer mixes instead of k*|shingles| full string hashes, ~20×
    * cheaper per row. Per-row, map-side — no shuffle.
    */
  def minhashSignature(shingles: ArrayData, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val base = XxHash64Function.hash(shingles.getUTF8String(i), StringType, 42L)
        var j = 0
        while (j < k) {
          val h = mix64(base + 0x9E3779B97F4A7C15L * (j + 1))
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** splitmix64 finalizer. */
  @inline private def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  @inline private def foldMin(sig: Array[Long], base: Long): Unit = {
    val k = sig.length
    var j = 0
    while (j < k) {
      val h = mix64(base + 0x9E3779B97F4A7C15L * (j + 1))
      if (h < sig(j)) sig(j) = h
      j += 1
    }
  }

  /** Open-addressed set of base hashes: fold each DISTINCT base into the
    * signature exactly once. The k-mix fold only depends on the base
    * hash, so dedup-by-base is output-identical to dedup-by-shingle —
    * and on repetitive text (the common case: natural language repeats
    * n-grams heavily) it cuts the k×windows mix cost to k×distinct.
    * Linear probing over a power-of-two table; 0 is the empty marker
    * (a real 0 base hash would be folded once per occurrence — min is
    * idempotent, so that stays correct, just unshortcut).
    */
  private final class BaseSet(expected: Int) {
    private var cap  = Integer.highestOneBit(math.max(16, expected * 2) - 1) << 1
    private var mask = cap - 1
    private var tab  = new Array[Long](cap)
    private var n    = 0
    /** returns true if newly added. */
    def add(h: Long): Boolean = {
      if (h == 0L) return true
      if (n * 4 >= cap * 3) grow()
      var i = (mix64(h) & mask).toInt
      while (true) {
        val v = tab(i)
        if (v == 0L) { tab(i) = h; n += 1; return true }
        if (v == h) return false
        i = (i + 1) & mask
      }
      false
    }
    private def grow(): Unit = {
      val old = tab
      cap <<= 1; mask = cap - 1; tab = new Array[Long](cap); n = 0
      var i = 0
      while (i < old.length) { if (old(i) != 0L) add(old(i)); i += 1 }
    }
  }

  /** Fused char-n-gram MinHash: the signature of
    * `minhashSignature(charNGramsDistinct(text, n), k)` computed straight
    * from the text — min over a multiset equals min over its set, so the
    * distinct-shingle hash set and the shingle *array* never exist. One
    * UTF-8 byte walk finds code-point starts; each window is hashed
    * zero-copy (`fromBytes` aliases the buffer). This keeps the LSH map
    * side allocation-free per window — the shingle arrays are only ever
    * built for the (tiny) verified candidate set.
    */
  def minhashCharGrams(text: UTF8String, n: Int, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val bytes = text.getBytes
    // code-point start offsets within the UTF-8 buffer
    val offs = new Array[Int](bytes.length + 1)
    var cp = 0
    var i  = 0
    while (i < bytes.length) {
      offs(cp) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      cp += 1
    }
    offs(cp) = bytes.length
    val seen = new BaseSet(math.max(0, cp - n + 1))
    var w = 0
    while (w <= cp - n) {
      val start = offs(w)
      val gram  = UTF8String.fromBytes(bytes, start, offs(w + n) - start)
      val base  = XxHash64Function.hash(gram, StringType, 42L)
      if (seen.add(base)) foldMin(sig, base)
      w += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** Fused word-n-gram MinHash: same signature as
    * `minhashSignature(wordNGramsDistinct(text, n), k)` (single-space
    * tokenization, grams joined by single spaces) without materializing
    * the gram set. Each window re-hashes the exact byte span of the
    * joined gram — for space-separated tokens that span is contiguous in
    * the original text, so windows are again zero-copy slices.
    */
  def minhashWordGrams(text: UTF8String, n: Int, k: Int): ArrayData = {
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val bytes = text.getBytes
    // token start offsets (split-on-single-space semantics: empty tokens
    // between consecutive spaces count, matching String.split(" ", -1))
    val starts = new java.util.ArrayList[Integer]()
    starts.add(0)
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) starts.add(i + 1)
      i += 1
    }
    val nt   = starts.size()
    val seen = new BaseSet(math.max(0, nt - n + 1))
    var w    = 0
    while (w <= nt - n) {
      val start = starts.get(w).intValue()
      val end =
        if (w + n < nt) starts.get(w + n).intValue() - 1 else bytes.length
      val gram = UTF8String.fromBytes(bytes, start, end - start)
      val base = XxHash64Function.hash(gram, StringType, 42L)
      if (seen.add(base)) foldMin(sig, base)
      w += 1
    }
    ArrayData.toArrayData(sig)
  }

  private val threadMd5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** token hash for the SQL-checkable simhash: the last 8 md5 bytes,
    * little-endian — bit-for-bit the oracle engine's `md5_number_lower`,
    * so a SQL oracle can recompute signatures exactly. md5 costs ~2× an
    * xxhash per token but the kernel stays a pure per-row map; at scale
    * the hash choice is orthogonal to the simhash structure. */
  def md5Lower64(token: UTF8String): Long = {
    val d = threadMd5.get()
    d.reset()
    val bytes = d.digest(token.getBytes)
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (bytes(i) & 0xFFL); i -= 1 }
    h
  }

  /** 64-bit SimHash over an array of tokens with the md5-derived token
    * hash above; vote/assembly logic identical to `simhash64`. */
  def simhashMd5(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n      = tokens.numElements()
    var i      = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = md5Lower64(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b   = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** Static shingling/fingerprint kernels (see VectorMath for the
  * static-call codegen pattern). These replace `transform(sequence(...))`
  * compositions whose per-element interpreted-lambda overhead dominates
  * at ~300 elements/row.
  */
object ShingleMath {
  import scala.collection.mutable

  /** distinct character n-grams, first-occurrence order, by CODE POINT
    * (matching SQL substr semantics — indexing UTF-16 units would split
    * surrogate pairs for non-BMP text and diverge from the oracle). */
  def charNGramsDistinct(text: UTF8String, n: Int): ArrayData = {
    val chars = text.toString
    // offsets(k) = UTF-16 index where the k-th code point starts
    val offs = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < chars.length) { offs.add(i); i += Character.charCount(chars.codePointAt(i)) }
    val cp = offs.size()
    if (cp < n) return ArrayData.toArrayData(Array.empty[UTF8String])
    val seen = mutable.LinkedHashSet.empty[String]
    var k    = 0
    while (k <= cp - n) {
      val end = if (k + n < cp) offs.get(k + n).intValue() else chars.length
      seen.add(chars.substring(offs.get(k).intValue(), end))
      k += 1
    }
    ArrayData.toArrayData(seen.iterator.map(UTF8String.fromString).toArray)
  }

  /** distinct word n-grams (single-space tokenization, n-grams joined by
    * single spaces), first-occurrence order. */
  def wordNGramsDistinct(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < n) return ArrayData.toArrayData(Array.empty[UTF8String])
    val seen = mutable.LinkedHashSet.empty[String]
    var i    = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j  = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    ArrayData.toArrayData(seen.iterator.map(UTF8String.fromString).toArray)
  }

  /** adjacent word bigrams WITH multiplicity over the empty-filtered
    * tokens (corpus-level collocation counting needs occurrence counts,
    * so no dedup — unlike [[wordNGramsDistinct]], and empties are
    * dropped BEFORE pairing so "a  b" yields ("a b"), matching the
    * oracle's list_filter(string_split(...)) tokenization). */
  def wordBigramsAll(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1).filter(_.nonEmpty)
    if (toks.length < 2) return ArrayData.toArrayData(Array.empty[UTF8String])
    val out = new Array[UTF8String](toks.length - 1)
    var i   = 0
    while (i < toks.length - 1) {
      out(i) = UTF8String.fromString(toks(i) + " " + toks(i + 1))
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** adjacent word trigrams WITH multiplicity (empty tokens dropped
    * before grouping) — the map-side kernel of trigram LM counting. */
  def wordTrigramsAll(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1).filter(_.nonEmpty)
    if (toks.length < 3) return ArrayData.toArrayData(Array.empty[UTF8String])
    val out = new Array[UTF8String](toks.length - 2)
    var i   = 0
    while (i < toks.length - 2) {
      out(i) = UTF8String.fromString(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** adjacent symbol pairs (WITH multiplicity) of a bracket-wrapped BPE
    * symbol string: "<h><e><ll><o>" yields ("h e", "e ll", "ll o") — the
    * map-side kernel of BPE pair counting. The wrapped form is what the
    * merge step rewrites with a plain literal replace("<x><y>"→"<xy>"),
    * which is boundary-safe (a pair pattern can never match across or
    * inside other symbols because every symbol carries its own brackets)
    * and greedy-left-to-right over consecutive occurrences — the
    * canonical BPE merge. Oracle parity: identical to DuckDB's
    * regexp_extract_all(s, '<([a-z]+)>', 1) + adjacent list_transform
    * pairing, since symbols are always [a-z]+ by construction. */
  def symbolPairs(sym: UTF8String): ArrayData = {
    val s    = sym.toString
    val syms = new java.util.ArrayList[String]()
    var i    = 0
    while (i < s.length) {
      if (s.charAt(i) == '<') {
        val j = s.indexOf('>', i + 1)
        if (j < 0) i = s.length
        else { syms.add(s.substring(i + 1, j)); i = j + 1 }
      } else i += 1
    }
    val m = syms.size()
    if (m < 2) return ArrayData.toArrayData(Array.empty[UTF8String])
    val out = new Array[UTF8String](m - 1)
    var k   = 0
    while (k < m - 1) {
      out(k) = UTF8String.fromString(syms.get(k) + " " + syms.get(k + 1))
      k += 1
    }
    ArrayData.toArrayData(out)
  }

  /** set-jaccard of two distinct-element string arrays via one hash set:
    * |∩| / (|a| + |b| - |∩|) — same exact rational as the
    * size(array_intersect)/size-arithmetic composition, minus its O(n²)
    * pairwise comparisons. */
  def jaccardDistinct(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i   = 0
    while (i < na) { if (!a.isNullAt(i)) set.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < nb) {
      if (!b.isNullAt(i) && set.contains(b.getUTF8String(i))) inter += 1
      i += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** count of array elements contained in a fixed word set (with
    * multiplicity) — the hot kernel of stopword scoring / language ID. */
  def countInSet(tokens: ArrayData, set: java.util.HashSet[UTF8String]): Long = {
    val n   = tokens.numElements()
    var cnt = 0L
    var i   = 0
    while (i < n) {
      if (!tokens.isNullAt(i) && set.contains(tokens.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  /** rolling polynomial hash: fold(acc*31 + codepoint) mod 1e9+7 over the
    * string's characters — same value as the SQL
    * aggregate(transform(sequence(...), ascii(substr(...)))) form. */
  def rollingHash(text: UTF8String): Long = {
    val s   = text.toString
    var acc = 0L
    var i   = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** per-position polynomial fingerprints of every `l`-code-point gram of
    * `text`: element k equals [[rollingHash]] of the substring starting at
    * code point k (length l) — but the whole array is ONE O(n) sliding-
    * window pass (drop the outgoing code point's 31^(l-1) term, shift,
    * add the incoming one) instead of n O(l) re-folds. Empty array when
    * the text is shorter than l code points. The scan-speed kernel of
    * exact-substring duplicate detection: 100 TB of text reduces to one
    * long per span before anything shuffles. */
  def gramHashes(text: UTF8String, l: Int): ArrayData = {
    val s  = text.toString
    val cps = s.codePoints().toArray
    val n  = cps.length
    if (n < l) return ArrayData.toArrayData(Array.empty[Long])
    val P   = 1000000007L
    var pow = 1L // 31^(l-1) mod P
    var i   = 0
    while (i < l - 1) { pow = pow * 31L % P; i += 1 }
    val out = new Array[Long](n - l + 1)
    var acc = 0L
    i = 0
    while (i < l) { acc = (acc * 31L + cps(i)) % P; i += 1 }
    out(0) = acc
    i = 1
    while (i <= n - l) {
      acc = (acc - cps(i - 1) * pow % P + P) % P
      acc = (acc * 31L + cps(i + l - 1)) % P
      out(i) = acc
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Content-defined chunking in ONE pass: boundaries where the rolling
    * `l`-code-point gram hash (the [[gramHashes]] polynomial, so the SQL
    * oracle can replay it) is ≡ 0 mod `divisor` — expected chunk length
    * ≈ `divisor` code points, and because a boundary depends only on the
    * `l` code points of its window, chunking RE-SYNCHRONIZES after an
    * insertion/deletion: all chunks past the edit window keep their
    * fingerprints (the rsync/LBFS property fixed-size chunking lacks,
    * and the reason chunk-level dedup survives shifted bytes).
    * A cut at gram start i (1 ≤ i ≤ n−l) splits BEFORE code point i, so
    * the first chunk is never empty; a doc shorter than `l` (or with no
    * qualifying gram) is one whole-doc chunk; an empty doc has none.
    * Returns array<struct<c_start, c_len, fp>> (code-point offsets;
    * fp = the same 31-base poly mod 1e9+7 over the CHUNK's code
    * points — the chunk-level dedup key). */
  def cdcChunks(text: UTF8String, l: Int, divisor: Long): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n   = cps.length
    if (n == 0) return ArrayData.toArrayData(
      Array.empty[org.apache.spark.sql.catalyst.InternalRow])
    val P = 1000000007L
    // cut positions: i in [1, n-l] with gramhash(i) % divisor == 0
    val starts = scala.collection.mutable.ArrayBuffer(0)
    if (n >= l) {
      var pow = 1L
      var i   = 0
      while (i < l - 1) { pow = pow * 31L % P; i += 1 }
      var acc = 0L
      i = 0
      while (i < l) { acc = (acc * 31L + cps(i)) % P; i += 1 }
      // acc now hashes the gram at 0 (never a cut); slide to 1..n-l
      i = 1
      while (i <= n - l) {
        acc = (acc - cps(i - 1) * pow % P + P) % P
        acc = (acc * 31L + cps(i + l - 1)) % P
        if (acc % divisor == 0L) starts += i
        i += 1
      }
    }
    val out = new Array[Any](starts.length)
    var k   = 0
    while (k < starts.length) {
      val s   = starts(k)
      val e   = if (k + 1 < starts.length) starts(k + 1) else n
      var fp  = 0L
      var j   = s
      while (j < e) { fp = (fp * 31L + cps(j)) % P; j += 1 }
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](s.toLong, (e - s).toLong, fp))
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** one-pass token-frequency statistics of a document: (n_tokens,
    * n_distinct, Σ c·(c−1) over distinct-token counts c). The Σ c·(c−1)
    * term is the exact-integer core of Gini–Simpson diversity — chosen
    * over Shannon entropy deliberately: entropy needs a per-engine
    * `log2` whose last-ULP behavior differs between the JVM and C libm
    * (measured: 33/200k quantization flips at 1e-6), so it cannot be
    * hash-gated cross-engine, while these three integers are exact in
    * any engine. Tokenization contract: single-space split, empties
    * dropped — same as `TextFunctions.tokens`. Per-row map: token
    * counting happens at scan speed with ZERO shuffle (the explode +
    * groupBy(doc, token) formulation ships every token through a
    * shuffle; this ships three longs per document). */
  def tokenStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val toks   = text.toString.split(" ", -1)
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    var nTok   = 0L
    var i      = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        nTok += 1
        counts.merge(t, 1, (a, b) => a + b)
      }
      i += 1
    }
    var sumCC = 0L
    val it    = counts.values().iterator()
    while (it.hasNext) { val c = it.next().toLong; sumCC += c * (c - 1) }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, counts.size.toLong, sumCC))
  }
}

/** distinct character n-grams of a string column, codegen'd. */
case class CharNGrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.charNGramsDistinct(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.charNGramsDistinct($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** distinct word n-grams of a string column, codegen'd. */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.wordNGramsDistinct(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.wordNGramsDistinct($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** adjacent word bigrams with multiplicity (empty tokens dropped before
  * pairing), codegen'd — the map-side kernel of collocation counting. */
case class WordBigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.wordBigramsAll(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.wordBigramsAll($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** adjacent word trigrams with multiplicity (empty tokens dropped),
  * codegen'd — the map-side kernel of trigram LM counting. */
case class WordTrigrams(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.wordTrigramsAll(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.wordTrigramsAll($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** adjacent symbol pairs of a bracket-wrapped BPE symbol string (see
  * ShingleMath.symbolPairs), codegen'd — BPE pair counting's map side. */
case class SymbolPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.symbolPairs(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.symbolPairs($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** count of tokens present in a fixed word set, codegen'd (the set is a
  * referenced object in the generated class — one hash probe per token
  * instead of an interpreted lambda + isin chain). */
case class CountInSet(child: Expression, words: Seq[String]) extends UnaryExpression {
  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.countInSet(v.asInstanceOf[ArrayData], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.countInSet($c, $setRef)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** set-jaccard of two distinct string arrays, codegen'd. */
case class ArrayJaccard(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ShingleMath.jaccardDistinct(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ShingleMath.jaccardDistinct($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** TokenStats(text) -> struct(n_tokens, n_distinct, sum_cc): one-pass
  * token-frequency stats (see ShingleMath.tokenStats), codegen'd. */
case class TokenStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("sum_cc", LongType, nullable = false)))
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.tokenStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.tokenStats($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** rolling-hash fingerprint of a string column, codegen'd. */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.rollingHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.rollingHash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** GramHashes(string, l) -> array<long>: per-position rolling-hash
  * fingerprints of all l-code-point grams (see ShingleMath.gramHashes),
  * codegen'd. */
case class GramHashes(child: Expression, l: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.gramHashes(v.asInstanceOf[UTF8String], l)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.gramHashes($c, $l)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** CdcChunks(string, l, divisor) -> array<struct<c_start, c_len, fp>>:
  * one-pass content-defined chunking (see `ShingleMath.cdcChunks`),
  * codegen'd via static call — chunking runs at scan speed with zero
  * shuffle; only the (doc, chunk) rows leave the map side. */
case class CdcChunks(child: Expression, l: Int, divisor: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("c_start", LongType, nullable = false),
      StructField("c_len", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleMath.cdcChunks(v.asInstanceOf[UTF8String], l, divisor)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleMath.cdcChunks($c, $l, ${divisor}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SimHash64(array<string>) -> long, codegen'd via static call. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextMath.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMath.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** SimHashMd5(array<string>) -> long: simhash with the md5-derived
  * (oracle-recomputable) token hash; codegen'd via static call. */
case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextMath.simhashMd5(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMath.simhashMd5($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Md5Lower64(string) -> long: the oracle engine's `md5_number_lower`
  * (last 8 md5 bytes, little-endian) as a scalar column — the
  * SQL-recomputable 64-bit string hash for operators whose oracle must
  * replay hash values exactly (see `TextMath.md5Lower64`). Codegen'd. */
case class Md5Lower64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextMath.md5Lower64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMath.md5Lower64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHashCharGrams(string, n, k) -> array<long>: fused
  * shingle-and-minhash (see `TextMath.minhashCharGrams`), codegen'd. */
case class MinHashCharGrams(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextMath.minhashCharGrams(v.asInstanceOf[UTF8String], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMath.minhashCharGrams($c, $n, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHashWordGrams(string, n, k) -> array<long>: fused
  * shingle-and-minhash (see `TextMath.minhashWordGrams`), codegen'd. */
case class MinHashWordGrams(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextMath.minhashWordGrams(v.asInstanceOf[UTF8String], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMath.minhashWordGrams($c, $n, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHashSig(array<string>, k) -> array<long>, codegen'd via static call. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextMath.minhashSignature(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMath.minhashSignature($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextFunctions {

  /** money-to-exact-integer-cents. Correctness-critical invariant of the
    * whole oracle scheme (double sums are order-dependent in the last
    * ULPs; cents sums are not) — ALL query modules must use this one
    * definition, or its JVM form below. */
  def cents(c: Column): Column = round(c * 100).cast(LongType)

  /** [[cents]] on the JVM, for code that rounds one value at a time
    * (the per-event stream folds): `BigDecimal.valueOf` (the shortest
    * decimal of the double) rounded HALF_UP is exactly what Spark's
    * `round` computes, so both forms give the same long. */
  def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 100).setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** whitespace tokens (single-space split, reference-style; empties kept
    * out by the caller when needed). */
  def tokens(text: Column): Column = split(text, " ")

  /** n-word shingles, joined by single spaces; empty array if the doc has
    * fewer than n tokens. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** character n-gram shingles of a string. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array().cast(ArrayType(StringType)))

  def simhash(toks: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(toks)))

  def simhashMd5(toks: Column): Column =
    ColumnBridge.column(SimHashMd5(ColumnBridge.expression(toks)))

  /** oracle-recomputable 64-bit string hash (md5_number_lower). */
  def md5Lower64Col(s: Column): Column =
    ColumnBridge.column(Md5Lower64(ColumnBridge.expression(s)))

  def minhashSig(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), k))

  /** struct(n_tokens, n_distinct, sum_cc) token-frequency stats of a
    * text column — one codegen'd pass per row, no shuffle. */
  def tokenStats(text: Column): Column =
    ColumnBridge.column(TokenStats(ColumnBridge.expression(text)))

  /** fused text→signature forms of `minhashSig(…ShinglesDistinct(text))`
    * — identical values (min over a multiset = min over its set) with no
    * per-row shingle-array allocation. */
  def minhashCharGramsCol(text: Column, n: Int, k: Int): Column =
    ColumnBridge.column(MinHashCharGrams(ColumnBridge.expression(text), n, k))

  def minhashWordGramsCol(text: Column, n: Int, k: Int): Column =
    ColumnBridge.column(MinHashWordGrams(ColumnBridge.expression(text), n, k))

  /** exact Jaccard over the *sets* of two arrays (duplicates ignored). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val uni   = size(array_union(a, b)).cast(DoubleType)
    when(uni === 0.0, 0.0).otherwise(inter / uni)
  }

  /** same value for already-distinct arrays, single-pass codegen'd. */
  def jaccardDistinctCol(a: Column, b: Column): Column =
    ColumnBridge.column(ArrayJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** tokens-in-fixed-set count (multiplicity preserved), codegen'd. */
  def countInSetCol(tokens: Column, words: Seq[String]): Column =
    ColumnBridge.column(CountInSet(ColumnBridge.expression(tokens), words))

  /** distinct word/char n-gram shingles via the codegen'd expressions
    * (single pass per row; the transform(sequence(...)) composition costs
    * ~µs per element interpreted). */
  def wordShinglesDistinct(text: Column, n: Int): Column =
    ColumnBridge.column(WordNGrams(ColumnBridge.expression(text), n))

  def charShinglesDistinct(text: Column, n: Int): Column =
    ColumnBridge.column(CharNGrams(ColumnBridge.expression(text), n))

  /** adjacent word bigrams with multiplicity (single pass, empties
    * dropped pre-pairing) — collocation counting's map-side kernel. */
  def wordBigramsCol(text: Column): Column =
    ColumnBridge.column(WordBigrams(ColumnBridge.expression(text)))

  def wordTrigramsCol(text: Column): Column =
    ColumnBridge.column(WordTrigrams(ColumnBridge.expression(text)))

  /** adjacent symbol pairs of a bracket-wrapped BPE symbol string —
    * single codegen'd pass, BPE pair counting's map-side kernel. */
  def symbolPairsCol(sym: Column): Column =
    ColumnBridge.column(SymbolPairs(ColumnBridge.expression(sym)))

  /** polynomial rolling hash over the characters of a string:
    * fold(acc*31 + ascii(char)) mod 1e9+7 — deterministic document
    * fingerprint expressible identically in ANSI SQL (DuckDB oracle).
    * Codegen'd single pass (the aggregate/transform form is interpreted).
    */
  def fingerprint(text: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(text)))

  /** all l-code-point gram fingerprints of a string, one O(n) pass
    * (element k = `fingerprint` of the gram starting at code point k). */
  def gramHashesCol(text: Column, l: Int): Column =
    ColumnBridge.column(GramHashes(ColumnBridge.expression(text), l))

  /** content-defined chunk spans + fingerprints, codegen'd. */
  def cdcChunksCol(text: Column, l: Int, divisor: Long): Column =
    ColumnBridge.column(CdcChunks(ColumnBridge.expression(text), l, divisor))

  /** hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
