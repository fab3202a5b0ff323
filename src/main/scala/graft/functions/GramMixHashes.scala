package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared token/window hashing for the gram expressions: tokens are the
  * `\S+` runs of the lowercased text (Java regex whitespace class — the
  * same matches `regexp_extract_all(lower(x), '\S+', 0)` produces, so
  * token INDEXES here stay position-aligned with the `__tk` arrays
  * exact-substring dedup joins back against), each token FNV-1a'd then
  * splitmix64-finalized, windows folded order-sensitively with
  * rotate-xor. */
private[functions] object GramHashing {

  /** splitmix64 finalizer: full-avalanche mix of the FNV accumulator. */
  private def mix64(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Java regex `\s` membership: [ \t\n\x0B\f\r] — the class the Column
    * tokenizers' `\S+` complements. */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** [[isWs]] over one UTF-8 byte: the class is pure ASCII, so no byte of
    * a multi-byte code point is ever in it. */
  def isWsByte(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Per-token 64-bit hashes of the doc's tokens (maximal non-whitespace
    * runs; blank text yields zero tokens — never a phantom "" token). */
  def tokenHashes(input: UTF8String): Array[Long] =
    tokenHashesOf(input.toString.toLowerCase(java.util.Locale.ROOT))

  /** [[tokenHashes]] over an already-lowercased string. */
  def tokenHashesOf(s: String): Array[Long] = {
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
        while (i < n && !isWs(s.charAt(i))) {
          h = (h ^ s.charAt(i)) * 0x100000001b3L
          i += 1
        }
        out += mix64(h)
      }
    }
    out.result()
  }

  /** Order-sensitive window fold: rotl(acc, 5) ^ tokenHash. */
  def fold(wh: Array[Long], from: Int, until: Int): Long = {
    var acc = 0L
    var k = from
    while (k < until) {
      acc = java.lang.Long.rotateLeft(acc, 5) ^ wh(k)
      k += 1
    }
    acc
  }

  /** All `n`-window folds in position order (index i = gram starting at
    * token i); docs with ≤ n tokens yield the single whole-doc fold; a
    * ZERO-token doc yields NO grams — the empty fold is the constant 0L,
    * and emitting it would hand every blank doc in a web-scale corpus
    * the same phantom gram: blank docs would "match" any blank benchmark
    * doc in decontamination, cluster into one giant spurious duplicate
    * group, and make 0L a straggler hot key in every gram equi-join. */
  def positional(wh: Array[Long], n: Int): Array[Long] = {
    val m = wh.length
    if (m == 0) Array.emptyLongArray
    else if (m <= n) Array(fold(wh, 0, m))
    else {
      val w = m - n + 1
      val out = new Array[Long](w)
      var k = 0
      while (k < w) { out(k) = fold(wh, k, k + n); k += 1 }
      out
    }
  }
}

/** Distinct 64-bit hashes of a document's word `n`-grams, computed in ONE
  * imperative loop per row.
  *
  * The higher-order-function formulation (`transform`/`aggregate`/`slice`
  * over a token array) interprets a lambda per WINDOW ELEMENT — for
  * 13-gram decontamination over a 2M-doc corpus that is ~3.6e9
  * interpreted lambda invocations (measured: the gram stage alone
  * dominated the whole broadcast-join pipeline). This expression does
  * split → per-token FNV-1a/splitmix64 hash → rotate-xor window fold →
  * sort-dedup as primitive long arithmetic: same O(words·n) work, none of
  * the interpreter overhead. Per-row `CodegenFallback` costs one virtual
  * call per ROW, amortized over the row's hundreds of windows.
  *
  * Semantics mirror `Shingles.wordShingles` windowing: tokens are the
  * `\S+` runs of the lowercased text; docs with ≤ n tokens yield ONE gram —
  * the fold over all tokens, so an exactly-n-token doc equals the
  * matching n-window of a longer doc (the property join-based consumers
  * like decontamination rely on). Output order is sorted (set semantics).
  */
case class GramMixHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with Serializable {
  require(n > 0, "gram size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_mix_hashes needs a string input, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any = {
    val wh = GramHashing.tokenHashes(input.asInstanceOf[UTF8String])
    val out = GramHashing.positional(wh, n)
    // the dedup epilogue below starts from u = 1 (first element always
    // kept) — on the EMPTY gram array of a blank doc that would copyOf
    // back to length 1 and resurrect the phantom 0L gram positional()
    // just eliminated
    if (out.isEmpty) return UnsafeArrayData.fromPrimitiveArray(out)
    java.util.Arrays.sort(out)
    var u = 1
    var p = 1
    while (p < out.length) {
      if (out(p) != out(p - 1)) { out(u) = out(p); u += 1 }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (u == out.length) out else java.util.Arrays.copyOf(out, u))
  }

  override protected def withNewChildInternal(
      newChild: Expression): GramMixHashes = copy(child = newChild)
}

/** Word n-gram STRINGS in position order — the native twin of the
  * `transform(sequence(...), i => concat_ws(" ", slice(tokens, i+1, n)))`
  * Column formulation, which interprets a lambda and allocates a token
  * slice per WINDOW (the [[GramMixHashes]] overhead, here on the paths
  * that need the actual shingle strings: the portable/oracle-checkable
  * dedup and novelty pipelines). The kernel does NOT lowercase: callers
  * pass `lower(text)` (as [[graft.ext.Shingles.wordShingles]] does), so
  * case mapping is Spark's own, ICU or not, and the output is
  * BYTE-IDENTICAL to the Column form by construction. Tokens are the
  * maximal runs of non-`\s` chars (the Java regex class `\S+` matches).
  * ≤ n tokens yield ONE whole-text gram; zero tokens yield an empty
  * array; null text stays null. Duplicates kept (callers apply
  * `array_distinct` exactly as before). */
case class WordShingleStrings(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with Serializable {
  require(n > 0, "gram size must be positive")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles needs a string input, got ${child.dataType.sql}")

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val len = s.length
    val starts = new scala.collection.mutable.ArrayBuilder.ofInt
    val ends = new scala.collection.mutable.ArrayBuilder.ofInt
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        starts += i
        while (i < len && !isWs(s.charAt(i))) i += 1
        ends += i
      }
    }
    val st = starts.result(); val en = ends.result()
    val m = st.length
    def gram(from: Int, until: Int): UTF8String = {
      val sb = new java.lang.StringBuilder(en(until - 1) - st(from))
      var k = from
      while (k < until) {
        if (k > from) sb.append(' ')
        sb.append(s, st(k), en(k))
        k += 1
      }
      UTF8String.fromString(sb.toString)
    }
    val out: Array[AnyRef] =
      if (m == 0) Array.empty
      else if (m <= n) Array(gram(0, m))
      else {
        val w = m - n + 1
        val a = new Array[AnyRef](w)
        var k = 0
        while (k < w) { a(k) = gram(k, k + n); k += 1 }
        a
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordShingleStrings = copy(child = newChild)
}

/** Within-document repetition ratio — `1 − distinct/total` word n-grams
  * (the Gopher/C4 duplicated-n-gram quality signal) — in ONE imperative
  * pass per row. The Column form built every n-gram STRING through an
  * interpreted `transform`/`slice`/`concat_ws` lambda per window (the
  * exact overhead [[GramMixHashes]] removed from the dedup pipelines;
  * this is its counting twin for the curation rule filter). Gram
  * identity is the 64-bit [[GramHashing]] fold — equal strings always
  * fold equal, so the ratio is identical to the string form absent a
  * within-document fold collision (the established q62/q78 hash-equality
  * caveat; ~2⁻⁶⁴ per gram pair within one doc). Windowing mirrors
  * `Shingles.wordShingles`: ≤ n tokens → one whole-text gram (ratio 0
  * when unique), ZERO tokens → ratio 0.0, null text → null. */
case class GramRepetition(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with Serializable {
  require(n > 0, "gram size must be positive")

  override def dataType: DataType =
    org.apache.spark.sql.types.DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_repetition needs a string input, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any = {
    val wh = GramHashing.tokenHashes(input.asInstanceOf[UTF8String])
    val grams = GramHashing.positional(wh, n)
    val total = grams.length
    if (total == 0) return 0.0
    java.util.Arrays.sort(grams)
    var distinct = 1
    var i = 1
    while (i < total) {
      if (grams(i) != grams(i - 1)) distinct += 1
      i += 1
    }
    1.0 - distinct.toDouble / total.toDouble
  }

  override protected def withNewChildInternal(
      newChild: Expression): GramRepetition = copy(child = newChild)
}

/** Canonical dedup text in ONE pass over the UTF-8 bytes: the
  * `[a-z0-9]+` runs of `lower(x)` joined by single spaces. That is
  * exactly the Column form it replaces, `trim(regexp_replace(
  * regexp_replace(lower(x), [^a-z0-9\s], " "), \s+, " "))` (regexes
  * unescaped): every other code point, whitespace included, only ever
  * separates runs. The Column form ran a lowercase copy plus two regex
  * passes per row, twice on curate's rule filter (Catalyst pushes the
  * filter below the projection).
  *
  * ASCII rows lowercase in the loop. A row with any non-ASCII byte is
  * lowercased first with `UTF8String.toLowerCase()`, because lowercasing
  * can produce ASCII: U+0130 → "i" + U+0307, U+212A (Kelvin) → "k" (over
  * every code point, the only two). Spark's `lower` takes ICU's case
  * mapping by default (`spark.sql.icu.caseMappings.enabled`) where this
  * takes the JVM's; the two map both of those alike, and every non-ASCII
  * output byte is a separator here, so the result is the same.
  * NULL → NULL. */
case class NormalizeText(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = StringType

  override def prettyName: String = "normalize_text"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"normalize_text needs a string input, got ${child.dataType.sql}")

  override protected def nullSafeEval(input: Any): Any =
    NormalizeText.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NormalizeText$$.MODULE$$.normalize($c)")

  override protected def withNewChildInternal(
      newChild: Expression): NormalizeText = copy(child = newChild)
}

object NormalizeText {

  /** The kernel behind [[NormalizeText]] (interpreted and generated code
    * share it). */
  def normalize(in: UTF8String): UTF8String = {
    val s = if (in.isFullAscii) in else in.toLowerCase
    val n = s.numBytes
    // runs plus one space between runs never outgrow the input: each
    // space stands for at least one separator byte
    val out = new Array[Byte](n)
    var len = 0
    var gap = false
    var i = 0
    while (i < n) {
      var b = s.getByte(i)
      if (b >= 'A' && b <= 'Z') b = (b + ('a' - 'A')).toByte
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (gap && len > 0) { out(len) = ' '; len += 1 }
        gap = false
        out(len) = b
        len += 1
      } else gap = true // a non-ASCII byte is never [a-z0-9]
      i += 1
    }
    UTF8String.fromBytes(out, 0, len)
  }
}

/** The text-quality counters in ONE pass over the UTF-8 bytes: `\S+`
  * word runs (whitespace is Java regex `\s`, `[ \t\n\x0B\f\r]`, all
  * ASCII, so no multi-byte code point is ever whitespace), ASCII digits
  * and the code-point count Spark's `length` returns. `words = true`
  * yields the word count (BIGINT, the `regexp_count(x, '\S+')` it
  * replaces); `words = false` yields the [[graft.ext.TextStats.qualityScore]]
  * rubric (DOUBLE), summed in the Column form's order so the double is
  * bit-identical. Never NULL: NULL text counts 0 words and scores 0.0,
  * as the Column forms did. Valid UTF-8 input. */
case class TextQuality(child: Expression, words: Boolean)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = if (words) LongType else DoubleType

  override def nullable: Boolean = false

  override def prettyName: String =
    if (words) "text_word_count" else "text_quality"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string input, got ${child.dataType.sql}")

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (words) TextQuality.wordCount(s) else TextQuality.score(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val fn = if (words) "wordCount" else "score"
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.TextQuality$$.MODULE$$.$fn(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): TextQuality = copy(child = newChild)
}

object TextQuality {

  /** `\S+` runs; NULL → 0. */
  def wordCount(s: UTF8String): Long = {
    if (s == null) return 0L
    val n = s.numBytes
    var words = 0L
    var inWord = false
    var i = 0
    while (i < n) {
      if (GramHashing.isWsByte(s.getByte(i))) inWord = false
      else if (!inWord) { words += 1; inWord = true }
      i += 1
    }
    words
  }

  /** 0.5 for 20–10000 words + 0.3 for a digit share under 0.3 (1.0 for
    * empty text) + 0.2 for 100+ characters; NULL → 0.0. Characters step
    * by `UTF8String.numBytesForFirstByte`, exactly as `numChars` does. */
  def score(s: UTF8String): Double = {
    if (s == null) return 0.0
    val n = s.numBytes
    var words = 0L
    var digits = 0L
    var chars = 0L
    var inWord = false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      chars += 1
      if (b >= 0) {
        if (GramHashing.isWsByte(b)) inWord = false
        else {
          if (!inWord) { words += 1; inWord = true }
          if (b >= '0' && b <= '9') digits += 1
        }
        i += 1
      } else {
        if (!inWord) { words += 1; inWord = true }
        i += UTF8String.numBytesForFirstByte(b)
      }
    }
    val digitRatio =
      if (chars > 0) digits.toDouble / chars.toDouble else 1.0
    (if (words >= 20 && words <= 10000) 0.5 else 0.0) +
      (if (digitRatio < 0.3) 0.3 else 0.0) +
      (if (chars >= 100) 0.2 else 0.0)
  }
}

/** Winnowing fingerprint selection (Schleimer et al., SIGMOD'03) in ONE
  * imperative pass per row: tokenize → per-position gram hash →
  * monotonic-deque sliding-window minima → first-occurrence dedup.
  *
  * Two gram-hash modes:
  *  - `md5 = true`: each gram hashes to the top 60 bits of the MD5 of
  *    the UTF-8 gram string "tok₁ tok₂ …" — BIT-IDENTICAL to
  *    `TextStats.md5Hash64(concat_ws(" ", slice(tokens, i+1, n)))`, so
  *    the oracle-checkable output (q32/q119) survives the native
  *    rewrite unchanged;
  *  - `md5 = false`: the [[GramHashing]] rotate-xor fold — value space
  *    free to choose (fingerprint consumers are equality joins), the
  *    throughput path.
  *
  * Why native: the HOF formulation (`transform` over windows with
  * `slice` + `array_min`) interprets a lambda per window ELEMENT and
  * allocates a slice per window — measured 176 s for 500k docs at the
  * scale smoke; this loop is O(grams) primitive arithmetic plus one
  * MD5 per gram in exact mode. Windowing semantics mirror the Column
  * form exactly: tokens are `\S+` runs of the lowercased text, ≤ n
  * tokens yield ONE whole-text gram (BLANK text: zero grams, zero
  * fingerprints — see [[GramHashing.positional]]), ≤
  * `window` grams yield the single global minimum, else minima of each
  * full window, deduped in first-occurrence order. */
case class WinnowHashes(child: Expression, n: Int, window: Int, md5: Boolean)
    extends UnaryExpression with CodegenFallback with Serializable {
  require(n > 0, "gram size must be positive")
  require(window > 0, "window must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_hashes needs a string input, got ${child.dataType.sql}")

  @transient private lazy val digest =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Gram hashes in position order under the selected mode. */
  private def gramHashes(s: String): Array[Long] =
    if (!md5) {
      GramHashing.positional(GramHashing.tokenHashesOf(s), n)
    } else {
      // token byte slices of the lowercased string, then MD5 per gram
      // over "tok( tok)*" bytes — no per-window string building
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // token boundaries over BYTES: the \s class is pure ASCII, so a
      // byte-level scan splits identically to the char-level regex
      val starts = new scala.collection.mutable.ArrayBuilder.ofInt
      val ends = new scala.collection.mutable.ArrayBuilder.ofInt
      var i = 0
      val len = bytes.length
      while (i < len) {
        while (i < len && GramHashing.isWsByte(bytes(i))) i += 1
        if (i < len) {
          starts += i
          while (i < len && !GramHashing.isWsByte(bytes(i))) i += 1
          ends += i
        }
      }
      val st = starts.result(); val en = ends.result()
      val t = st.length
      val md = digest.get()
      def gram(from: Int, until: Int): Long = {
        md.reset()
        var k = from
        while (k < until) {
          if (k > from) md.update(' '.toByte)
          md.update(bytes, st(k), en(k) - st(k))
          k += 1
        }
        val d = md.digest()
        // conv(substring(hex, 1, 15), 16, 10) == the first 60 bits of
        // the digest, big-endian
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
        v >>> 4
      }
      // zero tokens → zero grams (the MD5 of an empty byte run is a
      // CONSTANT — a phantom gram every blank doc would share)
      if (t == 0) Array.emptyLongArray
      else if (t <= n) Array(gram(0, t))
      else {
        val m = t - n + 1
        val out = new Array[Long](m)
        var k = 0
        while (k < m) { out(k) = gram(k, k + n); k += 1 }
        out
      }
    }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT)
    val gh = gramHashes(s)
    val m = gh.length
    // blank doc: no grams, no fingerprints (gh(0) below would throw)
    if (m == 0) return UnsafeArrayData.fromPrimitiveArray(gh)
    val mins: Array[Long] =
      if (m <= window) {
        var mn = gh(0); var k = 1
        while (k < m) { if (gh(k) < mn) mn = gh(k); k += 1 }
        Array(mn)
      } else {
        val w = m - window + 1
        val out = new Array[Long](w)
        // monotonic deque of indexes, front = current window minimum
        val dq = new Array[Int](m)
        var head = 0; var tail = 0 // [head, tail)
        var k = 0
        while (k < m) {
          while (tail > head && gh(dq(tail - 1)) >= gh(k)) tail -= 1
          dq(tail) = k; tail += 1
          if (dq(head) <= k - window) head += 1
          if (k >= window - 1) out(k - window + 1) = gh(dq(head))
          k += 1
        }
        out
      }
    // first-occurrence dedup (== array_distinct over the window mins)
    val seen = new java.util.HashSet[Long](mins.length * 2)
    val ded = new scala.collection.mutable.ArrayBuilder.ofLong
    var k = 0
    while (k < mins.length) {
      if (seen.add(mins(k))) ded += mins(k)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(ded.result())
  }

  override protected def withNewChildInternal(
      newChild: Expression): WinnowHashes = copy(child = newChild)
}

/** Position-aligned variant of [[GramMixHashes]]: element i is the hash
  * of the gram STARTING at token i (0-based; no sort, no dedup), so
  * consumers can map a gram back to its token span — what exact-substring
  * dedup needs to mask duplicated spans. Same tokenizer, same per-token
  * hash, same window fold, same ≤-n-tokens whole-doc gram. */
case class GramPosHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with Serializable {
  require(n > 0, "gram size must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_pos_hashes needs a string input, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(GramHashing.positional(
      GramHashing.tokenHashes(input.asInstanceOf[UTF8String]), n))

  override protected def withNewChildInternal(
      newChild: Expression): GramPosHashes = copy(child = newChild)
}
