package graft.expr

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd word-k-shingle expression: `word_shingles(tokens, k)` →
  * array<string> of the k-token windows joined by single spaces —
  * value-identical to the guarded higher-order-function form in
  * `TextOps.shingles` (fewer than k tokens → empty array), but one
  * compiled loop per row instead of O(n·k) interpreted `element_at` +
  * `concat_ws` lambda evaluations. This is the near-dup pipeline's
  * per-row constant cost at 100 TB (reference shingling surface:
  * the MinHash/Jaccard dedup family, SURVEY.md "LLM-data-pipeline
  * operators").
  */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects (array<string>, int), got ${l.sql} and ${r.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(toks: Any, kAny: Any): Any =
    WordShingles.compute(toks.asInstanceOf[ArrayData], kAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, k) => {
      s"${ev.value} = graft.expr.WordShingles.compute($toks, $k);"
    })

  override def prettyName: String = "word_shingles"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)
}

object WordShingles {
  private val Space = UTF8String.fromString(" ")

  /** n tokens → max(0, n-k+1) shingles; null tokens are skipped inside a
    * window (concat_ws semantics, matching the HOF form).
    */
  def compute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i < n - k + 1) {
      val window = new Array[UTF8String](k)
      var j = 0
      while (j < k) {
        window(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(Space, window: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen'd k-permutation MinHash signature:
  * `minhash_sig(shingles, k)` → array<bigint>, value-identical to
  * `TextOps.minhashSignatureHof` — base = first 8 md5 hex digits of each
  * shingle as an unsigned 32-bit integer, then k universal-hash
  * permutations h_i(x) = (A_i·x + B_i) mod 4294967311, min per i.
  *
  * The HOF form runs O(k·n) interpreted lambda calls plus one full md5
  * hex-string round trip per shingle; this is one compiled pass: md5 once
  * per shingle (first 4 digest bytes, no hex detour), all k mins updated
  * in a primitive loop. Same asymptotics, ~two orders of magnitude lower
  * per-row constant — the fix for the near-dup fingerprint hot path.
  */
case class MinHashSig(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) =>
      // validate k at ANALYSIS time (k is a foldable literal in every
      // caller): an oversized k would otherwise surface mid-job as an
      // opaque per-row task failure instead of an upfront error
      if (!right.foldable)
        TypeCheckResult.TypeCheckFailure("minhash_sig: k must be a literal")
      else {
        val kv = right.eval()
        if (kv == null || kv.asInstanceOf[Int] < 1 ||
            kv.asInstanceOf[Int] > MinHashSig.A.length)
          TypeCheckResult.TypeCheckFailure(
            s"minhash_sig: k must be in [1, ${MinHashSig.A.length}], got $kv")
        else TypeCheckResult.TypeCheckSuccess
      }
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects (array<string>, int), got ${l.sql} and ${r.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(shingles: Any, kAny: Any): Any =
    MinHashSig.compute(shingles.asInstanceOf[ArrayData], kAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (sh, k) => {
      s"${ev.value} = graft.expr.MinHashSig.compute($sh, $k);"
    })

  override def prettyName: String = "minhash_sig"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(left = newLeft, right = newRight)
}

object MinHashSig {
  /** Permutation constants — large odd multipliers so the k permutations
    * decorrelate (small multipliers nearly preserve the ordering of x, the
    * mins correlate, and band collisions inflate ~5x). Shared with the
    * HOF form and the DuckDB oracle SQL.
    */
  val A: Array[Long] = Array(967079L, 825269L, 741103L, 597269L,
    447841L, 330287L, 225961L, 121021L)
  val B: Array[Long] = Array(266489L, 372893L, 449287L, 532951L,
    654803L, 713681L, 829601L, 904441L)
  val P: Long = 4294967311L

  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** min_i over shingles of (A_i·base + B_i) mod P, base = first 4 md5
    * bytes big-endian unsigned (== conv(substring(md5(s),1,8),16,10)).
    * Null shingles are skipped (array_min semantics); an all-null/empty
    * input yields k null values, as array_min over nothing would.
    */
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    require(k <= A.length, s"at most ${A.length} permutations")
    val md = mdLocal.get()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      if (!shingles.isNullAt(j)) {
        md.reset()
        val d = md.digest(shingles.getUTF8String(j).getBytes)
        val x = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        var i = 0
        while (i < k) {
          val h = (A(i) * x + B(i)) % P
          if (h < mins(i)) mins(i) = h
          i += 1
        }
        any = true
      }
      j += 1
    }
    if (!any) new GenericArrayData(new Array[Any](k))
    else new GenericArrayData(mins)
  }
}

/** Codegen'd 64-bit SimHash: `simhash64(tokens)` → bigint whose bits are
  * the 64-char '0'/'1' string of `TextOps.simhash64` read MSB-first
  * (bit string char j == fingerprint bit 63-j; pinned in DedupSpec).
  *
  * The HOF form evaluates a 64-wide interpreted zip_with per TOKEN —
  * ~320M lambda calls for a 50k-doc corpus, 70% of the sf1 bench wall.
  * This is one compiled pass: md5 once per token, first 8 digest bytes
  * as one long, 64 primitive count updates per token, and no
  * string/conv round trip anywhere — the near-dup join then works on
  * plain long bit ops (shiftrightunsigned bands, bit_count(xor)
  * Hamming). Null tokens are skipped; an empty array yields 0L (all
  * majorities at the <=0 boundary), matching the HOF's all-'0' string.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${t.sql}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(toks: Any): Any =
    SimHash64.compute(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      s"${ev.value} = graft.expr.SimHash64.compute($toks);"
    })

  override def prettyName: String = "simhash64"

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def compute(toks: ArrayData): Long = {
    val md = mdLocal.get()
    val counts = new Array[Int](64)
    val n = toks.numElements()
    var t = 0
    while (t < n) {
      if (!toks.isNullAt(t)) {
        md.reset()
        val d = md.digest(toks.getUTF8String(t).getBytes)
        // first 8 digest bytes big-endian == first 16 md5 hex chars
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        var j = 0
        while (j < 64) {
          counts(j) += (((h >>> (63 - j)) & 1L).toInt << 1) - 1
          j += 1
        }
      }
      t += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) out |= 1L << (63 - j)
      j += 1
    }
    out
  }
}

/** Codegen'd 32-bit SimHash as a '0'/'1' bit STRING (MSB-first) —
  * value-identical to the higher-order-function reference form
  * `TextOps.simhash32` (equality pinned in DedupSpec), but one compiled
  * md5 + bit-count pass per row. The HOF twin evaluates 32 interpreted
  * `pow`/`floor` lambdas PER TOKEN (zip_with over a fresh 32-array):
  * ~0.9 ms/document at the sf0.1 shape, which made t7 the slowest
  * text query (4.5 s over 5k docs) for what is one digest per token.
  */
case class SimHash32Bits(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash32_bits expects array<string>, got ${t.sql}")
  }

  override def dataType: DataType = StringType

  override def nullSafeEval(toks: Any): Any =
    SimHash32Bits.compute(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      s"${ev.value} = graft.expr.SimHash32Bits.compute($toks);"
    })

  override def prettyName: String = "simhash32_bits"

  override protected def withNewChildInternal(newChild: Expression): SimHash32Bits =
    copy(child = newChild)
}

object SimHash32Bits {
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def compute(toks: ArrayData): UTF8String = {
    val md = mdLocal.get()
    val counts = new Array[Int](32)
    val n = toks.numElements()
    var t = 0
    while (t < n) {
      if (!toks.isNullAt(t)) {
        md.reset()
        val d = md.digest(toks.getUTF8String(t).getBytes)
        // first 4 digest bytes big-endian == first 8 md5 hex chars, the
        // same uint32 the HOF form gets via conv(substring(md5, 1, 8))
        var h = 0L
        var b = 0
        while (b < 4) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        var j = 0
        while (j < 32) {
          counts(j) += (((h >>> (31 - j)) & 1L).toInt << 1) - 1
          j += 1
        }
      }
      t += 1
    }
    val out = new Array[Byte](32)
    var j = 0
    while (j < 32) {
      out(j) = if (counts(j) > 0) '1' else '0'
      j += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** Codegen'd one-pass token statistics: `token_stats(text)` →
  * struct<n_tokens, n_punct, total_tok_len> (all bigint) —
  * value-identical to the composed form
  * (size(tokens), punctCount, totalTokenLen in ops/TextOps.scala) but
  * ONE byte scan per document instead of: two regex tokenizer runs
  * (CollapseProject inlines the shared `tk` alias into both consumers),
  * a full regexp_replace COPY of the text just to count kept chars, and
  * an interpreted per-token aggregate lambda. Token counting is a
  * per-row constant cost of every 100 TB text pipeline (reference
  * surface: the t-family token/quality stats, SURVEY.md
  * "LLM-data-pipeline operators"); honest full-materialization timing
  * measured the composed form at 5.9x the DuckDB oracle on sf1.
  *
  * Exact-equality notes, matching Java regex semantics of the composed
  * form: a "token" is a maximal run of non-`\s` chars (so
  * sum(token lengths) = count of non-whitespace chars and the
  * trim/split/filter edge cases — leading/trailing/only-whitespace
  * text — fall out for free); `\s` is Java's [ \t\n\x0B\f\r] (all
  * ASCII); n_punct counts chars outside [A-Za-z0-9\s], so any
  * non-ASCII code point (UTF-8 lead byte, continuation bytes skipped)
  * is one punct char and one token char, exactly as the regexes see it.
  */
case class TokenStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StructType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"token_stats expects string, got ${t.sql}")
  }

  override def dataType: DataType = TokenStats.schema

  override def nullSafeEval(text: Any): Any =
    TokenStats.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text => {
      s"${ev.value} = graft.expr.TokenStats.compute($text);"
    })

  override def prettyName: String = "token_stats"

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

object TokenStats {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.types.StructField

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("total_tok_len", LongType, nullable = false)))

  def compute(text: UTF8String): InternalRow = {
    val b = text.getBytes
    var nTokens = 0L
    var nPunct = 0L
    var tokLen = 0L
    var inTok = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      // UTF-8 continuation byte: same char as its lead byte, which was
      // already classified (non-ws, non-alnum) — skip, so counts are
      // per CHARACTER like length()/regex, not per byte
      if ((c & 0xc0) != 0x80) {
        val isWs = c == ' ' || c == '\t' || c == '\n' || c == 0x0b ||
          c == '\f' || c == '\r'
        if (isWs) inTok = false
        else {
          tokLen += 1
          if (!inTok) { nTokens += 1; inTok = true }
          val isAlnum = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
            (c >= '0' && c <= '9')
          if (!isAlnum) nPunct += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTokens, nPunct, tokLen))
  }
}

/** `bpe_stats(text)` -> struct(n_bpe, n_bpe_distinct) — the one-pass
  * codegen'd form of t9's
  * `regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')` +
  * size/array_distinct pair. The Java regex engine costs ~250 µs of core
  * time per ~300-char document on this alternation (measured: 3.7 s for
  * 500k docs on 32 threads where a plain split takes 0.7 s), which made
  * t9 the worst honest sf100 line at 34x the DuckDB oracle; the byte
  * scan classifies runs directly.
  *
  * Exact-equality notes (Java regex semantics, like TokenStats):
  *  - a token is a maximal [A-Za-z]+ run, a maximal [0-9]+ run, or ONE
  *    code point outside [A-Za-z0-9\s] with \s = Java's ASCII
  *    [ \t\n\x0B\f\r] — multi-byte code points are single punct tokens
  *    (lead byte + continuations), exactly the regex's per-code-point
  *    char-class match;
  *  - n_bpe_distinct compares token BYTES (UTF8String equality), the
  *    same equality array_distinct/list_distinct apply.
  */
case class BpeStats(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StructType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_stats expects string, got ${t.sql}")
  }

  override def dataType: DataType = BpeStats.schema

  override def nullSafeEval(text: Any): Any =
    BpeStats.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, text => {
      s"${ev.value} = graft.expr.BpeStats.compute($text);"
    })

  override def prettyName: String = "bpe_stats"

  override protected def withNewChildInternal(newChild: Expression): BpeStats =
    copy(child = newChild)
}

object BpeStats {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.types.StructField

  val schema: StructType = StructType(Seq(
    StructField("n_bpe", LongType, nullable = false),
    StructField("n_bpe_distinct", LongType, nullable = false)))

  private def isLetter(c: Byte): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  def compute(text: UTF8String): InternalRow = {
    val b = text.getBytes
    val n = b.length
    var nBpe = 0L
    // fromBytes(array, offset, len) wraps without copying; UTF8String
    // equality/hashCode are byte-wise — the distinct set costs one small
    // wrapper object per token, no byte copies, no regex Matcher
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) {
      val c = b(i)
      if (isLetter(c)) {
        val s = i
        i += 1
        while (i < n && isLetter(b(i))) i += 1
        nBpe += 1
        seen.add(UTF8String.fromBytes(b, s, i - s))
      } else if (isDigit(c)) {
        val s = i
        i += 1
        while (i < n && isDigit(b(i))) i += 1
        nBpe += 1
        seen.add(UTF8String.fromBytes(b, s, i - s))
      } else if (isWs(c)) {
        i += 1
      } else {
        // one punct token = one full code point (lead + continuations)
        val s = i
        i += 1
        while (i < n && (b(i) & 0xc0) == 0x80) i += 1
        nBpe += 1
        seen.add(UTF8String.fromBytes(b, s, i - s))
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nBpe, seen.size.toLong))
  }
}
