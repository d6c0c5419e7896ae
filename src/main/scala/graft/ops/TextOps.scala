package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, quality stats, language ID, fingerprinting. All pure
  * expression trees (no UDFs) — codegen-friendly, shuffle-free per row,
  * and DuckDB-comparable.
  */
object TextOps {

  /** Whitespace tokens of trimmed text, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** Lowercased whitespace tokens. */
  def tokensLower(text: Column): Column = tokens(lower(text))

  /** BPE-ish tokenizer: letter runs, digit runs, single punctuation. */
  def bpeTokens(text: Column): Column =
    call_function("regexp_extract_all", text,
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Normalized form for fingerprinting: lowercase, collapse whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Count of punctuation (non-alphanumeric, non-space) characters. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))

  /** Count of tokens that appear in `stopwords`. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords: _*)))

  /** Sum of token lengths (for mean token length). */
  def totalTokenLen(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t))

  /** Word k-shingles (k consecutive tokens joined by one space) —
    * the unit for MinHash / Jaccard near-dup detection. Guarded: fewer
    * than k tokens yields an empty array (an unguarded descending
    * `sequence` would silently read tokens from the END via negative
    * element_at indices — garbage fingerprints, not an error).
    *
    * Higher-order-function reference form; prefer `shinglesFast` on hot
    * paths (value-identical, compiled loop — HOFs don't participate in
    * whole-stage codegen and pay interpreted lambda dispatch per token).
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(
        sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .otherwise(array())

  /** Codegen'd `shingles` (graft.expr.WordShingles) — same values, one
    * compiled loop per row. Requires GraftFunctions.register on the
    * session (query entry points do this).
    */
  def shinglesFast(toks: Column, k: Int): Column =
    call_function("word_shingles", toks, lit(k))

  /** Character n-grams of a string (positions 1..len-n+1); empty array
    * when the text is shorter than n (same guard rationale as shingles).
    */
  def charGrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))
      .otherwise(array())

  /** K-gram polynomial hashes h_i = sum code(text[i+j]) * 31^(k-1-j) —
    * the rolling-hash values of winnowing fingerprinting, as a
    * higher-order-function expression (exact long arithmetic, no modular
    * reduction: k <= 8 keeps the sum under 2^55 for any Unicode code
    * point, so Spark, this twin, and DuckDB BIGINT agree bit-for-bit;
    * ascii/substr/length are all code-point-based in both engines).
    */
  def kgramHashesHof(text: Column, k: Int): Column = {
    require(k >= 1 && k <= 8, "k must be in [1, 8] for exact arithmetic")
    when(length(text) >= k,
      transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => aggregate(sequence(lit(0), lit(k - 1)), lit(0L),
          (acc, j) => acc * 31L + ascii(text.substr(i + j, lit(1))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Winnowing document fingerprint (HOF reference form): sorted distinct
    * sliding-window minima (window w) over the k-gram hashes. Prefer the
    * codegen'd `winnowFingerprintsFast` on hot paths — one O(n) rolling
    * pass per row instead of O(n*k*w) interpreted lambdas.
    */
  def winnowFingerprintsHof(text: Column, k: Int, w: Int): Column = {
    val hs = kgramHashesHof(text, k)
    val mins = when(size(hs) >= w,
      transform(
        sequence(lit(1), size(hs) - (w - 1)),
        t => array_min(slice(hs, t, lit(w)))))
      .otherwise(array().cast("array<bigint>"))
    array_sort(array_distinct(mins))
  }

  /** Codegen'd winnowing fingerprint (graft.expr.WinnowFp) — same values,
    * a true Rabin-Karp rolling hash + monotonic-deque minima in one
    * compiled pass. Requires GraftFunctions.register on the session.
    */
  def winnowFingerprintsFast(text: Column, k: Int, w: Int): Column =
    call_function("winnow_fp", text, lit(k), lit(w))

  /** 32-bit base hash of a shingle: first 8 hex digits of its md5. */
  def shingleBase(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** k-permutation MinHash signature as array<bigint>: ONE md5 per
    * shingle, then k cheap universal-hash permutations
    * h_i(x) = (A_i x + B_i) mod 4294967311 over the 32-bit bases
    * (constants in graft.expr.MinHashSig — large odd multipliers so the
    * permutations decorrelate; small ones nearly preserve the ordering of
    * x, the mins correlate, and band collisions inflate ~5x).
    * At 100 TB this is the shape that matters: hashing cost is 1/k of
    * one md5 per seed per shingle, with comparable banding behavior, and
    * every operation is exact integer arithmetic an oracle can replay.
    *
    * Higher-order-function reference form, kept as the parity oracle for
    * the codegen'd `minhashSignatureFast`.
    */
  def minhashSignatureHof(shingleArr: Column, k: Int): Column = {
    require(k <= graft.expr.MinHashSig.A.length,
      s"at most ${graft.expr.MinHashSig.A.length} permutations")
    val bases = transform(shingleArr, s => shingleBase(s))
    val as = array(graft.expr.MinHashSig.A.toSeq.map(lit): _*)
    val bs = array(graft.expr.MinHashSig.B.toSeq.map(lit): _*)
    transform(sequence(lit(0), lit(k - 1)), i =>
      array_min(transform(bases,
        x => (element_at(as, i + 1) * x + element_at(bs, i + 1))
          % graft.expr.MinHashSig.P)))
  }

  /** Codegen'd MinHash signature (graft.expr.MinHashSig) — value-identical
    * to `minhashSignatureHof` but md5 runs once per shingle on raw digest
    * bytes and all k mins update in one compiled loop: the per-row
    * constant that makes near-dup viable at corpus scale. Requires
    * GraftFunctions.register on the session.
    */
  def minhashSignatureFast(shingleArr: Column, k: Int): Column =
    call_function("minhash_sig", shingleArr, lit(k))

  /** All band keys at once: array of `bands` md5 keys, each hashing
    * `rowsPerBand` consecutive signature values. posexplode this to get
    * (band, key) rows for the bucket join.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(array_join(
        transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)),
          v => v.cast("string")), "")))

  /** 32-bit SimHash as a '0'/'1' bitstring: ONE md5 per token (first 8 hex
    * digits → 32-bit int), bits extracted arithmetically MSB-first,
    * accumulate +/-1 per bit over all tokens, emit sign bits. A
    * shuffle-free per-row fold — exactly what you want at 100 TB.
    * (h / 2^k is exact power-of-two division in doubles, so floor%2 is the
    * exact bit — and it is DuckDB-reproducible, unlike shiftright which
    * Spark only accepts with literal shift amounts.)
    */
  def simhash32(toks: Column): Column = {
    val hs = transform(toks, t =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val counts = aggregate(
      hs,
      array_repeat(lit(0L), 32),
      (acc, h) =>
        zip_with(
          acc,
          sequence(lit(0L), lit(31L)),
          (x, j) =>
            x + (floor(h / pow(lit(2.0), lit(31L) - j)).cast("long") % 2L)
              * 2L - 1L))
    array_join(
      transform(counts, c => when(c > 0, lit("1")).otherwise(lit("0"))), "")
  }

  /** Codegen'd 64-bit SimHash fingerprint as a bigint (one compiled md5 +
    * bit-count pass per row — the hot-path form; the HOF twin below is the
    * reference semantics, equality pinned in DedupSpec). Requires
    * GraftFunctions.register on the session.
    */
  def simhash64Fast(toks: Column): Column =
    call_function("simhash64", toks)

  /** 64-bit SimHash over a token array, as a 64-char '0'/'1' string
    * (MSB-first). Same construction as [[simhash32]] but over the md5's
    * first 16 hex chars, carried as two 32-bit halves so every integer
    * stays well inside a signed long (conv of 16 hex chars could wrap
    * negative). Used by the banded near-dup join (Dedup.simhashNearDup):
    * 64 bits keep a 16-bit band selective enough that bucket sizes stay
    * bounded at corpus scale, which 32-bit/8-bit banding does not.
    */
  def simhash64(toks: Column): Column = {
    // null-token guard: the codegen twin (SimHash64.compute) SKIPS null
    // elements, but without this filter a single null token would poison
    // the aggregate's count array to all-null and yield an all-'0' string
    // — a silent divergence between the twins. Unreachable via
    // tokensLower (it never yields null), but the parity contract is
    // enforced here, not assumed.
    val nn = filter(toks, t => t.isNotNull)
    val hs = transform(nn, t => {
      val h = md5(t)
      array(conv(substring(h, 1, 8), 16, 10).cast("long"),
        conv(substring(h, 9, 8), 16, 10).cast("long"))
    })
    val counts = aggregate(
      hs,
      array_repeat(lit(0L), 64),
      (acc, pair) =>
        zip_with(
          acc,
          sequence(lit(0L), lit(63L)),
          (x, j) => {
            val h = when(j < 32L, element_at(pair, 1))
              .otherwise(element_at(pair, 2))
            x + (floor(h / pow(lit(2.0), lit(31L) - j % 32L)).cast("long")
              % 2L) * 2L - 1L
          }))
    array_join(
      transform(counts, c => when(c > 0, lit("1")).otherwise(lit("0"))), "")
  }
}
