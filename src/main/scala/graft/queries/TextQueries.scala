package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextOps => TX, Tables => T}

/** Text-analysis + dedup family over `documents` — the training-data
  * pipeline operators (tokenize, quality score, language ID, fingerprint,
  * exact dedup, banded near-dup). All expression trees or bucket joins;
  * every query here has a full DuckDB oracle.
  */
object TextQueries {

  private val stopEn = Seq("the", "a", "of", "and", "in", "to", "is")
  private val stopQl = Seq("table", "row", "value")

  def defs: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokens, punctuation count, total token
    // length (whitespace + BPE-ish regex tokenizers in TextOps).
    QueryDef("t1_token_stats",
      """SELECT doc_id,
        |  CAST(len(tk) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(coalesce(list_sum(list_transform(tk, t -> length(t))), 0) AS BIGINT) AS total_tok_len
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS tk
        |      FROM documents)
        |ORDER BY doc_id""") { (s, d) =>
      // one-pass codegen'd token_stats (expr/TextExprs.scala) instead of
      // the composed tokens/punctCount/totalTokenLen form: the composed
      // tree ran the regex tokenizer twice per row (CollapseProject
      // inlines the shared tk alias into both consumers), regexp-copied
      // the whole text to count punct, and summed token lengths through
      // an interpreted HOF lambda — measured 5.9x the DuckDB oracle at
      // sf1 under honest timing; the single scan is value-identical
      // (pinned against the composed form in TextOpsSpec).
      graft.expr.GraftFunctions.register(s)
      // token_stats BELOW the total sort — the NARROW-exchange form
      // (r22, reverting r21's uniformity rewrite): the range exchange
      // then carries doc_id + 3 longs (~32 B/row) instead of the full
      // document text. The chain is a cheap one-pass char scan, so the
      // double evaluation under the sort (range-boundary sampling) costs
      // less than shuffling the whole corpus through the exchange —
      // measured at sf1: 8.10 MB shuffled (text above sort) vs 0.74 MB
      // (stats below sort) for a wall-time wash, 0.52 vs 0.50 s (§2.3:
      // shuffle fewer bytes; the CPU term is negligible for this chain).
      T.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("__ts", call_function("token_stats", col("text")))
        .select(col("doc_id"),
          col("__ts.n_tokens").as("n_tokens"),
          col("__ts.n_punct").as("n_punct"),
          col("__ts.total_tok_len").as("total_tok_len"))
        .orderBy("doc_id")
    },

    // Quality scoring: stopword ratio, mean token length, punct ratio
    // (length/punct/stopword heuristics for corpus filtering).
    QueryDef("t2_quality_score",
      """SELECT doc_id,
        |  round(CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','in','to','is'))) AS DOUBLE)
        |        / len(tk), 6) AS stopword_ratio,
        |  round(CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
        |        / len(tk), 6) AS mean_tok_len,
        |  round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |        / length(text), 6) AS punct_ratio
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS tk
        |      FROM documents)
        |WHERE len(tk) > 0 AND length(text) > 0
        |ORDER BY doc_id""") { (s, d) =>
      // one tokenizer pass (stopword membership needs the token LIST) +
      // two codegen'd token_stats char scans replace the previous
      // HOF length-sum and the regexp_replace punct copy: mean_tok_len
      // and the size divisors come from token_stats(lower(text))
      // (sum of lowercased token lengths == its non-ws char count;
      // n_tokens == size(tk) by construction), punct from
      // token_stats(text) — the ORIGINAL text, because n_punct must
      // pair with length(text) the way the oracle's regexp_replace
      // does (lowercasing can change char counts for rare Unicode).
      // __tsl is staged via withColumn and referenced 3x — non-cheap
      // multi-referenced aliases survive CollapseProject, so it is
      // evaluated once per row.
      graft.expr.GraftFunctions.register(s)
      T.documents(s, d)
        .select(col("doc_id"), col("text"))
        // len(tk) > 0 (oracle form) == text has a char outside the
        // tokenizer's whitespace set. That set is exactly Java's \s
        // (TextExprs.scala:386), so rlike "\S" is value-identical to
        // n_tokens > 0 — unlike trim(), which strips only ASCII spaces
        // and let a \t/\n-only document through with n_tokens = 0.
        // rlike stays cheap when Catalyst pushes it below the project
        // (first-match scan); filtering on __tsl.n_tokens would get the
        // alias substituted into the pushed predicate and re-run the
        // whole token_stats char scan per row. n_tokens > 0 implies
        // length(text) > 0, covering the oracle's second conjunct.
        .filter(col("text").rlike("\\S"))
        // scoring chain ABOVE the total sort (the r21 x11 rule): sort key
        // = unique source doc_id, so ordering is unchanged and the two
        // token_stats scans + tokenizer + stopword filter run once per
        // row after the range exchange instead of twice (range-boundary
        // sampling consumes every child row below a sort)
        .orderBy("doc_id")
        .withColumn("__tsl", call_function("token_stats", lower(col("text"))))
        .select(col("doc_id"),
          round(TX.stopwordHits(TX.tokensLower(col("text")), stopEn)
            .cast("double") / col("__tsl.n_tokens"), 6).as("stopword_ratio"),
          round(col("__tsl.total_tok_len").cast("double") /
            col("__tsl.n_tokens"), 6).as("mean_tok_len"),
          round(call_function("token_stats", col("text")).getField("n_punct")
            .cast("double") / length(col("text")), 6).as("punct_ratio"))
    },

    // Language ID by stopword-list scoring (n-gram-free heuristic):
    // score per candidate vocabulary, argmax with a fixed preference
    // order — fully deterministic, oracle-identical CASE.
    QueryDef("t3_lang_id",
      """SELECT doc_id,
        |  CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','in','to','is'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(tk, t -> t IN ('table','row','value'))) AS BIGINT) AS score_ql,
        |  CASE WHEN len(list_filter(tk, t -> t IN ('the','a','of','and','in','to','is')))
        |            >= len(list_filter(tk, t -> t IN ('table','row','value')))
        |       THEN 'en' ELSE 'ql' END AS lang_guess
        |FROM (SELECT doc_id,
        |        list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS tk
        |      FROM documents)
        |ORDER BY doc_id""") { (s, d) =>
      // __en/__ql staged via withColumn, not inlined: each is referenced
      // twice (its score column + the lang_guess comparison), and an
      // inline expression tree is evaluated once PER REFERENCE — the
      // interpreted HOF stopword filter ran 4x per row (2 lists x 2
      // uses). Non-cheap multi-referenced aliases survive
      // CollapseProject (the t2 staging rule), so each list is now
      // filtered once per row. The whole chain sits ABOVE the total sort
      // (the r21 x11 rule — sort key is the unique source doc_id) so it
      // runs once, not per sort-sampling pass. Values identical.
      T.documents(s, d)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .withColumn("__tk", TX.tokensLower(col("text")))
        .withColumn("__en", TX.stopwordHits(col("__tk"), stopEn))
        .withColumn("__ql", TX.stopwordHits(col("__tk"), stopQl))
        .select(col("doc_id"),
          col("__en").cast("bigint").as("score_en"),
          col("__ql").cast("bigint").as("score_ql"),
          when(col("__en") >= col("__ql"), "en").otherwise("ql")
            .as("lang_guess"))
    },

    // Exact dedup: md5(content) groupBy, keep smallest id
    // (hash-groupBy — one shuffle, map-side partial agg).
    QueryDef("t4_exact_dedup",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY keep_id""") { (s, d) =>
      Dedup.exactDedup(T.documents(s, d), "doc_id", "text")
        .orderBy("keep_id")
    },

    // Document fingerprint granularity: char trigram counts over the
    // normalized text (rolling-hash-style fingerprint input).
    QueryDef("t5_chargram_stats",
      """SELECT doc_id,
        |  CAST(len(g) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(g)) AS BIGINT) AS n_distinct
        |FROM (SELECT doc_id,
        |        list_transform(range(1, length(norm) - 1), i -> substr(norm, i, 3)) AS g
        |      FROM (SELECT doc_id,
        |              trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |            FROM documents)
        |      WHERE length(norm) >= 3)
        |ORDER BY doc_id""") { (s, d) =>
      // n_grams is just length - 2 after the >= 3 filter; n_distinct is
      // the codegen'd exact counter (chargram_distinct) — no per-gram
      // string materialization. The HOF form (TX.charGrams +
      // array_distinct) is the parity twin, pinned in TextOpsSpec.
      graft.expr.GraftFunctions.register(s)
      // normalization + distinct counter ABOVE the total sort (the r21
      // x11 rule; doc_id is the unique sort key): the regexp_replace and
      // the gram counter run once per surviving row instead of twice.
      // The length filter still pushes below the sort (substituted into
      // the scan-side predicate), which is correct — dropped rows never
      // enter the exchange.
      T.documents(s, d)
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .withColumn("norm", TX.normalized(col("text")))
        .filter(length(col("norm")) >= 3)
        .select(col("doc_id"),
          (length(col("norm")) - 2).cast("bigint").as("n_grams"),
          call_function("chargram_distinct", col("norm"), lit(3))
            .cast("bigint").as("n_distinct"))
    }
  ) ++
    // Near-dup candidate pairs: shingles(3) -> 8 MinHashes -> 4 bands of 2
    // -> bucket self-join. Candidates << n^2 (29 pairs of 124,750 possible
    // at sf0.01) — the banded join IS the scale story.
    QueryDef.withSlice("t6_near_dup_candidates",
      "t6_slice_near_dup_candidates", Slice.Documents)(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_transform(range(0, len(tk) - 2),
        |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) AS shingles
        |  FROM toks WHERE len(tk) >= 3),
        |bases AS (
        |  SELECT doc_id, list_transform(list_transform(shingles, s -> md5(s)), h ->
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
        |  + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
        |  + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
        |  + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
        |  + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) AS bs
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 8), i ->
        |    list_min(list_transform(bs, x ->
        |      ([967079, 825269, 741103, 597269, 447841, 330287, 225961, 121021][i+1] * x
        |       + [266489, 372893, 449287, 532951, 654803, 713681, 829601, 904441][i+1])
        |      % 4294967311))) AS sg
        |  FROM bases),
        |bands AS (
        |  SELECT doc_id, b,
        |    md5(CAST(sg[2*b+1] AS VARCHAR) || CAST(sg[2*b+2] AS VARCHAR)) AS bk
        |  FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) AS t(b))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a JOIN bands b ON a.bk = b.bk AND a.b = b.b
        |  AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""") { (_, docs) =>
      Dedup.nearDupCandidates(docs, "doc_id", "text")
        .orderBy("doc_a", "doc_b")
    } ++
    // n-gram Jaccard verification of the LSH candidates: the banded join
    // proposes pairs, exact shingle-set Jaccard scores them — the full
    // two-stage near-dup pipeline (candidates << n^2, exact check only
    // on candidates).
    QueryDef.withSlice("t8_jaccard_verify",
      "t8_slice_jaccard_verify", Slice.Documents)(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS tk
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, len(tk) - 2),
        |      i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) AS shset
        |  FROM toks WHERE len(tk) >= 3),
        |bases AS (
        |  SELECT doc_id, list_transform(list_transform(shset, s -> md5(s)), h ->
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 268435456
        |  + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16777216
        |  + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 1048576
        |  + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 65536
        |  + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        |  + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        |  + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |  + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1)) AS bs
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 8), i ->
        |    list_min(list_transform(bs, x ->
        |      ([967079, 825269, 741103, 597269, 447841, 330287, 225961, 121021][i+1] * x
        |       + [266489, 372893, 449287, 532951, 654803, 713681, 829601, 904441][i+1])
        |      % 4294967311))) AS sg
        |  FROM bases),
        |bands AS (
        |  SELECT doc_id, b,
        |    md5(CAST(sg[2*b+1] AS VARCHAR) || CAST(sg[2*b+2] AS VARCHAR)) AS bk
        |  FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) AS t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.b = b.b
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  round(CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE) /
        |        len(list_distinct(list_concat(sa.shset, sb.shset))), 6)
        |    AS jaccard
        |FROM cand JOIN sh sa ON sa.doc_id = doc_a
        |          JOIN sh sb ON sb.doc_id = doc_b
        |ORDER BY doc_a, doc_b""") { (_, docs) =>
      // candidate banding AND the per-pair sorted-xxhash64 intersect run
      // once per DISTINCT shingle set, expanded to doc pairs afterwards
      // (intra-set pairs are Jaccard 1.0): the doc-level predecessor
      // shuffled ~32M pairs x two ~45-long[] payloads (~23 GB) at sf10
      // where the set-level plan shuffles a few thousand (Dedup's bySet)
      Dedup.jaccardVerifiedPairs(docs, "doc_id", "text")
        .orderBy("doc_a", "doc_b")
    } ++
    // SimHash document fingerprint: one md5 per token, 32 sign bits.
    QueryDef.withSlice("t7_simhash",
      "t7_slice_simhash", Slice.Documents)(
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, j,
        |    CASE j % 4
        |      WHEN 0 THEN (strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1) // 8 % 2
        |      WHEN 1 THEN (strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1) // 4 % 2
        |      WHEN 2 THEN (strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1) // 2 % 2
        |      ELSE (strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1) % 2
        |    END AS bit
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS j)),
        |sums AS (SELECT doc_id, j, sum(bit * 2 - 1) AS c FROM bits GROUP BY doc_id, j)
        |SELECT doc_id,
        |  string_agg(CASE WHEN c > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
        |FROM sums GROUP BY doc_id ORDER BY doc_id""") { (s, docs) =>
      // codegen'd one-pass form; the HOF reference twin (TX.simhash32)
      // evaluates 32 interpreted pow/floor lambdas per TOKEN — equality
      // of the two forms is pinned in DedupSpec.
      // r21: the md5-per-token fingerprint sits ABOVE the total sort
      // (x11 rule; doc_id unique) so it runs once, not per sort-sampling
      // pass, and the guard is the scan-pushable rlike "\S" — value-
      // identical to size(tokensLower(text)) > 0 (the t2 predicate pin:
      // the tokenizer's whitespace set IS Java's \s) without running the
      // tokenizer below the sort at all.
      graft.expr.GraftFunctions.register(s)
      docs
        .select(col("doc_id"), col("text"))
        .filter(col("text").rlike("\\S"))
        .orderBy("doc_id")
        .select(col("doc_id"),
          call_function("simhash32_bits", TX.tokensLower(col("text")))
            .as("simhash"))
    } ++ Seq(

    // BPE-ish sub-word tokenizer (letter runs / digit runs / single
    // punctuation — TextOps.bpeTokens): token count + distinct-token
    // count per document. Same RE2-compatible pattern on both engines.
    QueryDef("t9_bpe_tokens",
      """SELECT doc_id,
        |  CAST(len(bpe) AS BIGINT) AS n_bpe,
        |  CAST(len(list_distinct(bpe)) AS BIGINT) AS n_bpe_distinct
        |FROM (SELECT doc_id,
        |        regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')
        |          AS bpe
        |      FROM documents)
        |ORDER BY doc_id""") { (s, d) =>
      // bpe_stats, not regexp_extract_all + array_distinct: the Java
      // regex engine cost ~250 µs/doc on this alternation and made t9
      // the worst honest sf100 line (163.6 s, 34x the oracle); the
      // codegen'd one-pass byte scan is value-identical (pinned against
      // the composed form in OpsSpec) — expr/TextExprs.scala BpeStats.
      graft.expr.GraftFunctions.register(s)
      // bpe_stats BELOW the total sort — the NARROW-exchange form (r22,
      // reverting r21's uniformity rewrite; same rationale as t1): the
      // exchange carries doc_id + 2 longs instead of the corpus text
      // (sf1: 8.10 → 0.60 MB shuffled, wall 0.31 vs 0.40 s — the small
      // local CPU cost of the sample-pass double scan is the price of a
      // 13x narrower exchange, the term that grows at 100 TB).
      T.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("__bs", call_function("bpe_stats", col("text")))
        .select(col("doc_id"),
          col("__bs.n_bpe").as("n_bpe"),
          col("__bs.n_bpe_distinct").as("n_bpe_distinct"))
        .orderBy("doc_id")
    }
  ) ++
    // Winnowing document fingerprint (rolling-hash k-grams + window
    // minima, the classic near-dup fingerprint): codegen'd one-pass
    // Rabin-Karp in Spark (expr/WinnowFp), O(n*k) list arithmetic in the
    // oracle — exact longs both sides (no modulus; k=8 keeps sums < 2^51).
    QueryDef.withSlice("t10_winnow_fp",
      "t10_slice_winnow_fp", Slice.Documents)(
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 8 THEN
        |      list_transform(range(1, length(text) - 6), i ->
        |        CAST(list_sum(list_transform(range(0, 8), j ->
        |          CAST(unicode(substr(text, CAST(i + j AS INT), 1)) AS BIGINT)
        |            * CAST(pow(31, 7 - j) AS BIGINT))) AS BIGINT))
        |    ELSE [] END AS hs
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) >= 4 THEN
        |      list_sort(list_distinct(list_transform(range(1, len(hs) - 2),
        |        t -> list_min(hs[t:t+3]))))
        |    ELSE [] END AS fps
        |  FROM g)
        |SELECT doc_id, generate_subscripts(fps, 1) - 1 AS pos,
        |  unnest(fps) AS fp
        |FROM m ORDER BY doc_id, pos""") { (s, docs) =>
      graft.expr.GraftFunctions.register(s)
      // winnow + explode ABOVE the total sort (r21): doc_id is unique,
      // so sorting docs by doc_id and THEN exploding yields exactly the
      // declared (doc_id, pos) order — posexplode emits positions
      // ascending within each row and Generate/Project preserve the
      // sorted row order. The rolling-hash fingerprint runs once per doc
      // (not per sort-sampling pass) and the exchange moves one row per
      // doc instead of one per fingerprint.
      docs
        .select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"),
          TX.winnowFingerprintsFast(col("text"), 8, 4).as("fps"))
        .select(col("doc_id"), posexplode(col("fps")).as(Seq("pos", "fp")))
    } ++
    // SimHash near-dup JOIN (not just the fingerprint): 64-bit simhash ->
    // 4 bands of 16 bits -> bucket self-join -> exact Hamming <= 3.
    // Lossless by pigeonhole (3 flips touch <= 3 of 4 bands), and the
    // 16-bit buckets keep candidates ~1.5% of all pairs at sf0.01
    // (1,866 of 124,750; 12 survive the Hamming check). The oracle is
    // banded too — a brute-force all-pairs oracle is O(n^2) and would
    // stall the sf1+ scale-point sweeps; banded == brute-force is
    // instead pinned Spark-side in DedupSpec at sf0.001.
    QueryDef.withSlice("t11_simhash_near_dup",
      "t11_slice_simhash_near_dup", Slice.Documents)(
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '')) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS h FROM toks),
        |bits AS (
        |  SELECT doc_id, j,
        |    CASE j % 4
        |      WHEN 0 THEN (strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1) // 8 % 2
        |      WHEN 1 THEN (strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1) // 4 % 2
        |      WHEN 2 THEN (strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1) // 2 % 2
        |      ELSE (strpos('0123456789abcdef', substr(h, j // 4 + 1, 1)) - 1) % 2
        |    END AS bit
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS j)),
        |sums AS (SELECT doc_id, j, sum(bit * 2 - 1) AS c FROM bits GROUP BY doc_id, j),
        |fp AS (
        |  SELECT doc_id,
        |    string_agg(CASE WHEN c > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sh
        |  FROM sums GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, sh, b, substr(sh, CAST(16 * b + 1 AS INT), 16) AS bk
        |  FROM fp CROSS JOIN (VALUES (0),(1),(2),(3)) AS t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.sh AS sha, b.sh AS shb
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bk = b.bk
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN substr(sha, CAST(i AS INT), 1) <> substr(shb, CAST(i AS INT), 1)
        |           THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        |  FROM cand)
        |WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""") { (_, docs) =>
      Dedup.simhashNearDup(docs, "doc_id", "text")
        .orderBy("doc_a", "doc_b")
    }
}
