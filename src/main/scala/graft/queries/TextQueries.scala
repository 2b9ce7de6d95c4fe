package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators.{Rank, Similarity, TextAnalysis}
import QuerySupport._

/** Text analysis: tokens, quality features, language ID, sketches,
  * n-gram LMs, BPE, BM25 and the trained quality classifier. */
private[graft] object TextQueries extends QueryLayer("text") {
  lazy val defs: Seq[QueryDef] = Seq(

    // Token counting (whitespace tokenizer).
    query("q_token_count")(
      """SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars_m
         FROM documents ORDER BY doc_id""")((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_chars_m"))
        .orderBy("doc_id")
    }),

    // Quality scoring: stopword ratio + avg word length (pure arithmetic so
    // the oracle matches bit-for-bit).
    query("q_quality_score")(
      """WITH t AS (SELECT doc_id, text,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
           CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the','a','and','of','to','in'))) AS INT) AS n_stop
         FROM documents)
         SELECT doc_id, n_tok, n_stop,
           floor(CAST(n_stop AS DOUBLE) / n_tok * 10000) / 10000 AS stop_ratio,
           floor(CAST(length(text) - (n_tok - 1) AS DOUBLE) / n_tok * 10000) / 10000 AS avg_wlen
         FROM t ORDER BY doc_id""")((s, dir) => {
      val stop = Seq("the", "a", "and", "of", "to", "in")
      val toks = split(col("text"), " ")
      Tables.documents(s, dir)
        .withColumn("n_tok", size(toks))
        .withColumn("n_stop", size(filter(toks, t => t.isin(stop.map(lit): _*))))
        .select(col("doc_id"), col("n_tok"), col("n_stop"),
          (floor(col("n_stop").cast("double") / col("n_tok") * 10000) / 10000.0)
            .as("stop_ratio"),
          (floor((length(col("text")) - (col("n_tok") - 1)).cast("double")
            / col("n_tok") * 10000) / 10000.0).as("avg_wlen"))
        .orderBy("doc_id")
    }),

    // Language identification (marker-lexicon argmax heuristic).
    query("q_lang_id")(
      """WITH t AS (SELECT doc_id, lang,
           list_distinct(string_split(text, ' ')) AS toks FROM documents),
         s AS (SELECT doc_id, lang,
           len(list_intersect(toks, ['der','die','das','und','ist'])) AS s_de,
           len(list_intersect(toks, ['the','a','and','of','is'])) AS s_en,
           len(list_intersect(toks, ['el','la','los','y','es'])) AS s_es,
           len(list_intersect(toks, ['le','la','les','et','est'])) AS s_fr,
           len(list_intersect(toks, ['de5','shi4','le5','zai4','he2'])) AS s_zh
         FROM t),
         m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s)
         SELECT doc_id, lang,
           CASE WHEN best = 0 THEN 'und'
                WHEN s_de = best THEN 'de'
                WHEN s_en = best THEN 'en'
                WHEN s_es = best THEN 'es'
                WHEN s_fr = best THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM m ORDER BY doc_id""")((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // Full quality-feature set (tokens, stopword/punct ratios, word length).
    query("q_quality_full")(
      """WITH t AS (SELECT doc_id, text,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
           CAST(len(list_filter(string_split(text, ' '),
                t -> t IN ('the','a','and','of','to','in'))) AS INT) AS n_stop,
           CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g'))
                AS INT) AS n_punct
         FROM documents)
         SELECT doc_id, n_tok, n_stop, n_punct,
           floor(CAST(n_stop AS DOUBLE) / n_tok * 10000) / 10000 AS stop_ratio,
           floor(CAST(length(text) - (n_tok - 1) AS DOUBLE) / n_tok * 10000) / 10000
             AS avg_wlen,
           floor(CAST(n_punct AS DOUBLE) / length(text) * 10000) / 10000 AS punct_ratio
         FROM t ORDER BY doc_id""")((s, dir) => {
      TextAnalysis.qualityFeatures(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // BPE-ish subword counting.
    query("q_subword_count")(
      """SELECT doc_id,
           CAST(list_reduce(list_transform(string_split_regex(trim(text), '\s+'),
                w -> CAST(ceil(length(w) / 4.0) AS INT)), (a, b) -> a + b) AS INT)
             AS n_subwords
         FROM documents ORDER BY doc_id""")((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.subwordCount(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    }),

    // STTM compiler end-to-end ------------------------------------------
    // These run the actual metadata-driven compiler (spec CSV -> validation
    // -> expression compile -> Flink-name SQL -> Catalyst) on testdata.,

    // Corpus vocabulary: top-500 whitespace tokens by global count
    // (deterministic tie-break on token text) — one partial-agg shuffle,
    // TakeOrdered over the distinct-token table.
    query("q_vocab")(
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS n
         FROM t WHERE token <> '' GROUP BY token
         ORDER BY n DESC, token LIMIT 500""")((s, dir) => {
      TextAnalysis.topTokens(Tables.documents(s, dir), "text", 500)
    }),

    // Compression-ratio quality band: per-doc deflate/raw basis points —
    // the language-agnostic repetition/gibberish filter. No SQL engine
    // mirrors deflate, so the query emits a consistency-gate row per doc
    // (r14, the last no_oracle entry — VERDICT r13 #3) on deflate's
    // statable invariants, each margin MEASURED before gating (BASELINE.md
    // round-14 first wave):
    //   ceiling — deflate_bytes <= zlib's documented compressBound(raw)
    //     = raw + raw>>12 + raw>>14 + raw>>25 + 13 (measured margin >= 7B);
    //   floor — deflate_bytes >= 7 for non-empty input (2B zlib header +
    //     >= 1B block + 4B adler; measured min 44);
    //   doubling — for raw < 30000 (inside the 32KB LZ77 window minus the
    //     262B match guard) the second copy of text||text is coverable by
    //     ceil(raw/258) max-length back-references, so dbl_bytes <=
    //     deflate_bytes + ceil(raw/258)*5 + 64 (measured slack max 4; 64
    //     is 16x margin yet far below the ~raw-sized blowup of a broken
    //     match finder or stored-block fallback);
    //   empty/null — deflate_bytes == 0 by the operator's contract.
    // raw_bytes itself is value-compared against the mirror's strlen. The
    // production ratio_bp path still runs in full (ok conjoins on it).
    query("q_compress_ratio")(
      // consistency gate: deflate has no SQL-engine mirror, so the flag
      // conjoins zlib's compressBound ceiling, the 7-byte wrapper floor, the
      // ratio_bp projection identity, and the sub-window self-concatenation
      // back-reference bound (margins measured, BASELINE.md round-14 first
      // wave); the mirror states the flag and recomputes the raw byte length
      // exactly
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS raw_bytes,
           CAST(1 AS INT) AS ok
         FROM documents ORDER BY doc_id""")((s, dir) => {
      val sig = TextAnalysis.compressionSignals(
        Tables.documents(s, dir), "doc_id", "text")
      val bound = col("raw_bytes") + shiftright(col("raw_bytes"), 12) +
        shiftright(col("raw_bytes"), 14) + shiftright(col("raw_bytes"), 25) +
        lit(13L)
      val refBudget = ceil(col("raw_bytes").cast("double") / 258.0)
        .cast("long") * 5L
      sig.select(col("doc_id"), col("raw_bytes"),
        when(col("raw_bytes").isNull, 1)  // NULL text: mirror row is NULL too
          .when(col("raw_bytes") === 0,
            when(col("deflate_bytes") === 0, 1).otherwise(0))
          .otherwise(when(
            col("deflate_bytes") >= 7 && col("deflate_bytes") <= bound
              && col("ratio_bp") ===
                expr("(deflate_bytes * 10000) div raw_bytes")
              && (col("raw_bytes") >= 30000 ||
                col("dbl_bytes") <= col("deflate_bytes") + refBudget + 64),
            1).otherwise(0)).as("ok"))
        .orderBy("doc_id")
    }),

    // Production twin of q_count_min: xxhash64 buckets instead of the md5
    // parity hash — the hash IS the dominant cost of the parity sketch
    // (one md5 per occurrence per row). The raw cells have no DuckDB
    // analog, so the query emits the count-min THEOREM as a per-key gate
    // (r13, the VERDICT r12 #4 pattern): for ANY hash choice a correct
    // sketch satisfies exact <= estimate <= total occurrences (cells only
    // ever add occurrences; the min of d cells is bounded by any one
    // cell's total). The mirror states the flag + the exact counts; a
    // broken min/indexing/overflow path underestimates some key and
    // hash-mismatches.
    query("q_count_min_prod")(
      // consistency gate (r13): the mirror recomputes the exact counts and
      // states the count-min theorem flag (exact <= estimate <= total),
      // which holds for ANY correct sketch regardless of hash choice
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                      FROM documents)
         SELECT token, CAST(count(*) AS BIGINT) AS n_exact, CAST(1 AS INT) AS ok
         FROM tok GROUP BY token ORDER BY token""")((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
      val sk = operators.Sketch.countMinBuild(tok, "token", d = 3, w = 16,
        oracleParity = false)
      val exact = tok.groupBy("token").agg(count(lit(1)).as("n_exact"))
      exact.join(
          operators.Sketch.countMinEstimate(sk, tok, "token", d = 3, w = 16,
            oracleParity = false),
          Seq("token"))
        .crossJoin(broadcast(tok.agg(count(lit(1)).as("n_total"))))
        .select(col("token"), col("n_exact"),
          when(col("n_est") >= col("n_exact") &&
              col("n_est") <= col("n_total"), 1).otherwise(0).as("ok"))
        .orderBy("token")
    }),

    // PMI collocations: top adjacent word pairs by pointwise mutual
    // information as exact floor-scaled integers (monotone log-free
    // surrogate n_ab*N^2/(n_a*n_b*B)) — phrase discovery for tokenizer
    // vocab seeding; TakeOrdered top-k, never a global window.
    query("q_collocations")(
      """WITH tk AS (SELECT string_split(text, ' ') AS ts FROM documents),
         uni AS (SELECT unnest(ts) AS t FROM tk),
         big AS (SELECT ts[p] AS w1, ts[p + 1] AS w2
                 FROM (SELECT ts, unnest(range(1, len(ts))) AS p FROM tk)),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM uni),
         bb AS (SELECT CAST(count(*) AS BIGINT) AS B FROM big),
         cu AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY t),
         cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_ab
                FROM big GROUP BY w1, w2 HAVING count(*) >= 5),
         j AS (SELECT w1, w2, n_ab, a.c AS n_a, b.c AS n_b, N, B
               FROM cb JOIN cu a ON a.t = w1 JOIN cu b ON b.t = w2, nn, bb)
         SELECT w1, w2, n_ab, n_a, n_b,
           (n_ab * N * N * 10000) // (n_a * n_b * B) AS pmi_bp
         FROM j ORDER BY pmi_bp DESC, w1, w2 LIMIT 100""")((s, dir) => {
      TextAnalysis.collocations(Tables.documents(s, dir), "text",
        minCount = 5, topK = 100)
    }),

    // Count-min sketch audit: token frequencies estimated from a 3x16
    // counter table (deliberately under-sized so collisions are visible),
    // joined against the exact counts — n_est >= n_exact on every row is
    // the sketch's guarantee; the overestimate column is the collision
    // mass. At 100 TB the d*w-cell sketch replaces the full distinct-key
    // aggregation and merges across shards by cell-wise addition.
    query("q_count_min")(
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY t),
         h AS (SELECT t, n, r,
             ('0x' || substr(md5(r || '_' || t), 1, 15))::BIGINT % 16 AS b
           FROM cnt, range(3) rr(r)),
         sk AS (SELECT r, b, CAST(sum(n) AS BIGINT) AS c FROM h GROUP BY r, b),
         est AS (SELECT t, n, min(c) AS e FROM h JOIN sk USING (r, b)
                 GROUP BY t, n)
         SELECT t AS token, n AS n_exact, e AS n_est, e - n AS overest
         FROM est ORDER BY token""")((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
      val sk = operators.Sketch.countMinBuild(tok, "token", d = 3, w = 16)
      val exact = tok.groupBy("token").agg(count(lit(1)).as("n_exact"))
      exact.join(
          operators.Sketch.countMinEstimate(sk, tok, "token", d = 3, w = 16),
          Seq("token"))
        .select(col("token"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("overest"))
        .orderBy("token")
    }),

    // PII scrub pass: count + redact emails / phone numbers / SSNs — pure
    // codegen'd regexp projection, zero shuffle. Deterministic synthetic PII
    // is appended per doc (like the image/audio fixtures) so the oracle
    // verifies actual matches, not just no-op passes over clean text.
    query("q_pii_redact")(
      // DuckDB's RE2 and Spark's Java regex agree on these restricted
      // patterns (no backrefs/lookaround) — see TextAnalysis PII patterns
      """WITH p AS (SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com or +1-555-01'
                || doc_id || ' ssn 123-45-6789' AS t
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\+\d{1,3}-\d{3}-\d{2,10}\b')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssns,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\+\d{1,3}-\d{3}-\d{2,10}\b', '[PHONE]', 'g'),
             '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g') AS redacted
         FROM p ORDER BY doc_id""")((s, dir) => {
      val docs = Tables.documents(s, dir)
      val withPii = docs.select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1-555-01"),
          col("doc_id"), lit(" ssn 123-45-6789")).as("text"))
      TextAnalysis.redactPii(withPii, "doc_id", "text").orderBy("doc_id")
    }),

    // Gopher-style repetition filters: top-bigram mass fraction + distinct
    // token ratio (degenerate/machine-generated text detection).
    query("q_repetition")(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         bg AS (SELECT doc_id,
                  unnest(list_transform(range(greatest(len(w) - 1, 0)),
                    i -> w[i + 1] || ' ' || w[i + 2])) AS b
                FROM t),
         c AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY doc_id, b),
         agg AS (SELECT doc_id, max(n) AS mx, sum(n) AS tot FROM c GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(coalesce(agg.tot, 0) AS INT) AS n_bigrams,
           CASE WHEN coalesce(agg.tot, 0) > 0
                THEN floor(CAST(agg.mx AS DOUBLE) / agg.tot * 10000) / 10000
                ELSE 0.0 END AS top_bigram_frac,
           floor(CAST(len(list_distinct(w)) AS DOUBLE) / len(w) * 10000) / 10000
             AS distinct_ratio
         FROM t LEFT JOIN agg ON agg.doc_id = t.doc_id
         ORDER BY t.doc_id""")((s, dir) => {
      TextAnalysis.repetitionScores(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Canonical text normalization before hashing (lowercase, collapse
    // whitespace, trim) + the fingerprint of the normalized form — keeps
    // trivially-reformatted copies from escaping exact dedup.
    query("q_normalize")(
      """SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_raw,
           CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS INT)
             AS n_chars_norm,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_fp
         FROM documents ORDER BY doc_id""")((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).as("n_chars_raw"),
          length(TextAnalysis.normalizeText(col("text"))).as("n_chars_norm"),
          md5(TextAnalysis.normalizeText(col("text"))).as("norm_fp"))
        .orderBy("doc_id")
    }),

    // Unigram-rarity surprisal proxy (CCNet-style vocabulary-quality
    // signal, log-free integer rarities): flags both boilerplate (low) and
    // gibberish (high) tails. One explode + vocab-sized count + one join.
    query("q_surprisal")(
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                      FROM documents),
         c AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
         st AS (SELECT CAST(count(*) AS BIGINT) AS S FROM tok),
         r AS (SELECT doc_id, (1000000 * S) // c.c AS rarity
               FROM tok JOIN c USING (t) CROSS JOIN st)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(rarity) AS BIGINT) AS sum_rarity,
           CAST(sum(rarity) AS BIGINT) // count(*) AS mean_rarity
         FROM r GROUP BY doc_id ORDER BY doc_id""")((s, dir) => {
      TextAnalysis.unigramSurprisal(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Bigram conditional surprisal: exact-integer inverse p(w2|w1) per
    // adjacent pair — the count-based LM perplexity filter signal, log-free
    // so the oracle reproduces it bit-for-bit. Two distinct-gram-sized
    // count tables, no positional self-join.
    query("q_bigram_lm")(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         bg AS (SELECT doc_id, toks[pos] || ' ' || toks[pos + 1] AS bg,
                  toks[pos] AS w1
                FROM (SELECT doc_id, toks,
                        unnest(range(1, len(toks))) AS pos FROM t)),
         cb AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM bg GROUP BY bg),
         cl AS (SELECT w1, CAST(count(*) AS BIGINT) AS cl FROM bg GROUP BY w1),
         r AS (SELECT doc_id, (1000000 * cl) // cb AS rarity
               FROM bg JOIN cb USING (bg) JOIN cl USING (w1))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_big,
           CAST(sum(rarity) AS BIGINT) AS sum_rarity,
           CAST(sum(rarity) AS BIGINT) // count(*) AS mean_rarity
         FROM r GROUP BY doc_id ORDER BY doc_id""")((s, dir) => {
      TextAnalysis.bigramSurprisal(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // CCNet-style trigram stupid-backoff filter: the LM is counted on the
    // curated src0 slice only and scores the WHOLE corpus (model-on-trusted,
    // score-the-crawl); exact-integer backoff rarities (alpha = 2/5), one
    // model join per corpus position triple. Docs < 3 tokens drop out.
    query("q_lm_backoff")(
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         rt AS (SELECT string_split(text, ' ') AS toks
                FROM documents WHERE source = 'src0'),
         ru AS (SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT AS ku
                FROM (SELECT unnest(toks) AS t FROM rt)),
         cu AS (SELECT ku, CAST(count(*) AS BIGINT) AS cu FROM ru GROUP BY ku),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS T FROM ru),
         rb AS (SELECT
             ('0x' || substr(md5(toks[pos] || ' ' || toks[pos + 1]), 1, 15))::BIGINT AS kb,
             ('0x' || substr(md5(toks[pos]), 1, 15))::BIGINT AS kl
           FROM (SELECT toks, unnest(range(1, len(toks))) AS pos FROM rt)),
         cb AS (SELECT kb, CAST(count(*) AS BIGINT) AS cb FROM rb GROUP BY kb),
         cl AS (SELECT kl, CAST(count(*) AS BIGINT) AS cl FROM rb GROUP BY kl),
         r3 AS (SELECT
             ('0x' || substr(md5(toks[pos] || ' ' || toks[pos + 1] || ' ' || toks[pos + 2]), 1, 15))::BIGINT AS k3,
             ('0x' || substr(md5(toks[pos] || ' ' || toks[pos + 1]), 1, 15))::BIGINT AS kc
           FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS pos FROM rt)),
         ct AS (SELECT k3, CAST(count(*) AS BIGINT) AS ct FROM r3 GROUP BY k3),
         cc AS (SELECT kc, CAST(count(*) AS BIGINT) AS cc FROM r3 GROUP BY kc),
         p AS (SELECT doc_id,
             ('0x' || substr(md5(toks[pos] || ' ' || toks[pos + 1] || ' ' || toks[pos + 2]), 1, 15))::BIGINT AS k3,
             ('0x' || substr(md5(toks[pos] || ' ' || toks[pos + 1]), 1, 15))::BIGINT AS kc,
             ('0x' || substr(md5(toks[pos + 1] || ' ' || toks[pos + 2]), 1, 15))::BIGINT AS kb,
             ('0x' || substr(md5(toks[pos + 1]), 1, 15))::BIGINT AS kl,
             ('0x' || substr(md5(toks[pos + 2]), 1, 15))::BIGINT AS ku
           FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS pos FROM t)),
         s AS (SELECT doc_id,
             CASE WHEN ct IS NOT NULL THEN 3
                  WHEN cb IS NOT NULL THEN 2
                  WHEN cu IS NOT NULL THEN 1 ELSE 0 END AS level,
             CASE WHEN ct IS NOT NULL THEN (1000000 * cc) // ct
                  WHEN cb IS NOT NULL THEN ((1000000 * cl) // cb) * 5 // 2
                  WHEN cu IS NOT NULL THEN ((1000000 * T) // cu) * 25 // 4
                  ELSE (1000000 * (T + 1)) * 25 // 4 END AS rarity
           FROM p LEFT JOIN ct USING (k3) LEFT JOIN cc USING (kc)
             LEFT JOIN cb USING (kb) LEFT JOIN cl USING (kl)
             LEFT JOIN cu USING (ku) CROSS JOIN tt)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(CASE WHEN level = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
           CAST(sum(CASE WHEN level = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
           CAST(sum(CASE WHEN level = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
           CAST(sum(CASE WHEN level = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(sum(rarity) AS BIGINT) AS sum_rarity,
           CAST(sum(rarity) AS BIGINT) // count(*) AS mean_rarity
         FROM s GROUP BY doc_id ORDER BY doc_id""")((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.backoffSurprisal(docs,
          docs.filter(col("source") === "src0"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Per-source token-distribution drift vs the corpus: exact-integer
    // total-variation distance (decimal(38,0) arithmetic) + vocabulary
    // shape (type count, hapax ratio) — the crawl-snapshot monitoring /
    // mixing-weight diagnostic.
    query("q_source_drift")(
      // HUGEINT mirrors the Spark side's exact decimal(38,0) TV arithmetic
      """WITH tok AS (SELECT source, ('0x' || substr(md5(t), 1, 15))::BIGINT AS k
                      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
                            FROM documents)),
         gcnt AS (SELECT source, k, CAST(count(*) AS BIGINT) AS cs
                  FROM tok GROUP BY 1, 2),
         ccnt AS (SELECT k, CAST(sum(cs) AS BIGINT) AS c FROM gcnt GROUP BY 1),
         gtot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns,
                    CAST(count(*) AS BIGINT) AS n_types,
                    CAST(sum(CASE WHEN cs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
                  FROM gcnt GROUP BY 1),
         nt AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM gtot),
         pg AS (SELECT g.source,
                  sum(abs(g.cs::HUGEINT * nt.n - c.c::HUGEINT * t.ns)) AS num1,
                  sum(c.c::HUGEINT) AS cmass, max(nt.n::HUGEINT) AS n
                FROM gcnt g JOIN ccnt c USING (k) JOIN gtot t USING (source)
                  CROSS JOIN nt
                GROUP BY 1)
         SELECT t.source, t.ns AS n_tokens, t.n_types, t.hapax,
           CAST((10000 * t.hapax) // t.n_types AS BIGINT) AS hapax_bp,
           CAST(((p.num1 + t.ns::HUGEINT * (p.n - p.cmass)) * 5000)
                // (p.n * t.ns::HUGEINT) AS BIGINT) AS tv_bp
         FROM pg p JOIN gtot t USING (source) ORDER BY source""")((s, dir) =>
      TextAnalysis.distributionDrift(Tables.documents(s, dir),
        "source", "text")),

    // Distributed BPE tokenizer training: 16 merge rounds over the
    // frequency-weighted distinct-word dictionary (the corpus is scanned
    // once); the merge table is the learned vocabulary artifact.
    query("q_bpe_train")(bpeMergeTableSql(16))((s, dir) => {
      operators.Bpe.train(Tables.documents(s, dir), "text", nMerges = 16)
        .orderBy("step")
    }),

    // Batched BPE: up to 8 provably-safe merges per shuffle + driver
    // round-trip — the production-vocab scale path (one round per merge
    // is infeasible at 30k merges). The disjoint-prefix selection makes
    // the output BIT-IDENTICAL to sequential train, so the oracle is the
    // same sequential merge-CTE mirror (BpeSpec also asserts multi-merge
    // rounds actually occur on this corpus).
    query("q_bpe_train_batched")(bpeMergeTableSql(16))((s, dir) => {
      operators.Bpe.trainBatched(Tables.documents(s, dir), "text",
          nMerges = 16, maxBatch = 8)
        .orderBy("step")
    }),

    // Production-scale batched BPE (VERDICT r9 #4): 256 merges — enough to
    // show the batch factor 16 can't (realized rounds: 78 at sf0.01 / 83
    // at sf0.1 = ~31% of sequential; the disjoint-prefix constraint binds
    // before maxBatch, so avg batch ≈ 3.3 merges/round on this corpus).
    // Bit-identical to sequential train by the same proof, so the oracle
    // is the 256-step sequential merge-CTE mirror.
    query("q_bpe_train_prod")(bpeMergeTableSql(256))((s, dir) => {
      operators.Bpe.trainBatched(Tables.documents(s, dir), "text",
          nMerges = 256, maxBatch = 8)
        .orderBy("step")
    }),

    // Apply the learned merges corpus-wide: per-doc char vs BPE token
    // counts — the compression audit of the trained vocabulary (the 16
    // merges ride along as replace literals; one corpus scan).
    query("q_bpe_encode")(
      s"""WITH ${bpeCtes(16)},
         enc AS (SELECT doc_id, word FROM (
             SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
             FROM documents)
           WHERE regexp_matches(word, '^[a-z]+${"$"}')),
         etok AS (SELECT doc_id, CAST(length(word) AS BIGINT) AS n_char,
             CAST(len(string_split(trim(${(0 until 16).foldLeft(
               "chr(1) || array_to_string(regexp_extract_all(word, '.'), chr(1)||chr(1)) || chr(1)") {
             (acc, i) =>
               s"""replace($acc,
                  (SELECT chr(1)||l||chr(1)||chr(1)||r||chr(1) FROM b$i),
                  (SELECT chr(1)||l||r||chr(1) FROM b$i))"""
           }}, chr(1)), chr(1)||chr(1))) AS BIGINT) AS n_tok
           FROM enc)
         SELECT doc_id, CAST(sum(n_char) AS BIGINT) AS chars,
           CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
           CAST(count(*) AS BIGINT) AS words
         FROM etok GROUP BY doc_id ORDER BY doc_id""")((s, dir) => {
      val docs = Tables.documents(s, dir)
      val m = operators.Bpe.train(docs, "text", nMerges = 16)
        .orderBy("step").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      operators.Bpe.encode(docs, "doc_id", "text", m).orderBy("doc_id")
    }),

    // Per-source quality deciles: ntile(10) of the integer stopword
    // permille within each source — the "keep the top 30% of every
    // source" primitive; exact-integer key so bucket boundaries are
    // bit-identical across engines.
    query("q_quality_buckets")(
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                    FROM documents),
         k AS (SELECT doc_id, source,
                 CAST((10000 * len(list_filter(toks,
                     x -> x IN ('the','a','and','of','to','in'))))
                   // len(toks) AS BIGINT) AS q_key
               FROM t)
         SELECT doc_id, source, q_key,
           CAST(ntile(10) OVER (PARTITION BY source
                                ORDER BY q_key DESC, doc_id) AS BIGINT)
             AS q_bucket
         FROM k ORDER BY doc_id""")((s, dir) => {
      TextAnalysis.qualityBuckets(Tables.documents(s, dir),
          "doc_id", "text", "source", nBuckets = 10)
        .orderBy("doc_id")
    }),

    // Per-document keyword extraction: top-3 non-stopword tokens by count,
    // token-text tie-break; per-doc window, no global ordering.
    query("q_keywords")(
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                     FROM documents),
         c AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS n FROM tk
               WHERE token <> '' AND token NOT IN ('the','a','and','of','to','in')
               GROUP BY doc_id, token),
         r AS (SELECT doc_id, token, n,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, token) AS INT) AS rank
           FROM c)
         SELECT doc_id, rank, token, n FROM r WHERE rank <= 3
         ORDER BY doc_id, rank""")((s, dir) => {
      TextAnalysis.topKeywords(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    }),

    // BM25 retrieval against a query-term set (targeted data selection /
    // decontamination triage): integer-rational scoring (k1=6/5, b=3/4,
    // log-free idf surrogate) so DuckDB reproduces every score
    // bit-for-bit; corpus-sized scan, query-term-sized shuffle, TakeOrdered
    // top-k.
    query("q_bm25")(
      s"""WITH $bm25RankCtes
         SELECT rank, doc_id, score, dl FROM r WHERE rank <= 20 ORDER BY rank""")((s, dir) => {
      TextAnalysis.bm25Rank(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "window", "customer", "vector"), topK = 20)
        .orderBy("rank")
    }),

    // Hybrid sparse+dense retrieval: RRF-fuse the BM25 term ranking with
    // the brute-cosine neighbor ranking for query vector 0 (documents and
    // embeddings share the 0..N-1 id domain). Integer scale div (k+rank)
    // contributions make the fused ranking bit-exact across engines; the
    // fusion itself is a unionAll + one keyed sum over two top-20 lists.
    query("q_hybrid_rank")(
      // BM25 top-20 RRF-fused with the cosine top-20 for query vector 0:
      // contribution 1e9 // (60+rank)
      s"""WITH $bm25ScoreCtes,
         agg AS (SELECT doc_id, CAST(sum(score_t) AS BIGINT) AS score
                 FROM sc GROUP BY doc_id, dl),
         bmr AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
                   AS rank, doc_id FROM agg),
         dscored AS (SELECT c.vec_id AS nid,
             ${cosSql("q.embedding", "c.embedding")} AS sim
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id = 0),
         dr AS (SELECT CAST(row_number() OVER (ORDER BY sim DESC, nid) AS INT)
                  AS rank, nid AS doc_id FROM dscored),
         u AS (SELECT doc_id, 1000000000 // (60 + CAST(rank AS BIGINT)) AS c
               FROM bmr WHERE rank <= 20
               UNION ALL
               SELECT doc_id, 1000000000 // (60 + CAST(rank AS BIGINT))
               FROM dr WHERE rank <= 20),
         f AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
                 CAST(count(*) AS INT) AS n_lists
               FROM u GROUP BY doc_id),
         rk AS (SELECT CAST(row_number() OVER
                  (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank,
                 doc_id, rrf_score, n_lists FROM f)
         SELECT rank, doc_id, rrf_score, n_lists FROM rk
         WHERE rank <= 20 ORDER BY rank""")((s, dir) => {
      val sparse = TextAnalysis.bm25Rank(Tables.documents(s, dir), "doc_id",
          "text", Seq("spark", "window", "customer", "vector"), topK = 20)
        .select(col("doc_id"), col("rank"))
      val e = Tables.embeddings(s, dir)
      val dense = Similarity.annTopK(e, e.filter(col("vec_id") === 0),
          "vec_id", "embedding", 20)
        .select(col("nid").as("doc_id"), col("rank"))
      Rank.rrfFuse(Seq(sparse, dense), "doc_id", "rank", k = 60, topK = 20)
        .orderBy("rank")
    }),

    // Production BM25 twin: textbook double-precision ln-idf scoring.
    // Cross-engine ln() parity is not guaranteed at the last ulp, so the
    // raw scores carry no oracle; instead the query emits the PARITY
    // ranking (which the mirror recomputes exactly) with a per-rank
    // rank-agreement gate against the production ranking (VERDICT r12 #4):
    // ok = the parity-rank-r doc appears in the production top-25 within
    // +-2 ranks. Measured before gating (BASELINE.md round-13 second
    // wave): the two rankings agree EXACTLY (20/20 identical ranks) at
    // sf0.01 and sf0.1, so the
    // +-2 band is pure safety margin for near-ties. The production scoring
    // still runs in full.
    query("q_bm25_prod")(
      // consistency gate (VERDICT r12 #4): the mirror recomputes (rank,
      // doc_id, dl) exactly and states the rank-agreement flag invariant —
      // the ln-idf production ranking drifting more than +-2 ranks (or out
      // of its top-25) hash-mismatches
      s"""WITH $bm25RankCtes
         SELECT rank, doc_id, dl, CAST(1 AS INT) AS ok
         FROM r WHERE rank <= 20 ORDER BY rank""")((s, dir) => {
      val docs = Tables.documents(s, dir)
      val terms = Seq("spark", "window", "customer", "vector")
      val prod = TextAnalysis.bm25Rank(docs, "doc_id", "text", terms,
          topK = 25, logIdf = true)
        .select(col("doc_id"), col("rank").as("r_prod"))
      TextAnalysis.bm25Rank(docs, "doc_id", "text", terms, topK = 20)
        .join(prod, Seq("doc_id"), "left")
        .select(col("rank"), col("doc_id"), col("dl"),
          when(col("r_prod").isNotNull &&
              abs(col("r_prod") - col("rank")) <= 2, 1)
            .otherwise(0).as("ok"))
        .orderBy("rank")
    }),

    // Length-percentile trimming (drop <p05 / >p95 token-count tails).
    // Thresholds via the distinct-length histogram + integer k-th-smallest
    // arithmetic; the corpus side stays a pure broadcast-filter.
    query("q_length_filter")(
      """WITH l AS (SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tok FROM documents),
         h AS (SELECT n_tok, count(*) AS cnt FROM l GROUP BY n_tok),
         c AS (SELECT n_tok, sum(cnt) OVER (ORDER BY n_tok
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM h),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM l),
         lo AS (SELECT min(n_tok) AS lo_tok FROM c, t WHERE cum >= (5*n + 99) // 100),
         hi AS (SELECT min(n_tok) AS hi_tok FROM c, t WHERE cum >= (95*n + 99) // 100)
         SELECT l.doc_id, l.n_tok, lo.lo_tok, hi.hi_tok
         FROM l, lo, hi WHERE l.n_tok >= lo_tok AND l.n_tok <= hi_tok
         ORDER BY doc_id""")((s, dir) => {
      TextAnalysis.lengthPercentileTrim(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Tokenizer application: encode every document against the built
    // top-20 vocabulary (dense ids in count-desc order, 0 = OOV — the
    // corpus has >20 distinct tokens, so OOV rows are non-vacuous).
    // Vocab is bounded -> broadcast join; corpus side never shuffles.
    query("q_tokenize")(
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t
               WHERE token <> '' GROUP BY token),
         v AS (SELECT token,
                 CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS token_id
               FROM (SELECT * FROM c ORDER BY n DESC, token LIMIT 20)),
         tk AS (SELECT doc_id, toks, unnest(range(len(toks))) AS pos
                FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         e AS (SELECT doc_id, CAST(pos AS INT) AS pos, toks[pos + 1] AS token FROM tk)
         SELECT e.doc_id, e.pos, CAST(coalesce(v.token_id, 0) AS INT) AS token_id
         FROM e LEFT JOIN v USING (token) ORDER BY doc_id, pos""")((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.tokenize(d, "doc_id", "text",
          TextAnalysis.vocabIds(d, "text", 20))
        .orderBy("doc_id", "pos")
    }),

    // Tokenizer-coverage audit: per-source OOV rate (integer basis
    // points) under the same top-20 vocabulary q_tokenize applies — the
    // fit report read before committing a vocab corpus-wide. The small
    // vocab keeps OOV non-vacuous on the synthetic corpus.
    query("q_oov_rate")(
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t
               WHERE token <> '' GROUP BY token),
         v AS (SELECT token FROM (SELECT * FROM c ORDER BY n DESC, token LIMIT 20)),
         toks AS (SELECT source, unnest(string_split(text, ' ')) AS token
                  FROM documents),
         f AS (SELECT source,
                 CASE WHEN token IN (SELECT token FROM v) THEN 0 ELSE 1 END AS oov
               FROM toks WHERE token <> '')
         SELECT source, CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           CAST(sum(oov) * 10000 // count(*) AS BIGINT) AS oov_bp
         FROM f GROUP BY source ORDER BY source""")((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.oovRate(d, "source", "text",
          TextAnalysis.vocabIds(d, "text", 20))
        .orderBy("source")
    }),

    // Seed-labeled linear classifier (the CCNet/fastText trained-filter
    // stage): the doc_id % 5 == 0 slice trains exact-integer
    // likelihood-ratio token weights against the is-English label; the
    // other 4/5 of the corpus is scored by one broadcast join. The
    // BIGINT cast is presentation-layer (the operator carries
    // decimal(38,0)); keep is decided on the exact decimal.
    query("q_quality_classifier")(qualityClassifierSql)((s, dir) =>
      operators.Classify.seedAndScore(Tables.documents(s, dir), "doc_id",
          "text", col("doc_id") % 5 === 0, col("lang") === "en")
        .withColumn("score", col("score").cast("long"))
        .orderBy("doc_id")),

    // The trained filter served from the STORED weight artifact — the
    // build/serve split the production deployment uses (train once
    // offline, every scorer loads the table). Training is deterministic,
    // so scoring through the parquet round-trip is bit-identical to the
    // inline chain (same oracle).
    query("q_quality_classifier_stored")(qualityClassifierSql)((s, dir) =>
      operators.Classify.scoreLinear(
          Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text",
          operators.Classify.loadWeights(s, classifierWeightsDir(s, dir)))
        .withColumn("score", col("score").cast("long"))
        .orderBy("doc_id")),

    // Held-out gate-quality audit of the trained filter (the q_lsh_recall
    // discipline applied to the supervised gate): score the doc_id%5==1
    // LABELED slice — which the %5==0 training never saw — against the
    // stored weights and report the keep-vs-label confusion with
    // floored-bp precision/recall/accuracy. On this label-randomized
    // synthetic corpus the audit correctly reports ~chance accuracy
    // (the q_centroid_confusion precedent) — its job is to be the number
    // a deployment checks before trusting the filter on the unlabeled
    // mass.
    query("q_classifier_eval")(
      s"""WITH $classifierWtsCtes,
         restf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                   FROM documents WHERE doc_id % 5 = 1),
         restc AS (SELECT * FROM restf WHERE token <> ''),
         sc AS (SELECT doc_id, coalesce(sum(w.w), 0::HUGEINT) AS score
                FROM restc r LEFT JOIN wts w USING (token) GROUP BY 1),
         ev AS (SELECT (d.lang = 'en') AS truth,
                  coalesce(sc.score > 0, false) AS keep
                FROM documents d LEFT JOIN sc USING (doc_id)
                WHERE d.doc_id % 5 = 1),
         cm AS (SELECT
             CAST(sum(CASE WHEN keep AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN keep AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN NOT keep AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN NOT keep AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn
           FROM ev)
         SELECT tp, fp, fn, tn,
           tp * 10000 // (tp + fp) AS precision_bp,
           tp * 10000 // (tp + fn) AS recall_bp,
           (tp + tn) * 10000 // (tp + fp + fn + tn) AS accuracy_bp
         FROM cm""")((s, dir) =>
      operators.Classify.evaluate(
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 1),
        "doc_id", "text", col("lang") === "en",
        operators.Classify.loadWeights(s, classifierWeightsDir(s, dir))))
  )

  /** The scoring mirror of q_quality_classifier and its stored-weights
    * twin: [[classifierWtsCtes]] applied to every doc outside the seed slice. */
  private val qualityClassifierSql =
    s"""WITH $classifierWtsCtes,
       restf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents WHERE doc_id % 5 <> 0),
       restc AS (SELECT * FROM restf WHERE token <> ''),
       sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                coalesce(sum(w.w), 0::HUGEINT) AS score
              FROM restc r LEFT JOIN wts w USING (token) GROUP BY 1)
       SELECT doc_id, n_tok, CAST(score AS BIGINT) AS score,
         score > 0 AS keep
       FROM sc ORDER BY doc_id"""

  /** BPE training mirror (Bpe.train semantics): frequency-weighted
    * distinct-word dictionary, sentinel-encoded char tokens, then n merge
    * rounds — pair counts (the bigram_lm unnest(range) idiom), the
    * deterministic argmax b{i} (count desc, pair asc), and the
    * boundary-preserving sentinel replace. CTEs referenced twice are
    * MATERIALIZED (DuckDB-only syntax; plain inlining re-evaluates the
    * tok chain exponentially). */
  private def bpeCtes(n: Int): String = {
    val base = s"""words AS MATERIALIZED (
       SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
         SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
       WHERE regexp_matches(word, '^[a-z]+${"$"}') GROUP BY word),
     tok0 AS MATERIALIZED (SELECT chr(1) ||
         array_to_string(regexp_extract_all(word, '.'), chr(1)||chr(1)) ||
         chr(1) AS tokstr, cnt FROM words)"""
    val steps = (0 until n).map { i =>
      s"""p$i AS (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS c FROM (
           SELECT cnt, toks[pos] AS l, toks[pos+1] AS r FROM (
             SELECT cnt, toks, unnest(range(1, len(toks))) AS pos FROM (
               SELECT cnt, string_split(trim(tokstr, chr(1)), chr(1)||chr(1)) AS toks
               FROM tok$i)))
         GROUP BY l, r),
       b$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
       tok${i + 1} AS MATERIALIZED (SELECT replace(tokstr,
           chr(1)||l||chr(1)||chr(1)||r||chr(1), chr(1)||l||r||chr(1)) AS tokstr, cnt
         FROM tok$i, b$i)"""
    }
    (base +: steps).mkString(",\n")
  }

  /** The learned merge table `(step, l_tok, r_tok, cnt)` of [[bpeCtes]]`(n)`. */
  private def bpeMergeTableSql(n: Int): String =
    s"""WITH ${bpeCtes(n)}
         SELECT * FROM (${(0 until n).map(i =>
           s"SELECT CAST($i AS INT) AS step, l AS l_tok, r AS r_tok, c AS cnt FROM b$i")
           .mkString(" UNION ALL ")})
         ORDER BY step"""

  /** The parity BM25 chain of q_bm25, q_bm25_prod and q_hybrid_rank:
    * per-(doc, term) integer-rational scores `sc(doc_id, dl, score_t)` for
    * the four query terms (k1=6/5, b=3/4, log-free idf surrogate). */
  private val bm25ScoreCtes =
    """docs AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS dl,
             string_split(text, ' ') AS w FROM documents),
         st AS (SELECT CAST(count(*) AS BIGINT) AS N, CAST(sum(dl) AS BIGINT) AS S
                FROM docs),
         tf AS (SELECT doc_id, dl, t, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, dl, unnest(w) AS t FROM docs)
                WHERE t IN ('spark', 'window', 'customer', 'vector')
                GROUP BY doc_id, dl, t),
         dft AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                 FROM tf GROUP BY t),
         sc AS (SELECT doc_id, dl,
             (1000000 * (N - df + 1) * 22 * S * tf)
               // ((df + 1) * (10 * S * tf + 3 * S + 9 * dl * N)) AS score_t
           FROM tf JOIN dft USING (t) CROSS JOIN st)"""

  /** [[bm25ScoreCtes]] summed per doc and ranked: `r(rank, doc_id, score, dl)`. */
  private val bm25RankCtes =
    s"""$bm25ScoreCtes,
         agg AS (SELECT doc_id, dl, CAST(sum(score_t) AS BIGINT) AS score
                 FROM sc GROUP BY doc_id, dl),
         r AS (SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank,
                 doc_id, score, dl FROM agg)"""
}
