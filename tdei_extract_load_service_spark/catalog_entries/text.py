"""Text-analysis entries (north-star; operators/text.py).

Split out of the monolithic catalog.py (round-8 catalog diet, VERDICT
r7 #6). Importing this module registers its entries in
``catalog.REGISTRY``; the hub imports every family module at the end of
catalog.py, so ``from ...catalog import REGISTRY`` keeps working
unchanged. See catalog.py's module docstring for the determinism rules
every entry follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tdei_extract_load_service_spark import oracles as ORACLES
from tdei_extract_load_service_spark.catalog import (
    _query_vec,
    _read,
    _read_events,
    register,
)
from tdei_extract_load_service_spark.functions import timestamps as TS
from tdei_extract_load_service_spark.operators import relational as R
from tdei_extract_load_service_spark.operators.query_builder import (
    DynamicQueryBuilder,
)
from tdei_extract_load_service_spark.session import spread


# ---------------------------------------------------------------------------
# Text analysis (north-star; operators/text.py)
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    r"""
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+')) END AS n_ws_tokens,
           len(regexp_extract_all(text, '\p{L}+|\p{N}|[^\p{L}\p{N} \t\n\r\f\x0B]')) AS n_bpe_ish_tokens
    FROM documents
    """,
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens."""
    from tdei_extract_load_service_spark.operators import text as TX

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count_ws("text").alias("n_ws_tokens"),
        TX.token_count_bpe_ish("text").alias("n_bpe_ish_tokens"),
    )


@register(
    "text_quality",
    r"""
    WITH m AS (
      SELECT doc_id,
             string_split(text, ' ') AS words,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+')) END AS n_words,
             CASE WHEN len(text) > 0
                  THEN len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) / len(text)
                  ELSE 0.0 END AS punct_ratio
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_words, punct_ratio,
             CASE WHEN len(words) > 0
                  THEN list_sum(list_transform(words, w -> len(w))) / len(words)
                  ELSE 0.0 END AS avg_word_len,
             CASE WHEN len(words) > 0
                  THEN len(list_filter(words, w -> lower(w) IN ('the','a','and','of','to','is','in'))) / len(words)
                  ELSE 0.0 END AS stop_ratio
      FROM m
    )
    SELECT doc_id, n_words,
           ROUND(avg_word_len, 6) AS avg_word_len,
           ROUND(punct_ratio, 6) AS punct_ratio,
           ROUND(stop_ratio, 6) AS stopword_ratio,
           ROUND(0.3 * least(n_words / 100.0, 1.0)
                 + 0.2 * (CASE WHEN avg_word_len >= 3 AND avg_word_len <= 10 THEN 1.0 ELSE 0.5 END)
                 + 0.2 * (1.0 - least(punct_ratio * 5, 1.0))
                 + 0.3 * least(stop_ratio * 4, 1.0), 6) AS quality
    FROM r
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punctuation/stopword heuristics composed
    into one [0,1] score (the C4/Gopher-rule shape)."""
    from tdei_extract_load_service_spark.operators import text as TX
    from tdei_extract_load_service_spark.session import spread

    # single-row-group input: spread so the per-doc scoring uses all cores
    docs = spread(_read(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        TX.token_count_ws("text").alias("n_words"),
        F.round(TX.avg_word_length("text"), 6).alias("avg_word_len"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(TX.stopword_ratio("text"), 6).alias("stopword_ratio"),
        TX.quality_score("text").alias("quality"),
    )


@register(
    "text_langid",
    """
    WITH s AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    sc AS (
      SELECT doc_id,
        CASE WHEN len(w)>0 THEN len(list_filter(w, x -> x IN ('der','die','das','und','nicht','ist','ein')))/len(w) ELSE 0.0 END AS s_de,
        CASE WHEN len(w)>0 THEN len(list_filter(w, x -> x IN ('the','a','and','of','to','is','in')))/len(w) ELSE 0.0 END AS s_en,
        CASE WHEN len(w)>0 THEN len(list_filter(w, x -> x IN ('el','la','los','las','y','es','un')))/len(w) ELSE 0.0 END AS s_es,
        CASE WHEN len(w)>0 THEN len(list_filter(w, x -> x IN ('le','la','les','et','est','un','une')))/len(w) ELSE 0.0 END AS s_fr,
        CASE WHEN len(w)>0 THEN len(list_filter(w, x -> x IN ('的','是','了','在','我','有')))/len(w) ELSE 0.0 END AS s_zh
      FROM s
    )
    SELECT doc_id,
           CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_de = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
                WHEN s_en = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
                WHEN s_es = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
                WHEN s_fr = greatest(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM sc
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-overlap language ID (argmax over per-language stopword hit
    ratios, alphabetical tiebreak, 'und' when nothing matches)."""
    from tdei_extract_load_service_spark.operators import text as TX

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_id("text").alias("lang_pred"))


@register(
    "text_fingerprint",
    r"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\v]+'))), ' ')) AS fp
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint (md5 of the sorted distinct
    word set)."""
    from tdei_extract_load_service_spark.operators import text as TX

    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fp"))


@register("text_bm25_topk", ORACLES.bm25_topk_oracle_sql())
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed 4-term query (operators/text.py
    bm25_topk): filtered-postings tf, broadcast df + one-row corpus
    scalar, DECIMAL-summed per-term scores, TakeOrderedAndProject. The
    oracle recomputes the identical operation tree relationally (the
    query literals 2.2 / 0.25 are the Python-folded k1+1 / 1-b —
    bit-equal, asserted at operator build)."""
    from tdei_extract_load_service_spark.operators import text as TX

    # the oracle above hard-codes the folded literals; these folds are
    # exact in IEEE double, so both engines evaluate the same tree
    assert 1.2 + 1.0 == 2.2 and 1.0 - 0.75 == 0.25
    docs = spread(_read(spark, sf_dir, "documents"))
    return TX.bm25_topk(
        docs, "doc_id", "text", ["spark", "join", "window", "scan"], k=10
    )


@register(
    "text_pii_scrub",
    r"""
    WITH a AS (
      SELECT doc_id,
             text || ' reach u' || doc_id || '@mail.example.org call +1 (415) 555-01'
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                  || ' card 4111111111111' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS aug
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(aug, '\b[0-9]{13,19}\b')) AS n_card,
           len(regexp_extract_all(aug, '\+?[0-9][0-9()\-\s]{7,}[0-9]')) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(aug,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b[0-9]{13,19}\b', '<CARD>', 'g'),
               '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
    FROM a
    ORDER BY doc_id
    """,
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction certified end to end (operators/text.py redact_pii /
    pii_match_counts — implemented since r6, never entry-certified
    before): the fixture text is word-soup with no real PII, so each doc
    is AUGMENTED with deterministic doc_id-derived email/phone/card
    strings — built by the identical concat on both engines — then both
    engines count matches per pattern and hash the redacted text. That
    makes the oracle exercise the actual cross-dialect regex semantics
    (Java regex vs RE2: the PII_PATTERNS subset avoids lookaround /
    backrefs precisely so leftmost-first greedy matching agrees — this
    entry is the proof). Chained replacement order is PII_PATTERNS dict
    order on both sides (email, card, phone — card before phone because
    a card run also matches the looser phone shape).

    Scale shape: pure chained regexp_replace/regexp_count column
    expressions — JVM codegen, zero Python, embarrassingly parallel; at
    100 TB this is a map-only pass fused into whatever scan precedes
    it."""
    from tdei_extract_load_service_spark.operators import text as TX

    docs = spread(_read(spark, sf_dir, "documents"))
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" reach u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.org call +1 (415) 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" card 4111111111111"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        ).alias("aug"),
    )
    from tdei_extract_load_service_spark.session import sort_boundary

    sel = aug.select(
        "doc_id",
        *TX.pii_match_counts("aug"),
        F.md5(TX.redact_pii("aug")).alias("redacted_md5"),
    )
    # sort_boundary: the regex match/redact projection is the final
    # stage — without it the range sampler runs every regex twice (r13)
    return sort_boundary(sel, "doc_id").orderBy(F.col("doc_id").asc())


@register(
    "text_lm_score",
    r"""
    WITH inst AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg
      FROM documents, unnest(range(1, len(text))) AS t(i)
    ),
    tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM inst GROUP BY doc_id, bg),
    c2 AS (SELECT bg, SUM(tf) AS c2 FROM tf GROUP BY bg),
    c1 AS (SELECT substr(bg,1,1) AS a, SUM(c2) AS c1 FROM c2 GROUP BY 1),
    model AS (SELECT bg, c2, c1 FROM c2 JOIN c1 ON substr(bg,1,1) = c1.a)
    SELECT doc_id,
           ROUND(CAST(SUM(CAST(tf * ln(c2 / c1) AS DECIMAL(28,12))) AS DOUBLE)
                 / SUM(tf), 6) AS avg_logprob,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams
    FROM tf JOIN model USING (bg)
    GROUP BY doc_id
    """,
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-bigram LM quality scoring (operators/text.py
    lm_bigram_score): self-trained corpus model, mean per-position
    log-probability per document — the perplexity-proxy quality-filter
    primitive. The oracle recomputes the same model and score
    relationally; integer/integer division is true (double) division on
    both engines, and the per-position log terms are DECIMAL-summed."""
    from tdei_extract_load_service_spark.operators import text as TX

    docs = spread(_read(spark, sf_dir, "documents"))
    return TX.lm_bigram_score(docs, "doc_id", "text")


@register(
    "text_quality_classifier",
    r"""
    WITH m AS (
      SELECT doc_id,
             string_split(text, ' ') AS words,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+')) END AS n_words,
             CASE WHEN len(text) > 0
                  THEN len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) / len(text)
                  ELSE 0.0 END AS punct_raw
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             ROUND(least(n_words / 100.0, 1.0), 6) AS length_term,
             ROUND(CASE WHEN len(words) > 0
                   THEN list_sum(list_transform(words, w -> len(w))) / len(words)
                   ELSE 0.0 END, 6) AS avg_word_len,
             ROUND(punct_raw, 6) AS punct_ratio,
             ROUND(CASE WHEN len(words) > 0
                   THEN len(list_filter(words, w -> lower(w) IN ('the','a','and','of','to','is','in'))) / len(words)
                   ELSE 0.0 END, 6) AS stopword_ratio
      FROM m
    ),
    z AS (
      SELECT *,
             CAST(-200 * 1000000
                  + 220 * CAST(ROUND(length_term * 1000000, 0) AS BIGINT)
                  + 15 * CAST(ROUND(avg_word_len * 1000000, 0) AS BIGINT)
                  + -700 * CAST(ROUND(punct_ratio * 1000000, 0) AS BIGINT)
                  + 400 * CAST(ROUND(stopword_ratio * 1000000, 0) AS BIGINT)
               AS BIGINT) AS l8
      FROM f
    ),
    p AS (
      SELECT *,
             CAST(l8 AS DOUBLE) / 100000000.0 AS logit,
             0.5 + 0.5 * CAST(l8 AS DOUBLE)
                 / CAST(100000000 + abs(l8) AS DOUBLE) AS prob
      FROM z
    )
    SELECT doc_id AS id, length_term, avg_word_len, punct_ratio,
           stopword_ratio, logit, prob,
           CASE WHEN prob >= 0.5 THEN 'keep' ELSE 'drop' END AS label
    FROM p
    """,
)
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-model quality classifier (VERDICT r11 #8;
    operators/text.py quality_classifier): logistic weights as driver
    literals over the certified text_quality features — features rounded
    to 6 BEFORE weighting so the classifier inputs (and therefore the
    logit, probability and keep/drop decision) are bit-identical across
    engines; the link is the ALGEBRAIC sigmoid z/(1+|z|) because libm
    exp differs between JVM and DuckDB in the last ulp (measured: one
    sf0.001 doc flipped a ROUND(x,6) half-point — the text_readability
    lesson). One codegen projection; no shuffle, no UDF, no model
    runtime."""
    from tdei_extract_load_service_spark.operators import text as TX

    docs = spread(_read(spark, sf_dir, "documents"))
    return TX.quality_classifier(docs, "doc_id", "text")


@register(
    "text_bm25_topk_stored",
    r"""
    WITH dl AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+')) END AS dl
      FROM documents),
    scal AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl),
    tf AS (
      SELECT doc_id, t.term, COUNT(*) AS tf
      FROM documents, unnest(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+')) AS t(term)
      WHERE t.term IN ('spark', 'join', 'window', 'scan')
      GROUP BY doc_id, t.term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
    SELECT tf.doc_id,
           ROUND(CAST(SUM(CAST(
              ln(1.0 + (scal.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / scal.avgdl))
           AS DECIMAL(28,12))) AS DOUBLE), 6) AS bm25,
           COUNT(*) AS n_terms_hit
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN scal
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id ASC
    LIMIT 10
    """,
)
def q_text_bm25_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the stored inverted index (operators/text.py
    build_bm25_index / bm25_topk_stored) — the write-once serving
    architecture, text-retrieval twin of the stored PQ index: postings
    partitionBy(term_bucket), a query reads ONLY its terms' buckets
    (directory pruning, plan-audited), stored per-term df broadcast,
    identical score tree. Shares the INLINE entry's oracle — stored and
    inline must be bit-equal (also pinned in pytest)."""
    import os as _os

    from tdei_extract_load_service_spark.operators import text as TX

    src = _os.path.join(sf_dir, "documents.parquet")
    st = _os.stat(src)
    docs = spread(_read(spark, sf_dir, "documents"))
    path, n_docs, avgdl = TX.build_bm25_index(
        docs, "doc_id", "text",
        corpus_key=f"{src}:{st.st_size}:{st.st_mtime_ns}",
    )
    return TX.bm25_topk_stored(
        spark, path, n_docs, avgdl,
        ["spark", "join", "window", "scan"], k=10,
    )


@register(
    "text_readability",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(length(regexp_replace(text, '[ \t\n\r\f\v]', '', 'g'))
                  AS BIGINT) AS n_chars_eff,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '[ \t\n\r\f\v]+'))
                  END AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences
      FROM documents
    )
    SELECT doc_id, n_chars_eff, n_words, n_sentences,
           CASE WHEN n_words > 0
                THEN 4710000 * n_chars_eff // n_words
                     + 500000 * n_words // n_sentences - 21430000
           END AS ari_fp6
    FROM t
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index per document (operators/text.py
    readability_ari) — the grade-level proxy quality filters use when
    syllable counting is unavailable: 4.71*(chars/words) +
    0.5*(words/sentences) - 21.43 over exact integer counts
    (non-whitespace chars via the explicit ASCII class, whitespace
    tokens, [.!?]+ sentence runs floored at 1). Pure projection in
    whole-stage codegen; the score is FIXED-POINT BIGINT micro-units
    (4710000*c DIV w + 500000*w DIV s - 21430000) because the float form
    hit a genuine ROUND(x,6) half-point on fixture data (ari =
    32.2065625 exactly) where the engines' rounding modes diverge; blank
    docs yield NULL ari_fp6."""
    from tdei_extract_load_service_spark.operators.text import (
        readability_ari,
    )

    return readability_ari(
        spread(_read(spark, sf_dir, "documents")), "doc_id", "text"
    )


@register(
    "text_bpe_pairs",
    """
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
    p AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(word) - 1, 0)),
               i -> substr(word, i, 2))) AS pair,
             cnt
      FROM wc
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
    FROM p GROUP BY pair
    ORDER BY pair_count DESC, pair ASC
    LIMIT 30
    """,
)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration's merge table (operators/text.py
    bpe_pair_counts): corpus-weighted adjacent character-pair counts —
    the argmax of this table IS the merge a tokenizer trainer picks
    each round (Sennrich et al. 2016). The corpus collapses to its
    word-frequency table first (the standard trick that makes every
    later iteration corpus-size-independent), then per-distinct-word
    bigram positions weighted by frequency. Two map-side-combinable
    aggregations, no UDF; LIMIT rides the unique pair tiebreak."""
    from tdei_extract_load_service_spark.operators.text import bpe_pair_counts

    return bpe_pair_counts(_read(spark, sf_dir, "documents"), "text", top_k=30)


@register(
    "text_dsir_select",
    """
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
               i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS ng
      FROM documents
    ),
    occ AS (
      SELECT doc_id, is_t,
             CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) % 128 AS bucket
      FROM toks
    ),
    f AS (
      SELECT doc_id, is_t, bucket, COUNT(*) AS f FROM occ GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT bucket, SUM(f) AS r_cnt,
             SUM(CASE WHEN is_t THEN f ELSE 0 END) AS t_cnt
      FROM f GROUP BY 1
    ),
    tot AS (SELECT SUM(r_cnt) AS r_tot, SUM(t_cnt) AS t_tot FROM w),
    wt AS (
      SELECT bucket,
             CAST(((t_cnt + 1) * 1000000000) // (t_tot + 128) AS BIGINT) AS pt,
             CAST(((r_cnt + 1) * 1000000000) // (r_tot + 128) AS BIGINT) AS pr
      FROM w, tot
    ),
    s AS (
      SELECT f.doc_id,
             CAST(SUM(f.f * (wt.pt - wt.pr)) AS BIGINT) AS dsir_score
      FROM f JOIN wt USING (bucket) GROUP BY 1
    )
    SELECT s.doc_id, d.lang, s.dsir_score
    FROM s JOIN documents d ON s.doc_id = d.doc_id
    ORDER BY s.dsir_score DESC, s.doc_id ASC
    LIMIT 50
    """,
)
def q_text_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (operators/text.py dsir_scores): rank
    the corpus by hashed-bigram importance weight against the trusted
    slice (``lang = 'en'`` stands in for the paper's target domain) and
    keep the top 50. The weight is the integer fixed-point probability
    difference over 128 md5-hashed buckets with add-one smoothing — the
    exact-arithmetic surrogate for the paper's log-likelihood ratio
    (quality_classifier's algebraic-sigmoid lesson), so the ORACLE
    restates the entire estimator: token stream, bucket hash, both
    distributions, every weight, every score, and the selection cut.
    ``lang`` rides along to make the selection's domain shift visible
    in the certified output. Scale shape: one (doc, bucket) hash-agg
    is the only corpus-keyed shuffle; weights are a broadcast
    128-row dim; the cut is a TakeOrdered, never a global sort; the
    lang join BROADCASTS the 50 selected ids back onto the corpus."""
    from tdei_extract_load_service_spark.operators.text import dsir_scores

    docs = _read(spark, sf_dir, "documents")
    # ``lang`` rides the (doc, bucket) profile aggregation (keep=) — the
    # former broadcast-top-50 join back onto the corpus was a SECOND
    # full fact scan just to recover a column the profile pass already
    # read (guide §2.4; r14). The TakeOrdered cut emits a single
    # partition, so the final declared ordering is a local sort — no
    # sort_boundary needed anymore.
    scores = dsir_scores(
        docs, "doc_id", "text", target=F.col("lang") == "en",
        keep=("lang",),
    )
    return (
        scores.orderBy(F.col("dsir_score").desc(), F.col("doc_id").asc())
        .limit(50)
        .select("doc_id", "lang", "dsir_score")
        .orderBy(F.col("dsir_score").desc(), F.col("doc_id").asc())
    )


@register("text_bpe_train", ORACLES.bpe_train_oracle_sql(k=6))
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (operators/text.py bpe_train): six greedy
    merge rounds over the corpus vocabulary — the full iterative loop
    behind text_bpe_pairs' single round; the returned merge table IS
    the trained tokenizer model (at sf0.01 round 6 already learns a
    multi-char merge, 'm'+'er'). Greedy application is a
    sentinel-bounded string replace stated verbatim by both engines;
    the ORACLE unrolls all six rounds into MATERIALIZED CTE triplets
    (pair counts, argmax with the count-then-text tiebreak, merge
    projection), value-certifying the whole training trajectory. Scale
    shape: the corpus collapses once to the |vocab| word-count table
    (the only corpus-keyed shuffle); every round is vocab-sized plus a
    one-row argmax collect — the bounded-model discipline."""
    from tdei_extract_load_service_spark.operators.text import bpe_train

    return bpe_train(_read(spark, sf_dir, "documents"), "text", k=6)


@register("text_bpe_apply", ORACLES.bpe_apply_oracle_sql(k=6))
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING (operators/text.py bpe_apply) — the serving half of
    text_bpe_train: the six learned merges applied greedily to every
    word, returned as the corpus token-usage table (token, token_len,
    frequency-weighted occurrences, vocab slot count). The apply pass
    is FREE: training round t rewrites the vocabulary encoding in
    place, so the post-round-6 encoding IS rank-order greedy
    application — the oracle's unrolled round CTEs certify the full
    trajectory and the final unnest+aggregate certifies the encoding
    itself (every token boundary, not just the merge list). Scale
    shape: one corpus→vocab collapse, then vocab-bounded explode+agg
    over the cached frame."""
    from tdei_extract_load_service_spark.operators.text import bpe_apply

    return bpe_apply(_read(spark, sf_dir, "documents"), "text", k=6)


@register("text_bpe_fertility", ORACLES.bpe_fertility_oracle_sql(k=6))
def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / compression audit (operators/text.py
    bpe_fertility): the one-row summary a tokenizer-selection pipeline
    compares across candidate vocabularies — total words/tokens/chars
    plus tokens-per-1000-words and chars-per-token in INTEGER
    micro-units (x * scale DIV y == DuckDB // on all-positive
    operands), so the ratios are bit-identical cross-engine. Scale
    shape: |vocab|-sized projection (size(split(..)), no explode) + a
    one-row aggregate over the cached vocab frame."""
    from tdei_extract_load_service_spark.operators.text import bpe_fertility

    return bpe_fertility(_read(spark, sf_dir, "documents"), "text", k=6)


@register(
    "text_keywords",
    r"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '[ \t\n\r\f\v]+') AS words
      FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (
      SELECT d.doc_id, len(d.words) AS dl, w.term, COUNT(*) AS tf
      FROM docs d, UNNEST(d.words) AS w(term)
      WHERE w.term <> ''
      GROUP BY d.doc_id, len(d.words), w.term
    ),
    dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM tf GROUP BY term
    )
    SELECT doc_id, term,
           CAST((1000000000 * tf * n_docs) // (df_t * dl) AS BIGINT) AS tfidf_fp,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT tf.doc_id, tf.term, tf.tf, tf.dl, f.df_t, n.n_docs,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY (1000000000 * tf.tf * n.n_docs) // (f.df_t * tf.dl) DESC,
                        tf.term ASC
             ) AS rnk
      FROM tf JOIN dfreq f USING (term) CROSS JOIN n
    )
    WHERE rnk <= 3
    ORDER BY doc_id ASC, rnk ASC
    """,
)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction (operators/text.py
    keywords_topm): top-3 TF-IDF terms per doc with tfidf_topk's
    fixed-point integer scoring — (1e9 * tf * N) DIV (df * dl), true
    integer division — so every rank is bit-identical cross-engine.
    One postings shuffle, vocab-bounded df joined without a broadcast
    hint (AQE decides), one per-doc window."""
    from tdei_extract_load_service_spark.operators.text import keywords_topm

    return keywords_topm(
        _read(spark, sf_dir, "documents"), "doc_id", "text", m=3
    )


@register(
    "text_dsir_resample",
    """
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
               i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))) AS ng
      FROM documents
    ),
    occ AS (
      SELECT doc_id, is_t,
             CAST(concat('0x', substr(md5(ng), 1, 8)) AS BIGINT) % 128 AS bucket
      FROM toks
    ),
    f AS (
      SELECT doc_id, is_t, bucket, COUNT(*) AS f FROM occ GROUP BY 1, 2, 3
    ),
    w AS (
      SELECT bucket, SUM(f) AS r_cnt,
             SUM(CASE WHEN is_t THEN f ELSE 0 END) AS t_cnt
      FROM f GROUP BY 1
    ),
    tot AS (SELECT SUM(r_cnt) AS r_tot, SUM(t_cnt) AS t_tot FROM w),
    wt AS (
      SELECT bucket,
             CAST(((t_cnt + 1) * 1000000000) // (t_tot + 128) AS BIGINT) AS pt,
             CAST(((r_cnt + 1) * 1000000000) // (r_tot + 128) AS BIGINT) AS pr
      FROM w, tot
    ),
    s AS (
      SELECT f.doc_id,
             CAST(SUM(f.f * (wt.pt - wt.pr)) AS BIGINT) AS dsir_score
      FROM f JOIN wt USING (bucket) GROUP BY 1
    ),
    base AS (
      SELECT d.lang AS stratum, s.doc_id,
             greatest(s.dsir_score, 0) AS weight
      FROM s JOIN documents d ON s.doc_id = d.doc_id
    ),
    cum AS (
      SELECT stratum, doc_id, weight,
             SUM(weight) OVER (PARTITION BY stratum ORDER BY doc_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(weight) OVER (PARTITION BY stratum) AS w_tot
      FROM base
    )
    SELECT stratum, doc_id, CAST(weight AS BIGINT) AS weight,
           CAST(((cum - weight) * 20) // w_tot AS INT) AS slot
    FROM cum
    WHERE w_tot > 0
      AND (cum * 20) // w_tot > ((cum - weight) * 20) // w_tot
    ORDER BY stratum ASC, doc_id ASC
    """,
)
def q_text_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic importance resampling over DSIR weights
    (operators/text.py dsir_resample) — the second half of the DSIR
    recipe: per-lang stratum, 20 equally-spaced cumulative-weight
    thresholds stated entirely in integer arithmetic ((cum*k) DIV W
    crossings over id-ordered docs), weights = greatest(score, 0).
    Proportional sampling preserves the target distribution where the
    top-k cut (text_dsir_select) collapses onto its mode; every pick is
    bit-identical cross-engine because no float and no RNG exists
    anywhere in the selection."""
    from tdei_extract_load_service_spark.operators.text import dsir_resample

    return dsir_resample(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        target=F.col("lang") == "en",
        stratum_col="lang",
        k_per_stratum=20,
    )
