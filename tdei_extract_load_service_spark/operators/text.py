"""Text-analysis operators (north-star extension): token counting, quality
scoring, language ID, document fingerprinting — over the ``documents``
fixture. Everything is built-in-function arithmetic (codegen; zero Python),
and every formula is chosen to be expressible verbatim in the DuckDB
oracle.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.session import PLAN_MEMO_SIZE


#: BPE-ish token pattern: letter runs, single digits, single punctuation —
#: the shape (not the vocab) of byte-pair pretokenizers.  The whitespace
#: exclusion is the explicit ASCII set with \x0B spelled as a hex escape:
#: Java's \s includes vertical tab while RE2's does not, and Java's
#: in-class \v is a multi-char vertical-whitespace set — \x0B is the one
#: spelling every dialect reads identically (the token_count_ws lesson).
BPE_ISH_PATTERN = r"\p{L}+|\p{N}|[^\p{L}\p{N} \t\n\r\f\x0B]"

#: Tiny per-language stopword marker sets for the n-gram/stopword heuristic.
#: Deterministic and oracle-mirrorable; a production language ID swaps in
#: real n-gram profiles, the plumbing is identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein"),
    "en": ("the", "a", "and", "of", "to", "is", "in"),
    "es": ("el", "la", "los", "las", "y", "es", "un"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
    "zh": ("的", "是", "了", "在", "我", "有"),
}


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count_ws(text: str | Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(_col(text))
    return F.when(t == "", 0).otherwise(F.size(F.split(t, _WS_CLASS)))


def token_count_bpe_ish(text: str | Column) -> Column:
    """BPE-ish token count: matches of letter-run/digit/punct pattern."""
    return F.coalesce(F.regexp_count(_col(text), F.lit(BPE_ISH_PATTERN)), F.lit(0))


def punct_ratio(text: str | Column) -> Column:
    """Punctuation chars / total chars."""
    t = _col(text)
    n = F.length(t)
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()-]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def stopword_ratio(text: str | Column, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Fraction of words that are stopwords."""
    words = F.split(F.lower(_col(text)), " ")
    hits = F.size(F.filter(words, lambda w: w.isin(*stopwords)))
    return F.when(F.size(words) > 0, hits / F.size(words)).otherwise(F.lit(0.0))


def avg_word_length(text: str | Column) -> Column:
    words = F.split(_col(text), " ")
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(words) > 0, total / F.size(words)).otherwise(F.lit(0.0))


def quality_score(text: str | Column) -> Column:
    """Composite document-quality heuristic in [0, 1]: rewards mid-length
    docs and mid avg-word-length, penalizes punctuation soup — the
    length/punct/stopword family of pretraining quality filters (shape of
    Gopher/C4 rules), as one deterministic expression."""
    t = _col(text)
    n_words = token_count_ws(t)
    length_term = F.least(n_words / F.lit(100.0), F.lit(1.0))
    awl = avg_word_length(t)
    wordlen_term = F.when((awl >= 3) & (awl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_term = F.lit(1.0) - F.least(punct_ratio(t) * 5, F.lit(1.0))
    stop_term = F.least(stopword_ratio(t) * 4, F.lit(1.0))
    return F.round(
        0.3 * length_term + 0.2 * wordlen_term + 0.2 * punct_term + 0.3 * stop_term, 6
    )


#: Stored quality-classifier model (VERDICT r11 #8): a logistic
#: regression over the certified text_quality features, weights as
#: driver-side literals — the plane-literal recipe applied to a model.
#: In production these come from a fit exported as literals (the
#: fastText/DataComp quality-classifier deployment shape: training is
#: offline, SERVING is one vectorized expression); the engineered
#: feature vector and the scoring algebra are what the engine owns.
QUALITY_CLF_WEIGHTS: dict[str, float] = {
    "intercept": -2.0,
    "length_term": 2.2,     # reward mid-length docs (saturating)
    "avg_word_len": 0.15,   # mild reward for longer words
    "punct_ratio": -7.0,    # punish punctuation soup
    "stopword_ratio": 4.0,  # reward natural-language function words
}


def quality_classifier(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    weights: dict[str, float] | None = None,
    threshold: float = 0.5,
) -> "DataFrame":
    """Document-level quality CLASSIFIER from stored model literals —
    ``quality_score``'s hand-tuned blend generalized to a trained-model
    serving path (the C4/DataComp quality-filter deployment shape: a
    logistic classifier whose weights ship as literals, scored corpus-
    wide as ONE whole-stage-codegen projection — no shuffle, no UDF, no
    model runtime).

    Per document: the four certified quality features (saturating
    length term, avg word length, punctuation ratio, stopword ratio) are
    computed, ROUNDED to 6 and lifted to BIGINT micro-units; the logit
    is then EXACT fixed-point arithmetic — ``L = 1e8*b + 100*w·f_micro``
    with the weights' two decimals scaled to integers (the r9
    text_readability recipe: 1-2-decimal weights times 6-decimal
    features land exactly on ROUND(x, 6) half-points, where Spark's
    shortest-decimal HALF_UP and DuckDB's binary rounding genuinely
    diverge — measured again here at r12 BEFORE this form). The output
    ``logit`` is ``L/1e8`` and ``prob`` the ALGEBRAIC sigmoid
    ``0.5 + 0.5*L/(1e8+|L|)`` — same shape and the same
    ``L >= 0 <=> prob >= 0.5`` boundary as the logistic, but exact
    integer → double conversions plus correctly-rounded IEEE ops only
    (never libm ``exp``, whose last ulp differs across engines, and no
    float ROUND anywhere downstream of the features) — so both columns
    are BIT-identical cross-engine at full double precision.
    ``label = keep/drop`` at ``threshold`` on that probability.

    Output: ``(id, length_term, avg_word_len, punct_ratio,
    stopword_ratio, logit, prob, label)``.

    Scale shape: a pure per-row projection — linear scan, embarrassingly
    parallel, pushdown-friendly (a ``label = 'keep'`` consumer prunes at
    the scan). Swapping in re-trained weights is a literal change, not a
    plan change."""
    w = dict(QUALITY_CLF_WEIGHTS)
    if weights:
        w.update(weights)
    # weights carry at most 2 decimals by contract — scaled to exact
    # integers so the weighted sum is BIGINT arithmetic
    w100 = {}
    for k, v in w.items():
        scaled = round(float(v) * 100)
        if abs(scaled - float(v) * 100) > 1e-9:
            raise ValueError(
                f"classifier weight {k}={v} has more than 2 decimals; "
                "the fixed-point contract needs centi-unit weights"
            )
        w100[k] = int(scaled)
    t = _col(text_col)
    feats = {
        "length_term": F.least(
            token_count_ws(t) / F.lit(100.0), F.lit(1.0)
        ),
        "avg_word_len": avg_word_length(t),
        "punct_ratio": punct_ratio(t),
        "stopword_ratio": stopword_ratio(t),
    }
    rounded = {k: F.round(v, 6) for k, v in feats.items()}
    # feature micro-units: f is an exact multiple of 1e-6 after the
    # round, so f*1e6 is within one ulp of an integer — ROUND(...,0)
    # recovers it exactly on every engine
    micro = {
        k: F.round(v * F.lit(1_000_000.0), 0).cast("bigint")
        for k, v in rounded.items()
    }
    L = F.lit(int(w100["intercept"]) * 1_000_000).cast("bigint")
    for k in ("length_term", "avg_word_len", "punct_ratio", "stopword_ratio"):
        L = L + F.lit(w100[k]).cast("bigint") * micro[k]
    logit = L.cast("double") / F.lit(100_000_000.0)
    prob = F.lit(0.5) + F.lit(0.5) * L.cast("double") / (
        (F.lit(100_000_000).cast("bigint") + F.abs(L)).cast("double")
    )
    return df.select(
        _col(id_col).alias("id"),
        *[rounded[k].alias(k) for k in
          ("length_term", "avg_word_len", "punct_ratio", "stopword_ratio")],
        logit.alias("logit"),
        prob.alias("prob"),
        F.when(prob >= F.lit(float(threshold)), F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


def lang_scores(text: str | Column) -> dict[str, Column]:
    """Per-language marker-overlap score: |words ∩ markers| / |words|."""
    words = F.split(F.lower(_col(text)), " ")
    out = {}
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(words, lambda w: w.isin(*markers)))
        out[lang] = F.when(F.size(words) > 0, hits / F.size(words)).otherwise(F.lit(0.0))
    return out


def lang_id(text: str | Column) -> Column:
    """argmax over lang_scores, alphabetical-first tiebreak, 'und'
    (undetermined) when every score is 0."""
    scores = lang_scores(text)
    langs = sorted(scores)  # alphabetical tiebreak: first max wins
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, lang).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und"))


def fingerprint(text: str | Column) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    word set of the lowercased text — the cheap exactish-dup key (rolling
    hash/winnowing upgrades slot in behind the same column contract)."""
    words = F.array_sort(F.array_distinct(F.split(F.lower(F.trim(_col(text))), _WS_CLASS)))
    return F.md5(F.concat_ws(" ", words))


def tfidf_topk(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    query_terms: tuple[str, ...],
    k: int = 10,
    scale: int = 1_000_000_000,
) -> "DataFrame":
    """TF-IDF document ranking for a fixed query — the search/ranking
    primitive of a text pipeline, scored in FIXED-POINT integers so the
    ranking is bit-identical across engines.

    Per doc d and query term t: contribution = (scale * tf(t,d) * N)
    DIV (df(t) * dl(d)) — plain TF-IDF with ratio idf (N/df) and document-
    length normalization. The quotient uses integer division (Spark
    ``DIV``, oracle ``//``), NOT floor-of-float-division: ``/`` on bigints
    is double division, which silently loses exactness once the numerator
    passes 2^53. With true integer arithmetic the only bound is the
    product itself staying under 2^63 — validated below (Spark's non-ANSI
    bigint multiply wraps silently past 2^63 while DuckDB errors, so an
    unguarded overflow would be a cross-engine mismatch, not a crash).
    Floats would also make the cross-term sum order-dependent.
    Logarithmic idf / BM25 saturation are drop-in replacements where
    last-ulp float divergence between engines is acceptable.

    Plan shape: tokenize -> explode -> filter to query terms BEFORE any
    shuffle (work is O(query-term hits, not corpus tokens)); df comes
    from one tiny agg (|query| rows, broadcast back); final score is one
    hash agg + TakeOrderedAndProject. No corpus-sized shuffle carries
    text. One driver-side scalar count supplies N (a model, not data).
    NOT spread(): the isin filter prunes to query-term hits before any
    shuffle, so the map side is cheap — an input exchange measured
    0.55 -> 0.94 s at sf0.1 (3x interleaved A/B, r13).
    """
    docs = df.select(
        _col(id_col).alias("id"),
        F.split(F.lower(F.trim(_col(text_col))), _WS_CLASS).alias("words"),
    ).withColumn("dl", F.size("words"))
    # N and the EXACT tf bound (tf <= max doc length) in ONE scan — the
    # overflow guard must reject only genuinely unsafe inputs: a
    # worst-case-headroom guess either rejects safe large corpora (the
    # first guard rejected any N > ~8.8k at the default scale) or misses
    # a single pathological document.
    stats = docs.agg(
        F.count("*").alias("n"), F.max("dl").alias("max_dl")
    ).collect()[0]
    n, max_dl = stats["n"], stats["max_dl"] or 0
    if scale * max(n, 1) * max(max_dl, 1) > 2**63 - 1:
        raise ValueError(
            f"scale*max_tf*N = {scale}*{max_dl}*{n} overflows bigint in the "
            "fixed-point score; pass a smaller `scale` (the ranking only "
            "needs enough resolution to separate documents)"
        )

    hits = (
        docs.select("id", "dl", F.explode("words").alias("term"))
        .where(F.col("term").isin(*query_terms))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_per_term = hits.groupBy("term").agg(F.countDistinct("id").alias("df_t"))
    scored = (
        hits.join(F.broadcast(df_per_term), "term")
        .withColumn(
            "contrib",
            F.expr(
                f"(CAST({scale} AS BIGINT) * tf * CAST({n} AS BIGINT))"
                " DIV (df_t * dl)"
            ),
        )
        .groupBy("id")
        .agg(F.sum("contrib").alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
        .select("id", "score")
    )


def char_entropy(df: "DataFrame", id_col: str, text_col: str) -> "DataFrame":
    """Shannon character entropy per document — the gibberish/boilerplate
    quality signal (low = repeated filler, high = encrypted/binary junk).

    One-pass identity ``H = log2(n) - Σ cnt·log2(cnt) / n`` avoids a
    self-join on totals; the (doc, char) pre-aggregation is map-side
    combined, so the shuffle carries ≤ |alphabet| rows per doc per task.
    Returns (id_col, char_entropy)."""
    chars = df.select(
        id_col, F.explode(F.split(_col(text_col), "")).alias("_ch")
    ).where(F.col("_ch") != "")
    counts = chars.groupBy(id_col, "_ch").agg(F.count("*").cast("double").alias("_cnt"))
    ent = F.log2(F.sum("_cnt")) - F.sum(F.col("_cnt") * F.log2("_cnt")) / F.sum("_cnt")
    return counts.groupBy(id_col).agg(F.round(ent, 6).alias("char_entropy"))


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document — the
    filters a training-data pipeline runs before anything expensive:

    - ``n_words``: whitespace token count;
    - ``distinct_word_ratio``: |distinct words| / n_words (low = looping
      text);
    - ``top_bigram_frac``: occurrences of the most frequent word bigram /
      total bigrams (high = template/boilerplate);
    - ``dup_bigram_frac``: fraction of bigram occurrences that are
      repeats (1 - distinct/total).

    Scale shape: the word-level ratios are pure higher-order array
    expressions (no shuffle at all); the bigram stats explode to
    (doc, bigram) and aggregate with map-side combine, so the shuffle
    carries one row per distinct bigram per doc per task — bounded by
    document length, never corpus size. Docs with < 2 words report 0
    bigram fractions (no bigrams to repeat)."""
    from tdei_extract_load_service_spark.session import spread

    # the word-level HOF ratios run pre-shuffle — spread so a
    # row-group-limited scan doesn't pin them to one task (no-op at scale)
    df = spread(df, key=id_col if isinstance(id_col, str) else None)
    words = F.split(F.trim(_col(text_col)), _WS_CLASS)
    base = df.select(
        _col(id_col).alias(id_col),
        words.alias("_w"),
        F.when(F.trim(_col(text_col)) == "", 0).otherwise(F.size(words)).alias("n_words"),
    )
    word_stats = base.select(
        id_col,
        "n_words",
        F.when(
            F.col("n_words") > 0,
            F.round(F.size(F.array_distinct("_w")) / F.col("n_words"), 6),
        ).otherwise(F.lit(None).cast("double")).alias("distinct_word_ratio"),
        # adjacent-pair array: words[i] + ' ' + words[i+1]
        F.when(
            F.col("n_words") >= 2,
            F.transform(
                F.sequence(F.lit(0), F.col("n_words") - 2),
                lambda i: F.concat_ws(" ", F.col("_w")[i], F.col("_w")[i + 1]),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("_bg"),
    )
    bg_counts = (
        word_stats.select(id_col, F.explode_outer("_bg").alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count("_b").alias("_c"))
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("_total"),
            F.count(F.when(F.col("_b").isNotNull(), 1)).alias("_distinct"),
            F.max("_c").alias("_top"),
        )
    )
    return (
        word_stats.drop("_bg")
        .join(bg_counts, id_col)
        .select(
            id_col,
            "n_words",
            "distinct_word_ratio",
            F.when(F.col("_total") > 0, F.round(F.col("_top") / F.col("_total"), 6))
            .otherwise(F.lit(0.0)).alias("top_bigram_frac"),
            F.when(
                F.col("_total") > 0,
                F.round(1.0 - F.col("_distinct") / F.col("_total"), 6),
            ).otherwise(F.lit(0.0)).alias("dup_bigram_frac"),
        )
    )


#: Conservative PII patterns sharable across regex dialects (no
#: lookaround, no backrefs — valid in Java regex AND RE2): emails,
#: international-ish phone numbers, and 13-19-digit card-like runs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # card BEFORE phone: a 13-19-digit run also matches the looser phone
    # shape, and replacement order is dict order
    "card": r"\b[0-9]{13,19}\b",
    "phone": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
}


def redact_pii(
    text: str | Column, patterns: dict[str, str] | None = None
) -> Column:
    """Replace each PII match with ``<TYPE>`` — the scrub every
    training-data pipeline runs before publishing a corpus. Pure column
    expression (chained ``regexp_replace``, JVM-side, codegen'd): no
    UDF, no shuffle; order is deterministic (dict order), so longer/more
    specific patterns should precede general ones."""
    out = _col(text)
    for name, pat in (patterns or PII_PATTERNS).items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_match_counts(
    text: str | Column, patterns: dict[str, str] | None = None
) -> list[Column]:
    """Per-pattern match counts (``regexp_count``) — the audit metric
    paired with ``redact_pii``: run BEFORE scrubbing to size the blast
    radius, and after to prove zero remaining matches. One column per
    pattern."""
    return [
        F.regexp_count(_col(text), F.lit(pat)).alias(f"n_{name}")
        for name, pat in (patterns or PII_PATTERNS).items()
    ]


def corpus_prep_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 10,
    min_distinct_ratio: float = 0.3,
) -> DataFrame:
    """End-to-end corpus preparation — the composition every pretraining
    pipeline runs, as ONE declarative plan: quality-filter (repetition
    signals) -> content dedup (order-insensitive fingerprint) -> survivor
    election (min id per content group). Returns one row per surviving
    document: ``(id_col, n_words, n_dups)`` with ``n_dups`` the size of
    the content group it won.

    Scale shape: ``repetition_stats`` joins back to the corpus on the id
    (one doc-keyed equi shuffle — the quality columns cannot ride the
    scan because the bigram stats are an aggregation); the dedup groupBy
    then shuffles only (fingerprint, id, n_words), never text. Swap the
    fingerprint stage for ``dedup.lsh_verified_pairs`` +
    ``dedup.dedup_clusters`` when near-dup (not exact-content) collapse
    is wanted — same survivor contract."""
    rep = repetition_stats(df, id_col, text_col)
    kept = (
        df.select(_col(id_col).alias(id_col), _col(text_col).alias("_text"))
        .join(rep, id_col)
        .where(
            (F.col("n_words") >= min_words)
            & (F.col("distinct_word_ratio") >= min_distinct_ratio)
        )
    )
    return (
        kept.select(id_col, "n_words", fingerprint("_text").alias("_fp"))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias("_keep"),
            F.min_by("n_words", _col(id_col)).alias("n_words"),
            F.count("*").alias("n_dups"),
        )
        .select(F.col("_keep").alias(id_col), "n_words", "n_dups")
    )


def winnow_hashes(text: str | Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing-selected shingle hashes (Schleimer/Wilkerson/Aiken, the
    MOSS scheme — the 'rolling hash' upgrade the plain ``fingerprint``
    docstring promises): hash every k-character shingle, slide a w-hash
    window taking the minimum, return the sorted distinct selected
    hashes. Any shared substring of length >= k + w - 1 contributes at
    least one common selected hash — the LOCAL similarity property a
    whole-doc hash lacks, which makes this array the inverted-index key
    set for substring-level near-dup joins (the dedup_ngram_jaccard
    machinery on a winnowed, much smaller index).

    Pure column expression (no explode, no shuffle, no UDF) — the
    EXECUTABLE SPEC and the oracle-parity path; ``winnow_sets`` below is
    the production fan-out. Shape matters here (the round-6 lesson): the
    obvious nesting ``transform(positions, j -> array_min(slice(hashes,
    j, w)))`` closes over the ``hashes`` expression, and Catalyst
    inlines that whole subtree into the lambda body, so the full O(len)
    md5 array is RE-EVALUATED at every window position — O(len^2) per
    row, measured at 147.9s of a 179.9s bench (VERDICT r6 #1). Sliding
    minima are instead built as a chain of ``zip_with(…, least)`` over
    w SHIFTED slices of the hash array: each slice is a plain child
    expression evaluated once per row, so the cost is O(w * len) md5s
    and the plan contains no array_min-over-closure at all (the pytest
    plan guard asserts exactly that).

    Cross-engine note: hashes are md5 hex PREFIXES compared
    LEXICOGRAPHICALLY — winnowing only needs a total order, and string
    order is identical in every engine, sidestepping hex->int casts.
    NULL for documents shorter than k + w - 1 chars (no full window).

    Caveat (sequence semantics): ``F.sequence(1, 0)`` is DESCENDING
    [1, 0], not empty — short docs briefly build bogus shingles, but
    every such case has n_windows < 1 and falls into the NULL branch,
    so the output is well-defined; the guard below keeps w >= 2 so
    n_windows can never be spuriously positive."""
    if k < 2 or w < 2:
        raise ValueError("winnowing needs k >= 2 and w >= 2")
    t = F.lower(F.trim(_col(text)))
    n_grams = F.length(t) - F.lit(k - 1)

    def hashes() -> Column:
        # one O(len) md5 pass; called once per shifted slice (w total)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(0))),
            lambda i: F.substring(F.md5(t.substr(i, F.lit(k))), 1, 16),
        )

    n_windows = n_grams - F.lit(w - 1)
    n_win_clamped = F.greatest(n_windows, F.lit(0))
    # mins[j] = least(h[j], h[j+1], ..., h[j+w-1]) via w shifted slices:
    # slice(h, off, n_windows) truncates at the array end, so the w-th
    # shift covers indices w .. n_grams exactly
    mins = F.slice(hashes(), 1, n_win_clamped)
    for off in range(1, w):
        mins = F.zip_with(
            mins,
            F.slice(hashes(), 1 + off, n_win_clamped),
            lambda a, b: F.least(a, b),
        )
    return F.when(n_windows >= 1, F.array_sort(F.array_distinct(mins)))


def winnow_fingerprint(text: str | Column, k: int = 8, w: int = 4) -> Column:
    """One-value winnowing fingerprint: md5 over the selected-hash set
    (``winnow_hashes``). Identical docs always share it; near-identical
    docs OFTEN do (their selected sets usually coincide) — use the hash
    SET itself for graded overlap scoring. NULL (not md5 of empty) for
    docs too short to winnow."""
    hs = winnow_hashes(text, k, w)
    return F.when(hs.isNotNull(), F.md5(F.concat_ws(",", hs)))


def winnow_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Production winnowing fan-out: one row per input row, columns
    ``(id_col, ws)`` where ``ws`` is the sorted distinct selected-hash
    array (NULL for docs shorter than k + w - 1 chars) — value-identical
    to ``winnow_hashes`` (the property suite asserts it on random text).

    Arrow-batched ``mapInPandas`` with a deque sliding minimum — the one
    place in the text family where the Python path genuinely beats every
    expression shape, because Spark has no O(1)-amortized rolling-min
    primitive. The alternatives, all measured at sf0.1 (round 7):

    - nested higher-order lambda: O(len^2) md5 re-evaluation, 147.9s —
      the round-6 defect this function exists to kill;
    - ``winnow_hashes`` zip_with chain: O(w*len) md5s, 1.08s, but every
      downstream CONSUMER re-inlines the whole chain (CollapseProject),
      so multi-consumer plans multiply the w factor;
    - staging the hash array behind a barrier: repartition shuffles (and
      localCheckpoint pins to non-recomputable executor storage) ~16x
      the text volume — the hash array is 16 hex chars per character;
    - this function: 0.47s — O(len) md5 + deque per row, text crosses
      the Arrow pipe ONCE at 1x volume, zero shuffle, zero lineage
      truncation, embarrassingly parallel at 100 TB.

    Normalization (lower/trim) happens JVM-side BEFORE the fan-out so
    collation semantics stay identical to the expression/oracle path;
    Python then slices code points exactly like ``substr`` and hashes
    the UTF-8 bytes exactly like Spark/DuckDB ``md5``."""
    if k < 2 or w < 2:
        raise ValueError("winnowing needs k >= 2 and w >= 2")
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("__winnow_id", df.schema[id_col].dataType),
            StructField("ws", ArrayType(StringType())),
        ]
    )

    def _winnow_batches(batches):
        import hashlib
        from collections import deque

        import pandas as pd

        for pdf in batches:
            out = []
            for t in pdf["__winnow_txt"]:
                n_grams = (len(t) if t is not None else 0) - (k - 1)
                if n_grams - (w - 1) < 1:
                    out.append(None)
                    continue
                if t.isascii():
                    b = t.encode("ascii")
                    hs = [
                        hashlib.md5(b[i : i + k]).hexdigest()[:16]
                        for i in range(n_grams)
                    ]
                else:
                    # slice CODE POINTS (substr semantics), hash UTF-8 bytes
                    hs = [
                        hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()[:16]
                        for i in range(n_grams)
                    ]
                selected: set[str] = set()
                dq: deque[int] = deque()  # indices of ascending candidates
                for j, h in enumerate(hs):
                    while dq and hs[dq[-1]] >= h:
                        dq.pop()
                    dq.append(j)
                    if dq[0] <= j - w:
                        dq.popleft()
                    if j >= w - 1:
                        selected.add(hs[dq[0]])
                out.append(sorted(selected))
            yield pd.DataFrame({"__winnow_id": pdf["__winnow_id"], "ws": out})

    staged = df.select(
        _col(id_col).alias("__winnow_id"),
        F.lower(F.trim(_col(text_col))).alias("__winnow_txt"),
    )
    return staged.mapInPandas(_winnow_batches, schema).withColumnRenamed(
        "__winnow_id", id_col
    )


def contamination_grams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Distinct word ``n``-gram fingerprints per document — the unit of
    benchmark decontamination (the standard pretraining hygiene step:
    drop or flag training documents sharing any 13-gram with an eval
    set). Returns one row per (doc, distinct gram): ``(id_col, gram)``
    where ``gram`` is the first 16 hex chars of md5 over the
    space-joined lowercase ``[a-z0-9]+`` tokens.

    Scale shape: the same Arrow-batched O(len) ``mapInPandas`` fan-out
    as ``winnow_sets`` — tokenizing and hashing per row in one pass,
    text crosses the Python pipe once, no shuffle. The alternative
    expression shape (``transform`` over a ``sequence`` indexing into a
    ``split`` array) re-inlines the split into every lambda position
    under CollapseProject — the exact O(len^2) pathology of the round-6
    winnow defect — so the Python pass is the production path here too.

    Cross-engine contract (mirrored by the DuckDB oracles): tokens are
    maximal runs matching ``[a-z0-9]+`` over ``lower(text)`` (ASCII
    fixture corpus; non-ASCII lowercasing differences between Python and
    the engines are out of contract), grams are tokens joined by a
    single space, hashed as UTF-8 md5."""
    if n < 1:
        raise ValueError("contamination_grams needs n >= 1")
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("__cg_id", df.schema[id_col].dataType),
            StructField("gram", StringType()),
        ]
    )

    def _gram_batches(batches):
        import hashlib
        import re

        import pandas as pd

        token_re = re.compile(r"[a-z0-9]+")
        for pdf in batches:
            ids, grams = [], []
            for rid, t in zip(pdf["__cg_id"], pdf["__cg_txt"]):
                if t is None:
                    continue
                toks = token_re.findall(t)
                if len(toks) < n:
                    continue
                seen = set()
                for i in range(len(toks) - n + 1):
                    g = " ".join(toks[i : i + n])
                    h = hashlib.md5(g.encode("utf-8")).hexdigest()[:16]
                    if h not in seen:
                        seen.add(h)
                        ids.append(rid)
                        grams.append(h)
            yield pd.DataFrame({"__cg_id": ids, "gram": grams})

    staged = df.select(
        _col(id_col).alias("__cg_id"),
        F.lower(_col(text_col)).alias("__cg_txt"),
    )
    return staged.mapInPandas(_gram_batches, schema).withColumnRenamed(
        "__cg_id", id_col
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document sharing at
    least one word ``n``-gram with the benchmark set, report
    ``(id_col, n_shared)`` — the count of distinct shared grams.

    Scale shape: both sides fan out through the O(len) gram pass; the
    benchmark gram set is deduplicated with map-side combine and joined
    by gram hash. No broadcast hint — benchmarks are typically MBs so
    AQE broadcasts them at runtime, but a pathological benchmark the
    size of the corpus degrades to a shuffled equi join instead of
    OOMing the driver (the dedup_winnow hot-set lesson). Corpus grams
    are distinct per document by construction, so the per-doc count is
    the distinct-shared count without a count(distinct) exchange."""
    cg = contamination_grams(corpus, id_col, text_col, n)
    bg = contamination_grams(benchmark, id_col, text_col, n).select("gram").distinct()
    return (
        cg.join(bg, "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )


#: ASCII whitespace class shared verbatim across Python re, Java regex
#: and RE2 (DuckDB) — deliberately NOT \s, whose meaning differs between
#: dialects (Python \s matches Unicode spaces, RE2 \s is ASCII-only).
_WS_CLASS = r"[ \t\n\r\f\v]+"
#: C0 controls (minus \t\n\r, handled as whitespace) + DEL — same
#: explicit ranges in every dialect.
_CTRL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Pre-tokenization text cleanup, the first stage of every training
    corpus pipeline: Unicode NFC normalization, C0/DEL control-character
    strip, ASCII-whitespace-run collapse to single spaces, edge trim.
    Returns ``(id_col, text_norm)``.

    ``keep`` lists extra columns to carry through the fan-out (echoed
    per row, so composed pipelines need no join to recover them).

    Contract pinned for cross-engine verifiability (DuckDB oracle:
    ``nfc_normalize`` + the same explicit character classes): NFC (not
    NFKC — compatibility folding is lossy and model-specific), controls
    removed AFTER normalization, whitespace classes are the explicit
    ASCII set because ``\\s`` means different things in Python/RE2/Java.

    Scale shape: Arrow-batched ``mapInPandas`` (Python owns unicodedata;
    Spark has no built-in NFC expression) — O(len) per row, no shuffle,
    text crosses the pipe once, the winnow_sets shape."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("__tn_id", df.schema[id_col].dataType),
            StructField("text_norm", StringType()),
            *[df.schema[c] for c in keep],
        ]
    )

    def _norm_batches(batches):
        import re
        import unicodedata

        import pandas as pd

        ctrl = re.compile(_CTRL_CLASS)
        ws = re.compile(_WS_CLASS)
        for pdf in batches:
            out = []
            for t in pdf["__tn_txt"]:
                if t is None:
                    out.append(None)
                    continue
                t = unicodedata.normalize("NFC", t)
                t = ctrl.sub("", t)
                t = ws.sub(" ", t)
                out.append(t.strip(" "))
            cols = {"__tn_id": pdf["__tn_id"], "text_norm": out}
            for c in keep:
                cols[c] = pdf[c]
            yield pd.DataFrame(cols)

    staged = df.select(
        _col(id_col).alias("__tn_id"),
        _col(text_col).alias("__tn_txt"),
        *[_col(c) for c in keep],
    )
    return staged.mapInPandas(_norm_batches, schema).withColumnRenamed(
        "__tn_id", id_col
    )


def corpus_prep_full(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    bench_sources: tuple[str, ...],
    min_words: int = 10,
    min_distinct_ratio: float = 0.3,
    n: int = 13,
    budget: int = 400,
) -> DataFrame:
    """The canonical training-corpus pipeline, end to end, as ONE
    declarative plan: normalize -> quality filter -> exact content dedup
    -> benchmark decontamination -> per-source token-budget sampling.
    Returns ``(id_col, source_col, n_tokens, cum_tokens)`` — the
    documents that made the mix, with their budget positions.

    Stage shapes (each individually certified by its own entry; this
    composition proves they CHAIN without driver round-trips):

    - normalize: O(len) Arrow fan-out, ``source`` carried through (no
      join to recover it);
    - quality: pure column expressions over the normalized words;
    - dedup: first-id survivor per content fingerprint via a window min
      (one fingerprint shuffle);
    - decontamination: O(len) gram fan-outs both sides + an equi join
      and an anti join keyed on doc id;
    - budget: one stratum shuffle + window cumsum.

    Benchmark docs (``bench_sources``) are excluded from the corpus and
    define the contamination gram set — both sides gram over NORMALIZED
    text, as a real decontamination pass would."""
    from pyspark.sql import Window

    from tdei_extract_load_service_spark.operators.sampling import (
        token_budget_sample,
    )

    bench_pred = _col(source_col).isin(*bench_sources)
    norm = normalize_text(
        docs.where(~bench_pred), id_col, text_col, keep=(source_col,)
    )
    words = F.when(
        F.col("text_norm") == "", F.array().cast("array<string>")
    ).otherwise(F.split("text_norm", " "))
    staged = norm.select(
        id_col, source_col, "text_norm", words.alias("_w")
    ).select(
        id_col,
        source_col,
        "text_norm",
        "_w",
        F.size("_w").alias("n_words"),
    )
    dwr = F.when(
        F.col("n_words") > 0,
        F.round(F.size(F.array_distinct("_w")) / F.col("n_words"), 6),
    )
    kept = staged.withColumn("_dwr", dwr).where(
        (F.col("n_words") >= min_words) & (F.col("_dwr") >= min_distinct_ratio)
    )
    # genuinely EXACT content dedup: fingerprint the full normalized
    # text — an md5 over the sorted DISTINCT word set (the r7 form)
    # collided 'dog bites man' with 'man bites dog' and silently
    # dropped one (ADVICE r7)
    fp = F.md5(F.col("text_norm"))
    from tdei_extract_load_service_spark.session import persist_scoped

    # the survivor frame feeds TWO consumers (the contamination gram
    # fan-out and the final anti-join): without a persist the whole
    # upstream subtree — the Arrow normalize pass, the quality filter
    # and the fingerprint window — runs twice, because the opaque
    # mapInPandas defeats common-subplan reuse (guide §2.4; the
    # formatted plan showed two full normalize+window branches).
    # Persist only the NARROW projection the consumers need.
    surv = persist_scoped(
        kept.withColumn("_fp", fp)
        .withColumn("_keep", F.min(id_col).over(Window.partitionBy("_fp")))
        .where(F.col(id_col) == F.col("_keep"))
        .select(id_col, source_col, "text_norm", "n_words"),
        "text.corpus_prep_full.surv",
    )
    bench_norm = normalize_text(docs.where(bench_pred), id_col, text_col)
    bench_grams = (
        contamination_grams(bench_norm, id_col, "text_norm", n)
        .select("gram")
        .distinct()
    )
    contaminated = (
        contamination_grams(surv.select(id_col, "text_norm"), id_col, "text_norm", n)
        .join(bench_grams, "gram")
        .select(id_col)
        .distinct()
    )
    clean = surv.join(contaminated, id_col, "left_anti").select(
        id_col, source_col, F.col("n_words").alias("n_tokens")
    )
    return token_budget_sample(
        clean, id_col, source_col, "n_tokens", budget
    )


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 64,
    overlap_words: int = 16,
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the
    RAG/pretraining primitive ``text_pack_sequences`` deliberately does
    not cover (packing concatenates whole short docs; chunking SPLITS
    long ones). One row per chunk: ``(id_col, chunk_idx, n_tokens,
    chunk)`` where chunk ``i`` covers words ``[i*stride, i*stride +
    chunk_words)`` of the whitespace tokenization, stride =
    chunk_words - overlap_words; the last chunk may be short; documents
    shorter than one stride yield exactly one chunk; empty/null docs
    yield none.

    Scale shape: the same Arrow-batched O(len) ``mapInPandas`` fan-out
    as winnow_sets/contamination_grams — the expression shape
    (``transform`` over chunk starts slicing into a ``split`` array)
    re-inlines the split per chunk under CollapseProject, going
    O(len^2/stride) per row (the round-6 winnow pathology); the Python
    pass tokenizes once and emits chunk rows directly. No shuffle.

    Cross-engine contract (DuckDB twin: string_split_regex +
    generate_series + list_slice in a CTE, where the materialization
    hazard does not exist): tokens are ``[^ \\t\\n\\r\\f\\v]+`` runs,
    chunks are tokens rejoined with single spaces."""
    if chunk_words < 1 or not 0 <= overlap_words < chunk_words:
        raise ValueError("need chunk_words >= 1 and 0 <= overlap_words < chunk_words")
    stride = chunk_words - overlap_words
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("__ck_id", df.schema[id_col].dataType),
            StructField("chunk_idx", IntegerType()),
            StructField("n_tokens", IntegerType()),
            StructField("chunk", StringType()),
        ]
    )

    def _chunk_batches(batches):
        import re

        import pandas as pd

        ws = re.compile(r"[ \t\n\r\f\v]+")
        for pdf in batches:
            ids, idxs, ntoks, chunks = [], [], [], []
            for rid, t in zip(pdf["__ck_id"], pdf["__ck_txt"]):
                if t is None:
                    continue
                toks = [w for w in ws.split(t) if w]
                if not toks:
                    continue
                i = 0
                start = 0
                while start < len(toks):
                    piece = toks[start : start + chunk_words]
                    ids.append(rid)
                    idxs.append(i)
                    ntoks.append(len(piece))
                    chunks.append(" ".join(piece))
                    if start + chunk_words >= len(toks):
                        break
                    i += 1
                    start += stride
            yield pd.DataFrame(
                {"__ck_id": ids, "chunk_idx": idxs, "n_tokens": ntoks, "chunk": chunks}
            )

    staged = df.select(
        _col(id_col).alias("__ck_id"), _col(text_col).alias("__ck_txt")
    )
    return staged.mapInPandas(_chunk_batches, schema).withColumnRenamed(
        "__ck_id", id_col
    )


def source_overlap(
    docs: DataFrame,
    source_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Cross-source n-gram containment matrix — the corpus-curation
    diagnostic behind dedup and mixing decisions: for every ordered
    source pair (a, b) sharing at least one distinct word ``n``-gram,
    how much of a's gram set also appears in b. Returns
    ``(src_a, src_b, shared_grams, n_grams_a, containment)`` with
    ``containment = shared / |grams(a)|`` (asymmetric by design — a
    small source quoted by a big one is near-1.0 in one direction and
    near-0 in the other).

    Scale shape: grams come from the same Arrow-batched O(len)
    ``mapInPandas`` fan-out as decontamination; text crosses the
    Python pipe ONCE — the per-gram source-set table (ONE gram
    shuffle, with ``collect_set`` bounded by the SOURCE DOMAIN — tens,
    not corpus-sized) is persisted and BOTH derivations (per-source
    gram counts, shared-pair counts) read the cache, because the
    un-persisted form planned the whole text fan-out twice (measured:
    2 MapInPandas — the q20/q2 shared-subtree lesson again). The pair
    construction never self-joins the gram table: pairs explode from
    the bounded set (<= |sources|^2 rows per shared gram) and the
    matrix aggregation is map-side combined over a tiny key space.
    The final counts join is un-hinted (source-domain bounded; AQE
    decides).

    Cross-engine contract: the gram recipe is ``contamination_grams``'s
    exactly (lowercase [a-z0-9]+ tokens, space-joined, md5-16); the
    DuckDB oracle derives the same matrix through a textbook gram
    self-join — independent construction, identical counts."""
    grams = contamination_grams(
        docs.select(_col(source_col).alias("_src"), _col(text_col).alias("_t")),
        "_src",
        "_t",
        n,
    )
    # one text pass + one gram shuffle; distinct-per-source falls out of
    # the set semantics (contamination_grams dedups per doc, collect_set
    # dedups across docs). Persisted: gram-set rows are hashes + a tiny
    # source set — orders of magnitude below the text volume — and both
    # branches below would otherwise recompute the Python fan-out.
    from tdei_extract_load_service_spark.session import persist_scoped

    sets = persist_scoped(
        grams.groupBy("gram").agg(F.collect_set("_src").alias("_ss")),
        "text.source_overlap.sets",
    )
    per_source = sets.select(F.explode("_ss").alias("_src")).groupBy("_src").agg(
        F.count("*").alias("n_grams_a")
    )
    pair = F.filter(
        F.flatten(
            F.transform(
                "_ss",
                lambda a: F.transform(
                    "_ss", lambda b: F.struct(a.alias("src_a"), b.alias("src_b"))
                ),
            )
        ),
        lambda p: p["src_a"] != p["src_b"],
    )
    shared = (
        sets.where(F.size("_ss") >= 2)
        .select(F.explode(pair).alias("_p"))
        .select(F.col("_p.src_a").alias("src_a"), F.col("_p.src_b").alias("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared_grams"))
    )
    return (
        shared.join(per_source, shared.src_a == per_source._src)
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            "n_grams_a",
            F.round(F.col("shared_grams") / F.col("n_grams_a"), 6).alias(
                "containment"
            ),
        )
        .orderBy(F.col("src_a").asc(), F.col("src_b").asc())
    )


def _bm25_token_stream(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """The tokenize/doc-length half shared by ``bm25_topk`` (inline)
    and ``bm25_batch_stats`` (the streamed-index append): one token
    explode and the empty-text dl=0 guard, defined ONCE so the
    streamed == inline bit-identity is structural on BOTH halves of
    the query (the _bm25_rank extraction covered the scoring half; a
    review pass found the tokenizer half still hand-duplicated).
    Returns ``(tokens, dl)`` with ``tokens`` the un-aggregated
    (doc_id, term) stream — callers filter (query terms / non-empty)
    BEFORE aggregating, so the inline path keeps its
    filter-before-shuffle plan."""
    ws = _WS_CLASS
    tokens = docs.select(
        _col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(_col(text_col)), ws)).alias("term"),
    )
    dl = docs.select(
        _col(id_col).alias("doc_id"),
        F.when(F.trim(_col(text_col)) == "", 0)
        .otherwise(F.size(F.split(F.trim(_col(text_col)), ws)))
        .alias("dl"),
    )
    return tokens, dl


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` retrieval over whitespace tokens — the
    lexical ranking primitive behind corpus search, quality-by-query
    probes and retrieval-based decontamination triage (pairs with
    ``contamination_check``: BM25 surfaces *candidate* overlaps cheaply,
    the gram containment verdict is exact). No reference twin — the
    reference has no search surface; this extends the engine's
    training-data program.

    Returns ``(doc_id, bm25, n_terms_hit)``, the k highest-scoring
    documents (ROUND 6, unique ``id_col`` tiebreak — rank computed on
    the rounded value on both engines).

    Scale shape: the explode is filtered to the query vocabulary BEFORE
    the tf aggregation, so the shuffled volume is |matching postings|,
    never the token stream; ``df`` (<= |terms| rows) and the one-row
    corpus scalar (N, avgdl) are broadcast — provably bounded by the
    query, never data-dependent; the final ranking is a
    TakeOrderedAndProject, no global sort. One fact-table pass computes
    dl; a second computes postings — at 100 TB the dl pass rides the
    same scan via a persisted token-count column (corpus_prep already
    materializes one), which keeps this a single-scan query.

    Cross-engine exactness: per-term scores are IEEE doubles with an
    identical operation tree in Spark and the DuckDB oracle (literals
    pre-folded to ``k1+1``, ``k1*(1-b)``, ``k1*b`` so neither engine's
    constant folding changes the tree); the per-document sum is over
    DECIMAL(28,12)-cast term scores — order-independent, so shuffle
    nondeterminism can't flip ties (see memory: parity recipes)."""
    if not terms:
        raise ValueError("terms must be non-empty")
    tokens, dl = _bm25_token_stream(docs, id_col, text_col)
    from tdei_extract_load_service_spark.session import persist_scoped

    # dl persisted (r14): the corpus scan fed THREE subtrees — the
    # (n_docs, avgdl) scalar agg, the tf explode, and the score join's
    # doc-length side — and Spark plans each from parquet (no common
    # subplan dedup), so the text column was re-read and re-split three
    # times. The cached frame is the NARROW (doc_id, dl) projection —
    # the "persisted token-count column" the 100 TB note below already
    # prescribes — never the text; the scalar agg and the join now read
    # it instead of rescanning the corpus (guide §2.4). Values are
    # unchanged: same dl expression, and the scalar's DECIMAL sum is
    # order-independent.
    dl = persist_scoped(dl, "text.bm25_topk.dl")
    scal = dl.agg(
        F.count("*").alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("avgdl"),
    )
    # persisted: both the df derivation and the score join read tf, and
    # the un-persisted form plans the corpus-sized token explode twice
    # (measured via plan probe — the q20/q2/lm_score shared-subtree
    # lesson); the cached frame is postings-sized (query-term matches
    # only), orders of magnitude below the token stream
    tf = persist_scoped(
        tokens.where(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf")),
        "text.bm25_topk.tf",
    )
    return _bm25_rank(tf, dl, scal, k=k, k1=k1, b=b)


def _bm25_rank(
    tf: DataFrame,
    dl: DataFrame,
    scal: DataFrame,
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """The BM25 scoring tail shared by ``bm25_topk`` (inline postings)
    and the streamed-index serve path (``streaming/shadow.
    bm25_index_shadow``): query-filtered tf + doc lengths + the one-row
    corpus scalar → broadcast df, the pre-folded IEEE score tree,
    DECIMAL-summed per-doc totals, TakeOrdered. ONE expression tree, so
    inline == served is structural, not coincidental."""
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    per = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scal))
        .withColumn(
            "_tscore",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).cast("decimal(28,12)"),
        )
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.round(F.sum("_tscore").cast("double"), 6).alias("bm25"),
            F.count("*").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def bm25_batch_stats(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """The per-batch contribution a streaming BM25 index appends:
    FULL-vocabulary postings ``(doc_id, term, tf)`` plus doc lengths
    ``(doc_id, dl)`` — computed exactly as ``bm25_topk`` computes them
    inline (same tokenizer, same empty-text guard), so appended batches
    union to the inline frames verbatim. Because each document lives in
    exactly ONE micro-batch, per-batch postings/doclen rows are
    disjoint and the merge is pure union — associative AND commutative,
    the dedup-sink algebra class: streamed == recomputed for any batch
    split. df / avgdl are NOT stored — they are derived at serve time
    from the streamed tables (IDF depends on the whole corpus, so
    storing it per batch would bake in a stale denominator)."""
    tokens, dl = _bm25_token_stream(docs, id_col, text_col)
    postings = (
        tokens.where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return postings, dl


def lm_bigram_score(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Character-bigram language-model scoring — the perplexity-proxy
    quality filter (the CCNet/KenLM move: score text against a corpus
    LM, drop the tail). The model here is self-trained on the scored
    corpus itself, so every observed bigram has count >= 1 and the
    score is finite without smoothing; a production pipeline trains the
    model on a clean reference corpus once and broadcasts it — the
    serving plan is identical.

    Returns ``(doc_id, avg_logprob, n_bigrams)`` where ``avg_logprob``
    is the mean of ``ln(C(ab)/C(a·))`` over the document's bigram
    positions (ROUND 6). Lower = less corpus-typical character
    structure (mojibake, binary spills, boilerplate soup). Documents
    shorter than 2 chars have no bigrams and drop out.

    Scale shape: the text crosses the bigram explode ONCE — per-doc
    term frequencies are aggregated immediately (map-side combinable)
    and PERSISTED, and the model (bigram + prefix marginals, bounded by
    |alphabet|^2 rows — hundreds, not corpus-sized) is derived FROM the
    tf frame, then broadcast back onto it; the un-persisted form plans
    the corpus-sized explode twice (the q20/q2/source_overlap
    shared-subtree lesson). Per-term log terms are DECIMAL-summed so
    shuffle order can't flip ties (parity recipes)."""
    # the length guard is load-bearing, not an optimization: Spark's
    # sequence(1, stop) REVERSES into [1, 0, ...] when stop < 1, so an
    # empty/1-char doc would fabricate phantom bigrams (DuckDB's
    # range(1, stop) is empty there — the oracle caught this)
    inst = docs.where(F.length(_col(text_col)) >= 2).select(
        _col(id_col).alias("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(_col(text_col)) - 1),
                lambda i: _col(text_col).substr(i, F.lit(2)),
            )
        ).alias("bg"),
    )
    from tdei_extract_load_service_spark.session import persist_scoped

    tf = persist_scoped(
        inst.groupBy("doc_id", "bg").agg(F.count("*").alias("tf")),
        "text.lm_bigram_score.tf",
    )
    c2 = tf.groupBy("bg").agg(F.sum("tf").alias("c2"))
    # the prefix marginal rides a window over the MODEL-SIZED c2 frame
    # (bounded by |alphabet|^2 rows at any corpus scale) instead of a
    # second aggregate + broadcast join: same long SUM over the same
    # rows (order-independent), one fewer aggregation pass and join —
    # and the coalesce(1) makes the window exchange-free, so deriving
    # the model from c2 is a single narrow stage (r14; the drift-family
    # model-tail recipe)
    from pyspark.sql.window import Window as _W

    model = c2.coalesce(1).select(
        "bg",
        "c2",
        F.sum("c2").over(_W.partitionBy(F.substring("bg", 1, 1))).alias("c1"),
    )
    return tf.join(F.broadcast(model), "bg").groupBy("doc_id").agg(
        F.round(
            F.sum(
                (F.col("tf") * F.log(F.col("c2") / F.col("c1"))).cast(
                    "decimal(28,12)"
                )
            ).cast("double")
            / F.sum("tf"),
            6,
        ).alias("avg_logprob"),
        F.sum("tf").alias("n_bigrams"),
    )


@functools.lru_cache(maxsize=PLAN_MEMO_SIZE)
def _term_buckets(spark, terms: tuple, n_buckets: int) -> list[int]:
    """Bucket ids for query terms via the engine's own xxhash64 (a Python
    twin could drift) — computed over ONE OneRowRelation job (codegen
    projection, no pickled-RDD local relation: ``createDataFrame(<python
    list>)`` costs a pickled scan per call — the verify-skill gotcha).
    Memoized: the inputs are query literals, never corpus data."""
    row = spark.range(1).select(
        *[
            F.pmod(F.xxhash64(F.lit(t)), F.lit(n_buckets))
            .cast("int")
            .alias(f"_b{i}")
            for i, t in enumerate(terms)
        ]
    ).first()
    return sorted({int(v) for v in row})


def _index_read(spark, path: str) -> DataFrame:
    import hashlib
    import os

    # Validate against the publish marker's (mtime, size, content
    # digest): a swept-then-rebuilt index under the SAME path gets new
    # part files, and a plan's file listing would be stale. mtime alone
    # can tie across a rebuild on coarse-granularity filesystems, so the
    # marker's bytes join the stamp; the marker is rewritten on every
    # publish.
    marker = os.path.join(os.path.dirname(path), "_meta.json")
    try:
        st = os.stat(marker)
        with open(marker, "rb") as fh:
            mbytes = fh.read()
        stamp = (st.st_mtime_ns, st.st_size, hashlib.md5(mbytes).hexdigest())
    except OSError:
        stamp = None
    return _index_plan(spark, path, stamp)


@functools.lru_cache(maxsize=PLAN_MEMO_SIZE)
def _index_plan(spark, path: str, stamp) -> DataFrame:
    # a plan of the content-addressed index directory, not data: every
    # action still scans parquet; a superseded stamp ages out of the LRU
    return spark.read.parquet(path)


def build_bm25_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
    corpus_key: str | None = None,
) -> tuple[str, int, float]:
    """Materialize the BM25 inverted index for a corpus — the
    text-retrieval twin of ``similarity.build_pq_index``'s write-once
    architecture: postings ``(term, doc_id, tf, dl)`` written
    ``partitionBy(term_bucket)`` (``pmod(xxhash64(term), n_buckets)``),
    per-term document frequencies beside them, and the corpus scalars
    (N, avgdl) in the directory meta. Returns ``(path, n_docs, avgdl)``.

    ``dl`` is denormalized into every posting (classic inverted-index
    practice) so the serving query needs NO document-length join — a
    query touches only its terms' bucket directories.

    Scale shape: the build is one token explode + one (doc, term)
    aggregation — the same work the inline query does once per query,
    paid once per corpus; serving becomes a partition-PRUNED scan of
    |terms| buckets out of ``n_buckets`` (asserted in plan_audit). At
    100 TB the inline form re-tokenizes the corpus per query and is not
    a query at all; the stored form is — the PQ lesson again.

    Caching: ``staging.stored_index`` keyed on (corpus, n_buckets),
    reused across processes (postings are a pure function of the
    corpus); N and avgdl are read back from the directory's
    ``_meta.json``. ``corpus_key`` is required and must change when the
    corpus does (callers pass source path + mtime)."""
    import json
    import os

    from tdei_extract_load_service_spark.operators.staging import stored_index

    def build(tmp: str) -> None:
        ws = _WS_CLASS
        dl = docs.select(
            _col(id_col).alias("doc_id"),
            F.when(F.trim(_col(text_col)) == "", 0)
            .otherwise(F.size(F.split(F.trim(_col(text_col)), ws)))
            .alias("dl"),
        )
        n_docs, avgdl = dl.agg(
            F.count("*"),
            (
                F.sum(F.col("dl").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ),
        ).first()
        tf = (
            docs.select(
                _col(id_col).alias("doc_id"),
                F.explode(F.split(F.trim(_col(text_col)), ws)).alias("term"),
            )
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
            .join(dl, "doc_id")
            .withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
            )
        ).persist()
        dfreq = tf.groupBy("term", "term_bucket").agg(
            F.count("*").alias("df")
        )
        try:
            tf.write.mode("overwrite").partitionBy("term_bucket").parquet(
                os.path.join(tmp, "postings")
            )
            dfreq.write.mode("overwrite").partitionBy(
                "term_bucket"
            ).parquet(os.path.join(tmp, "df"))
        finally:
            tf.unpersist()
        with open(os.path.join(tmp, "_meta.json"), "w") as fh:
            json.dump({"n_docs": int(n_docs), "avgdl": float(avgdl)}, fh)

    path = stored_index(
        "/tmp/spark_graft_bm25_index",
        (corpus_key, n_buckets),
        build,
        marker="_meta.json",
    )
    with open(os.path.join(path, "_meta.json")) as fh:
        meta = json.load(fh)
    return path, meta["n_docs"], meta["avgdl"]


def bm25_topk_stored(
    spark,
    index_path: str,
    n_docs: int,
    avgdl: float,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
) -> DataFrame:
    """BM25 top-``k`` served from a stored inverted index
    (``build_bm25_index``): the query reads ONLY its terms' bucket
    partitions (directory-level pruning via the ``term_bucket`` filter —
    never the corpus), joins the (broadcast, <= |terms|-row) stored df,
    and ranks with the IDENTICAL operation tree as the inline
    ``bm25_topk`` — stored-vs-inline equality is pinned in pytest and
    the entry shares the inline oracle."""
    import os

    if not terms:
        raise ValueError("terms must be non-empty")
    buckets = _term_buckets(spark, tuple(terms), n_buckets)
    postings = (
        _index_read(spark, os.path.join(index_path, "postings"))
        .where(F.col("term_bucket").isin(buckets))
        .where(F.col("term").isin(list(terms)))
    )
    dfreq = (
        _index_read(spark, os.path.join(index_path, "df"))
        .where(F.col("term_bucket").isin(buckets))
        .where(F.col("term").isin(list(terms)))
        .select("term", "df")
    )
    per = (
        postings.join(F.broadcast(dfreq), "term")
        .withColumn(
            "_tscore",
            (
                F.log(
                    F.lit(1.0)
                    + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
                )
            ).cast("decimal(28,12)"),
        )
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.round(F.sum("_tscore").cast("double"), 6).alias("bm25"),
            F.count("*").alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def readability_ari(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Automated Readability Index per document — the grade-level proxy
    quality filters use when syllable counting is off the table (ARI
    needs only character/word/sentence counts): ``4.71*(chars/words) +
    0.5*(words/sentences) - 21.43``. Returns ``(id_col, n_chars_eff,
    n_words, n_sentences, ari)``; blank documents yield NULL ari
    (0-word division would poison downstream filters with NaN).

    Cross-engine exactness: the three counts are exact integers
    (non-whitespace chars via the explicit ASCII class, whitespace
    tokens, ``[.!?]+`` runs with a floor of 1 so unpunctuated docs are
    one sentence); the score runs in FIXED-POINT micro-units — BIGINT
    ``4710000*c DIV w + 500000*w DIV s - 21430000`` — because the float
    form landed EXACTLY on a ROUND(x, 6) half-point on real fixture data
    (294/64 is dyadic, ari = 32.2065625, and Spark's HALF_UP disagreed
    with DuckDB there: the graph_pagerank lesson, measured not
    theoretical). ``ari_fp6 / 1e6`` recovers the float; both divisions
    are over non-negative ints so DIV == floor on both engines.

    Scale shape: a pure projection — per-row column arithmetic in
    whole-stage codegen, no shuffle, no UDF, no join."""
    t = _col(text_col)
    chars = F.length(F.regexp_replace(t, "[ \t\n\r\f\v]", ""))
    words = token_count_ws(t)
    sentences = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    # counts as BIGINT: DuckDB length()/len() return int64; equal widths
    # keep the driver's dtype-sensitive compare trivially safe
    staged = df.select(
        _col(id_col).alias(id_col),
        chars.cast("long").alias("n_chars_eff"),
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
    )
    ari_fp6 = F.expr(
        "4710000 * n_chars_eff DIV n_words"
        " + 500000 * n_words DIV n_sentences - 21430000"
    )
    return staged.withColumn(
        "ari_fp6", F.when(F.col("n_words") > 0, ari_fp6)
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str,
    top_k: int | None = 30,
) -> DataFrame:
    """Corpus-weighted adjacent-symbol pair counts — ONE iteration of
    BPE tokenizer training (Sennrich et al. 2016: the merge chosen each
    round is the argmax of exactly this table). Two aggregations, both
    map-side-combinable: (1) word frequencies — the corpus collapses to
    its |vocab|-sized word-count table, the standard BPE trick that
    makes every later iteration independent of corpus size; (2)
    character-bigram positions per DISTINCT word, weighted by word
    frequency. The pair HOF closes over a plain attribute (the word),
    not a computed array, so Catalyst's lambda inlining re-reads a
    column reference — none of the r6 O(len²) re-evaluation.

    At 100 TB the word-count table is the only corpus-sized shuffle
    (keyed on the word, map-side partials absorb Zipf's head) and it is
    exactly what a real tokenizer trainer persists once and iterates on
    driver-side or in a |vocab|-row frame. Returns ``(pair,
    pair_count)``, most frequent first, span ties broken by pair text.

    Guard: ``sequence(1, n)`` on Spark DESCENDS when n < 1 (it would
    emit positions [1, 0] for 1-char words) — short words take the
    empty-array branch instead."""
    words = df.select(F.explode(F.split(_col(text_col), " ")).alias("word"))
    wc = words.groupBy("word").agg(F.count("*").alias("cnt"))
    pair_arr = F.when(
        F.length("word") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.col("word").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = wc.select(F.explode(pair_arr).alias("pair"), "cnt")
    out = (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    )
    return out.limit(top_k) if top_k is not None else out


def word_ngrams(text: str | Column, n: int = 2) -> Column:
    """All word ``n``-grams IN ORDER, WITH MULTIPLICITY — the feature
    stream for distribution estimators (DSIR importance weights), where
    occurrence COUNTS are the signal. ``dedup.word_shingles`` is the
    set-semantics twin (it dedups for Jaccard/MinHash); this one must
    not dedup. Split on a single space to stay byte-compatible with the
    DuckDB oracle (``string_split(text, ' ')``)."""
    words = F.split(_col(text), " ")
    count = F.size(words) - (n - 1)
    return F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    n: int = 2,
    num_buckets: int = 128,
    scale: int = 10**9,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """DSIR-style data selection: importance weights from hashed n-gram
    bucket distributions (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"). Documents whose hashed-n-gram
    profile looks like the TARGET slice (``target`` boolean column, e.g.
    a trusted high-quality subset) score high; generic documents score
    ~0; off-distribution documents score negative. No reference twin —
    the reference (extract-load-service.ts) has no corpus-curation
    surface; this extends the engine's training-data program alongside
    quality_classifier (supervised) and corpus_mix (quota-driven).

    Construction, exact on both engines:
    - feature stream = word n-grams WITH multiplicity, hashed to
      ``num_buckets`` buckets via the md5-head-8-hex recipe the minhash
      family certifies (Spark ``conv(substring(md5,1,8),16,10)`` ==
      DuckDB ``CAST(concat('0x', substr(md5,1,8)) AS BIGINT)``);
    - bucket distributions with add-one smoothing in INTEGER fixed
      point: ``p_b = ((cnt_b + 1) * scale) DIV (tot + num_buckets)`` —
      the paper's log-likelihood-ratio weight is replaced by the scaled
      probability DIFFERENCE ``pt_b - pr_b`` so every weight and every
      document score is a BIGINT that both engines compute bit-
      identically (the algebraic-sigmoid lesson from
      quality_classifier: exact surrogate over libm transcendentals;
      production swaps one projection to get literal log-ratios);
    - ``dsir_score(d) = sum_b f_b(d) * (pt_b - pr_b)`` where ``f_b`` is
      the document's bucket count.

    Returns ``(id, dsir_score)`` for every document with at least one
    n-gram (shorter documents carry no feature evidence and are
    excluded on both engines).

    Scale shape: ONE pass over the token stream builds the (doc,
    bucket) count frame ``f`` (hash-aggregate with map-side partials;
    persisted — it is the compact profile, |docs| x <=num_buckets, that
    both the weight estimate and the scoring read). Bucket weights
    derive from ``f``, not a second corpus pass: a num_buckets-row
    aggregate crossed with a one-row total, BROADCAST back onto ``f``.
    The only corpus-keyed shuffle is the (doc, bucket) aggregation. At
    100 TB nothing else grows: weights stay num_buckets rows. Overflow
    headroom: ``(cnt+1)*scale`` caps BIGINT at ~9.2e9 n-grams per
    bucket (~1.2e12 tokens at 128 buckets); larger corpora raise
    num_buckets or drop ``scale`` a decade — documented, not silent.
    """
    from tdei_extract_load_service_spark.session import persist_scoped, spread

    b = int(num_buckets)
    # ``keep``: extra per-document columns carried THROUGH the (doc,
    # bucket) aggregation (must be functionally dependent on ``id_col``
    # — one value per document — so the group cardinality is unchanged).
    # Callers that need such a column in their output (dsir_select's
    # ``lang``) previously re-joined the corpus to recover it: a whole
    # second fact-scan for a column the profile pass already read
    # (guide §2.4 — remove passes outright; r14).
    toks = spread(df).select(
        _col(id_col).alias("_id"),
        target.alias("_is_t"),
        *[_col(c) for c in keep],
        F.explode(word_ngrams(text_col, n)).alias("_ng"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("_ng")), 1, 8), 16, 10).cast("long")
        % F.lit(b)
    ).alias("bucket")
    f = persist_scoped(
        toks.select("_id", "_is_t", *keep, bucket)
        .groupBy("_id", "_is_t", *keep, "bucket")
        .agg(F.count(F.lit(1)).alias("_f")),
        "text.dsir_scores.f",
    )
    w = f.groupBy("bucket").agg(
        F.sum("_f").alias("_r_cnt"),
        F.sum(F.when(F.col("_is_t"), F.col("_f")).otherwise(F.lit(0))).alias(
            "_t_cnt"
        ),
    )
    # totals via unpartitioned windows over the MODEL-SIZED w frame
    # (num_buckets rows at any corpus scale) instead of a separate
    # aggregate + crossJoin(broadcast): the old form referenced ``w``
    # twice (Spark does not dedup common subplans) and paid an extra
    # aggregation job per run; the coalesce(1) makes the windows
    # exchange-free (r14, the drift-family model-tail recipe). Integer
    # sums are order-independent — identical _pt/_pr values.
    wt = w.coalesce(1).select(
        "bucket",
        F.expr(
            f"(( _t_cnt + 1) * {int(scale)}L)"
            f" DIV ((sum(_t_cnt) OVER ()) + {b})"
        ).alias("_pt"),
        F.expr(
            f"(( _r_cnt + 1) * {int(scale)}L)"
            f" DIV ((sum(_r_cnt) OVER ()) + {b})"
        ).alias("_pr"),
    )
    return (
        f.join(F.broadcast(wt), "bucket")
        .groupBy("_id", *keep)
        .agg(
            F.sum(F.col("_f") * (F.col("_pt") - F.col("_pr"))).alias(
                "dsir_score"
            )
        )
        .select(F.col("_id").alias(id_col), *keep, "dsir_score")
    )


def _bpe_learn(
    df: DataFrame, text_col: str, k: int
) -> tuple[DataFrame, list[tuple]]:
    """Shared BPE training loop behind ``bpe_train`` / ``bpe_apply`` /
    ``bpe_fertility``: collapses the corpus ONCE to its |vocab|
    word-count table, then runs ``k`` greedy merge rounds over the
    sentinel-bounded symbol encoding. Returns ``(vocab, merges)`` where
    ``vocab`` is the (word, cnt, b) frame with all learned merges
    APPLIED — after round t, column ``b`` is exactly the greedy BPE
    encoding of each word under merges 1..t, so the trained model and
    the encoded corpus come out of the same bounded loop."""
    from tdei_extract_load_service_spark.session import persist_scoped, spread

    sep = "\x1f"
    words = (
        spread(df)
        .select(F.explode(F.split(_col(text_col), " ")).alias("word"))
        .where(F.length("word") > 0)
    )
    b0 = F.concat(
        F.lit(sep),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            ),
            sep + sep,
        ),
        F.lit(sep),
    )
    vocab = persist_scoped(
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("word", "cnt", b0.alias("b")),
        "text.bpe_train.vocab",
    )
    # enforce the documented sentinel constraint instead of trusting it
    # (review r13): a word containing \x1f would corrupt the bounded
    # encoding IDENTICALLY on both engines — twin-identical wrongness
    # the oracle cannot catch — so it must fail loudly, not certify.
    # One vocab-sized job against the cached frame, not a corpus pass.
    bad = vocab.where(F.col("word").contains(sep)).count()
    if bad:
        raise ValueError(
            f"bpe_train: {bad} vocabulary word(s) contain the \\x1f "
            "sentinel — pre-tokenize to a byte/char alphabet that "
            "excludes it before training"
        )
    merges: list[tuple] = []
    for t in range(1, k + 1):
        sym = F.split(F.btrim(F.col("b"), F.lit(sep)), sep + sep)
        pair_arr = F.when(
            F.size(sym) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(sym) - 1),
                lambda i: F.struct(
                    F.element_at(sym, i).alias("l"),
                    F.element_at(sym, i + 1).alias("r"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        row = (
            vocab.select("cnt", F.explode(pair_arr).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(
                F.col("pair_count").desc(),
                F.col("l").asc(),
                F.col("r").asc(),
            )
            .limit(1)
            .collect()
        )
        if not row:  # vocabulary fully merged — nothing left to learn
            break
        a, b = row[0]["l"], row[0]["r"]
        merges.append((t, a, b, int(row[0]["pair_count"])))
        vocab = vocab.withColumn(
            "b",
            F.replace(
                F.col("b"),
                F.lit(f"{sep}{a}{sep}{sep}{b}{sep}"),
                F.lit(f"{sep}{a}{b}{sep}"),
            ),
        )
    return vocab, merges


def bpe_train(df: DataFrame, text_col: str, k: int = 6) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016) — ``k`` greedy
    merges, not just the single-iteration pair table
    (``bpe_pair_counts``): each round picks the most frequent adjacent
    symbol pair (count desc, then pair text — deterministic) and merges
    every non-overlapping left-to-right occurrence across the vocab,
    exactly the loop a real tokenizer trainer runs. Returns the merge
    table ``(step, left_sym, right_sym, pair_count)`` — the trained
    model.

    Greedy-merge application is a STRING REPLACE over a
    sentinel-bounded symbol encoding: a word's segmentation travels as
    ``\\x1f sym \\x1f\\x1f sym ... \\x1f`` and merging pair (a, b) is
    ``replace(b, '\\x1f a \\x1f\\x1f b \\x1f', '\\x1f ab \\x1f')`` —
    both engines' ``replace`` scans left-to-right over non-overlapping
    occurrences, which IS greedy BPE ("aaa" + (a,a) -> ["aa","a"]), and
    the sentinels make cross-symbol false matches impossible for any
    multi-char symbols (constraint: symbols must not contain \\x1f —
    byte-level pretokenizers guarantee it; the fixture is ASCII). The
    DuckDB oracle restates all k rounds as unrolled MATERIALIZED CTEs.

    Scale shape: the corpus collapses ONCE to its |vocab|-sized
    word-count table (the only corpus-keyed shuffle; map-side partials
    absorb Zipf's head) — the standard BPE trick that makes every
    iteration corpus-size-independent. Each round is a projection +
    pair aggregation over the vocab frame plus a ONE-ROW argmax collect
    (the bounded-model discipline: the merge list IS the model). At
    100 TB the trainer's per-round cost is the vocab size, not the
    corpus.
    """
    import pandas as pd

    _, merges = _bpe_learn(df, text_col, k)
    out = pd.DataFrame(
        merges, columns=["step", "left_sym", "right_sym", "pair_count"]
    )
    return (
        df.sparkSession.createDataFrame(
            out,
            "step int, left_sym string, right_sym string, pair_count long",
        )
        .orderBy(F.col("step").asc())
    )


def bpe_apply(df: DataFrame, text_col: str, k: int = 6) -> DataFrame:
    """BPE ENCODING — the serving half of ``bpe_train``: train ``k``
    merges on the corpus, apply them greedily to every word, and return
    the resulting token-usage table ``(token, token_len, occurrences,
    vocab_slots)`` — ``occurrences`` is corpus-frequency-weighted,
    ``vocab_slots`` counts encoding positions across distinct words.
    No separate apply pass exists or is needed: training round ``t``
    REWRITES the vocabulary encoding in place, so after ``k`` rounds
    the vocab's ``b`` column IS the greedy encoding of each word under
    the learned merge list (training-order application == rank-order
    application, the standard BPE identity).

    Scale shape: inherits ``bpe_train``'s — the corpus collapses once
    to the |vocab| word-count table (the only corpus-keyed shuffle);
    the token table is vocab-bounded, produced by one explode +
    hash-aggregate over the CACHED vocab frame. At 100 TB the encode
    step costs |vocab|, not the corpus; re-encoding raw documents is a
    broadcast join of this bounded word→tokens map back onto the token
    stream."""
    sep = "\x1f"
    vocab, _ = _bpe_learn(df, text_col, k)
    toks = F.split(F.btrim(F.col("b"), F.lit(sep)), sep + sep)
    return (
        vocab.select("cnt", F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(
            F.sum("cnt").alias("occurrences"),
            F.count(F.lit(1)).alias("vocab_slots"),
        )
        .select(
            "token",
            F.length("token").cast("int").alias("token_len"),
            "occurrences",
            "vocab_slots",
        )
        .orderBy(F.col("occurrences").desc(), F.col("token").asc())
    )


def bpe_fertility(df: DataFrame, text_col: str, k: int = 6) -> DataFrame:
    """Tokenizer FERTILITY / compression audit over a ``k``-merge BPE:
    the one-row corpus summary a tokenizer-selection pipeline compares
    across candidate vocabularies — total words/tokens/chars plus the
    two classic ratios, tokens-per-1000-words and chars-per-token, in
    INTEGER micro-units (``x * scale DIV y``) so the verdict is
    bit-identical cross-engine (the fixed-point discipline of
    text_quality_classifier / dsir_scores).

    Scale shape: one |vocab|-sized projection (token count via
    ``size(split(...))`` — no explode) + a one-row aggregate over the
    CACHED vocab frame from ``_bpe_learn``. Corpus-keyed work remains
    the single word-count collapse."""
    sep = "\x1f"
    vocab, _ = _bpe_learn(df, text_col, k)
    per = vocab.select(
        "cnt",
        F.length("word").cast("long").alias("_nchar"),
        F.size(F.split(F.btrim(F.col("b"), F.lit(sep)), sep + sep))
        .cast("long")
        .alias("_ntok"),
    )
    return per.agg(
        F.sum("cnt").alias("total_words"),
        F.count(F.lit(1)).alias("distinct_words"),
        F.sum(F.col("cnt") * F.col("_ntok")).alias("total_tokens"),
        F.sum(F.col("cnt") * F.col("_nchar")).alias("total_chars"),
    ).select(
        "total_words",
        "distinct_words",
        "total_tokens",
        "total_chars",
        F.expr("(total_tokens * 1000L) DIV total_words").alias(
            "tokens_per_kword"
        ),
        F.expr("(total_chars * 1000000L) DIV total_tokens").alias(
            "chars_per_token_micro"
        ),
    )


def keywords_topm(
    df: DataFrame,
    id_col: str,
    text_col: str,
    m: int = 3,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Per-document keyword extraction — the corpus-TAGGING dual of
    ``tfidf_topk`` (that ranks documents for a query; this ranks terms
    for every document): the ``m`` highest TF-IDF terms per doc, scored
    with the SAME fixed-point integer formula ``(scale * tf * N) DIV
    (df * dl)`` so ranks are bit-identical cross-engine (true integer
    division, never floor-of-double — the tfidf_topk lesson). The
    standard corpus-curation primitive behind topic tagging, cluster
    labeling and near-dup cluster naming.

    Returns ``(doc_id, term, tfidf_fp, rnk)`` for ranks 1..m (score
    desc, term asc tiebreak — rank computed on the exact integer).

    Scale shape: one token explode feeds the (doc, term) tf aggregation
    (map-side combinable — the only corpus-sized shuffle carries
    postings, not text); df is a |vocab|-bounded aggregate joined back
    WITHOUT a broadcast hint (vocab grows with real corpora — AQE/stats
    pick the strategy, the text_contamination discipline); the per-doc
    top-m is one window over the postings partitioned by doc. The
    driver-side N / max_dl scalar pass doubles as the overflow guard:
    Spark's non-ANSI bigint multiply wraps silently past 2^63 where
    DuckDB errors, so an unguarded overflow would be a cross-engine
    MISMATCH, not a crash."""
    from pyspark.sql.window import Window

    # NOT spread(): the postings shuffle (every (doc, term) pair)
    # dominates, not the tokenize map side — an input exchange measured
    # 1.05 -> 1.24 s at sf0.1 (3x interleaved A/B, r13)
    docs = df.select(
        _col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(_col(text_col))), _WS_CLASS).alias("words"),
    ).withColumn("dl", F.size("words"))
    stats = docs.agg(
        F.count("*").alias("n"), F.max("dl").alias("max_dl")
    ).collect()[0]
    n, max_dl = stats["n"], stats["max_dl"] or 0
    if scale * max(n, 1) * max(max_dl, 1) > 2**63 - 1:
        raise ValueError(
            "keywords_topm: scale * N * max_dl exceeds int64 — lower the "
            "scale or pre-chunk pathological documents"
        )
    tf = (
        docs.select("doc_id", "dl", F.explode("words").alias("term"))
        .where(F.col("term") != "")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_t")
    )
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        F.expr(
            f"({int(scale)}L * tf * {int(n)}L) DIV (df_t * dl)"
        ).alias("tfidf_fp"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_fp").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= m)
        .orderBy(F.col("doc_id").asc(), F.col("rnk").asc())
    )


def dsir_resample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target,
    stratum_col: str,
    k_per_stratum: int = 20,
    n: int = 2,
    num_buckets: int = 128,
    scale: int = 10**9,
) -> DataFrame:
    """Systematic importance RESAMPLING over DSIR weights — the second
    half of the DSIR recipe (Xie et al. 2023): ``dsir_scores`` ranks,
    this SAMPLES proportional to weight, which preserves the target
    distribution instead of collapsing onto its mode the way a pure
    top-k cut does. Deterministic low-variance systematic sampling in
    EXACT integers: within each stratum, docs ordered by id carry a
    cumulative weight ``cum``; doc i is selected iff
    ``(cum_i * k) DIV W > (cum_{i-1} * k) DIV W`` — the k equally-spaced
    thresholds of classic systematic resampling, stated entirely in
    integer arithmetic so both engines agree on every pick (no float
    cumulative sum, no RNG). Weights are ``greatest(dsir_score, 0)``
    (the fixed-point probability-difference scores; non-target-leaning
    docs get weight 0 and can never be picked). Returns
    ``(stratum, doc_id, weight, slot)`` where ``slot`` is the picked
    threshold index.

    Scale shape: dsir_scores' one corpus-keyed (doc, bucket) shuffle,
    then ONE stratum-partitioned window pair (cumsum + lag — they share
    the stratum exchange, the token_budget_sample discipline) and a
    filter. Per-stratum totals ride the same window (no second pass).
    At 100 TB the stratum window is the bounded-state concern exactly
    as in token_budget_sample: strata are the parallelism unit."""
    from pyspark.sql.window import Window

    scores = dsir_scores(
        df, id_col, text_col, target=target, n=n,
        num_buckets=num_buckets, scale=scale,
    )
    from tdei_extract_load_service_spark.session import persist_scoped

    # TWO consumers read this frame (the overflow-guard aggregate and
    # the stratum window pass): without a persist each re-runs the whole
    # dsir_scores pipeline — the (doc, bucket) bigram shuffle included
    # (guide §2.4: the formatted plan showed the scores subtree twice).
    # The persisted projection is three narrow columns.
    base = persist_scoped(
        df.select(_col(id_col).alias("doc_id"), _col(stratum_col).alias("stratum"))
        .join(scores.withColumnRenamed(id_col, "doc_id"), "doc_id")
        .select(
            "stratum",
            "doc_id",
            F.greatest(F.col("dsir_score"), F.lit(0)).alias("weight"),
        ),
        "text.dsir_resample.base",
    )
    kk = kk_guard = int(k_per_stratum)
    # overflow guard (the keywords_topm discipline): the threshold
    # products cum * k reach w_tot * k at the stratum tail, and Spark's
    # non-ANSI bigint multiply wraps silently where DuckDB errors — an
    # unguarded overflow is a cross-engine MISMATCH, not a crash. One
    # bounded (|strata|-row) aggregate over the cached dsir profile.
    max_tot = base.groupBy("stratum").agg(
        F.sum("weight").alias("_w")
    ).agg(F.max("_w").alias("_m")).collect()[0]["_m"]
    if max_tot is not None and int(max_tot) * kk_guard > 2**63 - 1:
        raise ValueError(
            "dsir_resample: stratum weight total * k exceeds int64 — "
            "lower the fixed-point scale or split the stratum"
        )
    w_run = (
        Window.partitionBy("stratum")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("stratum")
    cum = base.select(
        "stratum",
        "doc_id",
        "weight",
        F.sum("weight").over(w_run).alias("cum"),
        F.sum("weight").over(w_all).alias("w_tot"),
    )
    sel = cum.where(F.col("w_tot") > 0).select(
        "stratum",
        "doc_id",
        "weight",
        F.expr(f"(cum * {kk}L) DIV w_tot").alias("_hi"),
        F.expr(f"((cum - weight) * {kk}L) DIV w_tot").alias("_lo"),
    )
    return (
        sel.where(F.col("_hi") > F.col("_lo"))
        .select(
            "stratum",
            "doc_id",
            "weight",
            F.col("_lo").cast("int").alias("slot"),
        )
        .orderBy(F.col("stratum").asc(), F.col("doc_id").asc())
    )
