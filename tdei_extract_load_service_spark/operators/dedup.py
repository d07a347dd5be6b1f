"""Deduplication operators (north-star extension, BASELINE.json): the
training-data-pipeline dedup family over the ``documents`` fixture.

All hot paths are JVM-side higher-order functions — shingling, MinHash
signatures and SimHash bit accumulation run inside whole-stage codegen with
NO shuffle until the candidate-pair join. The only shuffles are the
pair-generation joins, each keyed so that work is proportional to candidate
pairs, never to |docs|²:

- exact:          shuffle on content hash (one row per doc)
- ngram_jaccard:  shuffle on shared shingle (inverted-index join)
- minhash_lsh:    shuffle on (band, band-hash) buckets
- simhash:        shuffle on 16-bit simhash chunks (Hamming blocking)
- embedding:      all-pairs (SF-test oracle path) — the scale path is
                  ``operators.similarity`` LSH/IVF bucketing

Skew note: stop-phrase shingles create hot keys in the inverted-index
join; AQE skew-join splitting (on in session.py) absorbs moderate skew, and
``max_shingle_df`` provides explicit frequency-capping for pathological
corpora (drops shingles appearing in more than N docs from *candidate
generation only* — exactness is preserved for pairs below the cap).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves string type hints
                     # against these globals (PEP 563 is in force here)
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.session import spread


def _shuffle_partitions(df: DataFrame, default: int = 200) -> int:
    """The session's configured shuffle parallelism — used to PIN the
    partition count of candidate-join exchanges whose cost is the
    per-pair residual (cosine / Hamming / Jaccard), not bytes: AQE's
    byte-based coalescing otherwise shrinks these tiny exchanges to a
    handful of tasks and serializes exactly the expensive stage
    (optimization r13; the count stays the scale knob, never a local
    core-count constant)."""
    try:
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", str(default))
        )
    except Exception:  # pragma: no cover - non-numeric override
        return default


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Split on a single space to stay
    byte-compatible with the DuckDB oracle (``string_split(text, ' ')``)."""
    words = F.split(_col(text), " ")
    count = F.size(words) - (n - 1)
    shingles = F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count), lambda i: F.concat_ws(" ", F.slice(words, i, n))
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact_groups(
    df: DataFrame, id_col: str, content_cols: list[str]
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one row per distinct content
    with the surviving id (min) and the duplicate count.

    ``md5(concat_ws(...))`` shuffles one short hash row per doc — at 100 TB
    the shuffle payload is the hash + id, not the documents.
    """
    key = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in content_cols]))
    return (
        df.withColumn("content_hash", key)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def dedup_exact(df: DataFrame, content_cols: list[str]) -> DataFrame:
    """Keep one row per distinct content (``dropDuplicates`` form)."""
    return df.dropDuplicates(content_cols)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard pairs (inverted-index blocking — no cross join)
# ---------------------------------------------------------------------------


def _shingle_shared_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
    scope: str,
) -> DataFrame:
    """Shared core of the exact shingle-overlap family: per unordered doc
    pair sharing at least one n-gram, the distinct-shingle counts of both
    docs and the intersection size — ``(doc_a, doc_b, n_a, n_b,
    n_shared)``. Jaccard and containment are projections over this frame.

    Inverted-index formulation: explode shingles, self-join on the shingle
    (only docs *sharing* a shingle ever meet — any pair with overlap > 0
    shares one, so no qualifying pair is missed), count shared shingles per
    pair. Work is Σ per-shingle df², not |docs|².
    """
    sh = spread(df).select(
        _col(id_col).alias("id"), word_shingles(text_col, n).alias("shingles")
    ).withColumn("n_shingles", F.size("shingles"))
    # both sides of the self-join reference this subtree; persist so the
    # shingling runs once, not twice (MEMORY_AND_DISK — spills, never OOMs).
    # Join key = xxhash64(shingle): an 8-byte shuffle key instead of the
    # shingle text; collision odds at ~2^-64 per pair are far below any
    # float-rounding tolerance already accepted elsewhere.
    from tdei_extract_load_service_spark.session import persist_scoped

    ex = persist_scoped(
        sh.select("id", "n_shingles", F.explode("shingles").alias("shingle_text"))
        .select("id", "n_shingles", F.xxhash64("shingle_text").alias("shingle")),
        scope,
    )
    if max_shingle_df is not None:
        ex = (
            ex.withColumn("_df", F.count("*").over(Window.partitionBy("shingle")))
            .where(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # sort-merge, not shuffle-hash: SHJ's per-task build map cannot spill,
    # and at x100 (500k docs) the corpus-sized build side OOMs under the
    # fixed 32-partition local layout ("cannot acquire memory to build
    # unsafe hashed relation"); SMJ spills and measured EQUAL at sf0.1
    # (1.45s both). The hint still forbids the other failure mode — the
    # optimizer broadcast-building a corpus-sized side (OOMed at x10).
    a, b = ex.alias("a"), ex.hint("merge").alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.n_shingles").alias("n_a"),
            F.col("b.n_shingles").alias("n_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ALL pairs with shingle-Jaccard >= threshold, computed exactly:
    ``|A∩B| / (|A|+|B|-|A∩B|)`` over ``_shingle_shared_counts`` (see
    there for the inverted-index shape and its scale bounds)."""
    shared = _shingle_shared_counts(
        df, id_col, text_col, n, max_shingle_df, "dedup.ngram_jaccard.ex"
    )
    jaccard = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.withColumn("jaccard", F.round(jaccard, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """ALL pairs with shingle-CONTAINMENT >= threshold, computed exactly —
    Broder's containment coefficient ``|A∩B| / min(|A|, |B|)``, the
    sub-document-duplication signal Jaccard structurally misses: a 200-word
    boilerplate block pasted into a 20k-word page has near-zero Jaccard
    (the union is huge) but containment ~1.0. Corpus-prep pipelines need
    both — Jaccard for whole-document near-dups, containment for
    quote/boilerplate/template detection (the same asymmetry
    ``text_contamination`` exploits for train-test overlap, here applied
    within one corpus).

    Emits ``(doc_a, doc_b, containment, jaccard)`` so the asymmetric and
    symmetric coefficients travel together — a pair with high containment
    and low Jaccard is an embedding, one high on both is a near-dup.

    Same inverted-index machinery and scale bounds as
    ``ngram_jaccard_pairs`` (``_shingle_shared_counts``); candidate work is
    Σ per-shingle df², never |docs|². ``max_shingle_df`` matters MORE here:
    a stop-shingle shared by every document contributes its full df² to the
    candidate volume, and containment (unlike Jaccard) can stay high for
    small docs made of common shingles.
    """
    shared = _shingle_shared_counts(
        df, id_col, text_col, n, max_shingle_df, "dedup.ngram_containment.ex"
    )
    containment = F.col("n_shared") / F.least(F.col("n_a"), F.col("n_b"))
    jaccard = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.withColumn("containment", F.round(containment, 6))
        .withColumn("jaccard", F.round(jaccard, 6))
        .where(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as array<bigint>: position i is
    ``min(xxhash64(shingle, i))`` (the seed rides as an extra hashed value,
    which is ANSI-safe — no arithmetic at all).

    Single fold over the shingles with a ``num_hashes``-wide accumulator —
    one pass, no explode, no shuffle, and a compact expression tree (the
    naive ``num_hashes x array_min(transform(...))`` formulation generates
    an expression per seed and overwhelms codegen: measured 212s vs ~3s at
    sf0.1).

    Measured A/B note: a Kirsch-Mitzenmacher-style two-base-hash family
    (``h1 XOR rotl(h2, i)``) that hashes each shingle string only twice
    was tried and is ~1.6x SLOWER here (2.09s vs 1.28s signature-only at
    sf0.1) — the array<struct> intermediate plus a 64-wide derived array
    per shingle costs codegen more than 64 cheap re-hashes of short
    shingle strings. Measurements beat derivation-count arithmetic."""
    max_long = (1 << 63) - 1
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.aggregate(
        shingles,
        F.array_repeat(F.lit(max_long), num_hashes),
        lambda acc, s: F.zip_with(acc, seeds, lambda m, seed: F.least(m, F.xxhash64(s, seed))),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    slim: bool = False,
    caches: list | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, scored by estimated
    Jaccard (fraction of agreeing signature positions).

    bands=16 × rows=4 over 64 hashes → collision probability
    ``1-(1-j^4)^16`` (≈0.97 at j=0.8, ≈0.04 at j=0.2). Only docs colliding
    in ≥1 band meet in the join — the classic MinHash/LSH scheme
    (Broder '97; Leskovec-Rajaraman-Ullman ch.3), here as pure DataFrame
    ops so the bucket join shuffles hashes, not documents.

    ``slim=True`` switches the band self-join to the metadata-only shape
    (24 B/row shuffle, sigs re-joined post-dedup) for corpora where the
    sig x bands shuffle volume dominates; default carries the sigs through
    the join (measured 2.5x faster up to 10x sf0.1 — see shape comment
    below).

    The (id, sig) frame is persisted for the self-join; pass ``caches`` (a
    list) to receive it for unpersisting after the consuming action —
    otherwise it lives until session LRU eviction (long-lived sessions,
    e.g. the queue consumer, should pass it).
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    sig = spread(df).select(
        _col(id_col).alias("id"),
        minhash_signature(word_shingles(text_col, n), num_hashes).alias("sig"),
    )
    if slim:
        sig = sig.persist()
        if caches is not None:
            caches.append(sig)
        # slim shape: the band self-join shuffles only (id, band, bucket) —
        # 24 B/row — and the 64-long sigs re-join onto the deduplicated
        # candidate set afterwards. The merge hint pins a spillable
        # key-partitioned join: never a broadcast of the corpus-sized sig
        # side (a 10x corpus blew the broadcast build memory), never a
        # shuffled-hash build map (cannot spill — OOMed at x100).
        candidates = lsh_band_candidates(sig, num_hashes, bands)
        scored = (
            candidates.join(
                sig.select(F.col("id").alias("doc_a"), F.col("sig").alias("sig_a")).hint("merge"),
                "doc_a",
            ).join(
                sig.select(F.col("id").alias("doc_b"), F.col("sig").alias("sig_b")).hint("merge"),
                "doc_b",
            )
        )
    else:
        # default carry shape: sigs ride the band self-join, no re-joins.
        # Measured at sf0.1 (min of 3): carry ~2.3s vs slim ~5.7s — the
        # slim shape's two extra join stages dominate until the sig x bands
        # shuffle volume (~8 KB/doc at 64 hashes x 16 bands) itself becomes
        # the bottleneck.
        #
        # Persist the NARROW (id, sig) frame, not the exploded banded
        # frame: Catalyst's projection collapse inlines the ``sig``
        # expression into every consumer, so materializing banded directly
        # recomputes the 64-wide signature fold 17x per row (1 sig column
        # + 16 band hashes) — measured 4.84s vs 1.53s at sf0.1 (3.2x),
        # identical output rows. With sig materialized, the banded frame
        # derives band hashes from a cached ATTRIBUTE (16 slice+xxhash64
        # nodes, cheap) and both join sides recompute only that derivation
        # from the same cached partitions.
        #
        # First-collision-band dedup: a pair colliding in k bands comes out
        # of the join k times; a dropDuplicates here would shuffle the
        # joined rows WITH both sigs attached (~1 KB/row), and on
        # dup-skewed corpora that is the whole runtime (30x replicated
        # smoke: 473s, 6x slower than the verified path). Both sides'
        # band-hash arrays are already in the joined row, so "this is the
        # pair's FIRST colliding band" is a narrow filter — every pair
        # survives exactly once, no exchange at all (115x -> see SCALE.md).
        #
        # merge hint (was shuffle_hash until round 4): a shuffled-hash
        # build map cannot spill, and the sig-carrying band side OOMed at
        # x100 (500k docs) under the 32-partition local layout; sort-merge
        # spills, measured equal at sf0.1 (1.45s both) and 82s at x100.
        sig = sig.persist()
        if caches is not None:
            caches.append(sig)
        banded = sig.select(
            "id",
            "sig",
            _band_hashes(num_hashes, bands).alias("bh"),
        ).select("id", "sig", "bh", F.posexplode("bh").alias("band", "bucket"))
        a, b = banded.alias("a"), banded.hint("merge").alias("b")
        first_collision_band = F.array_position(
            F.zip_with(F.col("a.bh"), F.col("b.bh"), lambda x, y: x == y), F.lit(True)
        )  # 1-based index of the pair's first agreeing band
        scored = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .where(first_collision_band == F.col("a.band") + 1)
            .select(
                F.col("a.id").alias("doc_a"),
                F.col("b.id").alias("doc_b"),
                F.col("a.sig").alias("sig_a"),
                F.col("b.sig").alias("sig_b"),
            )
        )
    est = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    ) / F.lit(num_hashes)
    return (
        scored.withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


#: 2^61 - 1 (Mersenne prime): the permutation modulus. a*h + b stays
#: under 2^63 for a,b < 2^31 and h < 2^32, so the arithmetic is
#: ANSI-overflow-safe on both engines.
_MINHASH_P = (1 << 61) - 1


def minhash_md5_coeffs(
    num_hashes: int = 64, seed: int = 2024
) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for the linear MinHash permutations
    ``(a*h + b) % P`` — driver-side PRNG integers injected as literals
    into BOTH engines (the seeded-literals discipline the LSH planes and
    PQ codebooks use). ``a`` is odd and positive; both under 2^31 so the
    permutation never overflows a BIGINT."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, 2**31) | 1, rnd.randrange(0, 2**31))
        for _ in range(num_hashes)
    ]


def minhash_md5_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 2024,
    eager: bool = True,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, ENGINE-MIRRORABLE — the
    value-certifiable twin of :func:`minhash_lsh_pairs` (whose xxhash64
    signatures keep ``dedup_minhash_lsh`` rows-only): ONE md5 base hash
    per shingle (its leading 8 hex chars as a 32-bit integer — DuckDB
    parses the identical value with a '0x' cast) fans out through
    ``num_hashes`` seeded linear permutations ``(a*h + b) % (2^61-1)``
    — pure ANSI-safe integer arithmetic both engines state verbatim, so
    signatures, band collisions AND match counts are bit-identical and
    the catalog oracle can restate the ENTIRE construction (not just a
    verify closure).

    Shape: the (id, base-hash array) frame persists once (one md5 per
    DISTINCT shingle occurrence — the 64-permutation fan-out is integer
    ops over the cached array, never 64 md5s); banded self-join on
    per-band signature-slice keys with the first-collision-band filter
    (no pair-dedup exchange); a pair survives when its estimated
    Jaccard — ``n_matching / num_hashes`` — reaches ``threshold``.
    Returns ``(doc_a, doc_b, n_matching)``; the estimate stays an exact
    INTEGER so no float ever crosses an engine boundary."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    coeffs = minhash_md5_coeffs(num_hashes, seed)
    base = (
        spread(df)
        .select(
            _col(id_col).alias("id"),
            F.transform(
                word_shingles(text_col, n),
                lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast(
                    "long"
                ),
            ).alias("hb"),
        )
        .persist()
    )
    base.count()  # fill the cache before the 64-way fan-out references it
    def _perm(a: int, b: int):
        # a closure factory, NOT default-arg binding: pyspark counts a
        # lambda's parameters to pick the HOF arity, so `lambda h, a=a`
        # reads as the 3-argument form and fails analysis
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MINHASH_P)

    sig_cols = [
        F.array_min(F.transform(F.col("hb"), _perm(a, b))).alias(f"_m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    # materialize the 64 signature columns behind a cache BARRIER: the
    # band keys and the carried sig array reference them ~3x each, and
    # projection collapse would clone all 64 transform trees into every
    # consumer — the resulting Column tree OOMed the DRIVER during
    # analysis before a single task ran (the huge-Column-tree failure
    # mode, this time in plan space). Behind the persist they are plain
    # attributes.
    sigs = base.select("id", *sig_cols).persist()
    sigs.count()
    base.unpersist()
    band_cols = [
        F.concat_ws(
            ",",
            *[
                F.col(f"_m{b * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)
            ],
        ).alias(f"_bd{b}")
        for b in range(bands)
    ]
    banded = sigs.select(
        "id",
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig"),
        F.array(*band_cols).alias("bd"),
    ).select("id", "sig", "bd", F.posexplode("bd").alias("band_idx", "band"))
    a_s, b_s = banded.alias("a"), banded.hint("merge").alias("b")
    first_band = F.array_position(
        F.zip_with(F.col("a.bd"), F.col("b.bd"), lambda x, y: x == y),
        F.lit(True),
    )
    n_matching = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda m: m,
        )
    )
    min_match = int(threshold * num_hashes)
    out = (
        a_s.join(
            b_s,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(first_band == F.col("a.band_idx") + 1)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            n_matching.cast("int").alias("n_matching"),
        )
        .where(F.col("n_matching") >= min_match)
    )
    if not eager:
        return out
    result = out.localCheckpoint(eager=True)
    sigs.unpersist()
    return result


def _band_hashes(num_hashes: int, bands: int) -> Column:
    """Per-band bucket ids from a ``sig`` column: xxhash64 of the band's
    row slice (hashed as an array value directly) salted with the band
    index. One ``slice`` + one ``xxhash64`` node per band — the earlier
    formulation stringified each of the 64 signature longs through
    ``element_at``/``cast``/``concat_ws`` (a ~4x larger expression tree)
    and measured 1.9x slower cold at sf0.1 (19.3s vs 10.2s full-pipeline,
    identical surviving pairs) purely from codegen/JIT volume."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band), F.lit(b))
            for b in range(bands)
        ]
    )


def lsh_band_candidates(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing >= 1 LSH band
    bucket, from a persisted (id, sig) frame.

    The band self-join shuffles ONLY (id, band, bucket) — 24 bytes a row,
    16 rows a doc — never the signatures (they re-join after the pair
    dedup) and never the documents. At 100 TB this is the difference
    between a metadata-sized shuffle and replicating every signature x
    bands across the wire."""
    banded = sig_df.select("id", F.posexplode(_band_hashes(num_hashes, bands)).alias("band", "bucket"))
    a, b = banded.alias("a"), banded.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: SQL templates for the per-word 64-bit hash inside the SimHash fold —
#: the codegen path below builds the whole vote fold from ONE parsed SQL
#: fragment (r13): the old per-bit ``bin()``-string decode allocated a
#: 64-char string per word hash and ran 64 substring compares on it;
#: ``(shiftright(h, s) & 1)`` is allocation-free integer arithmetic and
#: bit-identical (measured 0.85 -> 0.24s for the sf0.1 fingerprint pass).
_SIMHASH_WORD_SQL = {
    "xxhash64": "xxhash64({w})",
    # md5_word_hash restated in SQL: 16 leading md5 nibbles as a signed
    # BIGINT, sign applied BEFORE the 2^32 shift (ANSI-overflow-safe)
    "md5": (
        "((CASE WHEN CAST(conv(substring(md5({w}), 1, 8), 16, 10) AS BIGINT)"
        " >= 2147483648"
        " THEN CAST(conv(substring(md5({w}), 1, 8), 16, 10) AS BIGINT)"
        " - 4294967296"
        " ELSE CAST(conv(substring(md5({w}), 1, 8), 16, 10) AS BIGINT) END)"
        " * 4294967296"
        " + CAST(conv(substring(md5({w}), 9, 8), 16, 10) AS BIGINT))"
    ),
}


def simhash64(text: str, word_hash_family: str = "xxhash64") -> Column:
    """64-bit SimHash fingerprint as ONE packed BIGINT — semantically
    ``pack_bits64(simhash_bits(text))`` but built as a single SQL
    ``aggregate`` whose FINISH lambda does the packing over the vote
    accumulator variable (r13). Composing ``pack_bits64`` over an inline
    fold expression duplicates the whole per-word fold tree once per
    reference (slice + element_at = 2x), which pushed the generated
    method past janino's limit — repeated multi-second compile attempts
    plus interpreted fallback (measured 25s for the sf0.1 fingerprint
    pass vs 0.3s fused). The finish lambda references the accumulator,
    not the fold, so the tree stays single-copy and codegen-sized.

    Bit-identical to the two-step form (pytest-pinned): vote > 0 -> bit
    1, MSB first, sign bit folded ANSI-safely (-2^63 stated as
    ``-...807L - 1L`` — the bare min-long literal parses as decimal)."""
    from tdei_extract_load_service_spark.operators.similarity import (
        _ident_sql,
    )

    h = _SIMHASH_WORD_SQL[word_hash_family].format(w="w")
    return F.expr(
        f"aggregate("
        f"transform(split({_ident_sql(text)}, ' '), w -> {h}),"
        f" array_repeat(0, 64),"
        f" (acc, h) -> zip_with(acc, sequence(63, 0, -1),"
        f" (a, s) -> a +"
        f" (CASE WHEN (shiftright(h, s) & 1) = 1 THEN 1 ELSE -1 END)),"
        f" acc -> (CASE WHEN element_at(acc, 1) > 0"
        f" THEN -9223372036854775807L - 1L ELSE 0L END)"
        f" + aggregate(slice(acc, 2, 63), 0L,"
        f" (l, v) -> l * 2L + (CASE WHEN v > 0 THEN 1L ELSE 0L END)))"
    )


def simhash_bits(
    text: str | Column, bits: int = 64, word_hash=None
) -> Column:
    """SimHash bit vector (array<int> of 0/1, length ``bits``).

    Per word: a 64-bit hash; accumulate +1/-1 per bit position over all
    words (Charikar '02), then threshold at 0. Entirely fold/zip_with —
    no shuffle, no UDF. ``word_hash`` (Column -> 64-bit long Column)
    defaults to ``xxhash64``; pass :func:`md5_word_hash` for the
    engine-mirrorable family the oracle-checked twin uses.

    Construction (r13): for column-NAME input with a known word-hash
    family the whole fold parses from one SQL fragment with integer
    ``shiftright & 1`` bit extraction — the previous ``bin()``-string
    per-bit decode built a 64-char string per word hash and substring'd
    it 64 times (3.6x slower, and ~10x more py4j round-trips to build).
    Output is bit-identical; the Column fallback below keeps the old
    shape for callers passing arbitrary Column expressions."""
    family = None
    if word_hash is None:
        family = "xxhash64"
    elif word_hash is md5_word_hash:
        family = "md5"
    if isinstance(text, str) and family is not None:
        from tdei_extract_load_service_spark.operators.similarity import (
            _ident_sql,
        )

        h = _SIMHASH_WORD_SQL[family].format(w="w")
        return F.expr(
            f"transform(aggregate("
            f"transform(split({_ident_sql(text)}, ' '), w -> {h}),"
            f" array_repeat(0, {bits}),"
            f" (acc, h) -> zip_with(acc, sequence({bits - 1}, 0, -1),"
            f" (a, s) -> a +"
            f" (CASE WHEN (shiftright(h, s) & 1) = 1 THEN 1 ELSE -1 END))),"
            f" v -> CASE WHEN v > 0 THEN 1 ELSE 0 END)"
        )
    if word_hash is None:
        word_hash = F.xxhash64
    # the explicit lambda matters: xxhash64's *cols signature is
    # VAR_POSITIONAL, which the HOF lambda-arity validator rejects
    word_hashes = F.transform(F.split(_col(text), " "), lambda w: word_hash(w))
    def bit_contrib(h: Column) -> Column:
        bstr = F.lpad(F.bin(h), 64, "0")
        return F.transform(
            F.sequence(F.lit(64 - bits + 1), F.lit(64)),
            lambda i: F.when(F.substring(bstr, i, 1) == "1", 1).otherwise(-1),
        )
    acc = F.aggregate(
        word_hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, bit_contrib(h), lambda a, c: a + c),
    )
    return F.transform(acc, lambda v: F.when(v > 0, 1).otherwise(0))


def md5_word_hash(w: Column) -> Column:
    """The 16 leading hex nibbles of ``md5(word)`` as a two's-complement
    BIGINT — a word-hash family an external SQL engine can restate
    exactly (DuckDB reads the same bits straight off the md5 hex
    nibbles), unlike xxhash64. Built from two conv() halves with the
    sign applied BEFORE the shift so the widening multiply can never
    overflow under ANSI (hi_signed*2^32 + lo <= 2^63 - 1 exactly)."""
    hi = F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(w), 9, 8), 16, 10).cast("long")
    hi_signed = F.when(hi >= F.lit(2**31), hi - F.lit(2**32)).otherwise(hi)
    return hi_signed * F.lit(2**32).cast("long") + lo


def simhash_md5_bits(text: str | Column) -> Column:
    """SimHash(64) bit vector over md5-derived word hashes — the
    ENGINE-MIRRORABLE twin of the xxhash64 form (whose word hashes have
    no DuckDB counterpart, which is why ``dedup_simhash`` is a
    rows-only entry): identical Charikar vote accumulation via
    :func:`simhash_bits`, word hashes from :func:`md5_word_hash`, so
    the fingerprints are bit-identical across engines and a SimHash
    entry can carry a full value oracle. (A first cut decoded each of
    the 64 bits with its own per-character CASE chain — 64 interpreted
    CASE evaluations per word, 37s at sf0.1; routing through the
    ``bin()`` string form the xxhash twin uses is ~20x cheaper.)"""
    return simhash_bits(text, word_hash=md5_word_hash)


def pack_bits64(bits: Column) -> Column:
    """Pack a 64-element 0/1 int array (MSB first) into a
    two's-complement BIGINT, ANSI-overflow-safe: the 63 low bits fold
    as ``acc*2 + b`` (max 2^63 - 1, never overflows) and the sign bit
    adds ``-2^63`` separately — ``acc*2`` on the full 64 would throw
    under ANSI exactly when the MSB is set."""
    low = F.aggregate(
        F.slice(bits, 2, 63),
        F.lit(0).cast("long"),
        lambda acc, b: acc * 2 + b,
    )
    return (
        F.when(F.element_at(bits, 1) == 1, F.lit(-(2**63)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        + low
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    bits: int = 64,
    chunks: int = 4,
    caches: list | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Blocking: split the fingerprint into ``chunks`` equal slices; by
    pigeonhole any pair within Hamming distance < chunks*(…) shares at
    least one identical chunk when max_hamming < chunks × 1 … more
    precisely pairs with Hamming ≤ chunks-1 always collide; for larger
    budgets this is the standard probabilistic block (Manku et al. '07).
    The join key is a 16-bit chunk string — tiny shuffle payload.

    First-collision-chunk dedup (same move as ``minhash_lsh_pairs``): a
    pair colliding in k chunks comes out of the join k times, and the
    earlier ``dropDuplicates`` shuffled every occurrence WITH both bit
    vectors attached — on a dup-heavy corpus that exchange's sort spills
    exhausted 75+ GB of disk at x100 (500k docs, ~99M occurrence rows).
    Both sides' chunk arrays already ride the joined row, so "this is the
    pair's first agreeing chunk" is a narrow filter: every pair survives
    exactly once with NO post-join exchange, and the Hamming filter then
    prunes before anything else materializes.
    """
    if bits == 64 and isinstance(text_col, str):
        # r13: pack the fingerprint into ONE BIGINT (fused simhash64 —
        # see its docstring for the codegen-blowup trap) — the old path
        # carried the 64-int bits ARRAY through every chunk-join side
        # (x chunks copies of 64 ints per doc crossing the exchange;
        # guide §2.3 shuffle fewer bytes) and scored candidates with a
        # 64-wide zip_with where bit_count(xor) is one instruction. The
        # 16-bit chunk keys are the same bit slices, so the candidate
        # set — and with it the emitted pair set — is IDENTICAL
        # (pytest-pinned vs the array form); blocking stays Manku-style
        # probabilistic for max_hamming >= chunks exactly as before.
        # The persist stays LAZY like the array path: the fused fold is
        # cheap enough that the side race costs less than an eager
        # count job (hamming_hash_pairs' eager fill is for Python-
        # decoded hashes).
        chunk_len = 64 // chunks
        mask = (1 << chunk_len) - 1
        sh = (
            spread(df)
            .select(_col(id_col).alias("id"), simhash64(text_col).alias("h"))
            .persist()
        )
        if caches is not None:
            caches.append(sh)
        chunk_arr = F.expr(
            f"transform(sequence(0, {chunks - 1}),"
            f" k -> CAST((h >> (64 - {chunk_len} * (k + 1))) & {mask} AS INT))"
        )
        chunked = sh.select("id", "h", chunk_arr.alias("ch")).select(
            "id", "h", "ch", F.posexplode("ch").alias("chunk_idx", "chunk")
        )
        # explicit join-key repartition (the _lsh_pairs_between r13 fix):
        # the candidate stage is CPU-bound on per-pair residuals, so AQE's
        # byte-based coalescing under-parallelizes it; the count follows
        # spark.sql.shuffle.partitions (scale-adaptive). Measured 0.82 ->
        # 0.55s on the sf0.1 chunk join, pair set identical.
        chunked = chunked.repartition(
            _shuffle_partitions(sh), F.col("chunk_idx"), F.col("chunk")
        )
        a, b = chunked.alias("a"), chunked.hint("merge").alias("b")
        first_chunk = F.array_position(
            F.zip_with(F.col("a.ch"), F.col("b.ch"), lambda x, y: x == y),
            F.lit(True),
        )
        hamming64 = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
        return (
            a.join(
                b,
                (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
                & (F.col("a.chunk") == F.col("b.chunk"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .where(first_chunk == F.col("a.chunk_idx") + 1)
            .select(
                F.col("a.id").alias("doc_a"),
                F.col("b.id").alias("doc_b"),
                hamming64.cast("int").alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
        )
    chunk_len = bits // chunks
    # persist the NARROW (id, bits) frame: projection collapse would
    # otherwise re-inline the per-word SimHash fold into every consumer
    # (bits column + each chunk string + both join sides) — the same trap
    # measured on the minhash signature fold (SCALE.md)
    sh = spread(df).select(
        _col(id_col).alias("id"), simhash_bits(text_col, bits).alias("bits")
    ).persist()
    if caches is not None:
        caches.append(sh)
    chunk_arr = F.array(
        *[
            F.concat_ws("", F.transform(F.slice("bits", c * chunk_len + 1, chunk_len), lambda b: b.cast("string")))
            for c in range(chunks)
        ]
    )
    chunked = sh.select("id", "bits", chunk_arr.alias("ch")).select(
        "id", "bits", "ch", F.posexplode("ch").alias("chunk_idx", "chunk")
    )
    # same explicit join-key repartition as the 64-bit path above
    chunked = chunked.repartition(
        _shuffle_partitions(sh), F.col("chunk_idx"), F.col("chunk")
    )
    a, b = chunked.alias("a"), chunked.hint("merge").alias("b")
    first_collision_chunk = F.array_position(
        F.zip_with(F.col("a.ch"), F.col("b.ch"), lambda x, y: x == y), F.lit(True)
    )  # 1-based index of the pair's first agreeing chunk
    candidates = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(first_collision_chunk == F.col("a.chunk_idx") + 1)
        .select(
            F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"),
            F.col("a.bits").alias("bits_a"), F.col("b.bits").alias("bits_b"),
        )
    )
    hamming = F.size(F.filter(F.zip_with("bits_a", "bits_b", lambda x, y: x != y), lambda m: m))
    return (
        candidates.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def hamming_hash_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 7,
    chunks: int = 8,
    eager: bool = True,
    allow_probabilistic: bool = False,
) -> DataFrame:
    """Near-dup pairs over a 64-bit fingerprint COLUMN (SimHash, image
    aHash, any packed signature) with ``bit_count(a ^ b) <=
    max_hamming``, blocked on equal bit-chunks so the join is keyed —
    never all-pairs.

    COMPLETENESS is pigeonhole-exact, not probabilistic, when
    ``max_hamming < chunks``: fewer than ``chunks`` flipped bits cannot
    touch every chunk, so every qualifying pair shares at least one
    identical chunk and the blocked join finds it — which is what lets
    an entry built on this carry a plain cross-join SQL oracle (the
    text SimHash entry predates this and runs 6/4 probabilistic,
    hence rows-only). The default 8 chunks of 8 bits guarantees
    Hamming <= 7.

    Shapes shared with ``simhash_pairs``: the narrow (id, hash) frame
    persists before fan-out (the upstream hash is typically an
    expensive Python decode — both join sides and every chunk key must
    not re-run it), chunk keys are small ints (tiny shuffle payload),
    and a pair colliding in k chunks survives exactly once via the
    first-agreeing-chunk filter on the carried chunk arrays — no
    post-join dedup exchange. Verification is one whole-stage
    ``bit_count(xor)`` per candidate. Result is eagerly materialized
    (localCheckpoint) so the working cache can be released; pass
    ``eager=False`` to manage lifetimes yourself."""
    if 64 % chunks:
        raise ValueError("chunks must divide 64")
    if max_hamming >= chunks and not allow_probabilistic:
        # max_hamming flips can then cover EVERY chunk and a qualifying
        # pair can be silently missed — the failure mode is invisible
        # (fewer pairs, no error), so demand the caller opt in to
        # Manku-style probabilistic blocking explicitly
        raise ValueError(
            f"max_hamming={max_hamming} >= chunks={chunks} makes the "
            "blocking probabilistic (pigeonhole completeness needs "
            "max_hamming < chunks); raise chunks or pass "
            "allow_probabilistic=True"
        )
    chunk_len = 64 // chunks
    mask = (1 << chunk_len) - 1
    h = (
        spread(df)
        .select(_col(id_col).alias("id"), _col(hash_col).alias("h"))
        .persist()
    )
    # materialize the cache EAGERLY: the join's two sides (and their
    # sort stages) otherwise race to fill it and each recomputes the
    # upstream hash expression — measured 33s -> ~7s at sf0.1 on the
    # md5-SimHash entry (the hash is ~100 md5s + a 64-wide vote fold
    # per row; computing it once is the whole point of the persist)
    h.count()
    # arithmetic >> then & mask is sign-safe: the mask cuts the filled
    # sign bits, so the top chunk of a negative hash is still its 8 bits
    chunk_arr = F.expr(
        f"transform(sequence(0, {chunks - 1}),"
        f" k -> CAST((h >> (64 - {chunk_len} * (k + 1))) & {mask} AS INT))"
    )
    chunked = h.select("id", "h", chunk_arr.alias("ch")).select(
        "id", "h", "ch", F.posexplode("ch").alias("chunk_idx", "chunk")
    )
    a, b = chunked.alias("a"), chunked.hint("merge").alias("b")
    first_chunk = F.array_position(
        F.zip_with(F.col("a.ch"), F.col("b.ch"), lambda x, y: x == y),
        F.lit(True),
    )
    hamming = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    out = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(first_chunk == F.col("a.chunk_idx") + 1)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    if not eager:
        return out
    result = out.localCheckpoint(eager=True)
    h.unpersist()
    return result


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    metrics: dict | None = None,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: every doc gets a
    ``cluster_id`` = the smallest doc id in its connected component (the
    canonical survivor); singletons map to themselves.

    Iterative min-label propagation (the standard large-graph
    connected-components shape, cf. Hash-to-Min, Vassilvitskii et al.):
    each round every node takes the min label over itself and its
    neighbors; converges in O(component diameter) rounds — near-dup
    components are shallow (stars/cliques around a template), so a handful
    of rounds suffice; ``max_iter`` bounds adversarial chains.

    Loop shape (the graph.pagerank r11 recipe, measured on its A/B): a
    SELF-EDGE per node folds "min(own label, neighbor labels)" into ONE
    join + min-agg per round — the old two-join form (neighbor-min, then
    a left-join update) paid a second join and its sorts every round.
    The label frame is |nodes| rows with a driver-known count, so at
    ``n <= broadcast_max_nodes`` it broadcasts (no exchange or sort on
    the cached edge side; the only shuffle is the min-agg); bigger
    graphs fall back to sort-merge against a pre-partitioned, pre-sorted
    edge cache — the per-round sort of the edge side is paid ONCE.

    Convergence witness: labels only ever DECREASE, so the fixed point
    is exactly "sum of labels unchanged" — one DECIMAL(38,0) aggregate
    per round on the just-checkpointed frame (overflow-proof under ANSI
    for any realistic id space, order-independent, and it needs no
    second reference to the previous round's labels the way a per-row
    changed flag does). The driver sees one scalar per round, never the
    labels.

    ``metrics``: pass a dict to receive ``{"rounds": k, "converged": bool}``
    — the observability hook the x100 long-diameter smoke
    (tools/cluster_smoke.py) uses to assert rounds == diameter bound.
    """
    # both orientations via ONE explode instead of a two-branch union
    # (r13): the union referenced the pair frame twice, which forced a
    # dedicated persist of ``pairs`` so expensive pair generation (an
    # inverted-index or LSH join upstream) would not run once per
    # branch; the explode reads it once, so the intermediate cache (its
    # fill pass and its memory) disappears — ``edges`` below is the one
    # cache the loop needs.
    # no distinct(): duplicate edges cannot change a MIN aggregate, and the
    # dedup would cost an extra corpus-wide shuffle per materialization
    self_edges = ids.select(
        _col(id_col).alias("src"), _col(id_col).alias("dst")
    )
    both_dirs = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                ),
                F.struct(
                    F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                ),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    edges = both_dirs.union(self_edges).persist()
    # localCheckpoint truncates the init frame's lineage (ids may be an
    # expensive upstream plan); loop rounds below use persist — each
    # round references its predecessor ONCE, so plan depth grows
    # linearly (the old two-join form doubled references per round,
    # which is what OOMed the driver on plan bloat and forced a
    # checkpoint-per-round job).
    labels = ids.select(
        _col(id_col).alias("node"), _col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    # ONE driver action initializes both loop scalars (count gates the
    # join strategy, sum seeds the witness)
    wit = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    init = labels.agg(F.count("*").alias("n"), wit).collect()[0]
    n_nodes, prev_sum = init["n"], init["s"]
    smj = n_nodes > broadcast_max_nodes
    if smj:
        # billion-node fallback: one in-memory reshuffle gives every
        # round's sort-merge join an exchange-free pre-sorted edge side
        n_part = edges.sparkSession.sparkContext.defaultParallelism
        ed_loop = (
            edges.repartition(n_part, F.col("dst"))
            .sortWithinPartitions("dst")
            .persist()
        )
        ed_loop.count()
        edges.unpersist()
    else:
        ed_loop = edges
    rounds = 0
    converged = False
    prev_cache = None
    for _ in range(max_iter):
        rounds += 1
        label_side = labels if smj else F.broadcast(labels)
        labels = (
            ed_loop.join(label_side, ed_loop["dst"] == label_side["node"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("label"))
            .persist()
        )
        # the witness agg IS the materializing action: one job per round
        # (cache fill rides the scan), where checkpoint-then-agg paid two
        cur_sum = labels.agg(wit).collect()[0][0]
        if prev_cache is not None:
            prev_cache.unpersist()
        prev_cache = labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
        if rounds % 4 == 0:
            # lineage truncation: each round's LOGICAL plan nests one
            # edge-plan copy plus the previous round's broadcast subplan,
            # so a long-diameter run (the x100 D=20 smoke) OOMs the
            # driver on plan bloat if left unchecked — the hazard the
            # old checkpoint-per-round form paid two jobs a round to
            # avoid. Every 4th round one cache-backed localCheckpoint
            # (it reads the just-materialized persist, not the lineage)
            # resets plan depth; shallow fixture runs never reach it.
            labels = labels.localCheckpoint(eager=True)
            prev_cache.unpersist()
            prev_cache = None
    if metrics is not None:
        metrics["rounds"] = rounds
        metrics["converged"] = converged
    ed_loop.unpersist()
    # the final round's frame must stay cached for the caller's action;
    # recycle the previous invocation's generation instead of leaking one
    # per call (and the sameSemantics guard keeps bench reps sharing it)
    from tdei_extract_load_service_spark.session import persist_scoped

    persist_scoped(labels, "dedup.clusters.final_labels")
    return labels.select(_col("node").alias(id_col), F.col("label").alias("cluster_id"))


def _dot(x: Column, y: Column) -> Column:
    """Elementwise-cast-to-double, left-to-right-fold dot product —
    bit-compatible with DuckDB's ``list_dot_product(a::DOUBLE[], ...)``."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<float|double> columns: elementwise cast to
    double *before* multiply, left-to-right fold — bit-compatible with the
    DuckDB oracle's ``list_dot_product(a::DOUBLE[], b::DOUBLE[])``."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def planes_per_band_for(n_rows: int, target_bucket: int = 256) -> int:
    """The LSH sizing knob: planes per band so the expected per-bucket
    population is ~``target_bucket`` (candidate work per band is then
    ``n_rows * target_bucket / 2`` — linear in the corpus, not quadratic).
    Floor 4, cap 24 (beyond 2^24 buckets the band join key is just an id).

    INTEGER-EXACT on purpose (r13): the value is the smallest ``k`` with
    ``target_bucket * 2**k >= n_rows`` (clamped to [4, 24]) — equivalent
    to ``ceil(log2(n_rows / target_bucket))`` but computed without libm,
    so a DuckDB oracle deriving the same ``k`` from ``COUNT(*)`` (the
    corpus-aware ``embedding_hard_negatives`` oracle) can never disagree
    at an exact power-of-two boundary where ``log2`` last-ulp error
    would flip ``ceil``."""
    if n_rows <= target_bucket:
        return 4
    q = -(-n_rows // target_bucket)  # ceil(n_rows / target_bucket), exact
    return max(4, min(24, (q - 1).bit_length()))


def _vec_in(vec_col: str | Column) -> Column | str:
    """Column-name input as a SQL fragment (for the codegen form of
    ``lsh_bucket``); Column input passes through to the fluent form."""
    from tdei_extract_load_service_spark.operators.similarity import (
        _ident_sql,
    )

    return _ident_sql(vec_col) if isinstance(vec_col, str) else vec_col


def _nrm_expr(vec_col: str | Column, dim: int | None) -> Column:
    """``sqrt(_dot(vec, vec))`` aliased ``_nrm`` — unrolled to codegen
    arithmetic when the column name and dim are statically known (same
    left-assoc fold, bit-identical doubles; see similarity._dot_cols_sql)."""
    if isinstance(vec_col, str) and dim is not None:
        from tdei_extract_load_service_spark.operators.similarity import (
            _dot_cols_sql,
            _ident_sql,
        )

        v = _ident_sql(vec_col)
        return F.expr(f"sqrt({_dot_cols_sql(v, v, dim)})").alias("_nrm")
    return F.sqrt(_dot(_col(vec_col), _col(vec_col))).alias("_nrm")


def _lsh_band_cols(
    vec: Column | str,
    dim: int,
    n_bands: int,
    planes_per_band: int,
    planes: list[list[float]],
) -> list[Column]:
    """One sign-pattern bucket column per band, each band over its own
    plane slice (shared by the inline and stored LSH paths). Pass
    ``vec`` as a SQL fragment (``similarity._ident_sql`` of the column
    name) for the one-round-trip codegen form of ``lsh_bucket``."""
    from tdei_extract_load_service_spark.operators.similarity import lsh_bucket

    cols = []
    for band in range(n_bands):
        sub = planes[band * planes_per_band : (band + 1) * planes_per_band]
        cols.append(
            lsh_bucket(vec, dim, planes_per_band, sub).alias(f"_b{band}")
        )
    return cols


def _lsh_pairs_from_banded(
    banded: DataFrame, n_bands: int, threshold: float, dim: int | None = None
) -> DataFrame:
    """The verify half of banded LSH: ONE merge-hinted self-join on the
    exploded (band, bucket) key keeping a pair only in its FIRST
    colliding band, then exact-cosine verification. ``banded`` must
    carry ``id, vec, _nrm, _b0.._b{n-1}`` — whether freshly computed
    (``embedding_lsh_pairs``) or scanned from a stored index
    (``embedding_lsh_pairs_stored``), the emitted pairs are
    bit-identical because the doubles come along unchanged."""
    return _lsh_pairs_between(banded, banded, n_bands, threshold, dim=dim)


def _explode_banded(df: DataFrame, n_bands: int) -> DataFrame:
    """(id, vec, _nrm, _b0.._b{n-1}) -> one row per band carrying the
    full bucket array: (id, vec, _nrm, _bs, _band, _bkt)."""
    return df.select(
        "id",
        "vec",
        "_nrm",
        F.array(*[F.col(f"_b{i}") for i in range(n_bands)]).alias("_bs"),
    ).select(
        "id",
        "vec",
        "_nrm",
        "_bs",
        F.posexplode(F.col("_bs")).alias("_band", "_bkt"),
    )


def _lsh_pairs_between(
    a_df: DataFrame,
    b_df: DataFrame,
    n_bands: int,
    threshold: float,
    broadcast_side: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Two-frame form of the first-collision-band verify join (the
    self-join is the ``a_df is b_df`` special case). First-collision
    membership is a property of the PAIR's bucket columns alone, so
    splitting a corpus across frames and unioning the emitted pair sets
    reproduces the single-frame output exactly — the property the
    incremental path relies on.

    ONE join, not one per band (optimization r13, guide §2.2/§2.4): the
    former shape ran ``n_bands`` separate self-joins — 2·n_bands
    exchanges and sorts of the same frame, whose fixed stage overhead
    dominated at small SF and whose many-small-shuffles shape is
    exactly what degrades at scale. Both sides now posexplode to
    (band, bucket) rows ONCE and equi-join on that composite key — the
    same total rows cross the network (n_bands copies either way) in 2
    exchanges instead of 2·n_bands. First-collision membership rides
    the exploded row's bucket ARRAY as a join residual:
    ``array_position(zip_with(a._bs, b._bs, eq), true) == band + 1``
    holds iff the pair collides at ``band`` and at no earlier band —
    identical to the old per-band "earlier buckets differ" predicates
    (bucket expressions are never NULL: ``lsh_bucket`` folds through
    ``otherwise(0)``, so the boolean array is null-free and
    array_position is exact).

    ``broadcast_side`` ('a' | 'b' | None): the corpus SELF-join pins
    sort-merge (broadcast OOMs at x10, shuffle_hash at x100 —
    SCALE.md), but the incremental two-frame form is ASYMMETRIC — a
    small delta against a big index — and broadcasting the (exploded)
    delta side removes the shuffle+sort of the index entirely (measured
    4.4s -> 2.5s at sf0.1, r11). Callers gate it on the delta's actual
    row count; results are join-strategy-independent."""
    if broadcast_side not in (None, "a", "b"):
        raise ValueError("broadcast_side must be 'a', 'b' or None")
    if broadcast_side is None:
        # The verify stage is CPU-bound on the per-candidate cosine (a
        # per-bucket-population² residual), not on shuffle bytes — at
        # small inputs AQE coalesces the tiny (band, bucket) exchange to
        # a handful of partitions and serializes exactly the expensive
        # part (measured sf0.1: 4 post-coalesce tasks, 2.25s -> 1.14s
        # with the explicit layout). An EXPLICIT repartition on the join
        # key pins the exchange AQE cannot size correctly (it sees
        # bytes, not residual cost); the count follows
        # spark.sql.shuffle.partitions, so it stays scale-adaptive —
        # never a local-core-count constant. The sort-merge hint below
        # still pins the spillable strategy (broadcast OOMs at x10,
        # shuffled-hash at x100 — SCALE.md).
        npart = _shuffle_partitions(a_df)
        key = [F.col("_band"), F.col("_bkt")]
        a = _explode_banded(a_df, n_bands).repartition(npart, *key).alias("a")
        b = (
            _explode_banded(b_df, n_bands)
            .repartition(npart, *key)
            .alias("b")
            .hint("merge")
        )
    else:
        a = _explode_banded(a_df, n_bands).alias("a")
        b = _explode_banded(b_df, n_bands).alias("b")
        if broadcast_side == "a":
            a = F.broadcast(a)
        else:
            b = F.broadcast(b)
    # first-collision residual as a flat CASE (the first band whose
    # buckets agree): identical to array_position over the zip_with
    # boolean array — bucket values are never NULL — but evaluated as
    # codegen branches, no per-pair array allocation
    first_hit = (
        "(CASE "
        + " ".join(
            f"WHEN a._bs[{i}] = b._bs[{i}] THEN {i + 1}"
            for i in range(n_bands)
        )
        + " END)"
    )
    cond = (
        (F.col("a._band") == F.col("b._band"))
        & (F.col("a._bkt") == F.col("b._bkt"))
        & (F.col("a.id") < F.col("b.id"))
        & (F.expr(first_hit) == F.col("a._band") + F.lit(1))
    )
    if dim is not None:
        # unrolled verify cosine (similarity._dot_cols_sql): the join's
        # hot loop is one cosine per candidate — codegen arithmetic with
        # the identical left-assoc fold, bit-identical doubles
        from tdei_extract_load_service_spark.operators.similarity import (
            _dot_cols_sql,
        )

        cos = F.expr(
            f"round({_dot_cols_sql('a.vec', 'b.vec', dim)}"
            " / (a._nrm * b._nrm), 6)"
        )
    else:
        cos = F.round(
            _dot(F.col("a.vec"), F.col("b.vec"))
            / (F.col("a._nrm") * F.col("b._nrm")),
            6,
        )
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_lsh_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    dim: int = 64,
    n_bands: int = 3,
    planes_per_band: int | None = None,
    planes: list[list[float]] | None = None,
    metrics: dict | None = None,
    eager: bool = True,
) -> DataFrame:
    """Embedding near-dup pairs at scale: banded random-hyperplane LSH
    candidate generation + exact cosine verification — the production
    counterpart of the all-pairs ``embedding_cosine_pairs`` verifier
    (which is O(n²) by design).

    Shape (the same ladder the text dedup family earned at x100):

    - one pass computes ``n_bands`` sign-pattern bucket ids per vector
      from shared plane literals (``similarity.make_planes`` — double
      literals an external SQL engine can reuse verbatim, so even this
      approximate operator is value-oracle-checkable);
    - the banded frame is persisted NARROW (id, vec, band buckets) before
      fan-out — the minhash projection-collapse lesson: without it each
      band's self-join re-folds the 64-dim dot products;
    - per band, a merge-hinted (spillable sort-merge, the x100 pin)
      self-join on the band bucket, keeping a pair only in its FIRST
      colliding band (``a.b_i != b.b_i`` for all earlier bands) — no
      pair-dedup exchange ever materializes duplicate candidates;
    - exact cosine verify >= threshold, so every emitted pair is TRUE;
      recall is the LSH knob (bands x planes), documented not hidden.

    SIZE the bucket space to the corpus: per-band candidate volume is
    ``sum(bucket_size^2)/2`` over ``2^planes_per_band`` buckets, so with a
    FIXED plane count per-bucket population — and therefore candidate
    volume — grows quadratically with corpus size (measured: the sf-tuned
    4-plane config at x30 heads toward ~450M candidates, SCALE.md).
    Corpus-aware sizing is therefore the DEFAULT: when neither ``planes``
    nor ``planes_per_band`` is supplied, the plane count comes from
    ``planes_per_band_for(df.count())`` (``~log2(n/target_bucket)``) — one
    cheap count (a model, not data) keeps buckets bounded and candidate
    work linear, so a 100 TB caller copying the zero-config call cannot
    land in the quadratic trap. Pass explicit ``planes`` (+
    ``planes_per_band``) only for reproducibility against an external
    oracle; more planes = fewer false candidates but lower per-band
    recall, compensated with more bands.

    The result is eagerly materialized (``localCheckpoint``) so the
    banded working frame can be unpersisted before returning — repeated
    calls do not accumulate cached blocks for the session lifetime (the
    ``dedup_clusters`` pattern). The verified pair set is the small end
    of the funnel, so the checkpoint is cheap.

    Feed the result to ``dedup_clusters`` for survivor election.
    """
    from tdei_extract_load_service_spark.operators.similarity import (
        make_planes,
    )

    if planes_per_band is None:
        if planes is not None:
            if len(planes) % n_bands:
                raise ValueError("len(planes) must be a multiple of n_bands")
            planes_per_band = len(planes) // n_bands
        else:
            planes_per_band = planes_per_band_for(df.count())
    if metrics is not None:
        metrics["planes_per_band"] = planes_per_band
        metrics["n_buckets_per_band"] = 2 ** planes_per_band
    if planes is None:
        # each band MUST see distinct planes — handing lsh_bucket its
        # default (plane indices 0..k-1) would give every band identical
        # buckets, silently reducing n_bands bands to one
        planes = make_planes(n_bands * planes_per_band, dim)
    if len(planes) != n_bands * planes_per_band:
        raise ValueError("need n_bands * planes_per_band planes")
    banded = (
        spread(df)
        .select(
            _col(id_col).alias("id"),
            _col(vec_col).alias("vec"),
            # per-ROW norm, materialized by the persist: the verify stage
            # sees ~bucket_size candidates per row, and recomputing
            # sqrt(dot(v,v)) per PAIR costs a second 64-wide fold per
            # candidate. Same doubles, same ops -> bit-identical cosines.
            _nrm_expr(vec_col, dim),
            *_lsh_band_cols(
                _vec_in(vec_col), dim, n_bands, planes_per_band, planes
            ),
        )
        .persist()
    )
    out = _lsh_pairs_from_banded(banded, n_bands, threshold, dim=dim)
    if not eager:
        # lazy escape hatch (plan inspection / caller-managed lifetime):
        # the banded frame stays persisted; the CALLER owns unpersisting it
        return out
    # materialize the verified pairs, then release the banded cache —
    # without this, repeated calls leak persisted blocks for the session
    # lifetime (ADVICE r5 #3); localCheckpoint also truncates the n_bands
    # self-join lineage before the result feeds dedup_clusters' rounds
    result = out.localCheckpoint(eager=True)
    banded.unpersist()
    return result


_FP_INDEX_ROOT = "/tmp/spark_graft_fp_index"


def build_fingerprint_index(
    df: DataFrame,
    id_col: str,
    content_cols: list[str],
    corpus_key: str | None = None,
    n_buckets: int = 16,
) -> str:
    """Write-once stored exact-dedup state (VERDICT r9 #5): one row per
    distinct content hash with its survivor id and duplicate count —
    ``dedup_exact_groups``'s output — as parquet partitioned by an
    xxhash64 bucket of the content hash, published through
    ``staging.stored_index`` (``corpus_key`` is required). This is the
    state a nightly 100 TB ingest carries BETWEEN runs: tonight's delta
    shard joins against it instead of re-scanning yesterday's corpus.

    Scale shape: the index rows are (hash, id, count) — never document
    payloads — so even a trillion-doc survivor state is a compact
    hash-wide table; the bucket partitioning gives membership probes a
    pruned read and keeps any downstream equi-join's shuffle aligned."""
    from tdei_extract_load_service_spark.operators.staging import stored_index

    def build(tmp: str) -> None:
        dedup_exact_groups(df, id_col, content_cols).withColumn(
            "fp_bucket",
            F.pmod(F.xxhash64("content_hash"), F.lit(n_buckets)).cast("int"),
        ).write.mode("overwrite").partitionBy("fp_bucket").parquet(tmp)

    # id_col is part of the key (ADVICE r10): two builds over the same
    # corpus differing only in survivor-id column are DIFFERENT indexes.
    return stored_index(
        _FP_INDEX_ROOT,
        (corpus_key, id_col, tuple(content_cols), n_buckets),
        build,
    )


def dedup_incremental(
    spark,
    index_path: str,
    delta: DataFrame,
    id_col: str,
    content_cols: list[str],
) -> DataFrame:
    """Cross-run incremental exact dedup — the dedup twin of
    ``similarity_ivf_pq_incremental``: merge tonight's delta shard into
    the stored fingerprint index WITHOUT touching yesterday's documents,
    returning the updated survivor state ``(content_hash, keep_id,
    n_dups)`` BIT-IDENTICAL to ``dedup_exact_groups(base UNION delta)``
    recomputed from scratch (the catalog oracle runs exactly that
    full-table SQL, so the equivalence is value-certified every round).

    The merge is exact algebra, not approximation: per content hash,
    ``keep_id`` = least surviving id on either side (Spark ``least``
    skips nulls) and ``n_dups`` adds. Cost: one map-side-combined
    aggregation over the DELTA only, then a hash-wide full-outer join
    against the index — the work is O(|delta| + |survivor state|) rows
    of (hash, id, count), independent of the historical corpus size.
    Publish the result as the next index version with
    ``build_fingerprint_index``'s discipline to complete the nightly
    cycle."""
    idx = spark.read.parquet(index_path).select(
        "content_hash", "keep_id", "n_dups"
    )
    return merge_survivor_states(idx, dedup_exact_groups(delta, id_col, content_cols))


def merge_survivor_states(current: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two exact-dedup survivor states ``(content_hash, keep_id,
    n_dups)``: per hash, least surviving id on either side and added
    counts — ``dedup_incremental``'s core algebra, shared with the
    streaming ``dedup_merge_sink``. ASSOCIATIVE and COMMUTATIVE (min and
    + over hash groups), so any sequence of partial merges over any
    partition of the corpus equals ``dedup_exact_groups`` recomputed
    from scratch — the property both the nightly and the streaming
    certification rest on. One hash-wide full-outer join of (hash, id,
    count) rows; never the documents."""
    return (
        current.alias("i")
        .join(delta.alias("d"), "content_hash", "full_outer")
        .select(
            "content_hash",
            F.least(F.col("i.keep_id"), F.col("d.keep_id")).alias("keep_id"),
            (
                F.coalesce(F.col("i.n_dups"), F.lit(0))
                + F.coalesce(F.col("d.n_dups"), F.lit(0))
            ).alias("n_dups"),
        )
    )


_EMB_LSH_INDEX_ROOT = "/tmp/spark_graft_emb_lsh"


def build_embedding_lsh_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = 64,
    n_bands: int = 3,
    planes_per_band: int | None = None,
    planes: list[list[float]] | None = None,
    corpus_key: str | None = None,
    prefix_bits: int = 4,
    replicate_bands: bool = False,
) -> str:
    """Write-once stored banded-LSH index (VERDICT r9 #4) — the dedup
    twin of the stored PQ index (``similarity.build_pq_index``) and BM25
    postings (``text.bm25_topk_stored``): the banded frame
    ``(id, vec, _nrm, _b0.._b{n-1})`` is materialized ONCE per corpus as
    parquet partitioned by ``_pre`` (the top ``prefix_bits`` bits of the
    band-0 bucket) and published through ``staging.stored_index``
    (``corpus_key`` is required).

    What the store buys at steady state: the banding computation —
    ``n_bands * planes_per_band`` 64-wide dot-product folds per row plus
    the norm fold — and its persist materialization happen at WRITE time
    only. Serving (``embedding_lsh_pairs_stored``) is just the verify
    joins over a columnar scan; probes (``embedding_lsh_probe_stored``)
    read a single ``_pre`` directory (partition pruning, bounded by
    2^prefix_bits of the corpus).

    The stored doubles (vec floats, norm, bucket ids) round-trip parquet
    exactly, so stored serving is BIT-IDENTICAL to the inline path —
    pinned in tests/test_dedup_similarity.py.

    Sizing: same corpus-aware default as ``embedding_lsh_pairs``
    (``planes_per_band_for``); explicit ``planes`` for oracle
    reproducibility. The meta JSON persists the plane literals (doubles
    survive JSON round-trip via shortest-repr), so a LATER session can
    probe the index without re-deriving the model.

    ``replicate_bands=True`` writes the FULL-RECALL online layout
    (VERDICT r10 #5): the banded frame is replicated once per band —
    partitioned by ``(band, _pre)`` where band b's replica is
    prefix-partitioned on ``_b{b}`` — so an online probe can run the
    pruned-directory read against EVERY band and recover complete LSH
    recall (band-0-only probing misses pairs whose first collision is
    a later band). Storage cost is x n_bands; the offline pair job
    should keep using the single-copy layout. The replication is one
    shuffle-free projection (explode over band ids), not n_bands scans.
    """
    import hashlib
    import json
    import os

    from tdei_extract_load_service_spark.operators.similarity import make_planes
    from tdei_extract_load_service_spark.operators.staging import stored_index

    if planes_per_band is None:
        if planes is not None:
            if len(planes) % n_bands:
                raise ValueError("len(planes) must be a multiple of n_bands")
            planes_per_band = len(planes) // n_bands
        else:
            planes_per_band = planes_per_band_for(df.count())
    if planes is None:
        planes = make_planes(n_bands * planes_per_band, dim)
    if len(planes) != n_bands * planes_per_band:
        raise ValueError("need n_bands * planes_per_band planes")
    planes_key = hashlib.md5(repr(planes).encode()).hexdigest()[:16]
    shift = max(planes_per_band - prefix_bits, 0)

    def build(tmp: str) -> None:
        banded = spread(df).select(
            _col(id_col).alias("id"),
            _col(vec_col).alias("vec"),
            _nrm_expr(vec_col, dim),
            *_lsh_band_cols(
                _vec_in(vec_col), dim, n_bands, planes_per_band, planes
            ),
        )
        if replicate_bands:
            bands_arr = F.array(*[F.col(f"_b{i}") for i in range(n_bands)])
            banded = banded.select(
                "*",
                F.explode(
                    F.array(*[F.lit(i) for i in range(n_bands)])
                ).alias("band"),
            ).withColumn(
                "_pre",
                F.shiftright(
                    F.element_at(bands_arr, F.col("band") + 1), shift
                ),
            )
            part_cols = ["band", "_pre"]
        else:
            banded = banded.withColumn(
                "_pre", F.shiftright(F.col("_b0"), shift)
            )
            part_cols = ["_pre"]
        banded.write.mode("overwrite").partitionBy(*part_cols).parquet(tmp)
        with open(os.path.join(tmp, "_meta.json"), "w") as fh:
            json.dump(
                {
                    "n_bands": n_bands,
                    "planes_per_band": planes_per_band,
                    "dim": dim,
                    "prefix_shift": shift,
                    "planes": planes,
                    "replicated": replicate_bands,
                },
                fh,
            )

    # id_col/vec_col/prefix_bits are part of the key (ADVICE r10): a
    # hit on a key omitting them would silently serve an index built
    # with a different id column or partition-prefix width.
    key = (
        corpus_key,
        id_col,
        vec_col,
        n_bands,
        planes_per_band,
        dim,
        prefix_bits,
        planes_key,
        replicate_bands,
    )
    return stored_index(_EMB_LSH_INDEX_ROOT, key, build, marker="_meta.json")


def _emb_lsh_meta(index_path: str) -> dict:
    import json
    import os

    with open(os.path.join(index_path, "_meta.json")) as fh:
        return json.load(fh)


def embedding_lsh_pairs_stored(
    spark, index_path: str, threshold: float = 0.9, eager: bool = True
) -> DataFrame:
    """Steady-state near-dup pair serving over a stored banded-LSH index:
    scan the pre-banded frame, run the first-collision-band verify joins
    (``_lsh_pairs_from_banded`` — the exact code path the inline operator
    uses), emit exact-verified pairs. No banding folds, no model
    derivation: the expensive half of ``embedding_lsh_pairs`` was paid
    once at ``build_embedding_lsh_index`` time — the nightly-ingest
    shape, where the corpus index is rebuilt per snapshot but pair jobs
    (different thresholds, downstream clusterings) run many times."""
    meta = _emb_lsh_meta(index_path)
    banded = spark.read.parquet(index_path).persist()
    out = _lsh_pairs_from_banded(
        banded, meta["n_bands"], threshold, dim=meta.get("dim")
    )
    if not eager:
        # caller owns the banded cache lifetime (plan inspection)
        return out
    result = out.localCheckpoint(eager=True)
    banded.unpersist()
    return result


def _lsh_bucket_py(vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side twin of ``similarity.lsh_bucket`` — same left-to-right
    fold over the same doubles, so the bucket id is bit-identical."""
    bucket = 0
    for p, plane in enumerate(planes):
        acc = 0.0
        for x, w in zip(vec, plane):
            acc += float(x) * w
        if acc >= 0:
            bucket += 2**p
    return bucket


def embedding_lsh_probe_stored(
    spark,
    index_path: str,
    query_vec: list[float],
    threshold: float = 0.9,
    k: int = 10,
) -> DataFrame:
    """Point lookup against the stored index: near-duplicates of ONE new
    vector — the online-ingest question ("have we seen this before?").

    The query's band-0 bucket (and its ``_pre`` prefix) are computed
    DRIVER-side from the meta's plane literals, so the scan carries a
    literal ``_pre = <q>`` partition filter — the read is one directory
    (~corpus/2^prefix_bits), asserted as PartitionFilters in the plan
    audit. Candidates are the band-0 bucket's rows; exact cosine ranks
    them. Band-0-only probing trades recall for the pruned read —
    production replicates the layout per band (the same write-once
    discipline x n_bands) when full LSH recall is needed online; the
    offline pair job (``embedding_lsh_pairs_stored``) always uses every
    band."""
    from tdei_extract_load_service_spark.operators.similarity import _vec_lit

    meta = _emb_lsh_meta(index_path)
    band0 = meta["planes"][: meta["planes_per_band"]]
    qb = _lsh_bucket_py(query_vec, band0)
    qpre = qb >> meta["prefix_shift"]
    qlit = _vec_lit(query_vec)
    cos = F.round(
        _dot(F.col("vec"), qlit)
        / (F.col("_nrm") * F.sqrt(_dot(qlit, qlit))),
        6,
    )
    return (
        spark.read.parquet(index_path)
        .where((F.col("_pre") == F.lit(qpre)) & (F.col("_b0") == F.lit(qb)))
        .select(F.col("id"), cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
    )


def embedding_lsh_probe_multiband(
    spark,
    index_path: str,
    query_vec: list[float],
    threshold: float = 0.9,
    k: int = 10,
) -> DataFrame:
    """FULL-RECALL online probe (VERDICT r10 #5): the production form of
    ``embedding_lsh_probe_stored``'s docstring note — the index layout
    is replicated per band (``build_embedding_lsh_index(...,
    replicate_bands=True)``), so the probe unions ONE pruned-directory
    read per band and recovers the complete LSH candidate set (any row
    colliding with the query in ANY band), where the band-0-only probe
    trades recall for a single read.

    Every per-band scan carries literal ``band = b AND _pre = <q_b>``
    partition filters (driver-side bucket computation from the meta's
    plane literals, same as the single-band probe) plus the in-bucket
    ``_b{b} = <qb_b>`` data filter — the union reads n_bands pruned
    directories (~n_bands * corpus / 2^prefix_bits rows), never the
    corpus. A row colliding in several bands appears in several
    replicas; the union dedups by id BEFORE the exact-cosine ranking,
    so the emitted top-k is identical to what a full-corpus OR-join
    would rank."""
    from tdei_extract_load_service_spark.operators.similarity import _vec_lit

    meta = _emb_lsh_meta(index_path)
    if not meta.get("replicated"):
        raise ValueError(
            "embedding_lsh_probe_multiband needs a replicate_bands=True "
            "layout; this index was built single-copy (band-0 prefix)"
        )
    n_bands = meta["n_bands"]
    ppb = meta["planes_per_band"]
    qlit = _vec_lit(query_vec)
    idx = spark.read.parquet(index_path)
    probes = []
    for b in range(n_bands):
        band_planes = meta["planes"][b * ppb : (b + 1) * ppb]
        qb = _lsh_bucket_py(query_vec, band_planes)
        qpre = qb >> meta["prefix_shift"]
        probes.append(
            idx.where(
                (F.col("band") == F.lit(b))
                & (F.col("_pre") == F.lit(qpre))
                & (F.col(f"_b{b}") == F.lit(qb))
            ).select("id", "vec", "_nrm")
        )
    cands = probes[0]
    for p in probes[1:]:
        cands = cands.unionByName(p)
    cos = F.round(
        _dot(F.col("vec"), qlit) / (F.col("_nrm") * F.sqrt(_dot(qlit, qlit))),
        6,
    )
    return (
        # a row can collide in several bands — one candidate per id
        cands.dropDuplicates(["id"])
        .select(F.col("id"), cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
    )


def dedup_embedding_incremental(
    spark,
    index_path: str,
    delta: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    check_disjoint: bool = False,
    broadcast_max_delta: int = 200_000,
) -> DataFrame:
    """Cross-run incremental NEAR-dup detection — the banded-LSH twin of
    ``dedup_incremental``: tonight's delta vectors are banded with the
    stored index's FROZEN plane model (read from its meta, exact to the
    bit: JSON round-trips the seeded doubles via shortest repr) and only
    the pairs TOUCHING the delta are emitted — (all x delta) plus
    (delta x index) under the global id order — without recomputing a
    single base-corpus bucket or base-base pair.

    PRECONDITION — delta ids must be DISJOINT from the stored index's
    ids (ADVICE r10): the two verify joins split pairs by which side
    the delta endpoint sorts on; a re-ingested id present on BOTH sides
    makes the same pair qualify in both calls and it is emitted twice.
    The nightly-ingest contract (new snapshot = new ids) satisfies this
    for free; when re-ingestion is possible, pass
    ``check_disjoint=True`` to pay one slim anti-join-shaped count that
    raises ``ValueError`` on overlap instead of silently duplicating.

    Exactness: first-collision-band membership is a pair-local property
    of the bucket columns, so this union equals the FULL-corpus
    ``embedding_lsh_pairs`` output restricted to pairs with a delta
    endpoint — the catalog oracle runs exactly that restricted
    full-corpus SQL, value-certifying incremental == full every round.

    Scale shape: the delta is banded in one projection; both verify
    joins put the (small) delta on one side and the stored index scan on
    the other — work is O(|delta| x bucket-mates), never
    O(|base|^2)."""
    meta = _emb_lsh_meta(index_path)
    n_bands = meta["n_bands"]
    planes = meta["planes"]
    cols = ["id", "vec", "_nrm", *[f"_b{i}" for i in range(n_bands)]]
    idx = spark.read.parquet(index_path).select(*cols)
    delta_banded = spread(delta).select(
        _col(id_col).alias("id"),
        _col(vec_col).alias("vec"),
        _nrm_expr(vec_col, meta["dim"]),
        *_lsh_band_cols(
            _vec_in(vec_col),
            meta["dim"],
            n_bands,
            meta["planes_per_band"],
            planes,
        ),
    ).persist()
    if check_disjoint:
        overlap = (
            delta_banded.select("id")
            .join(idx.select("id"), "id", "semi")
            .limit(1)
            .count()
        )
        if overlap:
            delta_banded.unpersist()
            raise ValueError(
                "dedup_embedding_incremental: delta ids overlap the stored "
                "index — re-ingested ids would emit duplicate pairs; dedup "
                "the delta against the index first"
            )
    # size-gated physical strategy (r11 A/B, SCALE.md): the nightly
    # delta is small by contract, so BROADCAST it on both verify joins
    # — the index side then streams through a broadcast-hash probe with
    # no per-band shuffle or sort (4.4s -> 2.5s at sf0.1); the index
    # scan is persisted so the 2 x n_bands joins read one
    # materialization. Over-threshold deltas keep the sort-merge shape
    # (broadcasting a corpus-sized frame OOMs — the self-join lesson).
    n_delta = delta_banded.count()  # also materializes the persist
    bcast = n_delta <= broadcast_max_delta
    idx_scan = idx.persist() if bcast else idx
    # pairs with the NEWER endpoint in the delta (covers delta-delta too)
    touching_b = _lsh_pairs_between(
        idx_scan.unionByName(delta_banded),
        delta_banded,
        n_bands,
        threshold,
        broadcast_side="b" if bcast else None,
        dim=meta["dim"],
    )
    # pairs where the delta id sorts BELOW an index id
    touching_a = _lsh_pairs_between(
        delta_banded,
        idx_scan,
        n_bands,
        threshold,
        broadcast_side="a" if bcast else None,
        dim=meta["dim"],
    )
    result = touching_b.unionByName(touching_a).localCheckpoint(eager=True)
    delta_banded.unpersist()
    if bcast:
        idx_scan.unpersist()
    return result


def embedding_cosine_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.45
) -> DataFrame:
    """Exact near-dup pairs by cosine similarity — the all-pairs oracle
    path (O(n²): right at SF-test scale and as the verifier for the
    approximate paths; at 100 TB use ``embedding_lsh_pairs`` /
    ``operators.similarity`` LSH/IVF bucketing for candidate generation
    instead)."""
    vecs = spread(df).select(_col(id_col).alias("id"), _col(vec_col).alias("vec"))
    a, b = vecs.alias("a"), vecs.alias("b")
    sim = cosine_similarity(F.col("a.vec"), F.col("b.vec"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    caches: list | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + EXACT Jaccard verification — the
    production near-dup shape at 100 TB: the quadratic-ish inverted-index
    join is replaced by LSH bucketing (misses a θ-pair with probability
    ``(1-θ^r)^b`` ≈ 2e-4 at θ=0.8 with 16×4 bands), and every surviving
    candidate is then scored exactly on its true shingle sets, so emitted
    pairs carry no estimation error.

    Unlike ``minhash_lsh_pairs`` the band join here is always the slim
    (id, band, bucket) shape: the things re-joined for verification are the
    full shingle SETS, which are far too wide to ride a x-bands self-join.

    Two corpus-sized frames persist for the duration of the query; pass
    ``caches`` (a list) to receive them for unpersisting after the
    consuming action (long-lived sessions should — otherwise they stay
    cached until LRU eviction)."""
    # shingle ONCE: the same persisted (id, shingles) frame feeds both the
    # signature fold and the exact-verify joins (one pass over the corpus,
    # not three). Candidates skip estimate scoring entirely — the exact
    # verify supersedes it.
    sh = spread(df).select(
        _col(id_col).alias("id"), word_shingles(text_col, n).alias("sh")
    ).persist()
    # sig persists too: the band self-join references it on both sides and
    # the signature fold must run once per doc, not twice
    sig = sh.select("id", minhash_signature(F.col("sh"), num_hashes).alias("sig")).persist()
    if caches is not None:
        caches.extend([sh, sig])
    candidates = lsh_band_candidates(sig, num_hashes, bands)
    # merge hint: the shingle-set side is corpus-sized (every doc's full
    # shingle array) — it must never be broadcast-built (OOM at a 10x
    # corpus when the optimizer under-estimated it) NOR hash-built
    # (shuffled-hash build maps cannot spill; OOMed at x100)
    joined = (
        candidates.join(
            sh.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a")).hint("merge"),
            "doc_a",
        ).join(
            sh.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b")).hint("merge"),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jaccard = F.round(inter / union, 6)
    return (
        joined.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 8,
    w: int = 4,
    max_hash_df: int | None = 256,
    eager: bool = True,
) -> DataFrame:
    """SUBSTRING-level near-dup pairs via winnowing fingerprints
    (``text.winnow_hashes``) — catches shared passages that word-level
    n-gram Jaccard misses when the surrounding text differs (quotes,
    boilerplate blocks, templated sections). Returns (doc_a, doc_b,
    jaccard) over the selected-hash SETS, jaccard >= ``threshold``;
    every emitted pair's jaccard is exact over the winnowed sets.

    Scale shape — the inverted-index ladder the text dedup family earned:

    - winnowed hash sets come from ``text.winnow_sets`` (the O(len)
      Arrow-batched deque path — the round-6 O(len^2) nested-HOF lesson)
      and materialize ONCE on a persisted narrow (id, ws, size) frame,
      so neither self-join side recomputes the fingerprints;
    - explode -> inverted index keyed on the 16-char hash; the self-join
      is merge-pinned (spillable sort-merge, the x100 lesson — never a
      broadcast or an unspillable hash build of a corpus-sized side);
    - ``max_hash_df`` drops hashes appearing in more than that many docs
      BEFORE the join — the hot-key cap (ubiquitous boilerplate shingles
      make near-cartesian buckets: fixture p99 df is 64 but the max is
      328 of 500 docs, and an UNCAPPED x10 replicated-corpus run pinned
      32 cores for 25+ minutes on Σdf² work — the round-5 LSH lesson
      repeating, so the cap is the DEFAULT, 256, bounding per-hash join
      work at cap²/2 and total candidate volume at ~|distinct hashes| x
      cap²/2, linear-ish in the corpus). Dropped hashes shrink measured
      overlap, so capped jaccard UNDERESTIMATES: a recall knob, exactly
      like ``max_shingle_df`` in the n-gram operator. ``None`` opts out
      for exact small-corpus verification (the oracle entry).
    - pair overlap is ONE count aggregation; set sizes ride the exploded
      rows, so no join back to the corpus.

    The result is eagerly materialized (localCheckpoint) and the working
    frame unpersisted — the embedding_lsh_pairs cache contract.
    """
    from tdei_extract_load_service_spark.operators.text import winnow_sets

    sets = (
        winnow_sets(spread(df), id_col, text_col, k, w)
        .select(_col(id_col).alias("id"), "ws")
        .where(F.col("ws").isNotNull())
        .withColumn("sz", F.size("ws"))
        .persist()
    )
    ex = sets.select("id", "sz", F.explode("ws").alias("h"))
    if max_hash_df is not None:
        hot = (
            ex.groupBy("h").agg(F.count("*").alias("hdf"))
            .where(F.col("hdf") > max_hash_df)
            .select("h")
        )
        # anti join against the hot-hash set. No broadcast HINT (ADVICE
        # r6): hot hashes are few on real corpora (heavy-hitter tail),
        # but on boilerplate-heavy/degenerate input the >cap set can
        # scale with the distinct-hash count, and F.broadcast would
        # force it past Spark's size threshold into driver memory. AQE
        # sees the aggregated size at runtime and picks broadcast when
        # it is genuinely small, falling back to a shuffled anti join
        # when not.
        ex = ex.join(hot, "h", "left_anti")
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(
            b.hint("merge"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    if not eager:
        # lazy escape hatch (plan inspection / caller-managed lifetime):
        # the sets frame stays persisted; the CALLER owns unpersisting it
        return pairs
    result = pairs.localCheckpoint(eager=True)
    sets.unpersist()
    return result


# ---------------------------------------------------------------------------
# Bloom-filter membership prefilter (round 11)
# ---------------------------------------------------------------------------


def build_bloom(
    df: DataFrame,
    key_col: str,
    n_keys: int | None = None,
    bits_per_key: int = 16,
    n_hashes: int = 5,
):
    """Distributed Bloom-filter build over a key column — the classic
    100 TB membership-prefilter state (RocksDB/LevelDB use ~10-16
    bits/key; Spark's own runtime row-group filtering builds the same
    structure JVM-side but does not expose it to SQL in this build, so
    this is the declarative twin).

    The build is ONE aggregation, entirely JVM-side and
    order-independent: each key explodes to ``n_hashes`` bit positions
    (``pmod(xxhash64(key, seed_i), m)`` — whole-stage-codegen
    expressions), positions group by 64-bit word index, and ``bit_or``
    folds the set bits — associative+commutative, so a 1000-executor
    build is bit-identical to a single-threaded one. The word frame
    (m/64 rows) collects to a driver numpy bitmap.

    Returns ``(words, m, n_hashes)`` with ``words`` an int64 numpy
    array of ceil(m/64) words — the driver-resident form for tooling
    and the pytest false-positive bound. The PROBE path at scale should
    use :func:`build_bloom_words` instead, which returns the same word
    table as a DataFrame and never lands on the driver. Memory:
    bits_per_key=16 costs 2 bytes/key — 2 GB for a billion-key index,
    the standard trade for pruning a shuffle of mostly-new keys
    (false-positive rate ~(1-e^(-k*n/m))^k ≈ 0.046% at 16 bits /
    5 hashes)."""
    import numpy as np

    words_df, m, n_hashes = build_bloom_words(
        df, key_col, n_keys=n_keys, bits_per_key=bits_per_key,
        n_hashes=n_hashes,
    )
    words = np.zeros((m + 63) // 64, dtype=np.int64)
    for r in words_df.collect():
        words[r.widx] = r.word
    return words, m, n_hashes


def build_bloom_words(
    df: DataFrame,
    key_col: str,
    n_keys: int | None = None,
    bits_per_key: int = 16,
    n_hashes: int = 5,
):
    """:func:`build_bloom` without the driver collect: returns
    ``(words_df, m, n_hashes)`` with ``words_df`` the distributed
    ``(widx BIGINT, word BIGINT)`` frame of set 64-bit words (absent
    widx == all-zero word). This is the 100 TB form — the bitmap never
    concentrates on the driver and never rides a Python closure; the
    probe broadcast-joins it JVM-side (one copy per executor JVM,
    shared by every task thread, vs one copy per PYTHON WORKER for a
    numpy closure — 32 workers/host × 2 GB was the r11 scale flag)."""
    if n_keys is None:
        n_keys = df.select(key_col).distinct().count()
    m = max(64, int(n_keys) * bits_per_key)
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(_col(key_col), F.lit(i)), F.lit(m))
                for i in range(n_hashes)
            ]
        )
    ).alias("pos")
    words_df = (
        df.select(pos)
        .select(
            F.expr("pos DIV 64").alias("widx"),
            # shiftleft needs a column-shift here (pyspark's wrapper
            # only takes an int literal) — SQL form keeps it codegen
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("word"))
    )
    return words_df, m, n_hashes


def bloom_might_contain(
    df: DataFrame, key_col: str, bloom, out_col: str = "might_contain"
) -> DataFrame:
    """Membership probe against a built bloom filter. No false
    negatives by construction; false positives at the configured rate —
    callers exact-verify survivors (``bloom_prefilter_members``).

    Two forms, keyed on what the build returned:

    - ``(words_df, m, k)`` from :func:`build_bloom_words` — fully
      JVM-side: the k candidate positions are codegen xxhash64
      expressions, and k broadcast hash joins gather the words. The k
      joins reference the SAME words frame with the same column names,
      so canonicalization collapses them into ONE reused broadcast
      exchange (one bitmap copy per executor JVM); a missing widx is an
      all-zero word via coalesce. No Python anywhere — this is the
      scale path.
    - ``(numpy_words, m, k)`` from :func:`build_bloom` — one
      Arrow-batched pandas UDF gathers bits from the array, which is
      shipped via ``SparkContext.broadcast`` (torrent-distributed,
      disk-backed) rather than pickled into every task closure. Still
      one in-memory copy per Python worker on first access — fine for
      tooling-sized bitmaps, not for the billion-key tier."""
    words, m, n_hashes = bloom
    if isinstance(words, DataFrame):
        return _bloom_probe_jvm(df, key_col, words, m, n_hashes, out_col)
    return _bloom_probe_arrow(df, key_col, words, m, n_hashes, out_col)


def _bloom_probe_jvm(
    df: DataFrame,
    key_col: str,
    words_df: DataFrame,
    m: int,
    n_hashes: int,
    out_col: str,
) -> DataFrame:
    reserved = {"_bl_widx", "word"} | {
        f"_bl_pos{i}" for i in range(n_hashes)
    } | {f"_bl_w{i}" for i in range(n_hashes)}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"bloom probe reserves working columns {sorted(clash)} — "
            "rename them on the input frame first"
        )
    # one identically-named projection reused by every join so the
    # broadcast exchange canonicalizes equal and is built ONCE
    words = words_df.select(
        F.col("widx").alias("_bl_widx"), F.col("word").alias("word")
    )
    probed = df.select(
        "*",
        *[
            F.pmod(F.xxhash64(_col(key_col), F.lit(i)), F.lit(m)).alias(
                f"_bl_pos{i}"
            )
            for i in range(n_hashes)
        ],
    )
    for i in range(n_hashes):
        probed = (
            probed.withColumn("_bl_widx", F.expr(f"_bl_pos{i} DIV 64"))
            .join(F.broadcast(words), "_bl_widx", "left")
            .withColumnRenamed("word", f"_bl_w{i}")
            .drop("_bl_widx")
        )
    hit = F.lit(True)
    for i in range(n_hashes):
        bit = F.expr(
            f"shiftright(_bl_w{i}, CAST(_bl_pos{i} % 64 AS INT)) & 1"
        )
        hit = hit & (F.coalesce(bit, F.lit(0)) == 1)
    return probed.withColumn(out_col, hit).drop(
        *[f"_bl_pos{i}" for i in range(n_hashes)],
        *[f"_bl_w{i}" for i in range(n_hashes)],
    )


# one torrent-broadcast per DISTINCT bitmap per SparkContext (ADVICE r12:
# a fresh broadcast per probe call is an unbounded leak in a long-lived
# session — the result is lazy, so "unpersist on materialize" has no safe
# hook; reuse is the fix). Keyed by bitmap content + applicationId (NOT
# id(sc): CPython reuses addresses, so a new context could be served a
# dead broadcast — r13 review finding); locked because foreachBatch
# handlers may probe from worker threads. Capped LRU, hand-written rather
# than lru_cache: eviction must unpersist the broadcast, and lru_cache has
# no eviction hook.
import threading as _threading  # noqa: E402  (cache lock below)

_BLOOM_BCAST_CACHE: dict = {}
_BLOOM_BCAST_CACHE_MAX = 4
_BLOOM_BCAST_LOCK = _threading.Lock()


def _bloom_bitmap_broadcast(sc, arr):
    import hashlib

    app_id = sc.applicationId
    key = (app_id, hashlib.md5(arr.tobytes()).hexdigest())
    with _BLOOM_BCAST_LOCK:
        # a new SparkContext invalidates every old broadcast — drop them
        for stale in [k for k in _BLOOM_BCAST_CACHE if k[0] != app_id]:
            _BLOOM_BCAST_CACHE.pop(stale, None)
        bcast = _BLOOM_BCAST_CACHE.pop(key, None)  # pop+reinsert = LRU touch
        if bcast is None:
            while len(_BLOOM_BCAST_CACHE) >= _BLOOM_BCAST_CACHE_MAX:
                old = _BLOOM_BCAST_CACHE.pop(next(iter(_BLOOM_BCAST_CACHE)))
                try:
                    old.unpersist()
                except Exception:
                    pass  # context mid-shutdown: nothing to release
            bcast = sc.broadcast(arr)
        _BLOOM_BCAST_CACHE[key] = bcast
        return bcast


def _bloom_probe_arrow(
    df: DataFrame,
    key_col: str,
    words,
    m: int,
    n_hashes: int,
    out_col: str,
) -> DataFrame:
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    # torrent-broadcast the bitmap instead of closing over it: the task
    # closure stays tiny and each host fetches the blocks once
    sc = df.sparkSession.sparkContext
    bcast = _bloom_bitmap_broadcast(sc, np.asarray(words, dtype=np.int64))

    @pandas_udf(T.BooleanType())
    def _probe(pos_lists: pd.Series) -> pd.Series:
        # one (batch, n_hashes) gather per Arrow batch — pandas_udf
        # forbids variadic signatures, so the k positions arrive as one
        # array column
        words_arr = bcast.value
        pv = np.vstack(pos_lists.to_numpy()).astype(np.int64)
        bits = (words_arr[pv >> 6] >> (pv & 63)) & 1
        return pd.Series(bits.all(axis=1))

    pos_arr = F.array(
        *[
            F.pmod(F.xxhash64(_col(key_col), F.lit(i)), F.lit(m))
            for i in range(n_hashes)
        ]
    )
    return df.withColumn(out_col, _probe(pos_arr))


def bloom_prefilter_members(
    spark,
    index_path: str,
    delta: DataFrame,
    id_col: str,
    content_cols: list[str],
    bits_per_key: int = 16,
    n_hashes: int = 5,
    stats: dict | None = None,
) -> DataFrame:
    """Membership of tonight's delta in the stored fingerprint index,
    Bloom-accelerated: the index's content hashes build a bitmap ONCE
    (driver state alongside the index, rebuilt per snapshot); delta
    rows that the bloom rejects are DEFINITELY new and never reach the
    join; the surviving might-be-dup rows are exact-verified with a
    semi join against the index scan. Output — ``(id, content_hash)``
    of delta rows whose content exists in the index — is EXACTLY the
    plain semi join's (no false negatives by construction; false
    positives die in the verify join), so the catalog oracle is the
    straight EXISTS SQL.

    Why this is the 100 TB shape: a fresh crawl is mostly-new, so the
    bloom (a broadcast word table, no shuffle of the delta) discards
    the bulk of the delta at scan speed and only the small might-be-dup
    fraction pays the hash-wide join's shuffle. The probe is the fully
    JVM-side :func:`build_bloom_words` form — the bitmap never lands on
    the driver and never duplicates per Python worker (the r11 scale
    flag). ``stats`` (optional) receives ``n_delta / n_candidates /
    n_members`` so callers (and the pytest error-bound) can see the
    pruning and the false-positive volume."""
    hashed = delta.select(
        _col(id_col).alias("id"),
        F.md5(F.concat_ws("\x1f", *[_col(c) for c in content_cols])).alias(
            "content_hash"
        ),
    )
    idx = spark.read.parquet(index_path).select("content_hash")
    # Bitmap sizing without a job (guide §1/§5): the stored index is one
    # row per DISTINCT content hash by construction
    # (build_fingerprint_index writes dedup_exact_groups' output), so
    # the parquet footers' num_rows IS the distinct-key count
    # build_bloom_words would otherwise spend a distinct().count() job
    # per call to discover. Same n_keys -> same m -> bit-identical
    # probe outcomes; the fallback keeps non-local paths working.
    n_keys = None
    try:
        import os as _os

        import pyarrow.parquet as pq

        n_keys = 0
        for dirpath, _dirs, fnames in _os.walk(index_path):
            for f in fnames:
                if f.endswith(".parquet"):
                    n_keys += pq.ParquetFile(
                        _os.path.join(dirpath, f)
                    ).metadata.num_rows
    except Exception:  # pragma: no cover - pyarrow is baked in
        n_keys = None
    bloom = build_bloom_words(idx, "content_hash", n_keys=n_keys,
                              bits_per_key=bits_per_key, n_hashes=n_hashes)
    flagged = bloom_might_contain(hashed, "content_hash", bloom)
    candidates = flagged.where(F.col("might_contain")).drop("might_contain")
    out = candidates.join(idx, "content_hash", "semi").select(
        "id", "content_hash"
    )
    if stats is not None:
        stats["n_delta"] = hashed.count()
        stats["n_candidates"] = candidates.count()
        result = out.localCheckpoint(eager=True)
        stats["n_members"] = result.count()
        return result
    return out


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_docs: int = 2,
    top_k: int | None = 50,
) -> DataFrame:
    """Cross-document duplicate SPAN detection: every ``n``-token window
    that occurs in at least ``min_docs`` distinct documents, with its
    document and occurrence counts — the span-granular dedup signal of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), which whole-document dedup (``dedup_exact``, LSH) cannot
    see: boilerplate headers, license blocks and quoted passages
    duplicate across otherwise-distinct documents.

    Plan shape (deliberately NOT the shingling HOF): ``posexplode`` the
    token array to ``(id, pos, token)`` rows, then build each span with
    ``n-1`` ``lead(token)`` calls over one per-document window — a
    single shuffle on the document id, work linear in total tokens.
    The ``word_shingles`` HOF would close a lambda over the computed
    token array, which Catalyst re-inlines per position (the r6 winnow
    lesson: O(len²) re-evaluation); the window form pays one exchange
    instead and survives arbitrarily long documents. The span GROUP BY
    shuffles span strings; at the 100 TB tier group on
    ``xxhash64(span)`` and join a representative back (the
    Lee-et-al suffix-array construction is the exact-match limit of
    this posting approach).

    Output: ``(span, n_docs, n_occurrences)``, most-duplicated first
    (ties broken by span text), capped at ``top_k`` when given."""
    if n < 1:
        raise ValueError("span length n must be >= 1")
    toks = df.select(
        _col(id_col).alias("id"),
        F.posexplode(F.split(_col(text_col), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy(F.col("pos").asc())
    parts = [F.col("tok")] + [
        F.lead("tok", i).over(w) for i in range(1, n)
    ]
    spans = (
        toks.select(
            "id",
            F.concat_ws(" ", *parts).alias("span"),
            F.lead("tok", n - 1).over(w).isNotNull().alias("_full"),
        )
        .where(F.col("_full"))
        .drop("_full")
    )
    out = (
        spans.groupBy("span")
        .agg(
            F.countDistinct("id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(
            F.col("n_occurrences").desc(),
            F.col("span").asc(),
        )
    )
    return out.limit(top_k) if top_k is not None else out


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k_clusters: int | None = None,
    iters: int = 2,
    threshold: float = 0.9,
    dim: int = 64,
    target_cluster: int = 256,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    deduplication over an embedding column — k-means the corpus, then
    within each cluster drop every vector that has a more-senior
    near-twin (cosine >= ``threshold``), keeping the lowest id per
    similar pair. The published recipe's point is the cluster fence:
    the O(n²) cosine work collapses to Σ per-cluster size², and at
    100 TB the clustering IS the index (each cluster's pair pass is an
    independent task — no corpus-wide candidate join at all). The
    price, as published: duplicates that straddle a cluster boundary
    are not examined (raise ``k_clusters`` or lower ``iters``'s seeding
    sensitivity to trade recall vs cost; the banded-LSH family here is
    the exhaustive-recall alternative).

    Survivor rule: drop ``b`` iff SOME same-cluster ``a < b`` has
    ``cosine(a, b) >= threshold`` — the pairwise-dominance greedy (the
    first-collision convention of this module's LSH family), not
    connected components; a chain a~b~c with a!~c keeps ``a`` AND
    drops both others only if b,c each pair with a smaller survivor...
    i.e. c is dropped iff a~c or b~c — deterministic and
    SQL-restatable, which is what makes the whole pipeline (Lloyd
    iterations included — ``kmeans_centroids_exact``'s DECIMAL-mean
    determinism) value-oracle-checkable.

    SIZE k TO THE CORPUS (the ``planes_per_band_for`` lesson, again):
    with a FIXED k, per-cluster population grows linearly with the
    corpus and the within-cluster pair pass grows QUADRATICALLY
    (measured x10: 25M pairs, 10x runtime — SCALE.md). The default
    (``k_clusters=None``) therefore derives ``k = max(8, n //
    target_cluster)`` from one cheap count, keeping pair work
    ~``n * target_cluster / 2`` — linear — exactly how the paper runs
    it (k ~ 100k on billion-scale corpora). Pass an explicit
    ``k_clusters`` only to reproduce against an external oracle. The
    exact-literal Lloyd trainer holds the k x dim model driver-side and
    inlines it as plan literals, so this recipe is for k up to the low
    thousands; beyond that, swap the trainer for an approximate one —
    the fence/prune stages are unchanged.

    Returns surviving ``(id, centroid_id)`` rows.
    """
    if k_clusters is None:
        k_clusters = max(8, df.count() // target_cluster)
    from tdei_extract_load_service_spark.operators.similarity import (
        ivf_assign_model,
        kmeans_centroids_exact,
    )
    from tdei_extract_load_service_spark.session import persist_scoped

    model = kmeans_centroids_exact(
        df, id_col, vec_col, k=k_clusters, iters=iters, dim=dim
    )
    assigned = persist_scoped(
        ivf_assign_model(df, model, id_col, vec_col).select(
            "id",
            "centroid_id",
            "vec",
            F.sqrt(_dot(F.col("vec"), F.col("vec"))).alias("_nrm"),
        ),
        "dedup.semantic.assigned",
    )
    a, b = assigned.alias("a"), assigned.hint("merge").alias("b")
    sim = F.round(
        _dot(F.col("a.vec"), F.col("b.vec"))
        / (F.col("a._nrm") * F.col("b._nrm")),
        6,
    )
    drops = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(sim >= threshold)
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    return assigned.select("id", "centroid_id").join(
        drops, "id", "left_anti"
    )
