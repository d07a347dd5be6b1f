"""Similarity / ANN entries incl. the PQ family (north-star; operators/similarity.py).

Split out of the monolithic catalog.py (round-8 catalog diet, VERDICT
r7 #6). Importing this module registers its entries in
``catalog.REGISTRY``; the hub imports every family module at the end of
catalog.py, so ``from ...catalog import REGISTRY`` keeps working
unchanged. See catalog.py's module docstring for the determinism rules
every entry follows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tdei_extract_load_service_spark.operators.staging import staged_build
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
from tdei_extract_load_service_spark.session import sort_boundary, spread


# ---------------------------------------------------------------------------
# Similarity search (north-star; operators/similarity.py)
# ---------------------------------------------------------------------------




@register(
    "topk_similarity",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id AS id,
           ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM embeddings e, q
    ORDER BY cosine DESC, id ASC LIMIT 10
    """,
)
def q_topk_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the ANN baseline): narrow scan +
    TakeOrderedAndProject — k rows per partition reach the driver."""
    from tdei_extract_load_service_spark.operators.similarity import topk_cosine

    return topk_cosine(
        _read(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        _query_vec(spark, sf_dir), k=10,
    )


@register(
    "similarity_ivf",
    """
    WITH c AS (
      SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
      FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    assigned AS (
      SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS vec, c.centroid_id
      FROM embeddings e, c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY ROUND(list_dot_product(e.embedding::DOUBLE[], c.cv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC, c.centroid_id ASC) = 1
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT c.centroid_id FROM c, q
      ORDER BY ROUND(list_dot_product(c.cv, q.qv)
               / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
               c.centroid_id ASC
      LIMIT 4
    )
    SELECT a.id,
           ROUND(list_dot_product(a.vec, q.qv)
                 / (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM assigned a, q
    WHERE a.centroid_id IN (SELECT centroid_id FROM probe)
    ORDER BY cosine DESC, a.id ASC LIMIT 10
    """,
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: 16 deterministic centroids, probe the 4
    nearest lists, exact rank among candidates — scans ~1/4 of the data at
    equal recall on clustered corpora."""
    from tdei_extract_load_service_spark.operators.similarity import ivf_topk

    return ivf_topk(
        _read(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        _query_vec(spark, sf_dir), k=10, num_centroids=16, n_probe=4,
    )


@register("similarity_lsh_bucketed", ORACLES.lsh_bucketed_oracle_sql())
def q_similarity_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketed top-k. The planes are seeded-PRNG
    double literals shared verbatim with the oracle SQL, making the bucket
    assignment — and so the whole approximate query — oracle-checkable."""
    from tdei_extract_load_service_spark.operators.similarity import (
        lsh_bucket_topk,
        make_planes,
    )

    return lsh_bucket_topk(
        _read(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        _query_vec(spark, sf_dir), k=10, n_planes=4, planes=make_planes(4, 64),
    )


# ---------------------------------------------------------------------------
# Product quantization (round 7) — compressed ANN
# ---------------------------------------------------------------------------


def _pq_index(spark: SparkSession, sf_dir: str):
    """The materialized IVFPQ index for this corpus (codes + assignment,
    ``partitionBy(centroid_id)``), built once per corpus and served to
    every PQ entry — the production write-once/query-many architecture
    (VERDICT r7 #2: the per-query re-encode was a measured ~1.5-2.5s
    constant at sf0.1).  corpus_key folds in the parquet file's path,
    size and mtime so a regenerated fixture invalidates the index."""
    import os

    from tdei_extract_load_service_spark.operators.similarity import (
        build_pq_index,
        make_codebooks,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    corpus_key = f"{src}:{st.st_size}:{st.st_mtime_ns}"
    cbs = make_codebooks()
    path, model_rows = build_pq_index(
        spread(_read(spark, sf_dir, "embeddings")),
        "vec_id",
        "embedding",
        cbs,
        num_centroids=16,
        corpus_key=corpus_key,
    )
    return path, model_rows, cbs


@register("embedding_pq_code", ORACLES.pq_code_oracle_sql())
def q_embedding_pq_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the embedding corpus (m=8 subspaces, k=16 seeded
    codebook centroids): 256-byte float32 vectors become 8 small ints —
    the 32-64x footprint cut that makes a 100 TB embedding corpus
    memory-scannable (operators/similarity.py pq_encode; pure
    projection, no shuffle/join/UDF). Oracle: identical codebook
    literals + norm-expansion distances + first-index-of-min argmin.
    The codes array is serialized to a comma-joined string on BOTH
    engines — the driver's pandas canonicalization cannot hash raw
    array cells (unhashable list, CORRECTNESS_r08)."""
    from tdei_extract_load_service_spark.operators.similarity import (
        make_codebooks,
        pq_encode,
    )

    coded = pq_encode(
        spread(_read(spark, sf_dir, "embeddings")),
        "vec_id",
        "embedding",
        make_codebooks(),
    )
    return coded.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda x: x.cast("string")), ","
        ).alias("codes"),
    )


@register("similarity_pq", ORACLES.pq_topk_oracle_sql())
def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 nearest (squared L2) by PQ codes: the query's m*k
    lookup table is computed driver-side and scored as literal lookups —
    the scan reads codes only, ranking is TakeOrderedAndProject
    (operators/similarity.py pq_topk_stored, served from the
    materialized per-corpus index — codes are encoded ONCE per corpus,
    r8). The oracle computes the same LUT in-SQL from vec_id=0;
    float->double widening and left-fold dot products make both sides
    bit-identical."""
    from tdei_extract_load_service_spark.operators.similarity import (
        pq_topk_stored,
    )

    path, _, cbs = _pq_index(spark, sf_dir)
    return pq_topk_stored(spark, path, _query_vec(spark, sf_dir), cbs, k=10)


@register("similarity_pq_recall", ORACLES.pq_recall_oracle_sql())
def q_similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the PQ/ADC search vs exact squared-L2 — ANN
    evaluation as a first-class relational query (operators/similarity.py
    pq_recall_at_k_stored: the ADC arm reads the materialized codes
    index, the exact side scans vectors with the identical
    norm-expansion arithmetic, so both engines agree to the last ulp)."""
    from tdei_extract_load_service_spark.operators.similarity import (
        pq_recall_at_k_stored,
    )

    path, _, cbs = _pq_index(spark, sf_dir)
    return pq_recall_at_k_stored(
        spread(_read(spark, sf_dir, "embeddings")),
        "vec_id",
        "embedding",
        path,
        _query_vec(spark, sf_dir),
        cbs,
        k=10,
    )


@register("similarity_ivf_pq", ORACLES.ivf_pq_oracle_sql())
def q_similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ/ADC — the canonical production ANN composition (FAISS
    IVFPQ shape) on its PRODUCTION serving path (r8): the per-corpus
    index stores codes ``partitionBy(centroid_id)``, the driver-side
    probe turns into directory-level partition PRUNING, and the query
    reads ~n_probe/C of an 8-int-per-row index
    (operators/similarity.py ivf_pq_topk_stored; codes and probe reuse
    the machinery of similarity_ivf and similarity_pq, so the composed
    oracle agrees bit-identically)."""
    from tdei_extract_load_service_spark.operators.similarity import (
        ivf_pq_topk_stored,
    )

    path, model_rows, cbs = _pq_index(spark, sf_dir)
    return ivf_pq_topk_stored(
        spark, path, model_rows, _query_vec(spark, sf_dir), cbs, k=10, n_probe=4
    )


@register("similarity_rerank", ORACLES.ann_rerank_oracle_sql())
def q_similarity_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (VERDICT r11 #8): the stored-IVFPQ index
    RETRIEVES 50 candidates (partition-pruned 8-int scan), then ONLY
    those candidates' full vectors are fetched and RE-SCORED with exact
    cosine — the production RAG funnel (retrieve cheap, rerank exact),
    where the expensive scorer's cost is O(candidates), constant in
    corpus size. Exact-score order is final; the ANN distance rides
    along so the funnel disagreement is observable
    (operators/similarity.py ann_rerank_topk)."""
    from tdei_extract_load_service_spark.operators.similarity import (
        ann_rerank_topk,
    )

    path, model_rows, cbs = _pq_index(spark, sf_dir)
    return ann_rerank_topk(
        spark,
        path,
        model_rows,
        _query_vec(spark, sf_dir),
        cbs,
        spread(_read(spark, sf_dir, "embeddings")),
        "vec_id",
        "embedding",
        k=10,
        n_candidates=50,
        n_probe=4,
    )


@register("embedding_drift_report", ORACLES.embedding_drift_oracle_sql())
def q_embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between two corpus snapshots
    (operators/similarity.py embedding_drift_report) — the monitoring
    primitive that catches a silent embedding-model or preprocessing
    change before it poisons training. Snapshots simulated as the
    even/odd vec_id halves; cells seeded from snapshot A's lowest ids
    (the similarity_ivf recipe); per cell: populations, shares and the
    cosine between DECIMAL-exact mean vectors. One aggregation per
    side, model-sized join — no vector ever crosses a shuffle."""
    from tdei_extract_load_service_spark.operators.similarity import (
        embedding_drift_report,
    )

    emb = spread(_read(spark, sf_dir, "embeddings"))
    return embedding_drift_report(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        "vec_id",
        "embedding",
        num_centroids=16,
        dim=64,
    )


@register(
    "embedding_drift_alert",
    ORACLES.embedding_drift_alert_oracle_sql(min_mean_cosine_fp=300_000),
)
def q_embedding_drift_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run drift ALERTING (operators/similarity.py
    embedding_drift_alerts — VERDICT r12 #6a): the dq_expectations
    threshold-rule idiom applied over an embedding snapshot HISTORY.
    Four deterministic snapshots (vec_id % 4 — standing in for four
    ingestion days), one frozen cell model, ONE grouped pass for all
    snapshots, then per consecutive pair and cell the four alert rules
    (share_swing / mean_rotation / cell_vanished / sustained_swing),
    every metric an exact integer micro-unit so both the fired and the
    quiet arms hash-certify. sustained_swing is the genuinely cross-run
    rule a single A-vs-B drift report cannot express. The rotation
    threshold is 0.30 here (production default 0.95) because the
    fixture's random small-cell means make cosines noisy — 0.30 splits
    the verdicts at BOTH test SFs so each rule's true and false arms
    are certified."""
    from tdei_extract_load_service_spark.operators.similarity import (
        embedding_drift_alerts,
    )

    emb = spread(_read(spark, sf_dir, "embeddings"))
    return embedding_drift_alerts(
        emb,
        "vec_id",
        "embedding",
        snapshot_of=lambda c: c % 4,
        snapshots=[0, 1, 2, 3],
        num_centroids=16,
        dim=64,
        min_mean_cosine_fp=300_000,
    )


@register(
    "embedding_drift_alert_stored",
    ORACLES.embedding_drift_alert_oracle_sql(min_mean_cosine_fp=300_000),
)
def q_embedding_drift_alert_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift alerting served from the STORED history table
    (operators/similarity.py build_drift_history_index →
    drift_alerts_stored) — the production monitoring shape: the
    (snapshot, cell) stats materialize once per corpus (nightly append
    per snapshot in production; each row depends only on its own
    snapshot against the frozen model, so grown == rebuilt
    bit-identically, the dedup_incremental property), and every alert
    evaluation reads the model-sized stats partitions, never the
    corpus. Same oracle as embedding_drift_alert: stored == inline is
    value-certified every round (counts are longs; round-9 means
    round-trip parquet exactly)."""
    import os

    from tdei_extract_load_service_spark.operators.similarity import (
        build_drift_history_index,
        drift_alerts_stored,
    )

    emb = spread(_read(spark, sf_dir, "embeddings"))
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    path = build_drift_history_index(
        emb,
        "vec_id",
        "embedding",
        snapshot_of=lambda c: c % 4,
        num_centroids=16,
        dim=64,
        corpus_key=f"{src}:{st.st_size}:{st.st_mtime_ns}:drift4",
        snapshot_key="vec_id%4",
    )
    return drift_alerts_stored(
        spark, path, snapshots=[0, 1, 2, 3], min_mean_cosine_fp=300_000
    )


@register("similarity_pq_trained", None)
def q_similarity_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-PQ production path (VERDICT r7 #4): per-subspace Lloyd
    codebooks fit on a bounded content-addressed sample, measured
    against the seeded-random books in one query — returns
    ``(recall_trained, recall_seeded, uplift)``. Rows-only driver
    signal BY DESIGN (the trained model is data-dependent, so no static
    SQL twin exists); pytest pins the uplift bound and the x10 ladder
    records the trend (operators/similarity.py
    pq_trained_vs_seeded_recall; m=16 subspaces — the measured regime
    where training lifts recall 0.3 -> >=0.5 on the fixture corpus)."""
    from tdei_extract_load_service_spark.operators.similarity import (
        pq_trained_vs_seeded_recall,
    )

    return pq_trained_vs_seeded_recall(
        spread(_read(spark, sf_dir, "embeddings")),
        "vec_id",
        "embedding",
        _query_vec(spark, sf_dir),
        m=16,
        k_centroids=16,
        sample=1024,
        iters=5,
        k=10,
    )


@register("similarity_ivf_pq_incremental", ORACLES.ivf_pq_oracle_sql())
def q_similarity_ivf_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index FRESHNESS: the corpus is split into a base (all vec_ids
    below 100, plus 3 of every 4 above) and a delta (every 4th vec_id
    >= 100); the IVFPQ index is built on the BASE only, then the delta
    is appended with operators/similarity.py append_pq_index — assign +
    encode the new rows against the FROZEN model, append into the
    partitioned layout, never touching the base codes. Because the
    centroid model is the 16 lowest ids and those all live in the base,
    the frozen model equals the full-corpus model, so the incrementally
    grown index must serve results BIT-IDENTICAL to a full rebuild:
    the entry shares similarity_ivf_pq's oracle verbatim, which is the
    strongest possible equivalence check for the nightly-delta
    ingestion pattern. Index-level equality (grown == rebuilt code
    sets) is additionally pinned in pytest."""
    import os
    import shutil

    from tdei_extract_load_service_spark.operators.similarity import (
        append_pq_index,
        build_pq_index,
        make_codebooks,
    )

    emb = spread(_read(spark, sf_dir, "embeddings"))
    delta_cond = (F.col("vec_id") % 4 == 0) & (F.col("vec_id") >= 100)
    base, delta = emb.where(~delta_cond), emb.where(delta_cond)
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    cbs = make_codebooks()
    base_path, model_rows = build_pq_index(
        base,
        "vec_id",
        "embedding",
        cbs,
        corpus_key=f"{src}:{st.st_size}:{st.st_mtime_ns}:incr_base",
    )
    merged = f"{base_path}_incr_merged"
    if not os.path.exists(os.path.join(merged, "_DELTA_APPENDED")):
        with staged_build(merged, marker="_DELTA_APPENDED") as work:
            # copy-then-append keeps the content-addressed base cache
            # immutable; production appends in place
            shutil.copytree(base_path, work)
            append_pq_index(delta, work, model_rows, cbs)
            open(os.path.join(work, "_DELTA_APPENDED"), "w").close()
    from tdei_extract_load_service_spark.operators.similarity import (
        ivf_pq_topk_stored,
    )

    return ivf_pq_topk_stored(
        spark, merged, model_rows, _query_vec(spark, sf_dir), cbs, k=10, n_probe=4
    )


@register(
    "embedding_knn_batch",
    ORACLES.lsh_batch_topk_corpus_aware_oracle_sql(k=5, stride=100),
)
def q_embedding_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH bucketed ANN (operators/similarity.py lsh_bucket_topk_batch):
    top-5 per query for the sampled query batch ``vec_id % 100 = 0`` as
    ONE bucket-equi join + ONE ranking window — the production serving
    shape for "top-k for these 10M users" (single-query probes cost one
    scheduled job each; the batch form is a join).

    CORPUS-AWARE SIZING (r14, VERDICT r13 #6 — the hard_negatives
    precedent): the query batch grows WITH the corpus (every 100th
    row), so a fixed plane count was the quadratic trap — candidate
    volume |corpus|·|queries|/2^n. n_planes derives from the corpus
    count via ``planes_per_band_for`` (integer-exact smallest k in
    [4, 24] with 256·2^k >= n) and the oracle derives the same n from
    COUNT(*) over the same 24-plane literal batch (``make_planes``
    prefix property). At every fixture SF the derived count is 4, so
    the emitted rows are bit-identical to the former pinned-4 entry;
    only at corpus scale does the bucket width now track n."""
    from tdei_extract_load_service_spark.operators.dedup import planes_per_band_for
    from tdei_extract_load_service_spark.operators.similarity import (
        lsh_bucket_topk_batch,
        make_planes,
    )

    emb = _read(spark, sf_dir, "embeddings")
    n_planes = planes_per_band_for(emb.count())
    return lsh_bucket_topk_batch(
        emb,
        "vec_id",
        "embedding",
        emb.where(F.col("vec_id") % 100 == 0),
        "vec_id",
        "embedding",
        k=5,
        dim=64,
        n_planes=n_planes,
        planes=make_planes(n_planes, 64),
    ).transform(
        # sort_boundary: the bucket-join top-k window is the final
        # stage (r13)
        lambda d: sort_boundary(d, "query_id", "rnk")
    ).orderBy(F.col("query_id").asc(), F.col("rnk").asc())


@register(
    "embedding_hard_negatives",
    ORACLES.lsh_batch_topk_corpus_aware_oracle_sql(
        k=5, stride=100, exclude_self=True
    ),
)
def q_embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR/SimCSE
    data-prep step): every anchor's top-k nearest corpus rows EXCLUDING
    the anchor itself — high-similarity non-matches are the negatives
    that make a retriever learn. Exactly ``embedding_knn_batch``'s
    one-join batch shape with the r12 ``exclude_self`` flag: the
    self-pair is dropped BEFORE the ranking window, so ranks stay dense
    1..k and the k-th real negative is kept (a post-hoc filter would
    lose it).

    CORPUS-AWARE SIZING (r13, VERDICT r12 #1): the anchor batch grows
    WITH the corpus (every 100th row), so a fixed plane count is the
    quadratic trap — candidate volume |corpus|·|queries|/2^n. n_planes
    is derived from the corpus count via ``planes_per_band_for`` (one
    bounded COUNT, integer-exact smallest k in [4,24] with
    256·2^k ≥ n), so per-bucket population — and therefore candidates
    PER ANCHOR — stays ~constant as the corpus grows. The oracle
    derives the same n from COUNT(*) in SQL over the same 24-plane
    literal batch (``make_planes`` prefix property), so the entry stays
    value-checked at every SF without a pinned literal."""
    from tdei_extract_load_service_spark.operators.dedup import planes_per_band_for
    from tdei_extract_load_service_spark.operators.similarity import (
        lsh_bucket_topk_batch,
        make_planes,
    )

    emb = _read(spark, sf_dir, "embeddings")
    n_planes = planes_per_band_for(emb.count())
    return lsh_bucket_topk_batch(
        emb,
        "vec_id",
        "embedding",
        emb.where(F.col("vec_id") % 100 == 0),
        "vec_id",
        "embedding",
        k=5,
        dim=64,
        n_planes=n_planes,
        planes=make_planes(n_planes, 64),
        exclude_self=True,
    ).transform(
        # sort_boundary: the bucket-join top-k window is the final
        # stage (r13)
        lambda d: sort_boundary(d, "query_id", "rnk")
    ).orderBy(F.col("query_id").asc(), F.col("rnk").asc())


@register("similarity_mmr", ORACLES.mmr_oracle_sql(n_candidates=24, k=8))
def q_similarity_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (operators/similarity.py mmr_topk):
    retrieve the exact cosine top-24, then greedily keep 8 results that
    trade relevance against redundancy (lam = 1/2) — the coverage dual
    of similarity_rerank's precision re-scoring; retrieval feeding a
    dedup'd context window wants exactly this selection rule. The
    ORACLE unrolls the greedy loop into 8 one-row CTEs, restating every
    candidate, every pairwise rounded cosine, every marginal score and
    every tiebreak. Scale shape: stage 1 is topk_cosine's
    TakeOrderedAndProject (corpus never shuffles); everything after is
    bounded at 24 rows / 576 cached sims, so the 8 greedy rounds are
    tiny jobs with one-row collects — the bounded-model-collect
    discipline, never a corpus collect."""
    from tdei_extract_load_service_spark.operators.similarity import mmr_topk

    emb = _read(spark, sf_dir, "embeddings")
    # vec_id 0 IS the query vector: left in, it wins pick 1 at rel=1.0
    # and every later marginal collapses to 0.5*(rel - max(rel, ...)) —
    # the exclude_self rule from embedding_hard_negatives
    return mmr_topk(
        emb.where(F.col("vec_id") != 0), "vec_id", "embedding",
        _query_vec(spark, sf_dir), n_candidates=24, k=8, lam=0.5,
    )


@register(
    "stream_drift_history_shadow",
    ORACLES.embedding_drift_alert_oracle_sql(min_mean_cosine_fp=300_000),
)
def q_stream_drift_history_shadow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming certification of drift-history
    maintenance (streaming/shadow.py drift_history_shadow →
    streaming/sink.drift_history_sink → operators/similarity.
    drift_history_stats). Four snapshot-ALIGNED embedding micro-batches
    append their model-sized (snapshot, cell) stats to an initially
    empty history table — one exactly-once manifest transaction per
    batch, the sink REFUSING misaligned batches (rounded per-snapshot
    means cannot merge across partial batches; the nightly-append
    contract is enforced, not assumed) — then the four alert rules
    evaluate over the streamed table. Bit-identical to the inline
    embedding_drift_alert because each history row depends only on its
    own snapshot and the FROZEN cell model (the grown == rebuilt
    property); the oracle is the same full-corpus alert SQL, so
    streamed == recomputed is value-certified every round."""
    from tdei_extract_load_service_spark.streaming.shadow import (
        drift_history_shadow,
    )

    return drift_history_shadow(spark, sf_dir, n_snapshots=4)


@register(
    "embedding_outliers",
    ORACLES.embedding_outliers_oracle_sql(dim=64, k_semantic=20, k_norm=10),
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality filtering (operators/similarity.py
    embedding_outliers): the rows a curation pipeline drops before
    training — the 20 vectors least aligned with the corpus centroid
    (off-manifold) plus the 10 largest / 10 smallest squared norms
    (un-normalized or collapsed rows). The centroid direction comes
    from exact DECIMAL(25,12) per-dimension sums (cosine is
    scale-invariant, so the SUM vector replaces the mean and no
    decimal division can diverge); metrics round to 6 before rank-based
    cuts with id tiebreaks. Scale: one aggregation pass to a 1-row
    model, one scoring pass feeding three bounded TakeOrdered heaps —
    output is k-bounded at any corpus size."""
    from tdei_extract_load_service_spark.operators.similarity import (
        embedding_outliers,
    )

    return embedding_outliers(
        _read(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        dim=64,
        k_semantic=20,
        k_norm=10,
    )


@register(
    "embedding_pca_power",
    ORACLES.embedding_pca_power_oracle_sql(dim=64, iters=3),
)
def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding second-moment
    matrix (operators/similarity.py embedding_pca_power) — the
    all-but-the-top / dominant-direction-removal primitive an embedding
    post-processing pipeline runs before similarity search. One
    map-side-combined DECIMAL pass builds the 64x64 moment matrix (2080
    upper-triangle partials, mirrored in-engine); three power-iteration
    rounds run as joins over the 4096-row matrix with DECIMAL-summed
    matvecs and ROUND-9 renormalization, so the whole trajectory — not
    just the fixed point — is value-certified against the oracle's
    unrolled CTE rounds. Corpus-sized work: exactly one pass, at any
    scale."""
    from tdei_extract_load_service_spark.operators.similarity import (
        embedding_pca_power,
    )

    return embedding_pca_power(
        _read(spark, sf_dir, "embeddings"), "embedding", dim=64, iters=3
    )


@register(
    "embedding_abtt_topk",
    ORACLES.abtt_topk_oracle_sql(dim=64, iters=3, k=10),
)
def q_embedding_abtt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top corrected retrieval (operators/similarity.py
    abtt_topk) — the serving half of embedding_pca_power: the dominant
    direction is removed from corpus and query, and the top-10 ranks by
    corrected cosine (raw cosine returned alongside, so the entry
    certifies the correction's effect on the ranking, not just the
    direction). The direction re-enters as a 1-row ordered
    collect_list array via the scalar crossJoin; correction and both
    cosines are the oracle's identical IEEE trees with ROUND-6 + id
    tiebreaks. Corpus work: the PCA moment pass + one scoring pass into
    a single top-k heap."""
    from tdei_extract_load_service_spark.operators.similarity import (
        abtt_topk,
    )

    return abtt_topk(
        _read(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        _query_vec(spark, sf_dir),
        dim=64,
        iters=3,
        k=10,
    )
