"""Column-profiling primitives (VERDICT r4 cleanup: query bodies that
stabilized in the catalog move here as reusable operators).

``fixed_width_histogram`` is the one-pass profiling aggregation behind
every column-stats pass: bin assignment is pure arithmetic (floor +
least), so there is no two-pass min/max scan and no driver-side model —
one map-side-combined aggregation, |bins| result rows. Data-dependent
ranges compose by bolting collected bounds (e.g. from the quantiles
operator) onto the same shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _dec(c: str) -> Column:
    """Operand type for exact moment aggregates: DECIMAL(18,6) gives a
    product type of DECIMAL(37,12) — EXACT in Spark. Squaring
    decimal(38,6) operands instead resolves (under Spark's
    allowPrecisionLoss) to decimal(38,6), silently ROUNDING every
    square/cross-product to 6 decimals per row before any outer cast —
    stddev of small-magnitude data came back 0.0 (caught by the r5
    review, reproduced by execution). Bounds the profiled values to
    |v| < 1e12, which profiling inputs meet. The DuckDB oracle twins use
    DECIMAL(30,6) operands for the same exactness (DuckDB's DECIMAL(18)
    product does not widen and overflows instead); the engines agree
    because both products are EXACT, not because the types match."""
    return F.col(c).cast("decimal(18,6)")


def _moment_aggs(cols: tuple[str, ...]) -> list[Column]:
    """Shared sum / sum-of-squares aggregates (exact DECIMAL moments) —
    one definition so column_profile and column_correlations cannot
    drift (their degenerate-count guards already did once).

    ``__nd_<c>`` counts the DECIMAL-cast values: under non-ANSI Spark a
    value outside the DECIMAL(18,6) bound casts to NULL, silently
    dropping the row from the sums while plain count() still counts it —
    the guard aggregate lets callers FAIL on that instead of returning a
    silently wrong mean/stddev/corr (ADVICE r5 #2)."""
    aggs: list[Column] = []
    for c in cols:
        aggs.append(F.sum(_dec(c)).alias(f"__s_{c}"))
        aggs.append(
            F.sum((_dec(c) * _dec(c)).cast("decimal(38,12)")).alias(f"__ss_{c}")
        )
        aggs.append(F.count(_dec(c)).alias(f"__nd_{c}"))
    return aggs


def _bound_guard(c: str, n_raw: Column, op: str) -> Column:
    """Evaluates to ``n_raw`` normally; RAISES at execution when the
    DECIMAL cast dropped rows (|v| >= 1e12) — loud failure instead of a
    silently shifted statistic. Stays a pure column expression, so the
    operators remain lazy single-aggregation plans."""
    return F.when(
        F.col(f"__nd_{c}") < n_raw,
        F.raise_error(
            F.lit(
                f"{op}: column {c!r} has values outside the DECIMAL(18,6) "
                "exact-moment bound (|v| < 1e12); its mean/stddev would be "
                "silently wrong. Rescale the column or profile it as a "
                "pre-scaled expression."
            )
        ).cast("bigint"),
    ).otherwise(n_raw)


def column_profile(
    df: DataFrame, cols: tuple[str, ...], spread_key: str | None = None
) -> DataFrame:
    """``df.summary()``-shape column statistics — (column, n, n_null,
    mean, stddev, min, max) per requested numeric column — as ONE
    map-side-combined aggregation over a single scan, unpivoted to long
    form. The dataset-profiling pass every ingest runs before schema
    decisions.

    Cross-engine exactness: the shuffled aggregates are COUNTs, MIN/MAX
    and DECIMAL(38,6)/(38,12) sums (order-independent, exact), and
    mean/stddev derive from them in ONE explicit double formula evaluated
    identically by any IEEE engine — never the engine's own avg()/
    stddev(), whose internal summation order differs per engine and
    diverges at the last ulp. Same trick as the k-means entry's
    DECIMAL-exact centroid update.

    Scale shape: one aggregation row (6 x |cols| cells) regardless of
    input size; the unpivot is a driver-free projection of that row.
    """
    from tdei_extract_load_service_spark.session import spread

    # DECIMAL partial aggregation is real per-row compute — spread a
    # single-row-group scan so the partial phase uses every core; project
    # FIRST so the exchange carries only the profiled columns (+ the
    # optional spread key, which skips the round-robin local sort —
    # session.spread)
    if not cols:
        raise ValueError("column_profile needs at least one column")
    if spread_key is not None and spread_key not in cols:
        df = spread(df.select(*cols, spread_key), key=spread_key).select(*cols)
    else:
        df = spread(df.select(*cols), key=spread_key)
    aggs = _moment_aggs(cols)
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__n_{c}"),
            # count(1) - count(col): never NULL on zero rows, one fewer
            # aggregate buffer than a sum-of-when
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"__nn_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    structs = []
    for c in cols:
        n = F.col(f"__n_{c}").cast("double")
        s = F.col(f"__s_{c}").cast("double")
        ss = F.col(f"__ss_{c}").cast("double")
        # NULL (not 0/0 = NaN) for degenerate counts: mean needs n>=1,
        # sample stddev needs n>=2
        mean = F.when(n >= 1, s / n)
        var = F.greatest((ss - s * s / n) / (n - F.lit(1.0)), F.lit(0.0))
        stddev = F.when(n >= 2, F.sqrt(var))
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                _bound_guard(c, F.col(f"__n_{c}"), "column_profile").alias("n"),
                F.col(f"__nn_{c}").cast("bigint").alias("n_null"),
                F.round(mean, 6).alias("mean"),
                F.round(stddev, 6).alias("stddev"),
                F.round(F.col(f"__mn_{c}"), 6).alias("min"),
                F.round(F.col(f"__mx_{c}"), 6).alias("max"),
            )
        )
    # inline() fans the one agg row out to |cols| rows in the SAME pass —
    # a union of per-column selects would re-reference (and potentially
    # re-execute) the aggregation once per column
    return one.select(F.inline(F.array(*structs)))


def column_correlations(
    df: DataFrame, cols: tuple[str, ...], spread_key: str | None = None
) -> DataFrame:
    """Pairwise Pearson correlation matrix over ``cols`` — the
    feature-selection/profiling pass — as ONE aggregation: for k columns
    the shuffle carries k sums + k sum-of-squares + k*(k-1)/2
    cross-product sums, all DECIMAL-exact (order-independent), and each
    correlation derives from them in one explicit IEEE-double formula —
    the same cross-engine-exactness discipline as ``column_profile``
    (built-in corr() diverges at the last ulp between engines).

    Returns (col_a, col_b, corr) for a < b in the given order. Rows where
    ANY requested column is null are excluded (complete-case, the
    convention that keeps every pair on the same n).
    """
    if len(cols) < 2:
        raise ValueError("column_correlations needs at least two columns")
    cond = None
    for c in cols:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    from tdei_extract_load_service_spark.session import spread

    # project before spreading: the exchange carries only `cols` (+ the
    # optional spread key — see column_profile)
    filtered = df.where(cond)
    if spread_key is not None and spread_key not in cols:
        base = spread(
            filtered.select(*cols, spread_key), key=spread_key
        ).select(*cols)
    else:
        base = spread(filtered.select(*cols), key=spread_key)
    aggs = [F.count(F.lit(1)).alias("__n")] + _moment_aggs(cols)
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum((_dec(a) * _dec(b)).cast("decimal(38,12)")).alias(f"__sp_{a}_{b}")
            )
    one = base.agg(*aggs)
    # complete-case filter means every column's raw count is __n: guard
    # each column's decimal count against it (overflow -> loud failure)
    guarded_n = F.col("__n")
    for c in cols:
        guarded_n = _bound_guard(c, guarded_n, "column_correlations")
    n = guarded_n.cast("double")
    structs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sa = F.col(f"__s_{a}").cast("double")
            sb = F.col(f"__s_{b}").cast("double")
            ssa = F.col(f"__ss_{a}").cast("double")
            ssb = F.col(f"__ss_{b}").cast("double")
            sp = F.col(f"__sp_{a}_{b}").cast("double")
            cov = sp - sa * sb / n
            var_a = ssa - sa * sa / n
            var_b = ssb - sb * sb / n
            corr = F.when(
                (var_a > 0) & (var_b > 0), cov / F.sqrt(var_a * var_b)
            ).otherwise(F.lit(None).cast("double"))
            structs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(corr, 6).alias("corr"),
                )
            )
    return one.select(F.inline(F.array(*structs)))


def fixed_width_histogram(
    df: DataFrame,
    value_col: str | Column,
    bin_width: float,
    n_bins: int,
    lo: float = 0.0,
) -> DataFrame:
    """Fixed-width histogram of ``value_col``: ``n_bins`` bins of
    ``bin_width`` starting at ``lo``, the last bin open-ended (values
    past the top clamp into it, values below ``lo`` clamp into bin 0).

    Returns ``(bin, bin_lo, n, total)`` with ``total`` the per-bin sum of
    the raw value (rounded to 2 for cross-engine display stability).

    Scale shape: single hash aggregation with map-side partial combine —
    the shuffle carries at most ``n_bins`` rows per map task regardless of
    input size. No collect, no second pass.
    """
    v = _col(value_col)
    bin_col = (
        F.greatest(
            F.least(F.floor((v - F.lit(lo)) / bin_width), F.lit(n_bins - 1)),
            F.lit(0),
        ).cast("bigint")
    )
    return (
        df.select(bin_col.alias("bin"), v.alias("_v"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.round(F.sum("_v"), 2).alias("total"))
        .select(
            "bin",
            (F.col("bin") * bin_width + lo).cast("double").alias("bin_lo"),
            "n",
            "total",
        )
    )


def column_profile_categorical(
    df: DataFrame, cols: tuple[str, ...], top_k: int = 3
) -> DataFrame:
    """String/categorical column profile — the other half of an ingest
    profile (``column_profile`` covers numerics): per column, row count,
    null count, exact distinct count, and the ``top_k`` most frequent
    values with their counts (ties broken by value ascending, so the
    result is deterministic).

    Returns one row per (column, top value): ``(col_name, n, n_null,
    n_distinct, rank, value, value_n)`` — the per-column stats repeat on
    each of its top-k rows, which keeps the output flat (oracle-friendly)
    without an array column.

    Scale shape: ONE data pass, ONE scan in the physical plan. The wide
    frame melts to (col_name, value) — Spark's ``unpivot`` lowers to an
    ``Expand``, a narrow projection with no shuffle — then a single
    map-side-combined groupBy(col_name, value) count. Everything
    downstream operates on THOSE group rows (cardinality = total
    distinct values across columns, bounded for categorical columns by
    definition): per-column n/n_null/n_distinct come from WINDOW
    aggregates partitioned by col_name rather than a second aggregation
    branch, because a second branch re-executes the melt+count — the
    naive stats-join version scanned the table twice (caught by its own
    plan audit). One Exchange on col_name feeds both window specs and
    the ranking. For high-cardinality columns (ids, free text) use
    ``column_distinct_counts`` — a sketch — instead; top-k values on
    such columns are meaningless anyway."""
    from pyspark.sql import Window as W

    if not cols:
        raise ValueError("column_profile_categorical needs at least one column")
    melted = df.select(
        *[F.col(c).cast("string").alias(c) for c in cols]
    ).unpivot([], list(cols), "col_name", "value")
    grouped = melted.groupBy("col_name", "value").agg(F.count("*").alias("value_n"))
    per_col = W.partitionBy("col_name")  # unordered: whole-partition frame
    ranked = (
        grouped.select(
            "col_name",
            "value",
            "value_n",
            F.sum(F.when(F.col("value").isNotNull(), F.col("value_n")).otherwise(0))
            .over(per_col).cast("bigint").alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("value").isNull(), F.col("value_n"))).over(per_col),
                F.lit(0),
            ).cast("bigint").alias("n_null"),
            F.count(F.col("value")).over(per_col).alias("n_distinct"),
            # bigint: the type every SQL engine's row_number() carries,
            # so oracle twins compare without per-entry casts
            F.when(
                F.col("value").isNotNull(),
                F.row_number().over(
                    per_col.orderBy(
                        # nulls sort LAST so they never consume a top-k rank
                        F.col("value").isNull().asc(),
                        F.col("value_n").desc(),
                        F.col("value").asc(),
                    )
                ),
            ).cast("bigint").alias("rank"),
        )
        .where(F.col("rank") <= top_k)
    )
    return ranked.select(
        "col_name", "n", "n_null", "n_distinct", "rank", "value", "value_n"
    )


def column_distinct_counts(
    df: DataFrame, cols: tuple[str, ...], rsd: float = 0.05
) -> DataFrame:
    """Sketch-sized distinct counts for arbitrary-cardinality columns —
    ``approx_count_distinct`` (HyperLogLog++, relative error ``rsd``) per
    column in ONE aggregation whose state is |cols| fixed-size sketches,
    never per-value groups. The scale path when a column might hold ids
    or free text; pytest bounds it against exact counts."""
    if not cols:
        raise ValueError("column_distinct_counts needs at least one column")
    one = df.agg(
        *[F.approx_count_distinct(c, rsd).alias(f"__d_{c}") for c in cols]
    )
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"__d_{c}").alias("n_distinct_approx"),
        )
        for c in cols
    ]
    return one.select(F.inline(F.array(*structs)))


def exact_percentiles_distributed(
    df: DataFrame, value_col: str, ps: list[float]
) -> list[float | None]:
    """Exact interpolated percentiles, bit-identical to Spark's
    ``percentile`` (and therefore to DuckDB ``quantile_cont``), computed
    WITHOUT the built-in's single-threaded value-buffer merge.

    ``percentile`` accumulates every distinct value into one
    per-partition OpenHashMap and merges + sorts the maps on a single
    thread — measured ~2s of the histogram_auto build at sf0.1 while the
    matching histogram aggregation over the same rows takes 0.1s
    (optimization r13, guide §1.2: fix the distributed algorithm first).
    This form distributes the combine as a (value, count) hash
    aggregation — map-side partials absorb duplicates — and reads back
    only the <= 2·len(ps) boundary rows whose cumulative-count range
    covers an interpolation rank; the final cumulative pass is one
    sorted single-partition window over the |distinct| frame, exactly
    the state the built-in's merge thread held anyway.

    Value identity: Spark's ``Percentile.getPercentile`` computes
    ``position = p * (n - 1)`` and returns
    ``(higher - position) * valueAt(floor) + (position - lower) *
    valueAt(ceil)`` — replayed here over the same doubles in the same
    order, so the result is bit-identical (pinned against the built-in
    by tests at all fixture SFs). NULLs are ignored like the built-in;
    an all-NULL column returns Nones."""
    import math

    from pyspark.sql import Window

    w = Window.orderBy(F.col("_v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_v",
            "_c",
            F.sum("_c").over(w).alias("_cum"),
            F.sum("_c").over(w_all).alias("_tot"),
        )
    )
    # a 0-based rank r belongs to the value whose cumulative range
    # (cum - c, cum] contains r + 1. The interpolation ranks are stated
    # IN SQL from the windowed total (double multiply of p * (n-1),
    # identical to the Python replay below), so the total and the
    # boundary rows come back from ONE job — no separate count pass.
    hits = []
    for p in ps:
        x = f"(CAST({float(p)!r} AS DOUBLE) * (_tot - 1))"
        for r in (f"FLOOR({x})", f"CEIL({x})"):
            hits.append(f"((_cum - _c <= {r}) AND ({r} < _cum))")
    rows = cum.where(F.expr(" OR ".join(hits))).collect()
    if not rows:
        return [None] * len(ps)
    n = rows[0]["_tot"]

    def value_at(r: int) -> float:
        for row in rows:
            if row["_cum"] - row["_c"] <= r < row["_cum"]:
                return row["_v"]
        raise AssertionError(f"rank {r} not covered by boundary rows")

    out: list[float | None] = []
    for p in ps:
        x = float(p) * (n - 1)
        lower, higher = math.floor(x), math.ceil(x)
        lo_v = value_at(lower)
        if higher == lower:
            out.append(lo_v)
            continue
        hi_v = value_at(higher)
        if hi_v == lo_v:
            out.append(lo_v)
            continue
        out.append((higher - x) * lo_v + (x - lower) * hi_v)
    return out


def quantile_bounds_histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    exact: bool = False,
    accuracy: int = 10_000,
    spread_key: str | None = None,
) -> DataFrame:
    """Histogram with DATA-DEPENDENT bounds — the real-world profiling
    shape where the range is not known a priori: one quantile pass finds
    [p_lo, p_hi], then ``fixed_width_histogram`` bins the data over that
    range (outliers clamp into the edge bins, so every row is counted).

    The collected bounds are a TWO-VALUE model, not data — the same
    driver-side contract as the k-means centroids. Default bounds come
    from the Greenwald-Khanna sketch (``approx_percentile``, O(accuracy *
    log n) state — the 100 TB path); ``exact=True`` switches to
    ``exact_percentiles_distributed`` (a distributed (value, count)
    aggregation + boundary-rank lookup, bit-identical to the built-in
    ``percentile`` and therefore to DuckDB's ``quantile_cont``, without
    the built-in's single-threaded value-buffer merge — measured 2.2s ->
    0.9s for histogram_auto at sf0.1, optimization r13).

    Plan: one quantile pass + one histogram aggregation, both map-side
    combined, no join; the bounds scan is ``spread`` so a single-row-group
    fixture still computes partials on every core. Both bounds come from
    ONE pass (two separate passes each re-aggregate the column — measured
    2x the shared form at sf0.1)."""
    from tdei_extract_load_service_spark.session import spread

    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    # pre-alias to a fixed safe identifier so arbitrary column names
    # (spaces, hyphens, dots) survive the expr interpolation (ADVICE r6)
    if spread_key is not None:
        vals = spread(
            df.select(F.col(value_col).alias("__qbh_v"), F.col(spread_key)),
            key=spread_key,
        ).select("__qbh_v")
    else:
        vals = spread(df.select(F.col(value_col).alias("__qbh_v")))
    if exact:
        lo, hi = exact_percentiles_distributed(
            vals, "__qbh_v", [p_lo, p_hi]
        )
    else:
        row = vals.agg(
            F.expr(
                f"approx_percentile(__qbh_v, array({p_lo}D, {p_hi}D),"
                f" {accuracy})"
            ).alias("b")
        ).first()
        lo, hi = (row["b"] or (None, None))[0], (row["b"] or (None, None))[1]
    if lo is None or hi is None:
        raise ValueError(f"no non-null values in {value_col!r} to bound a histogram")
    if not hi > lo:
        raise ValueError(
            f"degenerate range [{lo}, {hi}] for {value_col!r}: constant column — "
            "a histogram needs spread; use column_profile for constant detection"
        )
    return fixed_width_histogram(
        df, value_col, bin_width=(hi - lo) / n_bins, n_bins=n_bins, lo=lo
    )


def zscore_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 2.5,
) -> DataFrame:
    """Per-group z-score outlier flagging — the monitoring/data-quality
    primitive (alert on events whose value is anomalous FOR ITS TYPE,
    not globally): two passes, (1) per-group moments, (2) join back and
    flag |z| > threshold.

    Cross-engine exactness: moments use the DECIMAL-sum recipe (s1 =
    SUM(DECIMAL(value)), s2 = SUM(DECIMAL(value*value)) — the square is
    one double multiply, identical both engines, and the sums are
    order-independent); the sample variance ((s2 - s1*s1/n)/(n-1)),
    mean and z are then identical double trees. Returns
    ``(id-cols..., group, value, z)`` for flagged rows, z ROUND 4.

    Scale shape: pass 1 is a map-side-combined aggregation to
    |groups| rows; pass 2 broadcasts that tiny frame back onto the
    scan — the fact table shuffles ZERO times (both passes are scans +
    a broadcast join). Degenerate groups (n < 2 or zero variance) emit
    nothing rather than NaN/div-by-zero z-scores.
    """
    g = _col(group_col)
    v = _col(value_col)
    stats = df.groupBy(g.alias("_g")).agg(
        F.count("*").alias("_n"),
        F.sum(v.cast("decimal(18,6)")).cast("double").alias("_s1"),
        F.sum((v * v).cast("decimal(28,12)")).cast("double").alias("_s2"),
    )
    joined = df.join(
        F.broadcast(stats), on=g == F.col("_g"), how="inner"
    ).where(F.col("_n") >= 2)
    mean = F.col("_s1") / F.col("_n")
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n")) / (
        F.col("_n") - 1
    )
    z = (v - mean) / F.sqrt(var)
    return (
        joined.where(F.col("_s2") - F.col("_s1") * F.col("_s1") / F.col("_n") > 0)
        .withColumn("z", F.round(z, 4))
        .where(F.abs(F.col("z")) > threshold)
        .drop("_g", "_n", "_s1", "_s2")
    )


def heavy_hitters(
    df: DataFrame, key_col: str | Column, k: int = 20
) -> DataFrame:
    """Exact phi-frequent elements (phi = 1/k): every key whose count
    strictly exceeds N/k — the exact answer the one-pass SpaceSaving /
    Misra-Gries sketches approximate with k counters, and the guarantee
    (at most k-1 keys can each exceed N/k) that bounds the output.
    Returns ``(key, cnt, support)`` — support the exact double cnt/N
    ROUND 6 — ordered by cnt desc, key asc.

    Cross-engine exactness: the threshold is cross-multiplied
    (``cnt * k > n_rows`` — pure BIGINT, no division in the filter);
    support is ONE double division of two exact integers, identical on
    both engines.

    Scale shape: ONE map-side-combined count aggregation to |keys| rows
    (the only fact shuffle), persisted because the total-row scalar and
    the threshold filter both read it; the one-row total is broadcast
    back. Output is bounded by k-1 rows by the pigeonhole argument, so
    the final sort is trivially cheap at any corpus size."""
    if k < 2:
        raise ValueError("k must be >= 2 (phi = 1/k must be < 1)")
    from tdei_extract_load_service_spark.session import persist_scoped

    counts = persist_scoped(
        df.groupBy(_col(key_col).alias("key")).agg(F.count("*").alias("cnt")),
        "profiling.heavy_hitters.counts",
    )
    total = counts.agg(F.sum("cnt").cast("bigint").alias("_n_rows"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * k > F.col("_n_rows"))
        .select(
            "key",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("_n_rows"), 6
            ).alias("support"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
    )


_HLL_ROLLUP_ROOT = "/tmp/spark_graft_hll_rollup"


def build_distinct_sketch_partials(
    df: DataFrame,
    bucket: Column,
    key_col: str,
    corpus_key: str | None = None,
    lg_k: int = 12,
) -> str:
    """Write-once per-bucket HyperLogLog sketch partials — the warehouse
    pattern behind every "distinct users over an arbitrary window"
    dashboard at 100 TB: ONE pass over the facts aggregates a fixed-size
    Datasketches HLL per bucket (``hll_sketch_agg`` — register-max
    merge, associative/commutative, so executor order cannot change a
    register), and the (bucket, sketch) frame — KBs per bucket — is
    published through ``staging.stored_index`` (``corpus_key`` is
    required). Every later window query merges the
    stored partials instead of re-scanning the facts; HLL union is
    LOSSLESS w.r.t. the sketch (union of sketches == sketch of the
    union, register-for-register), so a rollup answer is bit-identical
    to sketching the raw window — pinned in pytest, alongside the
    error bound against exact distinct counts."""
    from tdei_extract_load_service_spark.operators.staging import stored_index

    def build(tmp: str) -> None:
        (
            df.select(bucket.alias("bucket"), F.col(key_col).alias("_k"))
            .groupBy("bucket")
            .agg(F.hll_sketch_agg("_k", F.lit(lg_k)).alias("sketch"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return stored_index(_HLL_ROLLUP_ROOT, (corpus_key, key_col, lg_k), build)


def distinct_rollup(
    spark,
    partials_path: str,
    lo: int | None = None,
    hi: int | None = None,
    label: str | None = None,
) -> DataFrame:
    """Approximate distinct count over a bucket window, answered from
    STORED sketch partials only — no fact scan: filter the (bucket,
    sketch) frame to [lo, hi], ``hll_union_agg`` the sketches (register
    max — the same registers a direct sketch of the window's raw rows
    would hold), estimate. Returns one row
    ``(window, n_buckets, distinct_estimate)``."""
    parts = spark.read.parquet(partials_path)
    if lo is not None:
        parts = parts.where(F.col("bucket") >= F.lit(lo))
    if hi is not None:
        parts = parts.where(F.col("bucket") <= F.lit(hi))
    return parts.agg(
        F.lit(label or f"{lo}..{hi}").alias("window"),
        F.count("*").cast("long").alias("n_buckets"),
        F.hll_sketch_estimate(
            F.hll_union_agg("sketch", F.lit(True))
        ).cast("long").alias("distinct_estimate"),
    ).select("window", "n_buckets", "distinct_estimate")


def dq_check(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Declarative data-quality expectation suite (the Deequ/
    Great-Expectations idiom, re-expressed as ONE Spark aggregation):
    given a rule list, return one row per rule —
    ``(rule, kind, metric_fp, threshold_fp, passed)`` — where
    ``metric_fp`` is the satisfaction metric in exact integer
    MICRO-UNITS (ratio rules: ``1e6 * satisfying // total``; row-count
    rules: the raw count), ``threshold_fp`` the rule's minimum in the
    same units, and ``passed`` the boolean verdict.

    Rule kinds:

    - ``not_null``: ``col``, optional ``min_ratio`` (default 1.0) —
      ratio of non-null rows.
    - ``unique``: ``col`` — distinct-to-total ratio (1.0 == no
      duplicate values; rows with a NULL key are excluded from the
      distinct count, pair a ``not_null`` rule on the same column).
    - ``accepted_values``: ``col``, ``values``, optional ``min_ratio``
      — ratio of rows whose value is in the accepted set.
    - ``between``: ``col``, ``lo``, ``hi``, optional ``min_ratio`` —
      ratio of rows inside the closed range.
    - ``row_count_between``: ``lo``, ``hi`` — total row count, passed
      iff within bounds (``threshold_fp`` reports ``lo``).

    Scale shape — the reason this is an operator and not a loop of
    queries: EVERY rule's metric is a conditional aggregate, so the
    whole suite folds into ONE aggregation pass over the table (Spark
    plans the ``count_distinct`` alongside the plain conditional counts
    via an Expand; still a single scan). T rules over 100 TB cost one
    scan, not T scans — the difference between a nightly contract check
    that runs and one that doesn't. Integer micro-units keep every
    metric exact and cross-engine hashable (no float ratio ever
    materializes).

    The reference enforces its contracts transactionally per load
    (O16/O21 FK + 23505 errors, extract-load-service.ts); a lake has no
    enforcing database, so — like ``referential_audit`` — the audit IS
    the enforcement mechanism, generalized here from FKs to arbitrary
    column contracts.
    """
    metric_exprs: list[Column] = []
    n = F.count(F.lit(1))
    for i, r in enumerate(rules):
        kind = r["kind"]
        if kind == "not_null":
            sat = F.count(_col(r["col"]))
        elif kind == "unique":
            sat = F.count_distinct(_col(r["col"]))
        elif kind == "accepted_values":
            sat = F.count_if(_col(r["col"]).isin(list(r["values"])))
        elif kind == "between":
            sat = F.count_if(
                _col(r["col"]).between(F.lit(r["lo"]), F.lit(r["hi"]))
            )
        elif kind == "row_count_between":
            sat = None
        else:
            raise ValueError(f"unknown dq rule kind: {kind}")
        if sat is None:
            raw = n.cast("long")
        else:
            # integer micro-numerator: exact, hash-stable, no doubles —
            # the DIV by total happens after the aggregate, over longs
            raw = F.lit(1_000_000).cast("long") * sat.cast("long")
        metric_exprs.append(raw.alias(f"_raw{i}"))
    agg = df.agg(n.cast("long").alias("_n"), *metric_exprs)
    # ONE row -> one struct per rule -> explode: the whole report is a
    # projection over the single aggregate row, so the table is scanned
    # exactly once (a union of per-rule selects re-plans — and re-SCANS —
    # the aggregate subtree per branch: measured 12 scans for 6 rules)
    structs = []
    for i, r in enumerate(rules):
        kind = r["kind"]
        if kind == "row_count_between":
            metric = F.col(f"_raw{i}")
            threshold = F.lit(int(r["lo"])).cast("long")
            passed = (F.col(f"_raw{i}") >= F.lit(int(r["lo"]))) & (
                F.col(f"_raw{i}") <= F.lit(int(r["hi"]))
            )
        else:
            min_ratio = float(r.get("min_ratio", 1.0))
            threshold = F.lit(int(round(min_ratio * 1_000_000))).cast("long")
            # nullif guards the empty-table edge: a bare DIV 0 returns
            # null silently in default mode but THROWS under ANSI; an
            # empty table's ratio rules report metric 0 / failed (pair a
            # row_count_between rule to make the emptiness explicit)
            metric = F.coalesce(
                F.expr(f"_raw{i} DIV nullif(_n, 0)"), F.lit(0)
            ).cast("long")
            passed = metric >= threshold
        structs.append(
            F.struct(
                F.lit(r["rule"]).alias("rule"),
                F.lit(kind).alias("kind"),
                metric.alias("metric_fp"),
                threshold.alias("threshold_fp"),
                passed.alias("passed"),
            )
        )
    return (
        agg.select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
        .orderBy(F.col("rule").asc())
    )


def profile_diff(
    df: DataFrame,
    snapshot: Column,
    count_distinct_cols: tuple[str, ...],
    range_col: str,
    rel_tenths: int = 1,
) -> DataFrame:
    """A/B table-profile DRIFT audit — the dq_expectations idiom
    applied BETWEEN two snapshots of one table (yesterday's load vs
    today's): per-snapshot row counts, per-column distinct counts and
    the value range, compared metric-by-metric with integer
    cross-multiplied verdicts (``10 * |a - b| > rel_tenths *
    max(a, b)`` — a >rel_tenths/10 relative swing flags; range bounds
    flag on ANY change). The data-quality regression gate a nightly
    pipeline runs before publishing a snapshot.

    Returns ``(metric, snap_a, snap_b, flagged)`` — one row per metric,
    every number exact (counts; the range bounds ROUND-2), every
    verdict integer arithmetic. A MISSING snapshot side (one snapshot
    wrote zero rows — the most drastic regression) yields NULL metric
    values, which COALESCE to flagged=true: the gate fails loudly
    instead of letting NULL verdicts sail through a
    ``flagged = true`` filter (found by review).

    Scale shape: ONE grouped aggregation pass over the fact scan (the
    count-distincts ride Spark's Expand, the column_profile shape),
    collapsing to a 2-row frame; the pivot + metric fan-out are
    constant-sized projections. Nothing else touches the corpus."""
    counts = [F.count(F.lit(1)).alias("n_rows")] + [
        F.countDistinct(F.col(c)).alias(f"{c}_distinct")
        for c in count_distinct_cols
    ]
    rng = [
        F.min(F.round(F.col(range_col), 2)).alias(f"{range_col}_min"),
        F.max(F.round(F.col(range_col), 2)).alias(f"{range_col}_max"),
    ]
    two = df.groupBy(snapshot.cast("int").alias("_snap")).agg(*counts, *rng)
    count_metrics = ["n_rows"] + [
        f"{c}_distinct" for c in count_distinct_cols
    ]
    range_metrics = [f"{range_col}_min", f"{range_col}_max"]
    one = two.agg(
        *[
            F.max(F.when(F.col("_snap") == s, F.col(m))).alias(f"{m}_{t}")
            for m in count_metrics + range_metrics
            for s, t in ((0, "a"), (1, "b"))
        ]
    )
    cells = []
    for m in count_metrics:
        a, b = F.col(f"{m}_a"), F.col(f"{m}_b")
        cells.append(
            F.struct(
                F.lit(m).alias("metric"),
                a.cast("double").alias("snap_a"),
                b.cast("double").alias("snap_b"),
                F.coalesce(
                    F.lit(10) * F.abs(a - b)
                    > F.lit(int(rel_tenths)) * F.greatest(a, b),
                    F.lit(True),
                ).alias("flagged"),
            )
        )
    for m in range_metrics:
        a, b = F.col(f"{m}_a"), F.col(f"{m}_b")
        cells.append(
            F.struct(
                F.lit(m).alias("metric"),
                a.cast("double").alias("snap_a"),
                b.cast("double").alias("snap_b"),
                F.coalesce(a != b, F.lit(True)).alias("flagged"),
            )
        )
    return (
        one.select(F.explode(F.array(*cells)).alias("e"))
        .select("e.metric", "e.snap_a", "e.snap_b", "e.flagged")
        .orderBy(F.col("metric").asc())
    )
