"""Z-order (Morton-curve) multi-dimensional data-skipping layout.

The layout family's third leg: ``join_bucketed`` co-locates one join key,
``table_compact`` fixes file sizes, and this module clusters TWO range
dimensions into one partition directory tree so a 2-D range query reads
only the directories whose Morton cells intersect its rectangle — the
Delta/Iceberg ``ZORDER BY`` idea expressed with nothing but integer
arithmetic and ``partitionBy``. At 100 TB this is the difference between
scanning a full fact table and scanning the few percent of it a
(customer-range x price-range) slice actually touches; it composes with
the same write-once content-addressed index discipline as the stored PQ
index (similarity.py build_pq_index).

Everything is exact-integer and engine-independent:
- each dimension maps to a ``2^bits``-cell grid with
  ``((v - lo) * 2^bits) DIV span`` (clamped — out-of-domain rows land in
  the edge cells and stay queryable through the residual filter);
- the z-value interleaves the two bucket numbers' bits (a odd, b even);
- a query rectangle prunes DRIVER-SIDE: enumerate the bucket rectangle
  (bounded by the 2^(2*bits) grid — a model, not data), interleave each
  cell, collect the distinct ``z >> dir_shift`` directory ids, and scan
  with an IN filter Spark turns into directory pruning (PartitionFilters)
  plus the exact residual range predicate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tdei_extract_load_service_spark.operators.staging import stored_index


@dataclass(frozen=True)
class ZorderSpec:
    """Grid definition for a 2-D z-order layout.  ``a_col``/``b_col`` must
    be integer-valued expressions (cast upstream); ``lo``/``hi`` bound the
    expected domain (values outside clamp into the edge cells)."""

    a_col: str
    b_col: str
    a_lo: int
    a_hi: int
    b_lo: int
    b_hi: int
    bits: int = 5
    dir_shift: int = 4


def _bucket_py(v: int, lo: int, hi: int, bits: int) -> int:
    span = hi - lo + 1
    raw = ((v - lo) * (1 << bits)) // span
    return max(0, min((1 << bits) - 1, raw))


def _interleave_py(a_bucket: int, b_bucket: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((a_bucket >> i) & 1) << (2 * i + 1)
        z |= ((b_bucket >> i) & 1) << (2 * i)
    return z


def _bucket_sql(col: str, lo: int, hi: int, bits: int) -> str:
    span = hi - lo + 1
    raw = f"((({col}) - {lo}) * {1 << bits}) DIV {span}"
    return f"least(greatest({raw}, 0), {(1 << bits) - 1})"


def z_dir_expr(spec: ZorderSpec):
    """BIGINT directory id: interleave(bucket(a), bucket(b)) >> dir_shift
    — one integer expression, textually parallel to the Python twin the
    probe side uses (``shiftleft``/``shiftright``/``&`` keep it portable
    to Spark SQL without the 4.x ``<<`` operator)."""
    a = _bucket_sql(spec.a_col, spec.a_lo, spec.a_hi, spec.bits)
    b = _bucket_sql(spec.b_col, spec.b_lo, spec.b_hi, spec.bits)
    terms = []
    for i in range(spec.bits):
        terms.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i + 1})")
        terms.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i})")
    z = " + ".join(terms)  # disjoint bit positions: + == |
    return F.expr(f"shiftright(CAST({z} AS BIGINT), {spec.dir_shift})")


def build_zorder_layout(
    df: DataFrame, spec: ZorderSpec, corpus_key: str
) -> str:
    """Materialize ``df`` partitioned by its z-order directory id —
    write-once per (corpus, spec) through ``staging.stored_index``,
    exactly the stored-PQ-index discipline (``corpus_key`` is required).

    Scale shape: ONE pass — the z_dir column is a pure integer
    projection, the write's only movement is the partitioned file
    routing. The directory count is bounded by 2^(2*bits - dir_shift)
    (64 for the defaults), independent of data volume."""
    if not corpus_key:
        raise ValueError("build_zorder_layout: corpus key is required")

    def build(tmp: str) -> None:
        df.withColumn("z_dir", z_dir_expr(spec)).write.mode(
            "overwrite"
        ).partitionBy("z_dir").parquet(tmp)

    # key order predates stored_index's corpus-key-first convention;
    # kept so published layouts keep their paths
    return stored_index("/tmp/spark_graft_zorder", (spec, corpus_key), build)


def zorder_dirs_for_rect(
    spec: ZorderSpec, a1: int, a2: int, b1: int, b2: int
) -> list[int]:
    """The (sorted, distinct) directory ids whose Morton cells intersect
    the query rectangle — pure driver-side integer enumeration over the
    bucket grid (<= 2^(2*bits) cells: a model, not data)."""
    if a1 > a2 or b1 > b2:
        raise ValueError("rectangle bounds must satisfy a1<=a2 and b1<=b2")
    a_from = _bucket_py(a1, spec.a_lo, spec.a_hi, spec.bits)
    a_to = _bucket_py(a2, spec.a_lo, spec.a_hi, spec.bits)
    b_from = _bucket_py(b1, spec.b_lo, spec.b_hi, spec.bits)
    b_to = _bucket_py(b2, spec.b_lo, spec.b_hi, spec.bits)
    dirs = {
        _interleave_py(ab, bb, spec.bits) >> spec.dir_shift
        for ab in range(a_from, a_to + 1)
        for bb in range(b_from, b_to + 1)
    }
    return sorted(dirs)


def zorder_range_scan(
    spark: SparkSession,
    path: str,
    spec: ZorderSpec,
    a1: int,
    a2: int,
    b1: int,
    b2: int,
) -> DataFrame:
    """Serve a 2-D range query from the z-ordered layout: directory
    pruning via the driver-computed IN set (PartitionFilters in the
    plan), then the exact residual range predicate (PushedFilters into
    the parquet scan). Value-identical to the same predicate over the
    unclustered table — the layout is an access path, never semantics."""
    dirs = zorder_dirs_for_rect(spec, a1, a2, b1, b2)
    return (
        spark.read.parquet(path)
        .where(F.col("z_dir").isin(dirs))
        .where(
            (F.expr(spec.a_col) >= a1)
            & (F.expr(spec.a_col) <= a2)
            & (F.expr(spec.b_col) >= b1)
            & (F.expr(spec.b_col) <= b2)
        )
        .drop("z_dir")
    )
