"""Open-schema header/map operations.

Ports the reference's token-stream header capture and metadata projection:
depth-1 root keys except ``features`` / the FeatureCollection type tag
(extract-load-service.ts:130-178), with nulls coerced to ``''``
(:496-502, :517-523). The reference needed 48 lines of stateful token
plumbing so that header keys appearing *after* the features array are
still captured in one pass (test :293-322); a parse of the whole object
is order-independent. The ``ext:elevation*`` prefix count (:543-549) is
``functions.geometry.count_elevation_keys``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Root keys a header drops (extract-load-service.ts:159,165, :496-502).
HEADER_EXCLUDED_KEYS = ("features", "type")


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def header_map_from_json(
    json_col: str | Column,
    exclude: Sequence[str] = HEADER_EXCLUDED_KEYS,
    null_to_empty: bool = True,
) -> Column:
    """Parse a JSON object into ``map<string,string>`` keeping only
    non-excluded keys, with null values coerced to ``''``
    (extract-load-service.ts:496-502: ``value === null ? '' : value``)."""
    excluded = F.array(*[F.lit(k) for k in exclude])
    m = F.map_filter(
        F.from_json(_col(json_col), "map<string,string>"),
        lambda k, _v: ~F.array_contains(excluded, k),
    )
    if null_to_empty:
        m = F.transform_values(m, lambda _k, v: F.coalesce(v, F.lit("")))
    return m
