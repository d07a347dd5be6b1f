"""Column-expression library (the engine's scalar-function surface).

JVM-side expressions only (whole-stage codegen, no Python on the hot
path). ``geometry.transform_features`` is the one feature transform the
load runs: one leaf rule over the coordinates' JSON text, at any depth and
for any geometry type. ``feature_json`` is the recursive pure-Python
reference implementation that tests compare its documents against.
"""

from tdei_extract_load_service_spark.functions.geometry import (  # noqa: F401
    add_property_json,
    count_elevation_keys,
    strip_z,
)
from tdei_extract_load_service_spark.functions.maps import (  # noqa: F401
    header_map_from_json,
)
from tdei_extract_load_service_spark.functions.timestamps import (  # noqa: F401
    is_valid_ts,
    normalize_ts,
)
