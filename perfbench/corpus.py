"""Seeded inputs for the benchmark: OSW request backlogs and fixture tables.

Everything here is a pure function of ``(seed, parameters)``: the same seed
gives byte-identical archives, request messages and parquet tables. Outputs
are cached on disk under a directory named by a digest of the parameters
and the seed, so a second run with the same seed skips generation.
"""

from __future__ import annotations

import hashlib
import io
import json
import math
import os
import random
import zipfile
from dataclasses import asdict, dataclass, field

#: kind -> entry file name (routing is by substring of the entry path)
KIND_FILES = {
    "nodes": "nodes.geojson",
    "edges": "edges.geojson",
    "points": "points.geojson",
    "lines": "lines.geojson",
    "polygons": "polygons.geojson",
    "zones": "zones.geojson",
}
#: extension entry names: none contains a routed substring
EXTENSION_NAMES = ("curb_ramps", "benches", "trees", "crossings", "kiosks")
KINDS = (*KIND_FILES, "extension")

#: fixed zip member timestamp, so archive bytes do not depend on the clock
_ZIP_DATE = (2020, 1, 1, 0, 0, 0)


def digest(*parts) -> str:
    return hashlib.sha1(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:12]


# ---------------------------------------------------------------------------
# OSW archives
# ---------------------------------------------------------------------------


@dataclass
class ArchiveSpec:
    """What one generated archive holds, and what a load of it must land."""

    path: str
    counts: dict[str, int] = field(default_factory=dict)  # kind -> features
    z_features: int = 0  # nodes/points features whose Z is present and != 0
    entries: int = 0  # .geojson entries
    entry_bytes: int = 0  # uncompressed .geojson bytes
    malformed: bool = False


def _coord(rng: random.Random, z_mode: str) -> list[float]:
    x = round(rng.uniform(-122.5, -122.0), 6)
    y = round(rng.uniform(47.4, 47.8), 6)
    if z_mode == "2d":
        return [x, y]
    if z_mode == "zero":
        return [x, y, 0]
    return [x, y, round(rng.uniform(1.0, 400.0), 2)]


def _z_mode(rng: random.Random) -> str:
    r = rng.random()
    return "2d" if r < 0.3 else "zero" if r < 0.4 else "z"


def _geometry(rng: random.Random, kind: str) -> tuple[dict, bool]:
    """One geometry for ``kind``; second item: does it carry a nonzero Z
    that the transform turns into an elevation property."""
    if kind in ("nodes", "points"):
        mode = _z_mode(rng)
        return {"type": "Point", "coordinates": _coord(rng, mode)}, mode == "z"
    if kind in ("edges", "lines"):
        # mixed 2D/3D leaves within one geometry
        pts = [_coord(rng, _z_mode(rng)) for _ in range(rng.randint(2, 5))]
        return {"type": "LineString", "coordinates": pts}, False
    if kind in ("polygons", "zones"):
        mode = _z_mode(rng)
        ring = [_coord(rng, mode) for _ in range(rng.randint(3, 6))]
        ring.append(list(ring[0]))  # closed ring
        if kind == "zones" and rng.random() < 0.3:
            return {"type": "MultiPolygon", "coordinates": [[ring]]}, False
        return {"type": "Polygon", "coordinates": [ring]}, False
    # extension entries: any geometry type
    if rng.random() < 0.5:
        return {"type": "Point", "coordinates": _coord(rng, _z_mode(rng))}, False
    pts = [_coord(rng, _z_mode(rng)) for _ in range(2)]
    return {"type": "LineString", "coordinates": pts}, False


def _collection(rng: random.Random, kind: str, tag: str, n: int) -> tuple[str, int]:
    """FeatureCollection text for ``n`` features of ``kind``; returns
    (text, z_feature_count). About a third of the files put their header
    keys after the features array (a late header)."""
    feats, n_z = [], 0
    for i in range(n):
        geom, has_z = _geometry(rng, kind)
        n_z += has_z
        feats.append(
            {
                "type": "Feature",
                "geometry": geom,
                "properties": {"_id": f"{tag}-{kind}-{i}", "rank": i % 7},
            }
        )
    header = {"name": f"{tag}-{kind}", "source": "perfbench", "version": "0.2"}
    if rng.random() < 0.33:
        doc = {"type": "FeatureCollection", "features": feats, **header}
    else:
        doc = {"type": "FeatureCollection", **header, "features": feats}
    return json.dumps(doc, separators=(",", ":")), n_z


def _write_zip(path: str, members: list[tuple[str, str]]) -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in members:
            info = zipfile.ZipInfo(name, date_time=_ZIP_DATE)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, text)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(buf.getvalue())
    os.replace(tmp, path)


def build_archive(
    path: str, seed: int, tag: str, kind_counts: dict[str, int], malformed: bool
) -> ArchiveSpec:
    """Write one OSW zip with ``kind_counts`` features per kind.

    ``malformed`` truncates one entry's JSON, which must fail the load.
    A non-geojson member rides along in every archive (it is skipped)."""
    rng = random.Random(f"{seed}:{tag}")
    spec = ArchiveSpec(path=path, malformed=malformed)
    members: list[tuple[str, str]] = [("README.txt", f"archive {tag}\n")]
    for kind, n in kind_counts.items():
        if kind == "extension":
            # split extension features over one or two extension files
            names = rng.sample(EXTENSION_NAMES, 2 if n > 1 and rng.random() < 0.5 else 1)
            parts = [n // len(names) + (i < n % len(names)) for i in range(len(names))]
            for name, part in zip(names, parts):
                text, _ = _collection(rng, kind, f"{tag}-{name}", part)
                members.append((f"extensions/{name}.geojson", text))
        else:
            text, n_z = _collection(rng, kind, tag, n)
            spec.z_features += n_z
            members.append((f"{tag}/{KIND_FILES[kind]}", text))
        spec.counts[kind] = n
    if malformed:
        victim = rng.randrange(1, len(members))
        name, text = members[victim]
        members[victim] = (name, text[: max(1, len(text) // 2)])
    geo = [text for name, text in members if name.endswith(".geojson")]
    spec.entries = len(geo)
    spec.entry_bytes = sum(len(t.encode()) for t in geo)
    _write_zip(path, members)
    return spec


# ---------------------------------------------------------------------------
# request backlogs
# ---------------------------------------------------------------------------


@dataclass
class Message:
    """One request message plus the outcome a correct service produces."""

    index: int
    body: dict
    expect_success: bool
    archive: ArchiveSpec | None  # None for unsupported data_type requests

    @property
    def dataset_id(self) -> str:
        return self.body["data"]["tdei_dataset_id"]

    @property
    def uploader(self) -> str:
        return self.body["data"]["user_id"]


@dataclass(frozen=True)
class BacklogParams:
    """Shape of a request backlog, a sequence of blocks of ``block_size``
    messages.

    Every block holds the same mix: exactly ``round(frac * block_size)``
    unsupported, malformed and re-upload requests, and one archive size
    from each of ``block_size`` log-spaced strata of
    ``[min_features, max_features]``; the seed picks positions, kinds and
    contents. A re-upload names a dataset at least ``REUPLOAD_GAP``
    messages earlier, so two loads of one dataset never share a micro-batch
    (the consumer takes files oldest first, two per batch)."""

    name: str
    block_size: int
    min_features: int
    max_features: int
    malformed_frac: float = 0.0
    unsupported_frac: float = 0.0
    reupload_frac: float = 0.0


REUPLOAD_GAP = 4


def _kind_counts(rng: random.Random, total: int) -> dict[str, int]:
    chosen = [k for k in KINDS if rng.random() < 0.6] or [rng.choice(KINDS)]
    weights = [rng.uniform(0.5, 2.0) for _ in chosen]
    return {k: max(1, int(total * w / sum(weights))) for k, w in zip(chosen, weights)}


class Backlog:
    """Deterministic, lazily generated message sequence for one seed."""

    def __init__(self, root: str, seed: int, params: BacklogParams):
        self.seed = seed
        self.params = params
        self.dir = os.path.join(root, f"{params.name}-{digest(asdict(params))}-s{seed}")
        os.makedirs(self.dir, exist_ok=True)
        self._messages: list[Message] = []
        self._plans: dict[int, list[tuple[str, int]]] = {}

    def _archive(self, key: str, total: int, malformed: bool) -> ArchiveSpec:
        rng = random.Random(f"{self.seed}:{self.params.name}:archive:{key}")
        counts = _kind_counts(rng, total)
        path = os.path.join(self.dir, f"{key}.zip")
        meta = path + ".json"
        if os.path.exists(path) and os.path.exists(meta):
            with open(meta) as fh:
                spec = ArchiveSpec(**json.load(fh))
            if spec.counts == counts and spec.malformed == malformed:
                spec.path = path
                return spec
        spec = build_archive(path, self.seed, key, counts, malformed)
        with open(meta + ".tmp", "w") as fh:
            json.dump(asdict(spec), fh)
        os.replace(meta + ".tmp", meta)
        return spec

    def message(self, i: int) -> Message:
        while len(self._messages) <= i:
            self._messages.append(self._make(len(self._messages)))
        return self._messages[i]

    def take(self, start: int, n: int) -> list[Message]:
        return [self.message(i) for i in range(start, start + n)]

    def _plan(self, b: int) -> list[tuple[str, int]]:
        """(request type, size stratum) for each position of block ``b``."""
        if b not in self._plans:
            p = self.params
            rng = random.Random(f"{self.seed}:{p.name}:block:{b}")
            n = p.block_size
            types = (
                ["unsupported"] * round(p.unsupported_frac * n)
                + ["malformed"] * round(p.malformed_frac * n)
                + ["reupload"] * round(p.reupload_frac * n)
            )
            types += ["plain"] * (n - len(types))
            rng.shuffle(types)
            if b == 0:  # nothing earlier to re-upload yet: move those back
                for k in range(min(REUPLOAD_GAP, n)):
                    if types[k] == "reupload":
                        j = max(j for j in range(n) if types[j] == "plain")
                        types[k], types[j] = types[j], types[k]
            strata = list(range(n))
            rng.shuffle(strata)
            self._plans[b] = list(zip(types, strata))
        return self._plans[b]

    def _make(self, i: int) -> Message:
        p = self.params
        rng = random.Random(f"{self.seed}:{p.name}:message:{i}")
        kind, stratum = self._plan(i // p.block_size)[i % p.block_size]
        dataset_id = f"ds-{self.seed}-{i:05d}"
        if kind == "reupload":
            recent = {m.dataset_id for m in self._messages[i - REUPLOAD_GAP + 1 :]}
            reusable = sorted(
                {m.dataset_id for m in self._messages[: i - REUPLOAD_GAP + 1]} - recent
            )
            dataset_id = rng.choice(reusable)
        lo, hi = math.log(p.min_features), math.log(p.max_features)
        total = int(math.exp(lo + (stratum + rng.random()) / p.block_size * (hi - lo)))
        malformed = kind == "malformed"
        archive = None
        data_type = rng.choice(("flex", "pathways")) if kind == "unsupported" else "osw"
        if data_type == "osw":
            archive = self._archive(f"m{i:05d}{'-bad' if malformed else ''}", total, malformed)
        body = {
            "messageId": f"{dataset_id}|job-{i:05d}",
            "messageType": "workflow_identifier",
            "data": {
                "data_type": data_type,
                "file_upload_path": archive.path if archive else os.path.join(self.dir, "none.zip"),
                "tdei_dataset_id": dataset_id,
                # unique per message: the sinks' requested_by column then
                # names the upload each landed row came from
                "user_id": f"u{i:05d}",
            },
        }
        return Message(index=i, body=body, expect_success=archive is not None and not malformed, archive=archive)


def expected_state(messages: list[Message]) -> dict[str, Message | None]:
    """Final content of each dataset after ``messages`` ran in order:
    the last successful upload, None when the last upload attempt failed
    after its pre-delete (a malformed archive), untouched by a request with
    an unsupported data_type."""
    state: dict[str, Message | None] = {}
    for m in messages:
        if m.archive is None:
            state.setdefault(m.dataset_id, None)
            continue
        state[m.dataset_id] = m if m.expect_success else None
    return state


# ---------------------------------------------------------------------------
# fixture tables for the query catalog
# ---------------------------------------------------------------------------

_WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream index query plan node edge shard cache page log row"
).split()
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def build_tables(root: str, seed: int, sf: float) -> str:
    """Write the ten fixture tables (TPC-H-like star schema plus events,
    documents and embeddings) at scale ``sf`` under a cached directory and
    return it. Row counts follow the sf0.001 fixture shape: lineitem ~6000
    rows per 0.001."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(root, f"tables-{digest(sf)}-s{seed}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(30, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(300, int(1_500_000 * sf))
    n_line = n_ord * 4
    n_users = max(5, int(15_000 * sf))
    n_events = max(500, int(1_000_000 * sf))
    day = np.datetime64("1995-01-01", "ms")

    def choice(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], dtype=object),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)], dtype=object),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": choice(
                ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"], n_cust
            ),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)], dtype=object),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(
                [f"{a} {b}" for a, b in zip(
                    choice(["cold", "small", "large", "red", "green", "steel"], n_part),
                    choice(["widget", "bolt", "gear", "pipe", "valve"], n_part),
                )],
                dtype=object,
            ),
            "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], dtype=object),
            "p_type": choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": day + rng.integers(0, 2400, n_ord).astype("timedelta64[D]"),
            "o_orderpriority": choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": choice(["N", "A", "R"], n_line),
            "l_linestatus": choice(["O", "F"], n_line),
            "l_shipdate": day + rng.integers(1, 2500, n_line).astype("timedelta64[D]"),
        },
        "events": {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": choice(_EVENT_TYPES, n_events),
            "value": money(0, 330, n_events),
            "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], dtype=object),
        },
    }
    n_docs = 500
    texts = [
        " ".join(choice(_WORDS, int(rng.integers(8, 90)))) for _ in range(n_docs)
    ]
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": choice(["en", "de", "fr", "es", "zh"], n_docs),
        "source": np.array([f"src{i}" for i in rng.integers(0, 20, n_docs)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.normal(0, 0.1, (500, 64)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, 500).astype(np.int32),
    }
    for name, cols in tables.items():
        arrays, fields = [], []
        for col, values in cols.items():
            if col == "embedding":
                arr = pa.array([v.tolist() for v in values], type=pa.list_(pa.float32()))
            else:
                arr = pa.array(values)
            arrays.append(arr)
            fields.append(col)
        pq.write_table(pa.Table.from_arrays(arrays, names=fields), os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as fh:
        fh.write("ok\n")
    return out
