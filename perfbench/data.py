"""Input data for the benchmark: a seeded generator of the engine's ten
fixture tables, the scale-up tile built by ``tools/make_scale_data.py``,
and the DuckDB oracle fingerprints of every checked query.

The tables follow the schemas and value domains of the fixtures the
engine's queries are written against (TPC-H-ish star schema, the
``events`` stream table, ``documents`` and ``embeddings``). Everything
is derived from one fixed data seed, so a data directory is built once
per checkout and reused by every run; the run seed only changes the
order in which queries are called.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "old", "new", "hot", "cold", "small", "big"]
_PART_NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query filter group stream"
).split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131 * _DAY_US  # 1995-01-01
_EPOCH_2024 = 19723 * _DAY_US  # 2024-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def generate_tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf 0.1 = 600k lineitem)."""
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    starts = np.searchsorted(l_order, l_order, side="left")
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(np.arange(n_line) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US),
    })
    # strictly increasing event time over ~30 days, arrival order = event_id
    gaps = rng.exponential(30 * _DAY_US / n_evt, n_evt).astype("int64") + 1_000
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    docs: list[list[str]] = []
    for _ in range(n_doc):
        if docs and rng.random() < 0.1:  # near duplicate of an earlier doc
            words = list(docs[int(rng.integers(0, len(docs)))])
            for j in rng.integers(0, len(words), 2):
                words[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = [_VOCAB[i] for i in rng.integers(0, len(_VOCAB), rng.integers(20, 91))]
        docs.append(words)
    text = [" ".join(w) for w in docs]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": text,
        "lang": _pick(rng, _LANGS, n_doc),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": np.array([len(s) for s in text], dtype="int64"),
    })
    label = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 0.1, (10, 64))
    emb = (centers[label] + rng.normal(0.0, 0.08, (n_vec, 64))).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def write_tables(out_dir: str, sf: float) -> dict[str, int]:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    counts = {}
    for name, tbl in generate_tables(sf, rng).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


def tile(src_dir: str, tiles: int, out_dir: str, tool: str) -> None:
    """Scale ``src_dir`` up ``tiles`` times with the repo's tiling tool
    (``tools/make_scale_data.py``), pointed at our generated base."""
    spec = importlib.util.spec_from_file_location("_make_scale_data", tool)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.SRC = src_dir
    argv = sys.argv
    sys.argv = [tool, str(tiles), out_dir]
    try:
        mod.main()
    finally:
        sys.argv = argv


def row_counts(data_dir: str) -> dict[str, int]:
    return {
        t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
        for t in TABLES
    }


def fingerprint_oracles(data_dir: str, queries: list[str]) -> None:
    """Fingerprint the DuckDB oracle result of each query over
    ``data_dir`` with the repo's oracle harness, into ``oracles.json``
    there. Only missing fingerprints are computed."""
    path = os.path.join(data_dir, "oracles.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    # q_kmeans's oracle inlines centroids trained on the engine's own
    # fixtures; the benchmark checks its shape instead (run.py)
    todo = [q for q in queries if q not in cached and q != "q_kmeans"]
    if not todo:
        return
    from flink_framework_spark.registry import all_queries
    from tests.harness import canonical_hash, run_oracle

    registry = all_queries()
    for name in todo:
        cached[name] = canonical_hash(run_oracle(registry[name].oracle, data_dir))
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(cached, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def build(out_dir: str, sf: float, tiles: int, queries: list[str]) -> None:
    """Make ``out_dir`` (the generated base, tiled ``tiles`` times) if it
    is missing, check its row counts, and fingerprint the oracles of
    ``queries`` there. Directories appear whole or not at all."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(os.path.dirname(out_dir), f"sf{sf}")
    for target, make in ((base, lambda d: write_tables(d, sf)),
                         (out_dir, lambda d: tile(base, tiles, d, os.path.join(root, "tools", "make_scale_data.py")))):
        if os.path.isdir(target):
            continue
        tmp = f"{target}.tmp{os.getpid()}"
        make(tmp)
        os.replace(tmp, target)
    want = {t: n * (tiles if t not in ("region", "nation") else 1) for t, n in row_counts(base).items()}
    got = row_counts(out_dir)
    if got != want:
        raise SystemExit(f"{out_dir}: row counts {got} differ from {want}")
    sys.path.insert(0, root)
    fingerprint_oracles(out_dir, queries)


if __name__ == "__main__":
    build(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), sys.argv[4:])
