"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the registered queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, with the column names, parquet types and
value distributions of the project's synthetic test data: independent
uniform columns for the TPC-H-ish star schema, a 30-word lowercase
vocabulary for documents (about 5% of them an earlier document's text
plus `` dup``), unit-norm 64-dim embeddings with weak per-label
centroids, and one month of events with a JSON ``props`` column.

Row counts follow the test data's scale factors (``lineitem`` =
6 M x sf), so ``sf=0.01`` is the size of the oracle fixtures and
``sf=0.8`` is eight times the ``sf0.1`` bench fixture.

The same ``(sf, data_seed)`` always yields byte-identical values.
"""

from __future__ import annotations

import os
import shutil

#: Imported by the first generation (:func:`_import`), so a run whose
#: inputs already exist does not pay for them before its set-up.
np = pa = pq = None


def _import() -> None:
    global np, pa, pq
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Bump when the generated values change, so cached inputs are rebuilt.
GEN_VERSION = "1"

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
_DAY_US = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n: int, first: str, last: str) -> pa.Array:
    lo, hi = _us(first) // _DAY_US, _us(last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _ids(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _ids(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": _ids(n_part),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": _ids(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    start, span = _us("2024-01-01"), 30 * _DAY_US
    out["events"] = pa.table(
        {
            "event_id": _ids(n_events),
            "ts": pa.array(
                np.sort(start + rng.integers(0, span, n_events)), pa.timestamp("us")
            ),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": _pick(rng, _EVENT_TYPES, n_events),
            "value": np.round(np.minimum(rng.exponential(60.0, n_events), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(_VOCAB[w] for w in chunk) for chunk in np.split(words, cuts)]
    # ~5% near-duplicates: an earlier document's text with " dup" appended.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": _ids(n),
            "text": texts,
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(size=(10, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    noise = rng.normal(size=(n, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = noise + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(vecs.reshape(-1)),
    )
    return pa.table(
        {
            "vec_id": _ids(n),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def ensure_dataset(root: str, name: str, sf: float, data_seed: int) -> str:
    """Generate the dataset ``<root>/<name>`` once, atomically; later
    calls with the same parameters reuse it. Returns its directory."""
    path = os.path.join(root, name)
    stamp = f"{GEN_VERSION} sf={sf} seed={data_seed}\n"
    marker = os.path.join(path, "_GENERATED")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return path
    _import()
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for tname, table in _tables(sf, np.random.default_rng(data_seed)).items():
        pq.write_table(table, os.path.join(tmp, f"{tname}.parquet"))
    with open(os.path.join(tmp, "_GENERATED"), "w") as f:
        f.write(stamp)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
