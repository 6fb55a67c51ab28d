"""Seeded input generators for the benchmark workloads.

Pure numpy/pyarrow: the program under test receives only what these
functions return, written to parquet. The same seed gives the same bytes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_TYPE_P = [0.35, 0.30, 0.15, 0.10, 0.10]
EPOCH_2024_US = 1_704_067_200_000_000


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws over ``n_keys`` ids with P(rank r) ~ 1/r^s; ranks are
    shuffled onto ids so the hot keys are not the low ids."""
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_keys, size=n, p=w / w.sum())
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def events(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """Source-table rows, one per change, in log order (``event_id`` is the
    Kafka offset). The op / tombstone / malformed mix is the fixture's:
    ``sources.cdc_fixture.build_changelog`` derives it from ``event_id``."""
    n = len(keys)
    ts = EPOCH_2024_US + np.cumsum(rng.integers(1_000, 50_000, size=n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(keys),
            "event_type": pa.array(EVENT_TYPES[rng.choice(5, size=n, p=EVENT_TYPE_P)]),
            "value": pa.array(np.round(rng.uniform(0.01, 500.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def malformed_count(n_records: int) -> int:
    """Records among offsets [0, n_records) that the fixture serializes as
    broken JSON (``SQL_IS_MALFORMED``): event_id % 97 == 0 and % 10 < 8."""
    ids = np.arange(0, n_records, 97)
    return int((ids % 10 < 8).sum())


# --- warehouse tables ---------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_DAY_US = 86_400_000_000
_D1995_US = 788_918_400_000_000  # 1995-01-01


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), size=n)])


def warehouse_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """The tables the warehouse mix reads, TPC-H-shaped with the fixture's
    columns and value domains (FIXTURES.md): customer, orders, lineitem and
    a month of CDC events for the monitor twins. Money is whole hundreds of
    dollars and rates are whole percents, so every sum the queries round to
    2 decimals is exact and no value sits on a rounding boundary where two
    engines could disagree. Key columns of tables the mix does not read
    (part, supplier, nation) are drawn from their usual ranges."""
    n_cust = max(n_orders // 10, 50)
    n_li = n_orders * 4
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    odate = _D1995_US + rng.integers(0, 2404, size=n_orders) * _DAY_US
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": pa.array(rng.integers(10, 5000, size=n_orders) * 100.0),
            "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
        }
    )
    li_order = np.sort(rng.integers(0, n_orders, size=n_li))
    ship = odate[li_order] + rng.integers(1, 122, size=n_li) * _DAY_US
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(li_order.astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, max(n_orders // 8, 50), size=n_li)),
            "l_suppkey": pa.array(rng.integers(0, max(n_orders // 150, 10), size=n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
            "l_extendedprice": pa.array(rng.integers(9, 1050, size=n_li) * 100.0),
            "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
        }
    )
    events_ = events(rng, rng.integers(0, 150, size=n_orders // 2).astype(np.int64))
    return {"customer": customer, "orders": orders, "lineitem": lineitem, "events": events_}


# --- curation corpus ----------------------------------------------------------

def corpus(rng: np.random.Generator, n_docs: int, dup_share: float) -> pa.Table:
    """Documents drawn from a Zipf-weighted vocabulary, with injected
    near-duplicates: a ``dup_share`` of the docs copy an earlier doc and
    replace 1-6 of its words (1-3 stay above a 0.6 word-3-shingle jaccard,
    4-6 mostly fall below it). Text is already lower-case and single-spaced,
    so the operators' normalization is the identity and the word shingles
    can be recounted outside Spark."""
    vocab = np.array([f"w{i}" for i in range(4000)])
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    p = w / w.sum()
    docs: list[list[str]] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            words = list(docs[int(rng.integers(0, i))])
            for pos in rng.choice(len(words), size=int(rng.integers(1, 7)), replace=False):
                words[pos] = vocab[rng.choice(len(vocab), p=p)]
        else:
            words = list(vocab[rng.choice(len(vocab), size=int(rng.integers(40, 80)), p=p)])
        docs.append(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array([" ".join(d) for d in docs]),
            "source": pa.array(["crawl"] * n_docs),
        }
    )


def mixture_embeddings(
    rng: np.random.Generator, n: int, n_queries: int, dim: int, n_clusters: int
) -> tuple[np.ndarray, np.ndarray]:
    """Gaussian-mixture vectors: (corpus [n, dim], held-out queries
    [n_queries, dim]) drawn from the same mixture, float32."""
    centers = rng.normal(size=(n_clusters, dim))
    def draw(m: int) -> np.ndarray:
        c = rng.integers(0, n_clusters, size=m)
        return (centers[c] + 0.35 * rng.normal(size=(m, dim))).astype(np.float32)
    return draw(n), draw(n_queries)
