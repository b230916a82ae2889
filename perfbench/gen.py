"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine's query keys read (the TPC-H-ish
star schema, ``events``, ``documents``, ``embeddings``) as one parquet file
each, with the column names, physical types and value domains of the
repository's fixtures (see FIXTURES.md).  The generator uses only numpy and
pyarrow, never the engine, so a change under test cannot alter its own
inputs.  The same seed and scale always give byte-identical tables.

``documents``/``embeddings`` carry a recorded near-duplicate share: that
fraction of rows are edited copies of an earlier row (a few words swapped,
a little vector noise), so pair-generating dedup operators have real
candidate pairs to emit.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the fast slow big small data table row column key value part order "
    "line customer query scan filter join group agg sort hash merge window "
    "batch stream spark vector dup"
).split()
LANGS = np.array(["en", "fr", "zh", "es", "de"])
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

# Share of ``documents`` rows that are edited copies of an earlier row.
# Chosen so the corpus has the near-duplicate density of the repository's
# own documents fixture: counting pairs of 3-word-shingle Jaccard >= 0.5
# (``dedup_minhash``'s verify threshold), the fixture has 0.051 pairs per
# document (256 pairs in 5,000 documents at sf0.1, 25 in 500 at sf0.01) and
# 9.5% of its documents have a partner; this generator at 0.05 gives
# 0.054-0.056 pairs per document and 9.1-9.4% (1,000 documents, seeds 1-2).
NEAR_DUP_SHARE = 0.05


@dataclass(frozen=True)
class Scale:
    """Row counts of the generated tables."""

    lineitem: int
    events: int
    documents: int

    def times(self, factor: float) -> "Scale":
        return Scale(
            *(max(int(round(n * factor)), 10) for n in (self.lineitem, self.events, self.documents))
        )

    @property
    def orders(self) -> int:
        return max(self.lineitem // 4, 10)

    @property
    def customer(self) -> int:
        return max(self.lineitem // 40, 10)

    @property
    def part(self) -> int:
        return max(self.lineitem // 30, 10)

    @property
    def supplier(self) -> int:
        return max(self.lineitem // 600, 10)


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    day = rng.integers(0, span + 1, n)
    base = np.datetime64(lo.isoformat(), "us")
    return pa.array(base + day.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _permuted(rng: np.random.Generator, tbl: pa.Table) -> pa.Table:
    return tbl.take(pa.array(rng.permutation(tbl.num_rows)))


def _star(rng: np.random.Generator, s: Scale) -> dict[str, pa.Table]:
    n = s.lineitem
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s.part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s.supplier, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n, 901.82, 104997.88)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2)),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    no = s.orders
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s.customer, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(_money(rng, no, 1013.7, 499978.59)),
            "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
                )
            ),
        }
    )
    nc = s.customer
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99)),
            "c_mktsegment": pa.array(
                rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
                )
            ),
        }
    )
    ns = s.supplier
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99)),
        }
    )
    np_ = s.part
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array(
                [f"{c} {w}" for c, w in zip(rng.choice(COLORS, np_), rng.choice(NOUNS, np_))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": pa.array(
                rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], np_)
            ),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": _permuted(rng, customer),
        "supplier": _permuted(rng, supplier),
        "part": _permuted(rng, part),
        "orders": _permuted(rng, orders),
        "lineitem": lineitem,
    }


def event_rows(rng: np.random.Generator, n: int, first_id: int = 0) -> dict[str, np.ndarray]:
    """Event columns over 30 days at a jittered 2-6 minute cadence; ``ts``
    is returned as int64 microseconds since the epoch."""
    gaps = rng.uniform(120, 360, n) * (30 * 86400 / (240 * max(n, 1)))
    start = int(dt.datetime(2024, 1, 1).replace(tzinfo=dt.timezone.utc).timestamp())
    ts_us = (start + np.cumsum(gaps)) * 1_000_000
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": ts_us.astype(np.int64),
        "user_id": rng.integers(0, 150, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(49.6, n), 2), 0.01),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    cols = event_rows(rng, n)
    cols["ts"] = pa.array(cols["ts"], pa.timestamp("us"))
    return pa.table(cols)


def _corpus(rng: np.random.Generator, s: Scale) -> dict[str, pa.Table]:
    n = s.documents
    words = np.array(VOCAB)
    texts: list[str] = []
    vecs = rng.normal(0.0, 0.15, (n, 64)).astype(np.float32)
    n_dup = int(round(n * NEAR_DUP_SHARE))
    dup_rows = set(rng.choice(np.arange(1, n), size=min(n_dup, n - 1), replace=False).tolist())
    for i in range(n):
        if i in dup_rows:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = str(rng.choice(words))
            texts.append(" ".join(toks))
            vecs[i] = vecs[src] + rng.normal(0.0, 0.01, 64).astype(np.float32)
        else:
            texts.append(" ".join(rng.choice(words, int(rng.integers(10, 100)))))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def generate(out_dir: Path, seed: int, scale: Scale) -> dict[str, dict[str, int]]:
    """Write every fixture table under ``out_dir``; return rows and bytes
    per table."""
    rng = np.random.default_rng(seed)
    tables = _star(rng, scale)
    tables["events"] = _events(rng, scale.events)
    tables.update(_corpus(rng, scale))
    out_dir.mkdir(parents=True, exist_ok=True)
    stats = {}
    for name, tbl in tables.items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(tbl, path)
        stats[name] = {"rows": tbl.num_rows, "bytes": path.stat().st_size}
    return stats
