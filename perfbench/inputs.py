"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed; the same seed gives the same
inputs. The program under test only ever sees the generated inputs.

- ``dag_spec``: the layered task DAG that ``run_report`` executes.
- ``write_tables``: the TPC-H-like star schema plus the events,
  documents and embeddings tables that ``query_mix`` reads.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from pathlib import Path

LAYER_WIDTH = 8
UPSTREAM_PER_TASK = 2
ARTEFACT_EVERY = 5
ARTEFACT_BYTES = 200


@dataclass(frozen=True)
class TaskSpec:
    task_id: str
    upstream: tuple[int, ...]  # indices into the task list
    fails: bool
    artefact: str | None


def dag_spec(seed: int, n_tasks: int) -> list[TaskSpec]:
    """Layers of ``LAYER_WIDTH`` tasks; each task past the first layer
    depends on ``UPSTREAM_PER_TASK`` distinct tasks of the layer before,
    drawn from the seed. Every ``ARTEFACT_EVERY``-th task logs an
    artefact of ``ARTEFACT_BYTES`` bytes, and exactly one task of the
    last (sink) layer raises, so no task is skipped. Only the last layer
    may be partial."""
    if n_tasks <= LAYER_WIDTH:
        raise ValueError(f"n_tasks must exceed one layer ({LAYER_WIDTH})")
    rng = random.Random(seed)
    last_layer_start = (n_tasks - 1) // LAYER_WIDTH * LAYER_WIDTH
    failing = rng.randrange(last_layer_start, n_tasks)
    specs = []
    for t in range(n_tasks):
        layer = t // LAYER_WIDTH
        if layer == 0:
            ups: tuple[int, ...] = ()
        else:
            base = (layer - 1) * LAYER_WIDTH
            ups = tuple(
                sorted(base + i for i in rng.sample(range(LAYER_WIDTH), UPSTREAM_PER_TASK))
            )
        art = None
        if t % ARTEFACT_EVERY == 0:
            art = "".join(rng.choice("abcdefghij") for _ in range(ARTEFACT_BYTES))
        specs.append(TaskSpec(f"task_{t:04d}", ups, t == failing, art))
    return specs


def dag_edges(specs: list[TaskSpec]) -> set[tuple[str, str]]:
    """(upstream task_id, downstream task_id) pairs of the DAG."""
    return {(specs[u].task_id, s.task_id) for s in specs for u in s.upstream}


# --------------------------------------------------------------------------
# query tables

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# the 31-word vocabulary of the reference sf0.1 documents table
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def write_tables(out_dir: str | Path, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``out_dir/<table>.parquet``; row counts scale
    like TPC-H (``scale`` 0.1 gives 600k lineitem rows). Returns the
    row count per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed % (1 << 64))  # numpy takes no negative seed
    counts: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, out / f"{name}.parquet")
        counts[name] = table.num_rows

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def day_ts(start: str, n_days: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n_cust = int(150_000 * scale)
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    n_supp = int(10_000 * scale)
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    n_part = int(200_000 * scale)
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                rng.choice(["large", "hot", "blue", "green", "small"], n_part),
                rng.choice(["ring", "bolt", "nut", "gear", "pipe"], n_part),
            )
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + np.arange(n_part) % 20_000 / 10, 2),
    })

    n_ord = int(1_500_000 * scale)
    o_date = day_ts("1995-01-01", 2404, n_ord)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1_000, 500_000, n_ord),
        "o_orderdate": o_date,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })

    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_line = len(l_order)
    first = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    put("lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": (np.arange(n_line) - first + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": o_date[l_order]
        + rng.integers(1, 122, n_line) * np.timedelta64(86_400_000_000, "us"),
    })

    n_ev = int(1_000_000 * scale)
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev) * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), n_ev, dtype=np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], n_ev),
        "value": money(0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents have the per-document shape of the reference sf0.1 table
    # (10-100 tokens over its 31 words, 0.16% exact duplicates) but a
    # tenth of its rows at the same scale: the DuckDB MinHash oracle takes
    # ~78 s at sf0.1's 5000 documents, and it runs once per benchmark run
    n_doc = int(5_000 * scale)
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rng.random() < 0.0016:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb = int(20_000 * scale)
    vecs = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })
    return counts

