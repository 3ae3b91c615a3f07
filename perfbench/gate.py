"""gate_queries workload: the ten headline gate queries over seeded tables.

The input is four parquet files (events, lineitem, documents, embeddings) in
the column shapes of the gate's test data, generated with numpy from the
workload seed, so the same seed always gives the same tables and nothing
outside the checkout is read.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from spans import maybe_span

# bench.py's HEADLINE list, in the same order
HEADLINE = [
    "frontier_admission",
    "frontier_anti_join",
    "url_canonicalize",
    "url_best_quality",
    "dedup_first_per_key",
    "pricing_summary",
    "dedup_exact_text",
    "ngram_jaccard",
    "cosine_topk",
    "minhash_lsh",
]
TABLES = ("events", "lineitem", "documents", "embeddings")
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector "
    "window".split()
)
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table; scale 1.0 is the measured size."""
    base = {"events": 30_000, "lineitem": 120_000, "documents": 1_000, "embeddings": 1_000}
    return {t: max(50, int(n * scale)) for t, n in base.items()}


def _events(rng, n: int) -> pd.DataFrame:
    gaps = rng.integers(1_000, 40_000_000, size=n)  # microseconds between events
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(10, n // 60), size=n, dtype=np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        }
    )


def _lineitem(rng, n: int) -> pd.DataFrame:
    days = rng.integers(0, 2500, size=n)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, max(10, n // 4), size=n, dtype=np.int64),
            "l_partkey": rng.integers(0, 20_000, size=n, dtype=np.int64),
            "l_suppkey": rng.integers(0, 1_000, size=n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, size=n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, size=n) / 100.0,
            "l_discount": rng.integers(0, 11, size=n) / 100.0,
            "l_tax": rng.integers(0, 9, size=n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n)],
            "l_shipdate": np.datetime64("1995-01-02", "us")
            + (days * 86_400_000_000).astype("timedelta64[us]"),
        }
    )


def _documents(rng, n: int) -> pd.DataFrame:
    texts = []
    for i in range(n):
        if i and i % 53 == 0:
            texts.append(texts[-1])  # exact duplicate of the previous doc
        elif i and i % 41 == 0:
            texts.append(texts[-1] + " dup")  # near-duplicate
        else:
            words = VOCAB[rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), size=n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, size=n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pd.DataFrame:
    vecs = rng.normal(0.0, 1.0, size=(n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, size=n, dtype=np.int32),
        }
    )


_MAKERS = {
    "events": _events,
    "lineitem": _lineitem,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the four tables as ``<out_dir>/<table>.parquet``; returns row
    counts. Each table has its own generator stream derived from the seed."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for i, (table, n) in enumerate(sizes(scale).items()):
        rng = np.random.default_rng([seed, i])
        df = _MAKERS[table](rng, n)
        schema = None
        if table == "embeddings":
            schema = pa.schema(
                [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                 ("label", pa.int32())]
            )
        pq.write_table(
            pa.Table.from_pandas(df, schema=schema, preserve_index=False),
            os.path.join(out_dir, f"{table}.parquet"),
        )
        counts[table] = n
    return counts


def normalize(pdf: pd.DataFrame) -> tuple[str, int]:
    """Order-insensitive value hash, as tools/check_oracle.py computes it."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(("%.6g" % v) if isinstance(v, float) else str(v) for v in tup)
        for tup in pdf[cols].itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16], len(rows)


def oracle_check(spark, data_dir: str, queries: dict, oracle_sql: dict) -> dict:
    """Run every headline query on Spark (collected) and its oracle SQL on
    DuckDB; returns {query: (ok, spark_rows, detail)}. The queries run from a
    few threads at once: this pass is the warm-up and is not timed."""
    import duckdb  # noqa: PLC0415

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        oracle = {}
        for name in HEADLINE:
            odf = con.execute(oracle_sql[name]).df()
            oracle[name] = (normalize(odf), sorted(odf.columns))
    finally:
        con.close()

    def check(name):
        sdf = queries[name](spark, data_dir).toPandas()
        (sh, sn), ((oh, on), ocols) = normalize(sdf), oracle[name]
        ok = sh == oh and sn == on and sorted(sdf.columns) == ocols
        return name, (ok, sn, f"spark={sn}/{sh} duckdb={on}/{oh} columns={sorted(sdf.columns)}")

    with ThreadPoolExecutor(max_workers=4) as pool:
        return dict(pool.map(check, HEADLINE))


# the table each headline query reads, for the input-rows rate
QUERY_TABLE = {
    "frontier_admission": "events",
    "frontier_anti_join": "events",
    "url_canonicalize": "events",
    "url_best_quality": "events",
    "dedup_first_per_key": "lineitem",
    "pricing_summary": "lineitem",
    "dedup_exact_text": "documents",
    "ngram_jaccard": "documents",
    "cosine_topk": "embeddings",
    "minhash_lsh": "documents",
}


def layer_metric_names() -> list[str]:
    names = []
    for q in HEADLINE:
        names += [f"gate.{q}_s", f"gate.{q}.rows"]
    return names + ["gate.sum_s"]


class GateWorkload:
    def __init__(self, ctx):
        from auto_archiver_spark import queries as Q  # noqa: PLC0415

        self.ctx = ctx
        self.queries, self.oracle_sql = Q.QUERIES, Q.ORACLE
        self.data_dir = ctx.workdir("gate")
        self.counts: dict[str, int] = {}

    def build_inputs(self) -> dict:
        self.counts = write_tables(self.data_dir, self.ctx.seed, self.ctx.scale)
        return dict(self.counts)

    def warm_up(self):
        """The oracle pass: collects every query once and compares it with
        DuckDB, which also warms every query's code paths."""
        self.oracle = oracle_check(self.ctx.spark, self.data_dir, self.queries, self.oracle_sql)

    def operation(self, i: int) -> dict:
        per_query = {}
        t0 = time.monotonic()
        for name in HEADLINE:
            q0 = time.monotonic()
            with maybe_span(self.ctx.tracer, f"gate.{name}", "queries", op=i):
                self.queries[name](self.ctx.spark, self.data_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            per_query[name] = time.monotonic() - q0
        return {"wall": time.monotonic() - t0, "per_query": per_query}

    def checks(self, op: dict) -> list[tuple[str, bool, str]]:
        return [(f"oracle {q}", ok, detail) for q, (ok, _, detail) in self.oracle.items()]

    def discard(self, op: dict):
        pass

    def finish(self):
        pass

    def end_to_end(self, ops: list[dict]) -> dict:
        rows = sum(self.counts[QUERY_TABLE[q]] for q in HEADLINE)
        return {
            "wall_s": statistics.median(op["wall"] for op in ops),
            "items_per_s": statistics.median(rows / op["wall"] for op in ops),
            "step_p50_s": statistics.median(
                statistics.median(op["per_query"].values()) for op in ops
            ),
        }

    def layers(self, ops: list[dict], event_log: dict | None) -> dict:
        m = {}
        for q in HEADLINE:
            m[f"gate.{q}_s"] = statistics.median(op["per_query"][q] for op in ops)
            m[f"gate.{q}.rows"] = self.oracle[q][1]
        m["gate.sum_s"] = sum(m[f"gate.{q}_s"] for q in HEADLINE)
        return m
