"""Deterministic generator for the benchmark's input tables, and a
profiler that compares a documents table with the generated one.

Writes the three star-schema tables the workloads read (``customer
orders documents``) as one parquet file each,
``<out_dir>/<table>.parquet``, with the column names, types and value
domains of the package's sf-scaled test data. Row counts scale with
``sf`` (sf0.1: 15k customer, 150k orders, 5k documents). The output is
a pure function of ``(seed, sf)``.

The documents follow the package's sf0.1 test documents, measured with
``profile`` (figures side by side in ``perfbench/README.md``): 10 to 99
words drawn uniformly from a 30-word vocabulary, and 5% of the documents
replaced by a copy of another one with the token ``dup`` appended.

    python3 perfbench/datagen.py profile <documents.parquet> ...
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000


def _days(start: str, stop: str) -> tuple[int, int]:
    lo, hi = np.datetime64(start, "D"), np.datetime64(stop, "D")
    return int(lo.astype(np.int64)), int(hi.astype(np.int64))


def _dates(rng: np.random.Generator, n: int, start: str, stop: str) -> pa.Array:
    lo, hi = _days(start, stop)
    days = rng.integers(lo, hi + 1, n, dtype=np.int64)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def generate(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write every table under ``out_dir``; return the row count of each."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_docs = int(50_000 * sf)

    tables: dict[str, pa.Table] = {
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _keyed_names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "documents": _documents(rng, n_docs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    dups = rng.choice(n, n // 20, replace=False)
    for i in dups:
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def profile(path: str, base_share: float = 0.75) -> dict:
    """Figures of a documents table that decide the dedup workload's
    cost: text shape, and the candidate pairs, similar pairs and
    clusters of the registered ``dedup_clusters_incremental`` DuckDB
    oracle (its LSH banding and Jaccard verify). ``*_folded`` counts
    pairs with a doc at or past ``base_share`` of the ids, the docs the
    ``incremental_index`` workload folds into its base index."""
    import duckdb

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()["dedup_clusters_incremental"]
    # keep the oracle's CTE chain, replace its final SELECT
    ctes = re.split(r"\)\s*SELECT d\.doc_id", sql)[0] + ")"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    n, distinct, vocab, marked = con.execute(
        "SELECT count(*), count(DISTINCT text), "
        "(SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w "
        "FROM documents)), count(*) FILTER (WHERE text LIKE '% dup') FROM documents"
    ).fetchone()
    words = con.execute(
        "SELECT quantile_disc(len(string_split(text, ' ')), [0, 0.25, 0.5, 0.75, 1]) "
        "FROM documents").fetchone()[0]
    base = int(n * base_share)
    cand, cand_new, pairs, pairs_new = con.execute(
        f"{ctes} SELECT (SELECT count(*) FROM cand), "
        f"(SELECT count(*) FROM cand WHERE doc_id_2 >= {base}), "
        f"(SELECT count(*) FROM prs), (SELECT count(*) FROM prs WHERE pb >= {base})"
    ).fetchone()
    sizes = con.execute(
        f"SELECT count(*) AS k FROM ({sql}) GROUP BY cluster_id HAVING k > 1"
    ).fetchnumpy()["k"]
    con.close()
    return {
        "docs": n, "distinct_texts": distinct, "vocabulary": vocab,
        "words_min_q1_median_q3_max": [int(w) for w in words],
        "dup_marked_docs": marked, "candidate_pairs": cand,
        "candidate_pairs_folded": cand_new, "similar_pairs": pairs,
        "similar_pairs_folded": pairs_new, "clusters": len(sizes),
        "clustered_docs": int(sizes.sum()), "largest_cluster": int(sizes.max(initial=0)),
    }


if __name__ == "__main__":
    if sys.argv[1:2] != ["profile"] or len(sys.argv) < 3:
        sys.exit(f"usage: {sys.argv[0]} profile <documents.parquet> ...")
    for p in sys.argv[2:]:
        print(json.dumps({"path": p, **profile(p)}))
