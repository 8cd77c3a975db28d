"""The benchmark's workloads.

Each workload has a set-up step that is repeated (``prepare``), an
untimed warm-up, and a run made of operations. Every operation runs
under its own job group (``tracing.Recorder.operation``) and every call
into the package inside it is a phase span tagged with its layer. Output
checks run after the operation's span has closed, so they are outside
the timed region and outside its job group.

``etl_roundtrip``: JDBC read of an ``orders`` slice and of ``customer``
from an embedded Derby database, ``matchmerge`` left-outer lookup join,
``recode_column``, ``ingest_to_parquet`` and ``write_sql`` back to
Derby. ``incremental_index``: ``extend_dedup_index`` folds seeded
batches of ``documents`` into a copy of a base index built on the first
three quarters of the corpus.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from etlutils_spark.operators.dedup import build_dedup_index, extend_dedup_index
from etlutils_spark.operators.matchmerge import matchmerge
from etlutils_spark.operators.recode import recode_column
from etlutils_spark.sources.files import read_table
from etlutils_spark.sources.sql import ingest_to_parquet, read_sql, write_sql

import datagen

WRITERS = 4  # JDBC cursors and writers; equals the local[4] core count
CODES = [s[:4] for s in datagen.SEGMENTS]  # recode_column's target values


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """Shared shape: ``prepare`` (repeated set-up step), ``warm_up`` (one
    untimed operation; the set-up steps have already warmed most of the
    JIT and Spark's codegen caches), ``run`` (a list of operation
    records), and per operation ``operation`` (timed) and ``check_op``
    (untimed)."""

    name = ""

    def __init__(self, spark, rec, data_dir: str, work_dir: str, seed: int):
        self.spark, self.rec = spark, rec
        self.data_dir, self.work_dir = data_dir, work_dir
        self.rng = np.random.default_rng(seed)

    def _op(self, run_span, traced: bool, **kw) -> dict:
        """Run one operation; return its record (span, units of work,
        and whether it and its output check succeeded)."""
        rec = {"units": 0, "ok": False, "error": None, "untimed_s": 0.0}
        try:
            with self.rec.operation(self.op_name, run_span) as op:
                rec["span"] = op
                result = self.operation(op, traced, **kw)
            # the full collection and the check stay out of the run's time
            t0 = time.perf_counter()
            try:
                rec["retained_heap_mb"] = self.rec.retained_heap_mb()
                rec["ok"], rec["units"], rec["error"], extra = self.check_op(result, **kw)
                rec.update(extra)
            finally:
                rec["untimed_s"] = time.perf_counter() - t0
        except Exception as exc:  # an operation failure is a counted result
            traceback.print_exc()
            rec["error"] = f"{type(exc).__name__}: {exc}"
        return rec


class EtlRoundtrip(Workload):
    name = "etl_roundtrip"
    op_name = "etl_op"
    ops_per_run = 3
    slice_frac = 0.5  # share of orders one operation reads

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.url = f"jdbc:derby:{self.work_dir}/derby/db;create=true"
        orders = pq.read_table(
            os.path.join(self.data_dir, "orders.parquet"),
            columns=["o_orderkey", "o_custkey", "o_totalprice"],
        )
        segment = pq.read_table(
            os.path.join(self.data_dir, "customer.parquet"), columns=["c_mktsegment"],
        )["c_mktsegment"].to_numpy(zero_copy_only=False)
        self.keys = orders["o_orderkey"].to_numpy()
        self.cents = np.floor(orders["o_totalprice"].to_numpy() * 100 + 0.5).astype(np.int64)
        # the recoded segment of each order's customer (c_custkey is the
        # customer's row number), as an index into CODES
        self.code_idx = np.searchsorted(datagen.SEGMENTS, segment)[orders["o_custkey"].to_numpy()]
        self.width = int(len(self.keys) * self.slice_frac)
        self.sink = os.path.join(self.work_dir, "sink.parquet")
        self.suffix = None

    def prepare(self, i: int) -> None:
        """Seed Derby with ``orders`` and ``customer`` (fresh tables)."""
        for t in ("orders", "customer"):
            write_sql(read_table(self.spark, t, self.data_dir), self.url,
                      f"{t.upper()}{i}", mode="overwrite", num_partitions=WRITERS)
        self.suffix = i

    def warm_up(self) -> dict:
        """One operation on an eighth of a slice: every call's code path,
        at a fraction of an operation's time."""
        return self._op(None, False, lo=0, hi=self.width // 8)

    def run(self, run_span, traced: bool) -> list[dict]:
        offsets = self.rng.integers(0, len(self.keys) - self.width + 1, self.ops_per_run)
        return [self._op(run_span, traced, lo=int(o), hi=int(o) + self.width)
                for o in offsets]

    def operation(self, op, traced: bool, lo: int, hi: int) -> dict:
        rec, spark = self.rec, self.spark
        orders_t, cust_t = f"ORDERS{self.suffix}", f"CUSTOMER{self.suffix}"
        with rec.phase(op, "construct", "read_sql"):
            orders = read_sql(
                spark, self.url,
                table=(f'(SELECT * FROM {orders_t} WHERE "o_orderkey" >= {lo} '
                       f'AND "o_orderkey" < {hi}) AS s'),
                partition_column="o_orderkey", lower_bound=lo, upper_bound=hi,
                num_partitions=WRITERS,
            )
            customer = read_sql(spark, self.url, table=cust_t)
        with rec.phase(op, "construct", "matchmerge"):
            joined = matchmerge(orders, customer, by_x="o_custkey", by_y="c_custkey",
                                all_x=True, add_columns=["c_name", "c_mktsegment"])
        with rec.phase(op, "construct", "recode_column"):
            out = recode_column(joined, "c_mktsegment", datagen.SEGMENTS, CODES)
        if traced:
            with rec.phase(op, "plan", "executedPlan"):
                out._jdf.queryExecution().executedPlan()
        with rec.phase(op, "exec", "ingest_to_parquet"):
            ingest_to_parquet(out, self.sink, mode="overwrite")
        with rec.phase(op, "exec", "write_sql"):
            write_sql(out, self.url, "EXPORT", mode="overwrite", num_partitions=WRITERS)
        return {}

    def check_op(self, result: dict, lo: int, hi: int):
        """Parquet sink and exported table both equal the source slice:
        row count, key set (count, distinct count, min and max of a dense
        key range), ``o_totalprice`` sum in whole cents, the number of
        rows whose looked-up ``c_name`` is their ``o_custkey``'s
        customer, and the row count of each recoded segment."""
        n = hi - lo
        want = (n, n, lo, hi - 1, int(self.cents[lo:hi].sum()), n)
        want_codes = {c: int(k) for c, k in zip(
            CODES, np.bincount(self.code_idx[lo:hi], minlength=len(CODES))) if k}
        sink = pq.read_table(self.sink, columns=[
            "o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment"]).to_pandas()
        k = sink["o_orderkey"].to_numpy()
        named = sink["c_name"] == "Customer#" + sink["o_custkey"].astype(str).str.zfill(9)
        got_pq = (len(k), len(np.unique(k)), int(k.min()), int(k.max()),
                  int(np.floor(sink["o_totalprice"].to_numpy() * 100 + 0.5)
                      .astype(np.int64).sum()), int(named.sum()))
        codes_pq = sink["c_mktsegment"].value_counts().to_dict()
        # Spark's Derby dialect stores strings as CLOB, which Derby can
        # neither compare nor group by: cast to VARCHAR first
        name = 'CAST("c_name" AS VARCHAR(32))'
        (got_db,) = self._derby_rows(
            'SELECT COUNT(*), COUNT(DISTINCT "o_orderkey"), MIN("o_orderkey"), '
            'MAX("o_orderkey"), SUM(CAST("o_totalprice" * 100 + 0.5 AS BIGINT)), '
            f"SUM(CASE WHEN LENGTH({name}) = 18 AND SUBSTR({name}, 1, 9) = 'Customer#' "
            f'AND CAST(SUBSTR({name}, 10) AS BIGINT) = "o_custkey" THEN 1 ELSE 0 END) '
            "FROM EXPORT")
        seg = 'CAST("c_mktsegment" AS VARCHAR(16))'
        codes_db = dict(self._derby_rows(
            f"SELECT {seg}, COUNT(*) FROM EXPORT GROUP BY {seg}"))
        ok = (got_pq == want and got_db == want
              and codes_pq == want_codes and codes_db == want_codes)
        err = None if ok else (f"want {want} {want_codes}, parquet {got_pq} {codes_pq}, "
                               f"derby {got_db} {codes_db}")
        extra = {"parquet_bytes_written": dir_bytes(self.sink)}
        return ok, 2 * n if ok else 0, err, extra

    def _derby_rows(self, sql: str) -> list[tuple]:
        """The rows of ``sql`` from Derby over a plain JDBC connection in
        the driver JVM (no Spark job)."""
        jvm = self.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            rs = conn.createStatement().executeQuery(sql)
            ncols = rs.getMetaData().getColumnCount()
            rows = []
            while rs.next():
                rows.append(tuple(rs.getObject(i + 1) for i in range(ncols)))
            return rows
        finally:
            conn.close()


class IncrementalIndex(Workload):
    name = "incremental_index"
    op_name = "extend_batch"
    # A run folds the last quarter of the corpus in two batches of about
    # 625 docs at sf0.1; every run folds the whole corpus, so its last
    # batch can be checked against the oracle, and a run stays short
    # enough for the time budget on a contended host.
    base_share = 0.75
    batches = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.docs = read_table(self.spark, "documents", self.data_dir)
        self.n_docs = pq.ParquetFile(
            os.path.join(self.data_dir, "documents.parquet")).metadata.num_rows
        self.n_base = int(self.n_docs * self.base_share)
        self.base = None
        self.runs = 0

    def prepare(self, i: int) -> None:
        """Build the base index on the first ``base_share`` of the corpus."""
        path = os.path.join(self.work_dir, f"base{i}")
        build_dedup_index(self.docs.filter(f"doc_id < {self.n_base}"), path)
        self.base = path

    def _fresh_copy(self) -> str:
        self.runs += 1
        path = os.path.join(self.work_dir, f"index{self.runs}")
        shutil.copytree(self.base, path)
        return path

    def _cuts(self, rng) -> list[int]:
        """Cut points of ``batches`` contiguous batches over the docs
        the base index lacks, each size jittered by up to a tenth."""
        size = (self.n_docs - self.n_base) // self.batches
        jitter = rng.integers(-size // 10, size // 10 + 1, self.batches - 1)
        return [self.n_base, *(self.n_base + size * (b + 1) + int(j)
                            for b, j in enumerate(jitter)), self.n_docs]

    def warm_up(self) -> dict:
        """Fold the first batch of a fixed split into a fresh copy."""
        lo, hi = self._cuts(np.random.default_rng(0))[:2]
        return self._op(None, False, path=self._fresh_copy(), lo=lo, hi=hi)

    def run(self, run_span, traced: bool) -> list[dict]:
        """Copy the base index and fold the rest of the corpus in seeded
        batches."""
        path, cuts = self._fresh_copy(), self._cuts(self.rng)
        return [self._op(run_span, traced, path=path, lo=lo, hi=hi)
                for lo, hi in zip(cuts, cuts[1:])]

    def operation(self, op, traced: bool, path: str, lo: int, hi: int) -> dict:
        rec = self.rec
        with rec.phase(op, "construct", "extend_dedup_index"):
            labels = extend_dedup_index(
                path, self.docs.filter(f"doc_id >= {lo} AND doc_id < {hi}"))
        if traced:
            with rec.phase(op, "plan", "executedPlan"):
                labels._jdf.queryExecution().executedPlan()
        with rec.phase(op, "exec", "labels.noop"):
            labels.write.format("noop").mode("overwrite").save()
        return {"labels": labels}

    def check_op(self, result: dict, path: str, lo: int, hi: int):
        """Every doc folded so far is labelled exactly once. The last
        batch of a run is checked against the registered oracle."""
        labels = result["labels"].toPandas()
        ok = len(labels) == hi and labels["doc_id"].nunique() == hi
        err = None if ok else f"{len(labels)} label rows for {hi} docs"
        if ok and hi == self.n_docs:
            errs = self.oracle_errors(labels)
            ok, err = not errs, "; ".join(errs) or None
        extra = {"index_bytes_per_doc": dir_bytes(path) / hi}
        return ok, (hi - lo) if ok else 0, err, extra

    def oracle_errors(self, labels) -> list[str]:
        """Compare with ``dedup_clusters_incremental``'s DuckDB oracle
        over the full corpus. The oracle depends only on its SQL text and
        the generated documents, so its answer is kept in a content-keyed
        cache next to the benchmark (the recursive closure takes ~15 s)."""
        import duckdb
        import pandas as pd

        import __spark_entry__
        from tools.check_oracle import compare

        sql = __spark_entry__.oracle_sql()["dedup_clusters_incremental"]
        src = os.path.join(self.data_dir, "documents.parquet")
        h = hashlib.sha256(sql.encode())
        with open(src, "rb") as fh:
            h.update(fh.read())
        cache_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
        cached = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:24]}.parquet")
        if os.path.exists(cached):
            want = pd.read_parquet(cached)
        else:
            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
            want = con.execute(sql).df()
            con.close()
            os.makedirs(cache_dir, exist_ok=True)
            tmp = f"{cached}.{os.getpid()}"
            want.to_parquet(tmp)
            os.replace(tmp, cached)
        return compare("dedup_clusters_incremental", labels, want)


WORKLOADS = {w.name: w for w in (EtlRoundtrip, IncrementalIndex)}
