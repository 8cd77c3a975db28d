"""read_sql/write_sql contract tests.

No JDBC driver jars ship in this environment, so the network path can't
execute; these tests pin the option-assembly and validation logic (the
part this layer owns — the wire protocol is Spark's JDBC source).
"""

import uuid

import pytest
from pyspark.sql import types as T

from etlutils_spark.sources.sql import (
    auto_fetchsize,
    estimate_row_bytes,
    ingest_to_parquet,
    read_sql,
)


def test_read_sql_requires_exactly_one_source(spark):
    with pytest.raises(ValueError, match="exactly one"):
        read_sql(spark, url="jdbc:x", query="select 1", table="t")
    with pytest.raises(ValueError, match="exactly one"):
        read_sql(spark, url="jdbc:x")
    with pytest.raises(ValueError, match="url"):
        read_sql(spark, query="select 1")


def test_read_sql_partition_column_requires_table(spark):
    with pytest.raises(ValueError, match="partition_column requires table"):
        read_sql(
            spark, url="jdbc:x", query="select 1",
            partition_column="id", lower_bound=0, upper_bound=10,
        )


def test_read_sql_builds_jdbc_plan(spark):
    # without a driver the load itself fails at connect-time; the
    # reader must still assemble a jdbc relation (i.e., our option
    # plumbing reaches Spark's JDBC source, not an earlier error).
    with pytest.raises(Exception) as exc:
        read_sql(
            spark,
            url="jdbc:postgresql://nowhere:5432/db",
            table="t",
            partition_column="id",
            lower_bound=0,
            upper_bound=100,
            num_partitions=4,
            custom_schema="id BIGINT",
            fetchsize=5000,
        ).count()
    assert "driver" in str(exc.value).lower() or "connect" in str(exc.value).lower()


def test_batch_bytes_fetchsize_arithmetic():
    """The reference's BATCHBYTES chunk sizing (R/ffsql.R:245-254):
    rows = budget // per-row bytes, floor 1 with a warning."""
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),       # 8
            T.StructField("b", T.IntegerType()),    # 4
            T.StructField("c", T.DoubleType()),     # 8
            T.StructField("d", T.StringType()),     # 20
            T.StructField("e", T.BooleanType()),    # 1
        ]
    )
    assert estimate_row_bytes(schema) == 41
    assert auto_fetchsize(schema, 41_000) == 1000
    assert auto_fetchsize(schema, 41) == 1
    assert auto_fetchsize(schema, 81) == 1  # floor division
    # decimal sized by precision; unknown/nested types take the flat slot
    dec = T.StructType(
        [
            T.StructField("v", T.DecimalType(38, 6)),         # 4 + 19 = 23
            T.StructField("arr", T.ArrayType(T.LongType())),  # 20
        ]
    )
    assert estimate_row_bytes(dec) == 43
    # one row larger than the whole budget: floor at 1 + warn
    with pytest.warns(UserWarning, match="smaller than the estimated size"):
        assert auto_fetchsize(schema, 3) == 1


def test_ingest_to_parquet_append_mirrors_ffdf_grow(spark, star, tmp_path):
    out = str(tmp_path / "ing")
    first = star["region"]
    ingest_to_parquet(first, out, mode="overwrite")
    ingest_to_parquet(first, out, mode="append")  # the x= append path
    assert spark.read.parquet(out).count() == 2 * first.count()


def test_ingest_verbose_schedules_no_extra_jobs(spark, star, tmp_path, capsys):
    """verbose=True must report rows/files/bytes from the write job's
    own metrics (Observation + SQL status store) — ZERO additional
    Spark jobs vs verbose=False, and in particular no re-scan of the
    just-written table (VERDICT.md r5 'What's wrong' #2)."""

    sc = spark.sparkContext

    def n_jobs(group, **kw):
        # jobs of this ingest's own job group only: late jobs of other
        # tests land in the app-wide status store and must not count
        sc.setJobGroup(group, group)
        try:
            ingest_to_parquet(df, str(tmp_path / group), mode="overwrite",
                              **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store fills from the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    df = star["region"]
    quiet_jobs = n_jobs(f"ingest-quiet-{uuid.uuid4().hex}")
    loud_jobs = n_jobs(f"ingest-loud-{uuid.uuid4().hex}", verbose=True)

    assert loud_jobs == quiet_jobs
    msg = capsys.readouterr().out
    assert "rows" in msg and "TOTAL=" in msg
    # the reported row count comes from the write-time Observation
    assert f"{df.count()} rows" in msg


def test_append_levels_freeze_and_growth(spark, tmp_path):
    """The reference's appendLevels contract (R/ffsql.R:257-266):
    growth is the per-column default; a frozen column rejects appends
    that would widen its dictionary (loudly, vs R's silent NA)."""
    from etlutils_spark.plans.checks import DomainError

    out = str(tmp_path / "lvls")
    base = spark.createDataFrame(
        [(1, "en"), (2, "de")], "doc_id long, lang string"
    )
    grown = spark.createDataFrame(
        [(3, "fr"), (4, None)], "doc_id long, lang string"
    )
    ingest_to_parquet(base, out, mode="overwrite")
    # default: dictionaries may grow (appendLevels=TRUE recycled)
    ingest_to_parquet(grown, out, mode="append")
    assert spark.read.parquet(out).count() == 4
    # frozen column: the new level is rejected before any write
    with pytest.raises(DomainError, match="frozen column 'lang'.*'zz'"):
        ingest_to_parquet(
            spark.createDataFrame([(5, "zz")], "doc_id long, lang string"),
            out, mode="append", append_levels={"lang": False},
        )
    assert spark.read.parquet(out).count() == 4  # nothing was written
    # frozen column with only known levels (and NULLs) appends fine
    ingest_to_parquet(
        spark.createDataFrame([(6, "fr"), (7, None)],
                              "doc_id long, lang string"),
        out, mode="append", append_levels={"lang": False},
    )
    assert spark.read.parquet(out).count() == 6
    # recycled-logical False freezes every shared string column
    with pytest.raises(DomainError, match="frozen column 'lang'"):
        ingest_to_parquet(
            spark.createDataFrame([(8, "xx")], "doc_id long, lang string"),
            out, mode="append", append_levels=False,
        )
    # naming a column absent from both frames is a caller bug
    from etlutils_spark.sources.sql import read_sql  # noqa: F401
    from etlutils_spark.sources.sql import _check_frozen_levels

    with pytest.raises(ValueError, match="absent"):
        _check_frozen_levels(base, base, {"nope": False})


def test_append_schema_drift_gate(spark, tmp_path):
    """Default append mirrors the reference's fixed-ffdf-schema
    contract (drift raises before any write); evolve_schema=True
    permits additive drift, visible to mergeSchema readers."""
    out = str(tmp_path / "drift")
    base = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    ingest_to_parquet(base, out, mode="overwrite")
    drifted = spark.createDataFrame(
        [(2, "b", "en")], "doc_id long, text string, lang string"
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        ingest_to_parquet(drifted, out, mode="append")
    assert spark.read.parquet(out).count() == 1  # nothing written
    ingest_to_parquet(drifted, out, mode="append", evolve_schema=True)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    assert merged.count() == 2
    rows = {r.doc_id: r for r in merged.collect()}
    assert rows[1].lang is None and rows[2].lang == "en"


def test_append_type_drift_always_raises(spark, tmp_path):
    out = str(tmp_path / "tdrift")
    ingest_to_parquet(
        spark.createDataFrame([(1,)], "doc_id long"), out, mode="overwrite"
    )
    bad = spark.createDataFrame([("x",)], "doc_id string")
    with pytest.raises(ValueError, match="type drift"):
        ingest_to_parquet(bad, out, mode="append")
    # not even evolve_schema permits a same-name type change
    with pytest.raises(ValueError, match="type drift"):
        ingest_to_parquet(bad, out, mode="append", evolve_schema=True)


def test_append_into_empty_directory_is_first_append(spark, tmp_path):
    """An existing-but-empty directory (orchestrator mkdir) is 'nothing
    stored yet': the append succeeds instead of failing schema probe."""
    out = tmp_path / "empty_dir"
    out.mkdir()
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    ingest_to_parquet(df, str(out), mode="append",
                      append_levels={"text": False})
    assert spark.read.parquet(str(out)).count() == 1
