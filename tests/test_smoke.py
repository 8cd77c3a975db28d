"""Phase-0 smoke: session boots, star schema loads, SQL surface works."""

import os

from etlutils_spark.sources.files import TABLES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_star_loads(star):
    assert set(star) == set(TABLES)
    assert star["lineitem"].count() > 0
    assert star["region"].count() == 5


def test_sql_surface(spark, star):
    n = spark.sql("select count(*) as n from lineitem join orders on l_orderkey = o_orderkey").first()["n"]
    assert n == star["lineitem"].count()  # every lineitem has an order


def test_session_utc(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_registry_order_prioritizes_unverified():
    """The grading driver checks a fixed-size prefix of queries() in
    order. Queries never verified in a prior round's CORRECTNESS file
    must come first so each round extends cumulative verified coverage
    (VERDICT.md r2 'Next round' #1)."""
    import sys

    sys.path.insert(0, ROOT)
    import __spark_entry__ as e

    names = list(e.queries())
    assert set(names) == set(e.REGISTRY)
    n_unchecked = sum(
        1 for n in names if n not in e._DRIVER_VERIFIED_PRIOR_ROUNDS
    )
    # every unverified query precedes every verified one
    assert all(
        n not in e._DRIVER_VERIFIED_PRIOR_ROUNDS for n in names[:n_unchecked]
    )
    assert all(
        n in e._DRIVER_VERIFIED_PRIOR_ROUNDS for n in names[n_unchecked:]
    )
    # After r3 the whole registry has cumulative green rows, so the
    # unchecked prefix holds only queries added or re-registered this
    # round — its SIZE is expected to be small; the ordering asserts
    # above are the invariant.
    assert list(e.oracle_sql()) == [n for n in names if e.REGISTRY[n][1] is not None]
    # freshness rotation (r6+): verified queries sort stalest-first by
    # last green driver round, so the ~50-query window re-verifies the
    # oldest rows and staleness is bounded across rounds
    rounds = [
        e._LAST_DRIVER_CHECK[n] for n in names[n_unchecked:]
    ]
    assert rounds == sorted(rounds)
    # ledger hygiene: every ledger entry names a live registered query
    # (no stale rows for renamed/deleted queries keeping phantom slots
    # in the rotation) ...
    assert set(e._LAST_DRIVER_CHECK) <= set(names)
    assert set(e._CHANGED_THIS_ROUND) <= set(names)
    # ... and the unchecked prefix holds EXACTLY the brand-new and
    # changed-this-round queries — a query absent from the ledger for
    # any other reason (accidental deletion of its row) would surface
    # here as an unexpected tier-0 member
    tier0 = set(names[:n_unchecked])
    expected_tier0 = {
        n for n in names
        if n not in e._LAST_DRIVER_CHECK or n in e._CHANGED_THIS_ROUND
    }
    assert tier0 == expected_tier0


def test_ledger_matches_committed_correctness_files():
    """The freshness ledger must be regenerated each round from the
    committed CORRECTNESS_r0*.json files (VERDICT.md r6 'Next round'
    #2): each entry is the max round with a fully-green driver row for
    that query. A stale ledger silently mis-prioritizes the driver's
    ~50-query verification window."""
    import sys

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__ as e
    from gen_ledger import green_rows

    derived = {n: r for n, r in green_rows().items() if n in e.REGISTRY}
    assert e._LAST_DRIVER_CHECK == derived


def test_queries_run_in_foreign_session():
    """Driver-contract robustness: Python-UDF queries must work in a
    session the package did NOT build (the grading driver constructs
    its own SparkSession, with no PYTHONPATH export to workers). The
    package ships itself via addPyFile on first _t(); regression:
    multimodal_features died with ModuleNotFoundError in workers."""
    import subprocess
    import sys

    code = """
import sys; sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.memory", "2g")
         .config("spark.sql.shuffle.partitions", "4")
         .appName("foreign").getOrCreate())
import __spark_entry__ as e
qs = e.queries()
for name in ["multimodal_features", "cogroup_asof_enrich"]:
    assert qs[name](spark, "/root/testdata/sf0.001").count() > 0, name
print("FOREIGN_OK")
spark.stop()
""".format(root=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=300, cwd="/tmp",
    )
    assert "FOREIGN_OK" in out.stdout, out.stderr[-2000:]


def test_gen_ledger_apply_is_idempotent_and_newline_stable():
    """tools/gen_ledger.py --apply must be a fixed point: applying the
    derived ledger to a file that already carries it leaves the file
    BYTE-identical (an earlier version appended one blank line per
    round — review catch), and the block it writes matches render()."""
    import os
    import shutil
    import sys
    import tempfile

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_ledger

    with tempfile.TemporaryDirectory() as td:
        entry_copy = os.path.join(td, "__spark_entry__.py")
        shutil.copy(os.path.join(ROOT, "__spark_entry__.py"), entry_copy)
        block = gen_ledger.render(gen_ledger.green_rows())

        before = open(entry_copy).read()
        # the REAL apply(), pointed at the temp copy — a local
        # re-implementation here would let a regression in apply()
        # itself (e.g. the \n} index arithmetic) pass unseen (review
        # catch)
        gen_ledger.apply(block, path=entry_copy)
        once = open(entry_copy).read()
        gen_ledger.apply(block, path=entry_copy)
        twice = open(entry_copy).read()
        assert once == twice  # fixed point: no growth round-over-round
        assert once == before  # committed file already carries it


def test_api_docs_in_sync():
    """docs/api/ is generated from the package docstrings by
    tools/gen_api_docs.py (VERDICT r12 next #7); this runs the tool's
    own ``--check`` comparison, so a public surface changed (e.g. a
    removed parameter) without regenerating fails here — run
    `python tools/gen_api_docs.py` and commit."""
    import sys

    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from gen_api_docs import drift, generate

    assert drift(generate()) == [], (
        "docs/api out of sync — run `python tools/gen_api_docs.py`"
    )
