"""Differential tests: every oracle-checkable catalog query must
hash-match its DuckDB oracle — the same contract the driver enforces at
sf0.01 (run here at sf0.001 for speed; set SPARK_GRAFT_TEST_SF to rerun
at a bigger scale factor)."""

from __future__ import annotations

import pytest

from nyc_tlc_analytics_pipeline_spark.plans.catalog import QUERIES

from .conftest import SF_SMOKE, assert_matches_oracle

from .conftest import FULL_SUITE

ORACLE_QUERIES = sorted(QUERIES)
if not FULL_SUITE:
    # default tier (see conftest tiering note): every headline query +
    # a deterministic 1-in-2 of the rest by sorted name (~100 of 187).
    # SPARK_GRAFT_TEST_FULL=1 checks the whole catalog; the full
    # catalog is also swept vs the oracle by scripts/sweep.py each
    # round, and the driver's own CORRECTNESS gate samples 50 queries
    # at sf0.01 independently of pytest.
    ORACLE_QUERIES = sorted(
        {n for n in ORACLE_QUERIES if QUERIES[n].headline}
        | set(ORACLE_QUERIES[::2])
    )

# Pipeline the parity suite (guide §2.6 — overlap independent jobs;
# VERDICT r14 item 2): while test N compares/runs DuckDB, test N+1's
# Spark execution is already in flight on a driver thread.  Every test
# still fully executes its own query and runs the unchanged comparator —
# the prefetch only moves WHEN the Spark work happens, never whether.
# One thread of lookahead: enough to hide the compare/oracle phase,
# bounded memory (collected frames are report-sized).
_PREFETCH: dict[str, object] = {}
_PREFETCH_POOL = None


def _spark_fetch(df):
    """The comparator's two Spark fetches (arrow toPandas + py4j
    collect), run as concurrent jobs exactly like assert_matches_oracle
    does inline."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_pdf = pool.submit(df.toPandas)
        f_nat = pool.submit(lambda: [tuple(r) for r in df.collect()])
        return f_pdf.result(), f_nat.result()


def _prefetch(spark, name):
    """Schedule (build + execute) for `name` if not already in flight."""
    global _PREFETCH_POOL
    if name in _PREFETCH:
        return
    if _PREFETCH_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _PREFETCH_POOL = ThreadPoolExecutor(max_workers=1)

    def work():
        df = QUERIES[name].build(spark, SF_SMOKE)
        return df, _spark_fetch(df)

    _PREFETCH[name] = _PREFETCH_POOL.submit(work)


@pytest.fixture(scope="module", autouse=True)
def _drain_prefetch(spark):
    """Stop the prefetch thread before the session's SparkSession stops:
    the lookahead query scheduled by the last test would otherwise still
    be running against a stopped context."""
    global _PREFETCH_POOL
    yield
    if _PREFETCH_POOL is not None:
        _PREFETCH_POOL.shutdown(wait=True, cancel_futures=True)
        _PREFETCH_POOL = None
    _PREFETCH.clear()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, duck_smoke, name):
    spec = QUERIES[name]
    _prefetch(spark, name)
    try:
        idx = ORACLE_QUERIES.index(name)
        if idx + 1 < len(ORACLE_QUERIES):
            _prefetch(spark, ORACLE_QUERIES[idx + 1])
    except ValueError:
        pass
    df, (spark_pdf, spark_native) = _PREFETCH.pop(name).result()
    assert_matches_oracle(
        df,
        duck_smoke,
        spec.oracle,
        name=name,
        spark_prefetched=(spark_pdf, spark_native),
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    oracles = e.oracle_sql()
    assert set(oracles) == set(e.queries())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
