import os
import sys
from pathlib import Path

import pytest

from ctcityscraper_spark.session import get_spark

# Python workers (mapInPandas etc.) import test modules by name when
# cloudpickle serializes test-defined functions by reference — make the
# tests dir and repo root importable in workers before the JVM starts.
_TESTS_DIR = str(Path(__file__).resolve().parent)
_REPO_DIR = str(Path(__file__).resolve().parent.parent)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_TESTS_DIR, _REPO_DIR, os.environ.get("PYTHONPATH", "")]
)
sys.path.insert(0, _TESTS_DIR)
# The session's default 48g driver heap lets the JVM grow past a small
# box's RAM until the OOM killer takes it mid-suite; cap it unless the
# environment says otherwise (read once, when the first JVM starts).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")


# --- the `fast` tier (r15 VERDICT item 1) ---------------------------------
# A <10-min driver-confirmable gate: every pinning/plan/operator-contract
# module plus a deterministic ~30-query stratified slice of the DuckDB
# oracle gate. Run with `pytest -m fast`; the full suite (no -m) remains
# the complete gate. Markers are assigned centrally here so the tier
# stays in sync as files come and go.
_FAST_MODULES = {
    "test_functions",
    "test_physical_plans",
    "test_extension_plans",
    "test_bench",
    "test_artifacts",
    "test_scd2",
    "test_tables",
    "test_r15_restructures",  # r15's restructured queries at sf0.01
}
_ORACLE_SLICE_STRIDE = 5  # ~154/5 ≈ 31 queries, alphabet-stratified


def pytest_collection_modifyitems(config, items):
    from ctcityscraper_spark.plans.queries import QUERIES

    oracle_names = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
    oracle_slice = set(oracle_names[::_ORACLE_SLICE_STRIDE])
    for item in items:
        module = item.module.__name__.rsplit(".", 1)[-1]
        if module in _FAST_MODULES:
            item.add_marker(pytest.mark.fast)
        elif (
            module == "test_queries_oracle"
            and item.originalname == "test_query_matches_oracle"
            and item.callspec.params.get("name") in oracle_slice
        ):
            item.add_marker(pytest.mark.fast)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ctcityscraper_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s


def _run_with_oracle(q, spark, data_dir, con):
    """``(spark_pdf, oracle_pdf)`` for one catalog query. The two engines
    overlap: both release the GIL (Spark in the JVM, DuckDB in its own
    thread pool), so a test costs the slower side, not the sum; the shared
    connection serves one statement at a time (only this test's). A query
    whose oracle replays a sidecar the Spark side WRITES during this very
    run (``read_json(`` in the oracle) keeps the load-bearing
    Spark-then-oracle order."""
    from concurrent.futures import ThreadPoolExecutor

    if "read_json(" in q.oracle:
        spark_pdf = q.fn(spark, data_dir).toPandas()
        return spark_pdf, con.execute(q.oracle).df()
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_spark = pool.submit(lambda: q.fn(spark, data_dir).toPandas())
        f_oracle = pool.submit(lambda: con.execute(q.oracle).df())
        return f_spark.result(), f_oracle.result()


@pytest.fixture(scope="session")
def run_with_oracle():
    """The one place the oracle modules decide Spark/DuckDB run order."""
    return _run_with_oracle


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids of every RDD persisted in the SparkContext — cached frames and
    checkpoints alike, whoever created them."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


@pytest.fixture(scope="session")
def persistent_rdd_ids():
    """Leak probe: diff it around a run to find blocks left persisted."""
    return _persistent_rdd_ids


@pytest.fixture()
def tmp_store(spark, tmp_path):
    from ctcityscraper_spark.sources.store import ParquetStore

    return ParquetStore(spark, tmp_path, "newhaven")
