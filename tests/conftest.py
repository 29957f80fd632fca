import os
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_analyse_marche_emploi_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "posix_only: txlog test that requires the on-disk POSIX log "
        "store (custom racing store or cross-process DSv2 handles)",
    )
    config.addinivalue_line(
        "markers",
        "slow: long-running sweep/stress test (multi-SF sweeps, "
        "many-commit histories, exhaustive fuzz corpora). Skipped by "
        "default so the full suite fits a CI verify window; opt in "
        "with --run-slow or SPARK_GRAFT_RUN_SLOW=1. Every slow test "
        "has a fast sibling keeping the code path covered by default.",
    )


def pytest_addoption(parser):
    parser.addoption(
        "--run-slow",
        action="store_true",
        default=False,
        help="also run tests marked @pytest.mark.slow",
    )


# test_txlog.py triplicates EVERY test across the three injected
# store seams (posix / cas / memfs) via an autouse fixture — ~2/3 of
# that file's 21-minute runtime re-proves table logic that is
# byte-identical across stores. By default only the [posix] variant
# runs, EXCEPT for the tests below, whose subject IS the store
# primitive (publish_exclusive atomicity, conditional put, racing
# commits, FileStore put/mtime/listing semantics, vacuum's store-side
# guards): those keep all three variants fast. --run-slow /
# SPARK_GRAFT_RUN_SLOW=1 restores the full matrix (CI's long lane).
_STORE_SEAM_TESTS = {
    "test_create_append_read",          # cross-store smoke
    "test_filestore_put_consumes_source",
    "test_cas_store_publish_is_conditional_put",
    "test_concurrent_commit_collision_raises",
    "test_commit_race_inside_publish_window",
    "test_append_auto_rebases_on_lost_race",
    "test_dv_ops_fail_loud_on_commit_race",
    "test_vacuum_keeps_retained_versions_readable",
    "test_vacuum_dry_run_deletes_nothing",
    "test_vacuum_min_age_spares_inflight_writer_parts",
    "test_vacuum_refuses_to_strand_registered_stream",
}


def pytest_collection_modifyitems(config, items):
    if config.getoption("--run-slow") or os.environ.get(
        "SPARK_GRAFT_RUN_SLOW"
    ):
        return
    skip_slow = pytest.mark.skip(
        reason="slow: opt in with --run-slow or SPARK_GRAFT_RUN_SLOW=1"
    )
    skip_variant = pytest.mark.skip(
        reason="slow store-matrix variant ([posix] runs by default): "
        "opt in with --run-slow or SPARK_GRAFT_RUN_SLOW=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip_slow)
            continue
        if item.fspath.basename == "test_txlog.py" and item.name.endswith(
            ("[cas]", "[memfs]")
        ):
            base = item.name.split("[", 1)[0]
            if base not in _STORE_SEAM_TESTS:
                item.add_marker(skip_variant)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def jobs_in_group(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted under a fresh job group.
    A one-job sentinel closes the group: listener events arrive in
    order, so once the sentinel is visible every earlier job is too."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return len(ids) - 1
