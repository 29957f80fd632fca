"""The declared fixture schemas (tables.SCHEMAS) are what Spark would
infer from the parquet footers, so ``load_table`` can skip the
inference job. A fixture whose footer drifts from its declaration fails
here instead of reading nulls for a renamed or retyped column."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_analyse_marche_emploi_spark import tables
from data_analyse_marche_emploi_spark.streaming import incremental as S
from tests.conftest import SF_SMOKE, jobs_in_group

SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf*")))

# ns since epoch, two of them with a sub-microsecond remainder
NANOS = [
    1_704_067_207_179_575_123,
    1_704_067_207_179_575_999,
    1_704_153_600_000_000_000,
]
# the same instants floored to micros, rendered in the UTC session
MICROS = [
    "2024-01-01 00:00:07.179575",
    "2024-01-01 00:00:07.179575",
    "2024-01-02 00:00:00",
]


@pytest.fixture(scope="module")
def nanos_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nanos_events")
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(NANOS, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["view", "click", "view"],
            "value": [1.0, 2.5, 4.0],
            "props": ["{}", "{}", "{}"],
        }),
        str(d / "events.parquet"),
    )
    return str(d)


@pytest.mark.parametrize("name", tables.TABLES)
@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schema_equals_footer(spark, sf_dir, name):
    inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
    assert tables.load_table(spark, sf_dir, name).schema == inferred


def test_load_table_runs_no_spark_job(spark, nanos_dir):
    def load_all():
        for sf_dir in SF_DIRS:
            for name in tables.TABLES:
                tables.load_table(spark, sf_dir, name)
        tables.load_table(spark, nanos_dir, "events")

    assert jobs_in_group(spark, load_all) == 0
    # the counter does see a schema-inference scan
    fixture = os.path.join(nanos_dir, "events.parquet")
    assert jobs_in_group(spark, lambda: spark.read.parquet(fixture)) >= 1


def _ts_strings(df) -> list[str]:
    rows = df.orderBy("event_id").select(F.col("ts").cast("string")).collect()
    return [r[0] for r in rows]


def test_nanos_events_floor_to_micros(spark, nanos_dir):
    df = tables.load_table(spark, nanos_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert _ts_strings(df) == MICROS


def test_nanos_events_stream_matches_batch(spark, nanos_dir):
    out = S.run_available_now(S.read_events_stream(spark, nanos_dir), "append")
    assert _ts_strings(out) == MICROS
