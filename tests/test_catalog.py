"""catalog.load resolves a parquet file's schema once: the first read infers
it with a one-task footer job, later reads of the same file pass the cached
schema and start no job. A rewritten file is inferred again, and a missing
table fails the way ``spark.read.parquet`` does."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cudf_spark.catalog import load
from tests.conftest import SF_DIR


def _jobs_started(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the listener bus, which runs behind
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_starts_no_job(spark, tmp_path):
    # a copy under tmp_path is a file no earlier test has loaded
    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path)
    sf_dir = str(tmp_path)
    assert _jobs_started(spark, "catalog_first_load", lambda: load(spark, sf_dir, "region")) == 1
    assert _jobs_started(spark, "catalog_repeat_load", lambda: load(spark, sf_dir, "region")) == 0
    assert load(spark, sf_dir, "region").count() == load(spark, SF_DIR, "region").count()


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}), path
    )
    df = load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y"]


def test_missing_table_raises_like_spark(spark, tmp_path):
    missing = tmp_path / "missing"
    with pytest.raises(Exception) as direct:
        spark.read.parquet(str(missing / "region.parquet"))
    with pytest.raises(Exception) as via_load:
        load(spark, str(missing), "region")
    assert type(via_load.value) is type(direct.value)
    assert via_load.value.getCondition() == direct.value.getCondition() == "PATH_NOT_FOUND"
