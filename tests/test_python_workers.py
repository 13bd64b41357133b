"""Python workers run only where Python does work, and pay only for it.

Driver-local frames (the empty lineage frame, the all-buckets frame of
lineage_metrics, run_curation's stage rows) must be JVM relations: a
`createDataFrame(<python list>)` frame is a LogicalRDD whose every
action starts Python-worker tasks. And inside a worker, the per-task
`importlib.invalidate_caches()` must not re-read unchanged zip archives
(functions/worker_zipcache.py).
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark import TaskContext
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark.plans.pipeline import BUCKET_COL, lineage_metrics
from pii_redaction_data_pipeline_spark.sources.lineage import LINEAGE_SCHEMA, LineageStore


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_fresh_lineage_completed_buckets_starts_no_job(spark, tmp_path):
    sc = spark.sparkContext
    group = "test-fresh-lineage-no-job"
    sc.setJobGroup(group, "completed_buckets on a missing path")
    try:
        assert LineageStore(spark, str(tmp_path / "missing")).completed_buckets("r") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_missing_lineage_read_is_a_jvm_relation(spark, tmp_path):
    df = LineageStore(spark, str(tmp_path / "missing")).read()
    assert df.schema == LINEAGE_SCHEMA
    assert "LogicalRDD" not in _optimized_plan(df)
    assert df.collect() == []


def test_lineage_metrics_all_buckets_is_a_jvm_relation(spark):
    # buckets 0 and 2 hold rows, 5 is covered but empty
    annotated = spark.range(6).select(
        (F.col("id") % 3).cast("int").alias(BUCKET_COL),
        (F.col("id") < 4).alias("keep"),
        F.array().cast("array<string>").alias("drop_reasons"),
        F.create_map().cast("map<string,int>").alias("scrub_counts"),
    ).filter(F.col(BUCKET_COL) != 1)
    df = lineage_metrics(annotated, "r", buckets=[0, 2, 5])
    assert "LogicalRDD" not in _optimized_plan(df)
    got = {r.partition_id: (r.rows_in, r.rows_out) for r in df.collect()}
    assert got == {"0": (2, 2), "2": (2, 1), "5": (0, 0)}


def test_curation_stage_row_is_a_jvm_relation(spark, tmp_path, monkeypatch):
    import __spark_entry__ as E
    from pii_redaction_data_pipeline_spark.plans.curate import run_curation

    appended = []
    append = LineageStore.append

    def recording_append(self, df):
        appended.append(df)
        append(self, df)

    monkeypatch.setattr(LineageStore, "append", recording_append)
    with pytest.raises(RuntimeError, match="after stage annotate"):
        run_curation(
            spark, f"{E._tinydup_dir()}/transcripts.parquet", str(tmp_path / "w"),
            run_id="jvm-rows", fail_after_stage="annotate",
        )
    stage_rows = [
        df for df in appended
        if [r.partition_id for r in df.select("partition_id").collect()]
        == ["stage:annotate"]
    ]
    assert len(stage_rows) == 1
    assert stage_rows[0].schema == LINEAGE_SCHEMA
    for df in appended:
        assert "LogicalRDD" not in _optimized_plan(df)


# --- worker_zipcache, in-process ---------------------------------------


@pytest.fixture
def shim(monkeypatch):
    """The wrapper installed as inside a worker (a task context set
    only while installing), removed again on teardown."""
    from pii_redaction_data_pipeline_spark.functions import worker_zipcache

    with monkeypatch.context() as m:
        m.setattr(TaskContext, "get", classmethod(lambda cls: object()))
        assert worker_zipcache.install()
    yield worker_zipcache
    worker_zipcache.uninstall()


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on sys.path holding `zc_mod_a`; `write(names)`
    rewrites it with one module per name."""
    path = str(tmp_path / "mods.zip")

    def write(names):
        with zipfile.ZipFile(path, "w") as z:
            for n in names:
                z.writestr(f"{n}.py", f"NAME = {n!r}\n")

    write(["zc_mod_a"])
    sys.path.insert(0, path)
    yield path, write
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    for n in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(n, None)


def _count_reads(monkeypatch, path):
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(shim, zip_on_path, monkeypatch):
    path, _ = zip_on_path
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
    reads = _count_reads(monkeypatch, path)
    importlib.invalidate_caches()  # the first call stamps the importer
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_zip_is_reread(shim, zip_on_path, monkeypatch):
    path, write = zip_on_path
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, path)
    write(["zc_mod_a", "zc_mod_b"])
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"


def test_install_outside_a_task_changes_nothing():
    from pii_redaction_data_pipeline_spark.functions import worker_zipcache

    before = zipimport.zipimporter.invalidate_caches
    try:
        assert TaskContext.get() is None
        assert worker_zipcache.install() is False
        assert zipimport.zipimporter.invalidate_caches is before
    finally:
        worker_zipcache.uninstall()


def test_worker_reports_shim_active(spark):
    @F.pandas_udf("boolean")
    def shim_active(ids: pd.Series) -> pd.Series:
        from pii_redaction_data_pipeline_spark.functions import worker_zipcache

        return pd.Series([worker_zipcache.active()] * len(ids))

    rows = spark.range(4, numPartitions=2).select(shim_active("id").alias("a")).collect()
    assert [r.a for r in rows] == [True] * 4
