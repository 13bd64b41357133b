"""Per-partition checkpoint/lineage store.

Generalizes the reference's DynamoDB workflow row + Manifest summary
(machine-state.py:60 INSERT; pii-output.py:91-93 Manifest;
useWorkflows.jsx:109-113 reads InputFileCount/SuccessfulFilesCount/
UnprocessedFilesCount) into one table with a row per (run_id, bucket):

  run_id, partition_id, rows_in, rows_out,
  drop_reason_counts map<string,long>, scrub_counts map<string,long>,
  status ('complete'), finished_seq

Resume = anti-join of input buckets vs completed lineage rows — the
Spark translation of the reference's "processed files < input files →
submit more work" loop (textract-bulk.py:108-118). Appends are atomic at
file granularity; a bucket is only trusted once its row says complete,
so a crash mid-run re-processes at most the in-flight buckets
(idempotent because output writes are per-bucket dynamic overwrites).

Every frame this module builds from driver-side values (the empty frame
for a missing path, the stage-boundary rows of plans/curate.py) is a JVM
relation (`local_frame`), never `spark.createDataFrame(<python list>)`:
in classic PySpark the latter pickles the rows into a Python RDD, so any
action on it starts Python-worker tasks in a second worker pool (its own
daemon plus one worker per core) — ~0.5 s wall per frame to move zero or
one row. Only the fused annotate UDF should start Python workers.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.StringType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("rows_out", T.LongType()),
        T.StructField("drop_reason_counts", T.MapType(T.StringType(), T.LongType())),
        T.StructField("scrub_counts", T.MapType(T.StringType(), T.LongType())),
        T.StructField("status", T.StringType()),
        T.StructField("finished_seq", T.LongType()),
    ]
)


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A small driver-side frame built on the JVM: literal rows over
    `spark.range(len(rows), numPartitions=1)`, each column picking its
    value by row id out of one literal array cast to the schema's type.
    Values must be scalars `F.lit` accepts (or None)."""
    frame = spark.range(len(rows), numPartitions=1)
    if not rows:
        # LIMIT 0 plans as an empty LocalRelation (Range(0) does not), so
        # filters and collects over it finish on the driver with no job
        return frame.select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        ).limit(0)
    return frame.select(
        *[
            F.array(*[F.lit(r[i]) for r in rows])
            .cast(T.ArrayType(f.dataType))[F.col("id")]
            .alias(f.name)
            for i, f in enumerate(schema.fields)
        ]
    )


class LineageStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        # probe existence via the Hadoop FS (works for s3a://, hdfs://,
        # file:// alike) BEFORE building the reader: with an explicit
        # schema the parquet read resolves lazily, so a missing first-run
        # path used to fail during ANALYSIS of the first action — the
        # result was still an empty frame, but every miss logged a
        # FileNotFound stack trace and fired a failed-query event that
        # Spark 4's ObservationManager listener re-analyzes (driver-log
        # noise measured once per fresh-dir DAG run). The empty frame is a
        # JVM relation (local_frame), so a fresh run's completed_buckets
        # resolves on the driver without a job.
        from pii_redaction_data_pipeline_spark.sources.fsutil import hadoop_fs

        _, fs, jpath = hadoop_fs(self.spark, self.path)
        if not fs.exists(jpath):
            return local_frame(self.spark, [], LINEAGE_SCHEMA)
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
        except AnalysisException:  # raced away between probe and read
            return local_frame(self.spark, [], LINEAGE_SCHEMA)

    def completed_buckets(self, run_id: str) -> list[int]:
        # partition_id also carries stage-boundary rows ("stage:<name>",
        # plans/curate.py) — bucket resume only reads the numeric ones
        df = self.read().filter(
            (F.col("run_id") == run_id)
            & (F.col("status") == "complete")
            & F.col("partition_id").rlike("^[0-9]+$")
        )
        return [int(r.partition_id) for r in df.select("partition_id").distinct().collect()]

    def append(self, df: DataFrame):
        df.write.mode("append").parquet(self.path)

    def status(
        self,
        run_id: str | None = None,
        start_seq: int | None = None,
        end_seq: int | None = None,
    ) -> DataFrame:
        """The reference's status/read API (GET ?fetch=all&startdt&enddt /
        ?fetch=<id>, reference backend/src/lambda/get-workflows.py:27-99:
        PartiQL range scan :30 or point get :59-65, plus the UI's
        newest-first sort, useWorkflows.jsx:124) as a plain DataFrame
        query: optional point filter, optional finished_seq range (the
        startdt/enddt arm), newest-first ordering."""
        df = self.read()
        if run_id is not None:
            df = df.filter(F.col("run_id") == run_id)
        if start_seq is not None:
            df = df.filter(F.col("finished_seq") >= start_seq)
        if end_seq is not None:
            df = df.filter(F.col("finished_seq") <= end_seq)
        # partition_id is stored as string; order buckets numerically
        return df.orderBy(
            F.col("finished_seq").desc(), F.col("partition_id").cast("int")
        )
