"""Per-layer probes for the traced run.

Each probe calls one layer's public functions from outside the engine,
inside a span, and drives the result into Spark's `noop` sink (or a real
write, for the write layer). The layers are the package's own:

  session    get_spark
  sources    TableIO.read / write_bucketed, LineageStore.append
  functions  make_annotate_udf and the fused UDF's sub-stages
  operators  with_conversation_flags after the conv_id repartition
  plans      annotate, run_pipeline, run_curation

`per_layer_metrics` turns the spans (with their event-log task metrics)
into the named metrics of BENCHMARK.json's `per_layer` list.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.parquet as pq

IN_PROCESS_ROWS = 10_000  # text sample for the single-core sub-stage timings
IN_PROCESS_REPS = 3
PER_ROWS = 100_000  # sub-stage times are reported per this many rows


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def single_file(directory: str) -> str:
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    return os.path.join(directory, names[0])


def _text_sample(path: str, rows: int):
    """Every k-th row's text: a fixed, seed-derived slice of the corpus."""
    texts = pq.read_table(path, columns=["text"])["text"].to_pandas()
    step = max(1, len(texts) // rows)
    return texts.iloc[::step].iloc[:rows].reset_index(drop=True)


def in_process_stages(texts) -> dict[str, float]:
    """Single-core seconds per PER_ROWS rows for each sub-stage of
    `annotate_frame`, fed the same intermediate values it feeds them."""
    from pii_redaction_data_pipeline_spark.functions.fused import (
        annotate_frame,
        normalize_series,
        ppl_input_series,
    )
    from pii_redaction_data_pipeline_spark.functions.langid import langid_frame
    from pii_redaction_data_pipeline_spark.functions.perplexity import default_model
    from pii_redaction_data_pipeline_spark.functions.quality import (
        repetition_frac_series,
        text_stats_frame,
    )
    from pii_redaction_data_pipeline_spark.functions.scrub import scrub_frame

    model = default_model()
    raw = texts.fillna("")
    norm = normalize_series(raw)
    scrubbed = scrub_frame(norm)["scrubbed_text"].fillna("")
    stripped = ppl_input_series(scrubbed)
    stages = {
        "normalize": lambda: normalize_series(raw),
        "langid": lambda: langid_frame(norm),
        "scrub": lambda: scrub_frame(norm),
        "ppl_strip": lambda: ppl_input_series(scrubbed),
        "ppl_score": lambda: model.ppl_series(stripped),
        "repetition": lambda: repetition_frac_series(norm),
        "text_stats": lambda: text_stats_frame(norm),
        "annotate_frame": lambda: annotate_frame(texts),
    }
    out = {}
    for name, fn in stages.items():
        walls = []
        for _ in range(IN_PROCESS_REPS):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
        out[name] = statistics.median(walls) * PER_ROWS / len(texts)
    return out


def plan_shape(spark, transcripts: str) -> dict:
    """How many splits the scan gives, the shuffle partition count annotate
    uses (volume-tuned, floored at 2x cores) and whether annotate salts its
    input, read off annotate's logical plan; no job runs."""
    from pii_redaction_data_pipeline_spark import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import (
        annotate,
        tune_shuffle_partitions,
    )
    from pii_redaction_data_pipeline_spark.sources.tables import TableIO, with_bucket

    cfg = PipelineConfig()
    io = TableIO(spark, n_buckets=cfg.n_buckets)
    src = io.read(transcripts)
    tune_shuffle_partitions(spark, src, cfg.target_partition_bytes)
    ann = annotate(with_bucket(src, cfg.n_buckets), cfg, spark)
    return {
        "input_splits": src.rdd.getNumPartitions(),
        "salted": "_salt" in ann._jdf.queryExecution().logical().toString(),
        "shuffle_partitions": max(int(spark.conf.get("spark.sql.shuffle.partitions")),
                                  spark.sparkContext.defaultParallelism * 2),
        "iceberg_available": io.use_iceberg,
    }


def probe_all(spark, tracer, workload: str, corpus, plain: dict, traced: dict,
              run_dir: str) -> dict:
    """Run every layer probe once on the workload's corpus."""
    from pyspark.sql import functions as F

    from pii_redaction_data_pipeline_spark import PipelineConfig
    from pii_redaction_data_pipeline_spark.functions.fused import make_annotate_udf
    from pii_redaction_data_pipeline_spark.operators.skew import salted_repartition
    from pii_redaction_data_pipeline_spark.operators.windows import (
        with_conversation_flags,
    )
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate
    from pii_redaction_data_pipeline_spark.sources.tables import TableIO, with_bucket

    cfg = PipelineConfig()
    io = TableIO(spark, n_buckets=cfg.n_buckets)
    probes: dict = {"plan": plan_shape(spark, corpus.transcripts)}
    n_parts = probes["plan"]["shuffle_partitions"]
    src = io.read(corpus.transcripts)

    with tracer.span("probe.scan"):
        _noop(io.read(corpus.transcripts))

    with tracer.span("probe.udf"):
        df = src.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
        if probes["plan"]["salted"]:
            df = salted_repartition(df, salt_buckets=cfg.salt_buckets,
                                    num_partitions=n_parts,
                                    salt_cols=["conv_id", "turn_idx"])
        udf = make_annotate_udf(spark, normalize=cfg.normalize_unicode)
        _noop(df.withColumn("_ann", udf(F.col("text"))))

    with tracer.span("probe.windows"):
        _noop(with_conversation_flags(src.repartition(n_parts, "conv_id"),
                                      tool_loop_min_run=cfg.tool_loop_min_run))

    with tracer.span("probe.annotate"):
        _noop(annotate(with_bucket(src, cfg.n_buckets), cfg, spark))

    written = os.path.join(run_dir, "probe_write")
    annotated = spark.read.parquet(os.path.join(plain["dir"], "annotated"))
    with tracer.span("probe.write"):
        io.write_bucketed(annotated, written)
    probes["write_bytes"] = sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(written) for f in fs
    )

    if workload == "curate":
        curate_dir, summary = traced["dir"], traced["summary"]
        probes["curate_wall_s"] = traced["wall_s"]
    else:
        from pii_redaction_data_pipeline_spark.plans.curate import run_curation

        curate_dir = os.path.join(run_dir, "probe_curate")
        with tracer.span("probe.curate") as rec:
            summary = run_curation(spark, corpus.transcripts, curate_dir,
                                   run_id="probe")
        probes["curate_wall_s"] = tracer.wall(rec)
    probes["curate"] = summary
    kept = pq.read_table(os.path.join(curate_dir, "conv_verdict"),
                         columns=["conv_keep"])["conv_keep"].to_pylist()
    probes["verdict_kept_convs"] = sum(1 for k in kept if k)
    probes["survivor_convs"] = pq.read_table(
        os.path.join(curate_dir, "survivor_convs"), columns=["conv_id"]).num_rows

    with tracer.span("probe.in_process"):
        probes["in_process"] = in_process_stages(
            _text_sample(corpus.transcripts, IN_PROCESS_ROWS)
        )
    probes["rows"] = corpus.turns
    probes["workers"] = spark.sparkContext.defaultParallelism
    return probes


def per_layer_metrics(tracer, probes: dict, session_start_s: float,
                      untraced_s: float, traced: dict) -> dict:
    """-> {metric name: (value, unit)} for every per_layer metric."""
    wall = tracer.wall
    one = lambda name, parent=None: tracer.find(name, parent)[0]  # noqa: E731

    pipeline_span = one("plans.run_pipeline")
    write_span = one("sources.write_bucketed", pipeline_span)
    lineage_span = one("sources.lineage_append", pipeline_span)
    windows = one("probe.windows")
    udf_s = wall(one("probe.udf"))
    inproc = probes["in_process"]
    stage_walls = probes["curate"]["stage_walls_sec"]

    m = {
        "session.start_s": (session_start_s, "s"),
        "sources.scan_s": (wall(one("probe.scan")), "s"),
        "sources.write_s": (wall(one("probe.write")), "s"),
        "sources.write_bytes": (probes["write_bytes"], "bytes"),
        "sources.lineage_s": (wall(lineage_span), "s"),
        "functions.udf_s": (udf_s, "s"),
    }
    for stage, v in inproc.items():
        m[f"functions.{stage}_s"] = (v, "s/100k_rows")
    m["functions.udf_parallel_eff"] = (
        (probes["rows"] / udf_s)
        / (probes["workers"] * PER_ROWS / inproc["annotate_frame"]),
        "ratio",
    )
    m.update({
        "operators.windows_s": (wall(windows), "s"),
        "operators.windows_shuffle_bytes": (windows["shuffle_write_bytes"], "bytes"),
        "operators.windows_task_skew": (windows["reduce_task_skew"] or 0.0, "ratio"),
        "plans.annotate_s": (wall(one("probe.annotate")), "s"),
        "plans.run_pipeline_self_s": (
            wall(pipeline_span) - wall(write_span) - wall(lineage_span), "s"),
        "plans.input_splits": (probes["plan"]["input_splits"], "count"),
        "plans.salted": (int(probes["plan"]["salted"]), "bool"),
    })
    for stage in ("annotate", "conv_verdict", "conv_dedup", "sample", "pack"):
        m[f"plans.curate.{stage}_s"] = (stage_walls[stage], "s")
    m["plans.curate.overhead_s"] = (
        probes["curate_wall_s"] - sum(stage_walls.values()), "s")
    m["plans.curate.dedup_drop_frac"] = (
        1 - probes["survivor_convs"] / probes["verdict_kept_convs"], "ratio")
    m["trace.overhead_frac"] = (traced["wall_s"] / untraced_s - 1, "ratio")
    return m
