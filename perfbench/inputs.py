"""Seeded benchmark corpora, built with the package's own generator.

Each workload's corpus is a handful of `datagen.Scale` entries registered
in `datagen.SCALES` from here (datagen.py itself is not touched). The
parts are generated in parallel worker processes and merged into one
`transcripts.parquet` plus one `expected_labels.parquet` (the planted
ground truth the correctness gate compares against). Output is cached per
(workload, seed) under the benchmark's work directory, so a repeated run
on the same seed skips generation.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import numpy as np

# Corpus shapes. The two pipeline corpora hold ~64k turns each; one warm
# operation takes 7-13 s on 4 cores, so a cold set-up (25-35 s) plus the
# timed operations fit one run's time budget.
#   pipeline:     standard category mix, ordinary conversation sizes
#   pipeline_hot: same mix, one conversation holds ~20% of all turns
#   curate:       many short conversations, every third cloned as a
#                 near-duplicate ("-dup" suffix) for the conv dedup stage
SHAPES: dict[str, list[dict]] = {
    "pipeline": [dict(n_convs=200, mean_turns=80)] * 4,
    "pipeline_hot": [dict(n_convs=215, mean_turns=80)] * 3
    + [dict(n_convs=0, mean_turns=80, skew_convs=1, skew_turns=12_800)],
    "curate": [dict(n_convs=500, mean_turns=20, dup_conv_every=3)] * 4,
}
TINY_DIVISOR = 25  # --tiny: the self-check's scale

WORKLOAD_INDEX = {name: i for i, name in enumerate(SHAPES)}


@dataclass(frozen=True)
class Corpus:
    transcripts: str
    labels: str
    # part 0 alone (a quarter of the corpus, whole conversations, its own
    # planted labels): the input of the warm-up operation
    warmup_transcripts: str
    warmup_labels: str
    turns: int
    input_bytes: int
    gen_s: float  # 0.0 when served from the cache
    cached: bool


def scales_for(workload: str, seed: int, tiny: bool = False):
    """The `datagen.Scale` entries of one (workload, seed) corpus. Part
    seeds come from a SeedSequence over (seed, workload, part), so every
    seed gives a distinct but reproducible corpus."""
    from pii_redaction_data_pipeline_spark.datagen import Scale

    out = []
    for i, shape in enumerate(SHAPES[workload]):
        shape = dict(shape)
        if tiny:
            shape["n_convs"] //= TINY_DIVISOR
            shape["skew_turns"] = shape.get("skew_turns", 0) // TINY_DIVISOR
        state = np.random.SeedSequence([seed, WORKLOAD_INDEX[workload], i])
        out.append(
            Scale(
                name=f"{workload}-s{seed}-p{i}",
                n_convs=shape["n_convs"],
                mean_turns=shape["mean_turns"],
                skew_convs=shape.get("skew_convs", 0),
                skew_turns=shape.get("skew_turns", 0),
                seed=int(state.generate_state(1)[0]),
                dup_conv_every=shape.get("dup_conv_every", 0),
            )
        )
    return out


def _generate_part(workload: str, seed: int, part: int, tiny: bool, out_dir: str) -> None:
    """Register one part's scale and write its parquet (child process)."""
    from pii_redaction_data_pipeline_spark import datagen

    scale = scales_for(workload, seed, tiny)[part]
    datagen.SCALES[scale.name] = scale
    datagen.write_parquet(scale.name, out_dir)


def _merge(part_dirs: list[str], name: str, out_path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.concat_tables(pq.read_table(os.path.join(d, name)) for d in part_dirs)
    # the generator's own row-group size, so scan splits match its layout
    pq.write_table(table, out_path, row_group_size=16384)


def ensure_corpus(workload: str, seed: int, cache_root: str, tiny: bool = False) -> Corpus:
    """Generate (or reuse from `cache_root`) one workload's corpus."""
    import pyarrow.parquet as pq

    # the scales' hash keeps a corpus of an edited SHAPES entry out of use
    shape = hashlib.sha256(repr(scales_for(workload, seed, tiny)).encode()).hexdigest()
    tag = f"{workload}-s{seed}-{shape[:12]}"
    final = os.path.join(cache_root, tag)
    tp = os.path.join(final, "transcripts.parquet")
    lp = os.path.join(final, "expected_labels.parquet")
    cached = os.path.exists(os.path.join(final, "_DONE"))
    t0 = time.perf_counter()
    if not cached:
        staging = final + f".tmp{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        part_dirs = [os.path.join(staging, f"part{i}") for i in range(len(SHAPES[workload]))]
        # one child process per part, all waited for before merging
        procs = [
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), workload, str(seed),
                 str(i), "1" if tiny else "0", d],
            )
            for i, d in enumerate(part_dirs)
        ]
        codes = [p.wait() for p in procs]
        if any(codes):
            raise RuntimeError(f"corpus generation failed: exit codes {codes}")
        _merge(part_dirs, "transcripts.parquet", os.path.join(staging, "transcripts.parquet"))
        _merge(part_dirs, "expected_labels.parquet", os.path.join(staging, "expected_labels.parquet"))
        os.replace(part_dirs[0], os.path.join(staging, "warmup"))
        for d in part_dirs[1:]:
            shutil.rmtree(d)
        open(os.path.join(staging, "_DONE"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.replace(staging, final)
    gen_s = 0.0 if cached else time.perf_counter() - t0
    return Corpus(
        transcripts=tp,
        labels=lp,
        warmup_transcripts=os.path.join(final, "warmup", "transcripts.parquet"),
        warmup_labels=os.path.join(final, "warmup", "expected_labels.parquet"),
        turns=pq.read_metadata(tp).num_rows,
        input_bytes=os.path.getsize(tp),
        gen_s=gen_s,
        cached=cached,
    )


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    wl, sd, part, tiny_flag, out = sys.argv[1:6]
    _generate_part(wl, int(sd), int(part), tiny_flag == "1", out)
