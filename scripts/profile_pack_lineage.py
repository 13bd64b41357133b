"""One-off profile: pack stage split — placement vs materializer vs
write — interleaved in ONE warmed session.

Usage: python scripts/profile_pack_lineage.py [cores] [rounds]
"""

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench
from pyspark.sql import functions as F

from pii_redaction_data_pipeline_spark import get_spark
from pii_redaction_data_pipeline_spark.operators.packing import (
    pack_sequences,
    with_pack_placement,
)

cores = int(sys.argv[1]) if len(sys.argv) > 1 else 32
rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
path = bench.ensure_transcripts("bench")
spark = get_spark(master=f"local[{cores}]", app_name="profile-pack")
work = os.path.join(REPO, ".bench_cache", "bench", "prof_pack")
shutil.rmtree(work, ignore_errors=True)

src = spark.read.parquet(path)
# stand-in for the DAG's curated frame: kept turns with a pack key
cur = (
    src.select(
        F.concat_ws(
            "#", "conv_id", F.format_string("%012d", F.col("turn_idx"))
        ).alias("pack_key"),
        F.col("text").alias("scrubbed_text"),
    )
).localCheckpoint()  # freeze input so every variant reads identical rows
n = cur.count()
print(f"rows={n} cores={cores}", flush=True)


def t(label, fn):
    t0 = time.time()
    fn()
    w = time.time() - t0
    print(f"{label:40s} {w:7.2f}s", flush=True)
    return w


def placement_only():
    with_pack_placement(
        cur, 2048, 128, id_col="pack_key", text_col="scrubbed_text"
    ).select(F.sum("seq_end")).collect()


def pack_full():
    packed = pack_sequences(
        cur, 2048, 128, id_col="pack_key", text_col="scrubbed_text"
    )
    packed.write.mode("overwrite").parquet(f"{work}/packed")


def pack_nowrite():
    packed = pack_sequences(
        cur, 2048, 128, id_col="pack_key", text_col="scrubbed_text"
    )
    packed.select(F.sum("n_tokens")).collect()


# warm-up
t("warm placement", placement_only)
for r in range(rounds):
    t(f"r{r} placement-only(window+sum)", placement_only)
    t(f"r{r} pack no-write", pack_nowrite)
    t(f"r{r} pack full(+parquet write)", pack_full)
