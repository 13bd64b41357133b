"""Correctness gates for one benchmark operation's output.

The gates read the written parquet with pyarrow in the benchmark process,
so they share no code path with the engine they check.

* Turn gate: a full outer join on (conv_id, turn_idx) between the
  annotated table and the generator's planted labels; every row must exist
  on both sides with equal `keep`, `drop_reasons` and `scrubbed_text`.
* Clone gate (curation): no "<conv>-dup" near-duplicate clone may survive
  the conversation dedup next to its original.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pds
import pyarrow.parquet as pq

KEY = ["conv_id", "turn_idx"]
CHECKED = ["keep", "drop_reasons", "scrubbed_text"]
_NULL = "\x00<null>"


def _comparable(table: pa.Table):
    reasons = pc.binary_join(table["drop_reasons"].cast(pa.list_(pa.string())), "|")
    return pa.table(
        {
            "conv_id": table["conv_id"],
            "turn_idx": table["turn_idx"].cast(pa.int32()),
            "keep": table["keep"],
            "drop_reasons": pc.fill_null(reasons, _NULL),
            "scrubbed_text": pc.fill_null(table["scrubbed_text"], _NULL),
        }
    ).to_pandas()


def read_annotated(path: str) -> pa.Table:
    # hive partitioning: the bucket directories are part_bucket=<n>
    return pds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=KEY + CHECKED
    )


def turn_mismatches(annotated_path: str, labels_path: str) -> int:
    """Rows missing on either side plus rows whose checked columns differ."""
    got = _comparable(read_annotated(annotated_path))
    want = _comparable(pq.read_table(labels_path, columns=KEY + CHECKED))
    j = got.merge(want, on=KEY, how="outer", suffixes=("_got", "_want"), indicator=True)
    bad = j["_merge"] != "both"
    for c in CHECKED:
        bad |= j[f"{c}_got"] != j[f"{c}_want"]
    return int(bad.sum())


def surviving_clone_pairs(survivors_path: str) -> int:
    """Number of "-dup" clones that survived next to their original."""
    convs = set(pq.read_table(survivors_path, columns=["conv_id"])["conv_id"].to_pylist())
    return sum(1 for c in convs if c.endswith("-dup") and c[: -len("-dup")] in convs)


def corrupt_one_row(annotated_path: str) -> None:
    """Flip `keep` on the first row of the first data file under
    `annotated_path` (the self-check's planted defect)."""
    for root, _, files in sorted(os.walk(annotated_path)):
        for name in sorted(files):
            if name.endswith(".parquet"):
                path = os.path.join(root, name)
                table = pq.read_table(path)
                if table.num_rows == 0:
                    continue
                keep = table["keep"].to_pylist()
                keep[0] = not keep[0]
                idx = table.schema.get_field_index("keep")
                table = table.set_column(idx, "keep", pa.array(keep, pa.bool_()))
                pq.write_table(table, path)
                return
    raise FileNotFoundError(f"no non-empty parquet file under {annotated_path}")
