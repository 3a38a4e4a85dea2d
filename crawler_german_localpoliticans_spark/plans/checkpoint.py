"""Round checkpointing with per-partition lineage.

A crawl round is committed by appending one JSON line to
`<root>/checkpoints.jsonl` *after* all of the round's table/bloom writes have
landed (write-temp-then-rename, sources/tables.py). The checkpoint line is
the commit point: on resume, anything not covered by the last line is
deleted and recomputed — rounds are deterministic, so a killed run resumes
to byte-identical tables (BASELINE.md "Resumability"; Iceberg snapshot ≙ the
checkpoint line in production).

Each line records the round's metrics and per-partition lineage (files +
row counts per table round-dir) so an operator can audit exactly which
partition of which table belongs to which round.
"""

from __future__ import annotations

import json
import os


class CheckpointLog:
    def __init__(self, root: str) -> None:
        self.path = os.path.join(root, "checkpoints.jsonl")

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        out = []
        with open(self.path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def last_committed_round(self) -> int | None:
        entries = self.entries()
        return entries[-1]["round"] if entries else None

    def last_entry(self) -> dict | None:
        entries = self.entries()
        return entries[-1] if entries else None

    def commit(self, entry: dict) -> None:
        """Atomic append: rewrite to temp, rename."""
        entries = self.entries()
        entries.append(entry)
        tmp = self.path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            for e in entries:
                f.write(json.dumps(e, sort_keys=True) + "\n")
        os.replace(tmp, self.path)

    def reset(self) -> None:
        if os.path.exists(self.path):
            os.remove(self.path)


def partition_lineage(table_round_dir: str) -> list[dict]:
    """Per-file lineage from parquet footers (no Spark job needed). The
    round has just written these files, so an unreadable footer is torn
    state and raises."""
    import pyarrow.parquet as pq

    if not os.path.isdir(table_round_dir):
        return []
    out = []
    for name in sorted(os.listdir(table_round_dir)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(table_round_dir, name)).metadata
        out.append({"file": name, "rows": md.num_rows})
    return out
