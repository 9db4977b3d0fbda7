"""Batch checkpoint/resume: per-partition lineage manifest.

North rule: "resumable from checkpoint with per-partition lineage". In
streaming, Structured Streaming's checkpointLocation covers it. For batch
backfills over a 100 TB table the equivalent is a PROCESSED-PARTITION
MANIFEST: the input is keyed by a coarse partition (e.g. one warc_ts day),
a pass records every partition it completed in one atomic commit, and a
restarted job skips completed partitions — per-partition lineage records
what input produced what output.

This mirrors the reference's retry-forever + resume-at-queue semantics
(lib/logstash/pipeline.rb:173-207) at the granularity that matters for a
distributed backfill.

Implementation is deliberately plain JSON-file based (works on any
DFS/object store via atomic rename); on Iceberg the snapshot-id plays the
same role and is recorded alongside.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from dataclasses import dataclass, field


@dataclass
class LineageManifest:
    path: str
    entries: dict[str, dict] = field(default_factory=dict)

    @classmethod
    def load(cls, path: str) -> "LineageManifest":
        m = cls(path=path)
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    try:
                        e = json.loads(line)
                    except json.JSONDecodeError:
                        # a truncated trailing line (crash mid-write on a
                        # filesystem without rename-ordering) must not brick
                        # resume — the partition it described simply re-runs
                        continue
                    m.entries[e["partition"]] = e
        return m

    def is_done(self, partition: str) -> bool:
        return self.entries.get(partition, {}).get("status") == "done"

    def commit(self, done: dict[str, tuple[int, dict[str, int]]], *, wall_s: float) -> None:
        """Record every partition one pass completed, ``{partition:
        (rows_in, {sink: rows_out})}``, with one fsync + rename: a crash
        leaves all of them recorded or none."""
        ts = time.time()
        for p, (rows_in, rows_out) in done.items():
            self.entries[p] = {"partition": p, "status": "done", "rows_in": rows_in,
                               "rows_out": rows_out, "wall_s": round(wall_s, 3), "ts": ts}
        d = os.path.dirname(self.path) or "."
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            for v in self.entries.values():
                f.write(json.dumps(v) + "\n")
            # crash-atomicity: rename alone does not order data blocks
            # before the rename on all filesystems — fsync the file, then
            # the directory, so a power loss can't surface an empty or
            # truncated manifest under the final name
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)
        try:
            dfd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:  # not all mounts support dir fsync
            pass
