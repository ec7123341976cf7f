"""The queue transport the benchmark owns.

``queue_sink`` opens one transport per partition on the Python
workers, so this module must be importable there (``run.py`` puts the
benchmark directory on the workers' ``PYTHONPATH``).  Each send writes
its messages' bodies as one JSON-lines file (one line per record) and
appends one stats line — message sizes, record counts, send time —
under ``_stats/``, which the benchmark reads after the run.
"""

from __future__ import annotations

import json
import os
import time
import uuid


class DirTransportFactory:
    """Picklable ``transport_factory`` for ``queue_sink``."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def __call__(self):
        from sample_keyspaces_cdc_streams_connectors_spark.streaming.sinks import QueueTransport

        stats_dir = os.path.join(self.out_dir, "_stats")
        os.makedirs(stats_dir, exist_ok=True)
        prefix = uuid.uuid4().hex[:12]
        stats_path = os.path.join(stats_dir, f"{prefix}.jsonl")
        counter = [0]

        def send(batch) -> list[int]:
            t0 = time.perf_counter()
            path = os.path.join(self.out_dir, f"{prefix}-{counter[0]:06d}.jsonl")
            counter[0] += 1
            failed: list[int] = []
            try:
                with open(path, "w", encoding="utf-8") as fh:
                    for m in batch:
                        fh.write(m.body)
                        fh.write("\n")
            except OSError:
                failed = list(range(len(batch)))
            stat = {
                "sizes": [len(m.body.encode()) for m in batch],
                "records": [m.body.count("\n") + 1 for m in batch],
                "failed": len(failed),
                "ms": (time.perf_counter() - t0) * 1000.0,
            }
            with open(stats_path, "a", encoding="utf-8") as fh:
                fh.write(json.dumps(stat) + "\n")
            return failed

        return QueueTransport(send_batch=send)


def read_stats(out_dir: str) -> list[dict]:
    stats_dir = os.path.join(out_dir, "_stats")
    out: list[dict] = []
    if not os.path.isdir(stats_dir):
        return out
    for name in sorted(os.listdir(stats_dir)):
        with open(os.path.join(stats_dir, name), encoding="utf-8") as fh:
            out.extend(json.loads(line) for line in fh if line.strip())
    return out
