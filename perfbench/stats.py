"""Metric math of the keystream benchmark (no Spark).

Everything here works on plain numbers and dicts recorded during a
run, so ``selfcheck.py`` can test it on synthetic inputs.
"""

from __future__ import annotations

import json
import os


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100] (numpy's
    default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def batch_latencies_ms(batches, files_by_batch, due_by_file) -> list[float]:
    """One latency per delivered batch: sink return minus the creation
    stamp of the batch's oldest event.  Delivery is quantized by
    batch, so batches (not events) are the independent samples.

    ``batches``: ``{batch_id: (sink_start, sink_return)}``;
    ``files_by_batch``: ``{batch_id: [file name]}``;
    ``due_by_file``: ``{file name: creation stamp}``.  Batches holding
    no file of ``due_by_file`` are skipped."""
    out = []
    for bid, (_start, ret) in sorted(batches.items()):
        dues = [due_by_file[f] for f in files_by_batch.get(bid, ()) if f in due_by_file]
        if dues:
            out.append((ret - min(dues)) * 1000.0)
    return out


def backlog_max(written, done) -> int:
    """Highest number of files written but not yet delivered, over
    every instant a file was written or delivered."""
    events = [(t, 1) for t in written] + [(t, -1) for t in done]
    # at equal stamps count the delivery first: a file cannot be
    # behind itself
    events.sort(key=lambda e: (e[0], e[1]))
    level = peak = 0
    for _t, step in events:
        level += step
        peak = max(peak, level)
    return peak


def late_ms(due: float, started: float) -> float:
    """How late the generator started a file that was due at ``due``."""
    return max(0.0, (started - due) * 1000.0)


def drain_rate(items, returns, t_start: float) -> float:
    """Median over drain batches of the batch's items divided by the
    time since the previous batch returned (the first batch: since
    ``t_start``, the query start).  A median, so one stalled batch does
    not move it."""
    rates, prev = [], t_start
    for n, ret in zip(items, returns):
        if ret <= prev:
            raise ValueError("batch returned before the previous one")
        rates.append(n / (ret - prev))
        prev = ret
    return median(rates)


def failed_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("nothing attempted")
    return failed / attempted


def peak_rss_mb(samples) -> float:
    """Peak over samples of the summed memory of the sampled parts;
    each sample maps a part (a process, a JVM memory area) to bytes."""
    return max((sum(s.values()) for s in samples), default=0) / (1 << 20)


def idle_ms(window: tuple[float, float], busy) -> float:
    """Milliseconds of ``window`` covered by no ``(start, end)``
    interval of ``busy``."""
    lo, hi = window
    covered, cursor = 0.0, lo
    for s, e in sorted(busy):
        s, e = max(s, cursor), min(e, hi)
        if e > s:
            covered += e - s
            cursor = e
    return max(0.0, (hi - lo) - covered) * 1000.0


def read_file_source_log(checkpoint_dir: str) -> dict[int, list[str]]:
    """``{batch_id: [file name]}`` from a file-source checkpoint
    (``sources/0``; compacted and plain log files alike)."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[int, list[str]] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                entry = json.loads(line)
                files = out.setdefault(int(entry["batchId"]), [])
                base = os.path.basename(entry["path"])
                if base not in files:
                    files.append(base)
    return out


def read_jsonl(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]
