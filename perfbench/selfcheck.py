"""Spark-free checks of the benchmark's metric math on synthetic inputs.

``run.py`` runs them at the start of every run and counts a failure as
a failed operation; run them alone with::

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import math
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def check_percentiles() -> None:
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.median(xs) == 3.0
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 5.0
    assert close(stats.percentile(xs, 90), 4.6)
    assert close(stats.percentile([10.0, 20.0], 50), 15.0)
    assert stats.percentile([7.0], 90) == 7.0
    try:
        stats.percentile([], 50)
    except ValueError:
        pass
    else:
        raise AssertionError("empty percentile must raise")


def check_batch_latencies() -> None:
    # two files in batch 1 (its oldest event sets the sample), one in
    # batch 2, and a batch of files with no stamp (skipped)
    batches = {1: (10.0, 10.5), 2: (11.0, 11.25), 3: (12.0, 12.1)}
    files = {1: ["a", "b"], 2: ["c"], 3: ["z"]}
    due = {"a": 9.0, "b": 9.5, "c": 11.0}
    lat = stats.batch_latencies_ms(batches, files, due)
    assert len(lat) == 2
    assert close(lat[0], 1500.0) and close(lat[1], 250.0)
    # batch-quantized: ten events in one batch are still one sample
    assert len(stats.batch_latencies_ms({0: (0.0, 1.0)}, {0: ["f"] * 10}, {"f": 0.0})) == 1


def check_backlog() -> None:
    assert stats.backlog_max([], []) == 0
    # delivered before the next write: never more than one behind
    assert stats.backlog_max([0.0, 1.0, 2.0], [0.5, 1.5, 2.5]) == 1
    # a stall: three written before the first delivery
    assert stats.backlog_max([0.0, 1.0, 2.0], [2.5, 2.6, 2.7]) == 3
    # a delivery at the instant of the next write counts first
    assert stats.backlog_max([0.0, 1.0], [1.0, 2.0]) == 1


def check_lateness_and_idle() -> None:
    assert stats.late_ms(10.0, 9.5) == 0.0  # started early: on time
    assert close(stats.late_ms(10.0, 10.25), 250.0)
    assert close(stats.idle_ms((0.0, 10.0), [(1.0, 2.0), (1.5, 3.0), (8.0, 12.0)]), 6000.0)
    assert close(stats.idle_ms((0.0, 1.0), []), 1000.0)
    assert stats.idle_ms((0.0, 1.0), [(-1.0, 2.0)]) == 0.0


def check_drain_and_failures() -> None:
    # 100 items per batch; intervals 2 s (start-up), 1 s, 1 s, 1 s, 4 s (a stall)
    assert close(stats.drain_rate([100] * 5, [2.0, 3.0, 4.0, 5.0, 9.0], 0.0), 100.0)
    assert close(stats.drain_rate([50, 150], [1.0, 2.0], 0.0), 100.0)
    try:
        stats.drain_rate([10, 10], [3.0, 3.0], 0.0)
    except ValueError:
        pass
    else:
        raise AssertionError("a batch returning with no time passed must raise")
    try:
        stats.drain_rate([], [], 0.0)
    except ValueError:
        pass
    else:
        raise AssertionError("no batches must raise")
    assert stats.failed_ratio(0, 10) == 0.0
    assert close(stats.failed_ratio(3, 12), 0.25)
    try:
        stats.failed_ratio(0, 0)
    except ValueError:
        pass
    else:
        raise AssertionError("nothing attempted must raise")


def check_peak_rss() -> None:
    mb = 1 << 20
    samples = [{1: 100 * mb, 2: 10 * mb}, {1: 90 * mb, 2: 30 * mb, 3: 5 * mb}, {1: 80 * mb}]
    assert close(stats.peak_rss_mb(samples), 125.0)
    assert stats.peak_rss_mb([]) == 0.0


def check_file_source_log() -> None:
    with tempfile.TemporaryDirectory() as d:
        log_dir = os.path.join(d, "sources", "0")
        os.makedirs(log_dir)
        with open(os.path.join(log_dir, "9.compact"), "w") as fh:
            fh.write('v1\n{"path":"file:///x/in/a.parquet","timestamp":1,"batchId":0}\n'
                     '{"path":"file:///x/in/b.parquet","timestamp":2,"batchId":1}\n')
        with open(os.path.join(log_dir, "10"), "w") as fh:
            fh.write('v1\n{"path":"file:///x/in/c.parquet","timestamp":3,"batchId":10}\n')
        with open(os.path.join(log_dir, ".10.crc"), "w") as fh:
            fh.write("binary")
        got = stats.read_file_source_log(d)
        assert got == {0: ["a.parquet"], 1: ["b.parquet"], 10: ["c.parquet"]}, got
        assert stats.read_file_source_log(os.path.join(d, "missing")) == {}


CHECKS = [v for k, v in sorted(globals().items()) if k.startswith("check_")]


def run_all() -> list[str]:
    """Names of the checks that failed."""
    bad = []
    for fn in CHECKS:
        try:
            fn()
        except Exception as exc:  # noqa: BLE001 - report every failure
            bad.append(f"{fn.__name__}: {exc!r}")
    return bad


if __name__ == "__main__":
    failed = run_all()
    for line in failed:
        print("FAIL", line)
    print(f"{len(CHECKS) - len(failed)}/{len(CHECKS)} metric checks passed")
    sys.exit(1 if failed else 0)
