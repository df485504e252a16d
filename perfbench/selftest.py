"""Fast self-test of the event-log parser and the output checks (no Spark).

    python3 perfbench/selftest.py

``run.py`` runs it before every benchmark run and refuses to start when
it fails.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import workloads as W  # noqa: E402


def _task(stage, cpu_ns=0, gc_ms=0, remote=0, local=0, written=0, spilled=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms, "Disk Bytes Spilled": spilled,
        "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def _props(group):
    return {"spark.jobGroup.id": group} if group else {}


def test_eventlog():
    mb = 1024 * 1024
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": _props("t0.mentions")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": _props("t0.mentions")},
        _task(0, cpu_ns=2_000_000_000, gc_ms=500, written=3 * mb),
        _task(0, cpu_ns=1_000_000_000, written=1 * mb, spilled=mb // 2),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": _props("t0.mentions")},
        _task(1, remote=mb, local=3 * mb),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0},
        # stage 1 is reused (skipped) by job 1: listed, never resubmitted
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": _props("t0.cc")},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
         "Properties": _props("t0.cc")},
        _task(2), _task(2), _task(2),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}},
        _task(3),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    ]
    g = eventlog.parse_events(json.dumps(e) + "\n" for e in events)
    m = g["t0.mentions"]
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 2, 3), m
    assert abs(m["cpu_s"] - 3.0) < 1e-9 and abs(m["gc_s"] - 0.5) < 1e-9, m
    assert abs(m["shuffle_write_mb"] - 4.0) < 1e-9, m
    assert abs(m["shuffle_read_mb"] - 4.0) < 1e-9, m
    assert abs(m["spill_mb"] - 0.5) < 1e-9, m
    c = g["t0.cc"]
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 3), c
    assert (g[""]["jobs"], g[""]["stages"], g[""]["tasks"]) == (1, 1, 1), g[""]
    assert set(g) == {"t0.mentions", "t0.cc", ""}, sorted(g)


def test_checks():
    rec = {"p_num": 10.0, "p_den": 12.0, "r_num": 10.0, "r_den": 10.0}
    good = {**rec, "fscore": 2 * (10 / 12) / (10 / 12 + 1)}
    assert W.check_eval({**rec, "fscore": 0.995}, rec) == []
    assert len(W.check_eval({**rec, "p_num": 11.0, "fscore": 0.995}, rec)) == 1
    assert len(W.check_eval(good, rec)) == 1            # F1 0.909 < 0.99
    assert len(W.check_eval({**rec, "fscore": None}, rec)) == 1
    assert W.check_eval({**rec, "fscore": 1.0}, None) == [
        "no recorded evaluation row for this corpus"]
    assert W.check_same_eval(good, dict(good)) == []
    assert len(W.check_same_eval(good, {**good, "r_den": 11.0})) == 1

    fp = {"corpus_seed": 42, "pages_rows": 5, "pages_digest": "123",
          "gold_rows": 9, "gold_digest": "-4"}
    assert W.check_fingerprint(fp, dict(fp)) == []
    assert len(W.check_fingerprint({**fp, "pages_digest": "124"}, fp)) == 1
    assert len(W.check_fingerprint(fp, None)) == 1


def test_emphasis():
    scan, skew = W.WORKLOADS["link-scan"], W.WORKLOADS["link-skew"]
    small = {"blocking.salted_blocks": 0, "cc.distributed": 0}
    salted = {"blocking.salted_blocks": 3, "cc.distributed": 1}
    assert W.check_emphasis(scan, small) == [] and W.check_emphasis(skew, salted) == []
    assert len(W.check_emphasis(scan, salted)) == 2
    assert len(W.check_emphasis(skew, small)) == 2


def test_seed_variants():
    wl = W.WORKLOADS["link-scan"]
    seeds = {wl.corpus_seed(s) for s in range(-W.N_VARIANTS, 3 * W.N_VARIANTS)}
    assert seeds == set(range(wl.base_seed, wl.base_seed + W.N_VARIANTS)), seeds


TESTS = (test_eventlog, test_checks, test_emphasis, test_seed_variants)


def run_all() -> int:
    """Run every test; return the number that failed."""
    failed = 0
    for test in TESTS:
        try:
            test()
        except AssertionError as exc:
            failed += 1
            print(f"# self-test {test.__name__} FAILED: {exc!r}", file=sys.stderr)
    return failed


if __name__ == "__main__":
    n = run_all()
    print(f"self-test: {len(TESTS) - n}/{len(TESTS)} passed")
    sys.exit(1 if n else 0)
