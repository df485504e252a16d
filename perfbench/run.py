"""Linkage benchmark: one workload, one process, one op at a time.

    python3 perfbench/run.py --workload link-scan --seed 1 --seconds 10 --trace 0

Run from the repository root.  Set-up starts a ``local[4]`` session,
generates the seeded corpus, writes it as the pages table and checks its
fingerprint against ``perfbench/expected.json``; it refuses to time a
corpus whose fingerprint changed.  Then one untimed warm-up op runs and
ops are timed in a closed loop for ``--seconds``, and at least
``MIN_TIMED_OPS`` times; ``wall_s`` is their median, over
``attempted - 1`` samples (``attempted`` counts the warm-up op too).
Every op's evaluation row is checked against the recording.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the op
layer by layer with the Spark event log on and prints the per-layer
metrics.  The last stdout line is the JSON result; the exit code is 0
only when every check passed.  ``--record`` prepares every corpus
variant of the workload, runs one op on each and stores the fingerprints
and evaluation rows in ``expected.json`` instead of timing.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import selftest  # noqa: E402
import workloads as W  # noqa: E402

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"
# at least three timed ops, so that their median drops one disturbed op
MIN_TIMED_OPS = 3
STAT_UNITS = {"s": "s", **eventlog.UNITS}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


# --- process-tree memory ------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root: int) -> float:
    """Summed resident set of ``root`` and all its descendants (the JVM
    and the Python workers it forks), read from /proc."""
    kids = _children()
    todo, pages = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
        except OSError:
            pass
    return pages * os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


class RssSampler(threading.Thread):
    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(self.period):
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def reset(self):
        self.peak = tree_rss_mb(os.getpid())

    def stop(self):
        self._halt.set()
        self.join()


# --- environment and session --------------------------------------------------

def configure_env(work: str, trace: bool) -> str | None:
    """Keep every file Spark writes inside ``work``; with ``trace``, turn
    the uncompressed event log on.  Returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # -Xms = -Xmx: the heap does not grow while ops run, so peak RSS does
    # not depend on when the collector chooses to expand it
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    args = ["--driver-java-options", java_opts,
            "--conf", "spark.ui.showConsoleProgress=false"]
    events = None
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{events}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"
    return events


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# --- recordings ---------------------------------------------------------------------

def load_expected() -> dict:
    with open(EXPECTED, encoding="utf-8") as fh:
        return json.load(fh)


def record_all(spark, wl: W.Workload, work: str, tally) -> int:
    """Prepare every corpus variant of ``wl``, run one op on it, and
    store its fingerprint and evaluation row in expected.json."""
    data = load_expected() if os.path.exists(EXPECTED) else {}
    entries = data.setdefault(wl.name, {})
    for variant in range(W.N_VARIANTS):
        corpus, _s = prepare(spark, wl, variant, work, None)
        row, _dt = tally.op(f"record op {variant}", lambda: W.run_op(spark, wl, corpus),
                            lambda row: W.check_eval(row, row))
        if row is None:
            return 1
        entries[str(variant)] = {**corpus.fingerprint,
                                 "eval": {k: row[k] for k in (*W.EVAL_KEYS, "fscore")}}
        log(f"recorded {wl.name} corpus {variant}: {entries[str(variant)]}")
    with open(EXPECTED, "w", encoding="utf-8") as fh:
        json.dump(data, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0 if tally.failed == 0 else 1


# --- the run -------------------------------------------------------------------------

class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self, what: str, fn, check):
        """Run one op; count it as failed when it raises or its check
        reports a problem.  Returns (result or None, seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # an op that raises is a failed op
            self.failed += 1
            log(f"{what}: raised {type(exc).__name__}: {exc}")
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        problems = check(result)
        if problems:
            self.failed += 1
            log(f"{what}: output check failed: {'; '.join(problems)}")
        return result, dt


def prepare(spark, wl, seed, work, expected):
    """Generate, write and fingerprint the corpus; refuse to go on when
    the fingerprint differs from the recording.  Returns (corpus, seconds)."""
    t0 = time.perf_counter()
    lex, etypes = W.make_dimensions(spark, wl)
    pages_path, gold_path, fp = W.write_corpus(spark, wl, seed, os.path.join(work, "corpus"))
    prep_s = time.perf_counter() - t0
    if expected is not None:
        problems = W.check_fingerprint(fp, {k: v for k, v in expected.items() if k != "eval"})
        if problems:
            raise SystemExit("input fingerprint changed: " + "; ".join(problems)
                             + " -- refusing to time")
    return W.Corpus(pages_path, gold_path, lex, etypes, fp), prep_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "medtype_spark", "pipeline.py")):
        log(f"medtype_spark not found under {ROOT}; run from the repository root")
        return 2
    if selftest.run_all():
        log("self-test failed")
        return 2
    wl = W.WORKLOADS[args.workload]
    expected = None
    if not args.record:
        expected = load_expected().get(wl.name, {}).get(str(args.seed % W.N_VARIANTS))
        if expected is None:
            log(f"no recording for {wl.name} corpus {args.seed % W.N_VARIANTS}; "
                "run with --record first -- refusing to time")
            return 3

    work = os.path.join(HERE, ".work", wl.name)
    shutil.rmtree(work, ignore_errors=True)
    events = configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    from medtype_spark.session import get_spark

    spark = get_spark(f"perfbench-{wl.name}", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - START
    sampler = RssSampler()
    sampler.start()
    tally = Tally()
    stopped = False
    try:
        spark.sparkContext.setJobGroup("setup", "setup")
        if args.record:
            return record_all(spark, wl, work, tally)
        corpus, prep_s = prepare(spark, wl, args.seed, work, expected)
        log(f"session {session_s:.2f}s, preparation {prep_s:.2f}s")
        check = lambda row: W.check_eval(row, expected["eval"])  # noqa: E731
        if args.trace:
            state = run_traced(spark, wl, corpus, tally, check)
            stop_spark(spark)  # closes and flushes the event log
            stopped = True
            metrics, ok = finish_trace(state, events)
        else:
            spark.sparkContext.setJobGroup("warmup", "warmup")
            sampler.reset()
            _row, warm_s = tally.op("warm-up op", lambda: W.run_op(spark, wl, corpus), check)
            log(f"warm-up op {warm_s:.2f}s")
            metrics = run_timed(spark, wl, corpus, tally, check, args.seconds)
            metrics["peak_rss_mb"] = metric(sampler.peak, "MB")
            metrics["setup_s"] = metric(session_s + prep_s + warm_s, "s")
            ok = True
    finally:
        sampler.stop()
        if not stopped:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    correct = ok and tally.failed == 0
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0 if correct else 1


def run_timed(spark, wl, corpus, tally, check, seconds) -> dict:
    """Timed ops until their summed time reaches ``seconds`` and there
    are at least MIN_TIMED_OPS of them.  With the warm-up op they
    make up ``attempted``, so ``wall_s`` is the median of
    ``attempted - 1`` samples."""
    spark.sparkContext.setJobGroup("timed", "timed")
    times = []
    while len(times) < MIN_TIMED_OPS or sum(times) < seconds:
        _row, dt = tally.op(f"op {len(times)}", lambda: W.run_op(spark, wl, corpus), check)
        times.append(dt)
    wall = statistics.median(times)
    log(f"wall_s is the median of {len(times)} ops: {[round(t, 3) for t in times]}")
    return {"wall_s": metric(wall, "s"), "pages_per_s": metric(wl.n_pages / wall, "pages/s")}


def run_traced(spark, wl, corpus, tally, check):
    """Traced rep ``t0`` (it also warms the session up), one untraced op
    (the reference row and time), then traced rep ``t1``.  Event-log
    totals are read after the session stops (``finish_trace``)."""
    state = {"reps": []}

    def traced(rep):
        out, _dt = tally.op(f"traced op {rep}", lambda: W.traced_op(spark, wl, corpus, rep),
                            lambda out: check(out[0]) + W.check_emphasis(wl, out[2]))
        if out is not None:
            state["reps"].append((rep, *out))

    traced("t0")
    spark.sparkContext.setJobGroup("untraced", "untraced")
    state["ref"], state["untraced_s"] = tally.op(
        "untraced op", lambda: W.run_op(spark, wl, corpus), check)
    traced("t1")
    return state


def finish_trace(state: dict, events: str):
    """Per-layer metrics of rep ``t1``.  Fails when a traced rep is
    missing, when a traced evaluation row differs from the untraced one,
    or when job or stage counts differ between the two reps."""
    if len(state["reps"]) != 2 or state["ref"] is None:
        return {}, False
    logs = [os.path.join(events, f) for f in os.listdir(events)]
    if len(logs) != 1:
        log(f"expected one event log, found {logs}")
        return {}, False
    groups = eventlog.parse_file(logs[0])
    per_rep = []
    ok = True
    for rep, row, walls, counters in state["reps"]:
        problems = W.check_same_eval(state["ref"], row)
        if problems:
            ok = False
            log(f"traced op {rep}: " + "; ".join(problems))
        layers = {}
        for layer in W.LAYERS:
            g = groups.get(f"{rep}.{layer}", eventlog.empty())
            layers[layer] = {"s": walls[f"{rep}.{layer}"], **g}
        per_rep.append((layers, counters))
    first = per_rep[0][0]
    for layers, _c in per_rep[1:]:
        for layer in W.LAYERS:
            a = {k: first[layer][k] for k in ("jobs", "stages")}
            b = {k: layers[layer][k] for k in ("jobs", "stages")}
            if a != b:
                ok = False
                log(f"job counts of layer {layer} differ between traced reps: {a} vs {b}")
    layers, counters = per_rep[-1]
    metrics = {}
    for layer in W.LAYERS:
        for f, unit in STAT_UNITS.items():
            metrics[f"{layer}.{f}"] = metric(layers[layer][f], unit)
    for name, value in counters.items():
        metrics[name] = metric(value, COUNTER_UNITS.get(name, "count"))
    # the five layers' wall time against the untraced op; the counter
    # queries of the ".stats" group are the benchmark's own and left out
    layer_s = sum(layers[layer]["s"] for layer in W.LAYERS)
    metrics["trace.overhead_s"] = metric(layer_s - state["untraced_s"], "s")
    table = "\n".join(
        f"#   {layer:9s}" + " ".join(f"{f}={layers[layer][f]:.3f}" if isinstance(
            layers[layer][f], float) else f"{f}={layers[layer][f]}" for f in STAT_UNITS)
        for layer in W.LAYERS)
    log("per-layer table (last traced rep):\n" + table)
    return metrics, ok


COUNTER_UNITS = {"mentions.input_mb": "MB", "pairs.edge_yield": "ratio",
                 "cc.distributed": "flag", "metrics.pairwise_f1": "ratio"}


if __name__ == "__main__":
    sys.exit(main())
