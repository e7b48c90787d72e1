"""Closed-loop benchmark of the dataquality_cli_spark package.

    python3 perfbench/run.py --workload filter --seed 1 --seconds 10 --trace 0

Run from the root of a checkout that holds the package. One client on
``local[<cores>]`` runs ops back to back, each starting when the
previous one returns. The run:

1. generates the workload's inputs from --seed (not timed);
2. starts the session and registers the inputs (``setup_s``);
3. runs one cold ``main`` op (``first_op_s``);
4. alternates ``alt`` and ``main`` ops for --seconds, and on, by at most
   LOOP_EXTRA_S, until each kind has settled with MIN_STEADY settled
   samples. A kind settles at its first op that is at most SETTLE_TOL
   faster than the one before it (warm-up is over); both ops, and all
   later ones, are settled samples. Throughput is records per op over
   the median settled op time. A run in which a kind never settles
   reports correct=false: its throughput would be a warm-up figure;
5. checks every op's output, and once, outside the clock, the output
   against an independent reference.

``peak_rss_mb`` is the peak summed RSS of this process, the Spark JVM
and the Python workers up to the end of step 4, with the JVM heap
counted by its peak use (MemoryPool MXBeans) rather than by the pages
G1 happens to have touched (see tracing.TreeRss).

The detail line before the result gives, per op kind, the value hash
of its output, so runs of one seed can be compared across commits.

With --trace 1 it instead runs a few traced ops and reports per-layer
metrics (see layers.py), writing spans to .perfbench_out/. The last line
of stdout is the result: {"correct", "attempted", "failed", "metrics"}.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dataquality_cli_spark"

SETTLE_TOL = 0.10    # an op at most 10 % faster than the one before: settled
MIN_STEADY = 2       # settled samples per op kind
LOOP_EXTRA_S = 60.0  # the loop may run this far past --seconds to settle
MAX_FAILS = 3        # consecutive failed ops that end the loop
TRACED_OPS = ("main", "alt", "main", "alt")
HEAP = "2g"          # Spark driver heap
YOUNG = "256m"       # its young generation
MB = 1024 * 1024


def _env(work: str, cores: int, java_opt: str) -> None:
    """Keep every file Spark, the JVM and Python write inside work/, and
    pass java_opt to the driver JVM.

    The heap is HEAP at most, with a young generation fixed at YOUNG:
    G1 otherwise resizes eden from its pause-time goal, and the peak heap
    use in peak_rss_mb then spread by 10-15 % between seeds of one
    workload. With eden fixed, what moves the peak is the old generation,
    where persisted blocks, broadcasts and large buffers live."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -Xmn{YOUNG} {java_opt}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options {shlex.quote(java_opts)} "
                                "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


def percentile_summary(times: list[float]) -> dict:
    """Median and the highest of p90/p99/p99.9 with at least ten
    samples beyond it (None when there are too few samples)."""
    out = {"n": len(times), "median_s": statistics.median(times) if times else None,
           "high": None}
    for p in (0.999, 0.99, 0.9):
        if len(times) * (1 - p) >= 10:
            q = statistics.quantiles(times, n=1000, method="inclusive")[round(p * 1000) - 1]
            out["high"] = {"p": p * 100, "s": q}
            break
    return out


class Runner:
    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.log: list[dict] = []

    def run_op(self, kind: str, fn) -> float | None:
        """Time fn(), then check its output outside the clock. Returns
        the op time, or None if the op raised or its output was wrong."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            value = fn()
            dt = time.perf_counter() - t
            ok = self.wl.check(kind, self.wl.result(kind, value))
        except Exception:  # an op that raises is a failed op; keep measuring
            traceback.print_exc()
            dt, ok = time.perf_counter() - t, False
        self.log.append({"kind": kind, "s": dt, "ok": ok})
        if not ok:
            self.failed += 1
            print(f"perfbench: {kind} op failed its output check", file=sys.stderr)
            return None
        return dt


def untraced(runner: Runner, wl, seconds: float) -> tuple[dict, dict, bool]:
    first = runner.run_op("main", lambda: wl.op("main"))
    times = {"alt": [], "main": []}     # after the cold op
    steady: dict[str, list[float]] = {"alt": [], "main": []}
    fails = 0
    start = time.perf_counter()
    while True:
        # the op kind with fewer samples goes next (alt on a tie): the
        # two kinds alternate, and a failed op is retried first. They
        # alternate even once one has settled: a dedup main op ran ~15 %
        # faster right after another main op than right after an alt op,
        # so every sample must follow the same kind of op.
        kind = min(times, key=lambda k: len(times[k]))
        elapsed = time.perf_counter() - start
        enough = all(len(v) >= MIN_STEADY for v in steady.values())
        # past the first, half-cold op of each kind, an op expected to
        # end after the cap is not started
        late = len(times[kind]) >= 2 and \
            elapsed + times[kind][-1] > seconds + LOOP_EXTRA_S
        if (enough and elapsed >= seconds) or late or fails >= MAX_FAILS:
            break
        dt = runner.run_op(kind, lambda k=kind: wl.op(k))
        if dt is None:
            fails += 1
            continue
        fails = 0
        t = times[kind]
        t.append(dt)
        if steady[kind]:
            steady[kind].append(dt)
        elif len(t) >= 2 and dt >= (1 - SETTLE_TOL) * t[-2]:
            steady[kind] = t[-2:]
    settled = {k: len(v) >= MIN_STEADY for k, v in steady.items()}
    for k, v in steady.items():
        if not v:  # never settled: all but the first, half-cold op
            steady[k] = times[k][1:] or times[k]
    per_s = {k: wl.records / statistics.median(v) if v else 0.0 for k, v in steady.items()}
    metrics = {"first_op_s": first or 0.0, "main_per_s": per_s["main"],
               "alt_per_s": per_s["alt"]}
    report = {k: {**percentile_summary(steady[k]), "settled": settled[k], "warm_s": times[k],
                  "attempted": sum(r["kind"] == k for r in runner.log),
                  "failed": sum(r["kind"] == k and not r["ok"] for r in runner.log),
                  "value_hash": wl.expected.get(wl.hash_key(k))}
              for k in steady}
    return metrics, report, all(settled.values())


def traced(runner: Runner, wl, spark, spans, setup: dict) -> dict:
    """Runs TRACED_OPS; returns every per-layer metric of BENCHMARK.json.
    ``setup`` holds the layer metrics measured while setting up."""
    from layers import FROM_FIRST_OP, MOVES
    from tracing import SparkCounters, jvm_heap_peak

    names = [m["name"] for m in SPEC["per_layer"]]
    if set(names) != set(MOVES):
        raise RuntimeError(f"layers.MOVES and BENCHMARK.json differ: {set(names) ^ set(MOVES)}")

    counters = SparkCounters(spark)
    sc = spark.sparkContext
    seen: dict[str, list[dict]] = {"main": [], "alt": []}
    for i, kind in enumerate(TRACED_OPS):
        group = f"{kind}-{i}"
        sc.setJobGroup(group, f"perfbench {wl.name} {kind} op {i}")
        spans.op = group
        sfx = "" if kind == "main" else ".alt"
        m: dict = {}

        def fn(kind=kind, group=group, sfx=sfx, m=m):
            gc0, jit0 = counters.jvm_times()
            with spans.span(f"op.{kind}") as op:
                value, layer = wl.traced_op(kind, spans)
            gc1, jit1 = counters.jvm_times()
            # the op's own span, not fn's wall time, which also reads counters
            m[f"trace.{kind}_op_s"] = op["end"] - op["start"]
            tot = counters.group_totals(group)
            m.update(layer)
            m.update(wl.layer_counters(kind, counters, group))
            m.update({f"spark.jobs{sfx}": tot["jobs"], f"spark.stages{sfx}": tot["stages"],
                      f"spark.tasks{sfx}": tot["tasks"], f"jvm.gc_s{sfx}": gc1 - gc0,
                      f"jvm.jit_s{sfx}": jit1 - jit0,
                      f"spark.persisted_after_op{sfx}": counters.persisted_rdds()})
            return value

        runner.run_op(kind, fn)
        seen[kind].append(m)
    spans.op = None
    sc.setJobGroup("extras", "perfbench extras")
    metrics = {**setup, **wl.trace_extras(spans),
               "jvm.heap_peak_mb": sum(jvm_heap_peak(spark).values()) / MB}
    for kind, ms in seen.items():
        for name, v in ms[-1].items():
            metrics[name] = ms[0].get(name, 0.0) if name in FROM_FIRST_OP else v
    return {name: float(metrics.get(name, 0.0)) for name in names}


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM: it exits when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _wait_gone(pids: set[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left after timeout."""
    def alive(p: int) -> bool:
        try:
            with open(f"/proc/{p}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(alive(p) for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from tracing import Spans, TreeRss, heap_log_option, jvm_heap_peak
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # on SIGTERM, unwind through the finally below, which stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    heap_log = os.path.join(work, "tmp", "jvm-heap.log")
    _env(work, cores, heap_log_option(heap_log))
    rss = TreeRss(os.getpid(), heap_log)
    rss.start()
    spans = Spans()
    spark = None
    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        t = time.perf_counter()
        inputs = wl.generate()
        gen_s = time.perf_counter() - t

        from dataquality_cli_spark.session import get_spark

        with spans.span("session.start") as s_session:
            spark = get_spark(app=f"perfbench-{args.workload}", master=f"local[{cores}]")
            spark.sparkContext.setLogLevel("ERROR")
        with spans.span("inputs.register"):
            wl.register(spark, spans)
        setup_s = time.perf_counter() - T_START - gen_s

        runner = Runner(wl)
        steady, memory = True, {}
        if args.trace:
            setup = {"session.start_s": s_session["end"] - s_session["start"],
                     **wl.setup_probes(spark, spans)}
            metrics, report = traced(runner, wl, spark, spans, setup), {}
        else:
            metrics, report, steady = untraced(runner, wl, args.seconds)
            rss.stop()
            if rss.heap is None:
                raise RuntimeError(f"the JVM wrote no heap address to {heap_log}")
            heap = jvm_heap_peak(spark)
            memory = {"tree_peak_mb": rss.peak / MB, "off_heap_peak_mb": rss.peak_off_heap / MB,
                      "heap_peak_mb": {k: v / MB for k, v in heap.items()}}
            metrics = {"setup_s": setup_s, **metrics,
                       "peak_rss_mb": (rss.peak_off_heap + sum(heap.values())) / MB}
        spark.sparkContext.setJobGroup("check", "perfbench independent check")
        ok, detail = wl.independent_check()
    finally:
        rss.stop()
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            _wait_gone(rss.seen, timeout=30)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run still uses it
                pass

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    if not steady:
        print("perfbench: an op kind never settled; its throughput is a warm-up figure",
              file=sys.stderr)
    correct = ok and runner.failed == 0 and steady
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "cores": cores, "records_per_op": wl.records, "inputs": inputs,
                      "generate_s": gen_s, "ops": report, "memory": memory,
                      "op_log": runner.log,
                      "independent_check": {"ok": ok, **detail}}))
    print(json.dumps({
        "correct": correct, "attempted": runner.attempted, "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}

if __name__ == "__main__":
    sys.exit(main())
