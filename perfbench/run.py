"""Repository benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload incremental --seed 3 --seconds 10 --trace 0

Runs each selected workload (`all` runs every one, in one Spark session)
against the package's public API on local[<cores>], prints every metric
by name and unit, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 its per-layer ones (from spans plus the Spark event log).
A failed call or a failed correctness check makes the exit code 1.

Everything the benchmark writes stays under `.perfbench_work/` in the
repository root: seeded inputs and oracle hashes (kept, keyed by seed
and size), Spark's local dirs, the event log and the run's out roots
(removed at the end).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sts_opentelemetry_collector_spark"
MIN_FREE_BYTES = 2 << 30
WORKLOADS = ("batch", "incremental", "service_graph", "near_dup")


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def process_start() -> float:
    """Epoch time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS = process_start()


def size_host(work: str) -> dict:
    """Size Spark to this host from outside the package, and keep every
    file Spark and its Python workers write inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    # a quarter of the host for the one local-mode JVM, capped at 8 GiB
    driver_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    if shutil.disk_usage(work).free < MIN_FREE_BYTES:
        die(f"less than {MIN_FREE_BYTES >> 30} GiB free under {work}")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_memory_mb": driver_mb}


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process's descendants (the
    Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_spark(work: str, trace: bool):
    from sts_opentelemetry_collector_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    evlog = None
    if trace:
        evlog = os.path.join(work, "evlog", str(os.getpid()))
        shutil.rmtree(evlog, ignore_errors=True)
        os.makedirs(evlog)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, evlog


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM has ended. The JVM
    outlives `spark.stop()` until its stdin closes; Spark stops its own
    Python workers on stop."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait()


def timed_loop(wl, seconds: float) -> tuple[list[int], list[float], int]:
    """Call the workload until `seconds` are spent (within its call-count
    limits). A call that raises counts as failed; its time is not kept.
    Returns items and latency per kept call, and the calls that raised."""
    from sts_opentelemetry_collector_spark.operators.cache import release_caches

    items, lat, raised = [], [], 0
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        release_caches()
        t = time.perf_counter()
        try:
            n = wl.call(i)
        except Exception:
            traceback.print_exc()
            wl.fail(f"call {i} raised")
            raised += 1
        else:
            lat.append(time.perf_counter() - t)
            items.append(n)
        i += 1
        if i >= wl.max_calls or (i >= wl.min_calls and time.perf_counter() >= t_end):
            break
    release_caches()
    return items, lat, raised


def check(wl) -> None:
    t0 = time.time()
    try:
        wl.check()
    except Exception:
        traceback.print_exc()
        wl.fail("correctness check raised")
    print(f"[{wl.name}] checks took {time.time() - t0:.2f} s", flush=True)


def run_workload(ctx, name: str, t_ready: float) -> dict:
    """Set up, time, optionally trace, and check one workload."""
    import workloads

    wl = workloads.WORKLOADS[name](ctx)
    t0 = time.time()
    props = wl.prepare()
    t_inputs = time.time() - t0
    print(f"[{name}] inputs: {json.dumps(props, sort_keys=True)}", flush=True)

    t0 = time.time()
    wl.setup()
    t_first = time.time()
    # process start -> first timed call, less input generation; a later
    # workload of the same process pays its own set-up on top of the one
    # session start
    setup_s = (t_ready - T_PROCESS) + (t_first - t0)
    if ctx.trace:
        wl.warm()

    sampler = RssSampler()
    sampler.start()
    items, lat, raised = timed_loop(wl, ctx.seconds)
    sampler.stop()
    attempted = len(lat) + raised

    check(wl)
    traced = None
    if ctx.trace and lat:
        import tracing

        tr = tracing.Tracer(ctx.spark.sparkContext, first_id=ctx.next_span_id)
        ctx.tracer = tr
        try:
            traced_lat = wl.traced(tr, len(lat))
        finally:
            ctx.tracer = None
            ctx.next_span_id = tr.next_id
        traced = (tr, traced_lat)
        check(wl)  # the traced calls' outputs pass the same gate
    # a failure belongs to a call or to the whole run's output
    failed = min(len(wl.failures), max(attempted, 1))
    for f in wl.failures:
        print(f"[{name}] FAILED: {f}", flush=True)

    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": sampler.peak / 2**20,
        # None (no number) when every call failed
        "items_per_s": wl.throughput(items, lat) if lat else None,
        "call_p50_s": statistics.median(lat) if lat else None,
    }
    print(f"[{name}] timed calls (s): {[round(x, 3) for x in lat]}; "
          f"inputs took {t_inputs:.2f} s (not counted)", flush=True)
    for line in (wl.describe(items, lat) if lat else []):
        print(f"[{name}] {line}", flush=True)
    return {"wl": wl, "e2e": e2e, "lat": lat, "traced": traced,
            "attempted": max(attempted, 1), "failed": failed}


def layer_metrics(res: dict, ev, declared: list[str]) -> dict[str, float]:
    """Every declared per-layer metric for one traced workload: the
    layers it never reaches read 0."""
    wl, (tr, traced_lat) = res["wl"], res["traced"]
    lat = res["lat"]
    m = {k: 0.0 for k in declared}
    # no topology elements, so no element content that could differ
    m["elements.content_stable"] = 1.0
    m.update(wl.layer_metrics(tr, ev, lat))
    m.update(wl.layer_extra)
    m["trace.overhead_s"] = (sum(traced_lat) - sum(lat)) / len(lat)
    # sampled over the untraced timed calls; too unsteady run to run
    # (JVM heap growth) to gate on, so it is reported here
    m["peak_rss_mb"] = res["e2e"]["peak_rss_mb"]
    unknown = set(m) - set(declared)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return m


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join(ROOT, PACKAGE, "__init__.py"),
                 os.path.join(ROOT, "fixtures", "mappings_v2.json")):
        if not os.path.isfile(need):
            die(f"required file missing: {need}")
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    host = size_host(work)
    sys.path[:0] = [HERE, ROOT]
    print(f"perfbench: host {host}, seed {args.seed}, {args.seconds:g} s per "
          f"workload, trace {args.trace}", flush=True)

    import checks

    run_dir = os.path.join(work, "run", str(os.getpid()))
    selected = WORKLOADS if args.workload == "all" else [args.workload]
    t0 = time.time()
    spark, evlog = start_spark(work, bool(args.trace))
    t_ready = time.time()
    ctx = SimpleNamespace(
        spark=spark, root=ROOT, work=work, run_dir=run_dir, seed=args.seed,
        seconds=args.seconds, trace=bool(args.trace), cpus=host["cpus"],
        tracer=None, next_span_id=0,
        record=checks.Record(work, f"seed{args.seed}"),
    )
    print(f"perfbench: session ready in {t_ready - t0:.2f} s", flush=True)

    results = {}
    try:
        for name in selected:
            results[name] = run_workload(ctx, name, t_ready)
            results[name]["wl"].cleanup()
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    declared = bench["per_layer"] if args.trace else bench["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    ev = None
    if args.trace:
        import tracing

        ev = tracing.read_event_log(evlog)
        shutil.rmtree(evlog)
    out_metrics, attempted, failed = {}, 0, 0
    for name, res in results.items():
        attempted += res["attempted"]
        failed += res["failed"]
        if args.trace:
            if res["traced"] is None:
                continue
            vals = layer_metrics(res, ev, list(units))
            tr = res["traced"][0]
            tr.dump(os.path.join(work, f"spans-{name}-seed{args.seed}.jsonl"))
            print(f"[{name}] span tree (count, total s, self s):")
            for label, count, tot, self_s in tr.tree_summary():
                print(f"[{name}]   {label:<34} {count:>4} {tot:9.3f} {self_s:9.3f}")
        else:
            vals = res["e2e"]
            print(f"[{name}] peak_rss_mb = {vals['peak_rss_mb']:.6g} MB (not gated)")
        for k in units:
            print(f"[{name}] {k} = {vals[k]} {units[k]}")
            key = k if len(results) == 1 else f"{name}.{k}"
            out_metrics[key] = {"value": vals[k], "unit": units[k]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
