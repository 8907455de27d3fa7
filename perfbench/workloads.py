"""The benchmark's workloads, each driven through the package's public API.

A workload has four phases:

- `prepare`: generate or reuse its seeded inputs (never timed);
- `setup`: the untimed state the timed call needs, such as the split an
  incremental run appends to;
- `call`: one timed operation, repeated by the runner until the run's
  seconds are spent (some workloads need a minimum number of calls);
- `check`: the correctness gate over every call's output, after timing.

There is no warm pass: a run's first timed call is the first of its kind
in the session, so it pays its JIT and codegen warm-up. A run is then one
JVM start, its set-up and its timed calls, which keeps the many runs a
comparison of two commits needs short; a call after a warm pass sat on
the steep part of the JIT curve, so it spread no less run to run.

`traced` repeats the timed calls with spans installed; `layer_metrics`
turns those spans plus the Spark event log into per-layer numbers.
`warm` runs only in a traced run, before its untraced call, so that call
is as warm as the traced calls it is compared with.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyspark.sql.functions as F

import checks
import inputs
import tracing

from sts_opentelemetry_collector_spark.operators.cache import release_caches


def force(df) -> None:
    """Run a frame to completion without keeping its output."""
    df.write.format("noop").mode("overwrite").save()


def tail_note(lat: list[float]) -> str:
    """Sample count, plus the highest percentile with at least ten
    samples beyond it, when there is one."""
    n = len(lat)
    if n < 20:
        return f"n={n} calls; no percentile has 10 samples beyond it"
    p = int(100 * (n - 10) / n)
    return f"n={n} calls; p{p} = {statistics.quantiles(lat, n=100)[p - 1]:.4f} s"


def span_seconds(spans, name: str) -> float:
    """Total duration of every span called `name`."""
    return sum(s.end - s.start for s in spans if s.name == name)


def _arg(args, kwargs, idx: int, key: str):
    return args[idx] if len(args) > idx else kwargs.get(key)


class Workload:
    name = ""
    min_calls = 1
    max_calls = 1_000

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.failures: list[str] = []
        self.layer_extra: dict[str, float] = {}

    def prepare(self) -> dict:
        raise NotImplementedError

    def setup(self) -> None:
        """Untimed state the timed call needs."""

    def warm(self) -> None:
        """Untimed pass over the code the calls run (traced runs only)."""

    def call(self, i: int) -> int:
        """Run timed operation `i`; return the items it processed."""
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def throughput(self, items: list[int], lat: list[float]) -> float:
        """Median per-call rate (every call of these workloads is the same
        size)."""
        return statistics.median(n / t for n, t in zip(items, lat))

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def traced(self, tracer, n_calls: int) -> list[float]:
        raise NotImplementedError

    def layer_metrics(self, tracer, ev, lat: list[float]) -> dict[str, float]:
        """Per-layer numbers of the traced calls; `lat` holds the
        untraced calls' latencies."""
        raise NotImplementedError

    def describe(self, items: list[int], lat: list[float]) -> list[str]:
        return []

    def cleanup(self) -> None:
        pass


# ---------------------------------------------------------------------------
# flagship pipeline: incremental ingest and one-shot batch


def _tree_stats(root: str) -> tuple[int, int, int]:
    """(txlog commits, data files, data bytes) under an out root."""
    commits = files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        in_log = os.path.basename(dirpath) == "_txlog"
        for n in names:
            if in_log and n.endswith(".json") and n[:-5].isdigit():
                commits += 1
            elif n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return commits, files, size


def install_pipeline_wrappers(tr) -> None:
    """Spans around every layer call `run_pipeline` makes."""
    from sts_opentelemetry_collector_spark.operators import intake
    from sts_opentelemetry_collector_spark.plans import lineage, pipeline, txlog
    from sts_opentelemetry_collector_spark.plans.sinks import SinkCatalog

    def by_sink(op: str, named: dict[str, str]):
        def namer(self, *a, **k):
            sink = _arg(a, k, 1, "name")
            return named.get(sink, f"sinks.{op}.{sink}")
        return namer

    tr.patch(SinkCatalog, "stage", by_sink("stage", {"otel_logs": "parse.logs_stage"}))
    tr.patch(SinkCatalog, "append",
             by_sink("append", {"topology_elements": "elements.append"}))
    tr.patch(SinkCatalog, "overwrite",
             by_sink("overwrite", {"stream_metadata": "metadata.overwrite"}))
    tr.patch(pipeline, "apply_mappings", lambda *a, **k: "mapping.plan")
    tr.patch(pipeline, "publish_element_stream", lambda *a, **k: "publish")
    tr.patch(intake, "write_intake", lambda *a, **k: "publish.intake")
    tr.patch(pipeline, "upsert_resources", lambda *a, **k: "tail.resources_merge")
    tr.patch(txlog.TxLogTable, "merge_aggregate", lambda *a, **k: "tail.rollup_merge")
    # partition_stats only builds a frame; its job runs in this pool task
    tr.patch_pool(pipeline, {"_j_stats": "tail.partition_stats"})
    for m in ("completed_partitions", "run_ids", "record"):
        tr.patch(lineage.Manifest, m, lambda *a, **k: "lineage.manifest")
    tr.patch(txlog.TxLogTable, "commits", lambda *a, **k: "txlog.commits_read")
    tr.patch(txlog.PendingCommit, "publish", lambda *a, **k: "txlog.publish")


# spans every traced pipeline run must produce; a missing one means a
# wrapper no longer sits where the pipeline looks the call up
PIPELINE_SPANS = (
    "parse.logs_stage", "mapping.plan", "elements.append", "publish",
    "publish.intake", "tail.resources_merge", "tail.rollup_merge",
    "tail.partition_stats", "lineage.manifest", "txlog.commits_read",
    "txlog.publish",
)


class PipelineWorkload(Workload):
    """Shared pipeline plumbing: calls, tree accounting, and checks."""


    def __init__(self, ctx):
        super().__init__(ctx)
        from sts_opentelemetry_collector_spark.sources.settings import (
            default_mappings, load_mapping_set,
        )

        self.v1 = default_mappings()
        self.v2 = load_mapping_set(os.path.join(ctx.root, "fixtures", "mappings_v2.json"))
        self.scratch = os.path.join(ctx.run_dir, self.name)
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        self.tree_deltas: list[tuple[int, int, int, int]] = []  # traced runs
        self.run_spans: list[int] = []

    def pipeline(self, path: str, root: str, **kw) -> dict:
        from sts_opentelemetry_collector_spark.plans.pipeline import run_pipeline

        tr = self.ctx.tracer
        if tr is None:
            return run_pipeline(self.spark, path, root, **kw)
        before = _tree_stats(root)
        with tr.span("pipeline.run") as sid:
            out = run_pipeline(self.spark, path, root, **kw)
        after = _tree_stats(root)
        self.run_spans.append(sid)
        self.tree_deltas.append(
            (after[0] - before[0], after[1] - before[1], after[2] - before[2],
             os.path.getsize(path))
        )
        return out

    def traced_setup(self, tr) -> None:
        """Untimed state the traced calls start from."""

    def traced(self, tr, n_calls: int) -> list[float]:
        install_pipeline_wrappers(tr)
        try:
            self.traced_setup(tr)
            # per-layer numbers cover the timed calls only
            self.run_spans.clear()
            self.tree_deltas.clear()
            lat = []
            for i in range(n_calls):
                release_caches()
                t = time.perf_counter()
                self.call(i)
                lat.append(time.perf_counter() - t)
                self.after_traced_call(i)
        finally:
            tr.restore()
        return lat

    def after_traced_call(self, i: int) -> None:
        """Untimed work between traced calls."""

    def check_root(self, root: str, input_paths: list[str], removed: int) -> None:
        """Sink-level gate over one out root fed by `input_paths`."""
        from sts_opentelemetry_collector_spark.plans.sinks import SinkCatalog

        spark, sinks = self.spark, SinkCatalog(os.path.join(root, "sinks"))
        src = spark.read.parquet(*input_paths)
        pages = src.count()
        logs = sinks.read(spark, "otel_logs")
        n_logs = logs.count()
        if n_logs != pages:
            self.fail(f"{root}: otel_logs has {n_logs} rows for {pages} pages")
        # parse: byte-identical text per url, as a multiset over all splits
        got = logs.select("url", F.col("extracted_text").alias("t"))
        want = src.select("url", F.col("text").alias("t"))
        diff = got.exceptAll(want).count() + want.exceptAll(got).count()
        if diff:
            self.fail(f"{root}: {diff} (url, text) rows differ from the input")
        rolled = sinks.read(spark, "rollup_host_window").agg(F.sum("page_count")).first()[0]
        if rolled != pages:
            self.fail(f"{root}: rollup page_count sums to {rolled}, not {pages}")
        n_tomb = sinks.read(spark, "tombstones").count() if sinks.exists("tombstones") else 0
        if n_tomb != 4 * removed:
            self.fail(f"{root}: {n_tomb} tombstones for {removed} removed mappings")
        elements = sinks.read(spark, "topology_elements")
        ident = checks.spark_hash(
            elements.select("data_source", "shard_id", "external_id", "element_kind").distinct()
        )
        key = self.inputs_key(input_paths)
        want = checks.IDENTITY.get(key)
        if want is None:
            # a seed with no committed hash: its first local run is the
            # reference, so only later runs in this checkout are checked
            ok = self.ctx.record.first(f"{key}.elements.identity", ident)
        else:
            ok = ident == want
        if not ok:
            self.fail(f"{root}: element identity set differs from the reference")
        if self.ctx.trace:
            self.note_content(root, input_paths)

    def inputs_key(self, input_paths: list[str]) -> str:
        return f"{self.name}.{os.path.basename(os.path.dirname(input_paths[-1]))}.x{len(input_paths)}"

    def note_content(self, root: str, input_paths: list[str]) -> None:
        """Compare the full element rows of `root` with every earlier root
        fed the same inputs, in this run or an earlier run of the seed.
        dropDuplicates keeps an arbitrary row per key, so they may differ:
        recorded for the traced run, not gated."""
        from sts_opentelemetry_collector_spark.plans.sinks import SinkCatalog

        elements = SinkCatalog(os.path.join(root, "sinks")).read(self.spark, "topology_elements")
        full = checks.spark_hash(elements)
        stable = self.ctx.record.first(f"{self.inputs_key(input_paths)}.elements.full_rows", full)
        self.layer_extra["elements.content_stable"] = min(
            self.layer_extra.get("elements.content_stable", 1.0), float(stable)
        )

    def layer_metrics(self, tr, ev, lat) -> dict[str, float]:
        by_id = {s.id: s for s in tr.spans}
        selfs = tr.self_times()
        runs = [by_id[i] for i in self.run_spans]
        n = len(runs)
        timed: set[int] = set()
        for r in runs:
            timed |= tr.subtree(r.id)
        spans = [s for s in tr.spans if s.id in timed]
        seen = {s.name for s in spans}
        missing = [name for name in PIPELINE_SPANS if name not in seen]
        if missing:
            raise RuntimeError(f"traced pipeline runs produced no span for {missing}")

        def total(name: str) -> float:
            return span_seconds(spans, name) / n

        def sub(name: str) -> set[int]:
            out: set[int] = set()
            for s in spans:
                if s.name == name:
                    out |= tr.subtree(s.id)
            return out

        parse = tracing.rollup(ev, sub("parse.logs_stage"))
        elem = tracing.rollup(ev, sub("elements.append"))
        pub = tracing.rollup(ev, sub("publish"))
        commits, files, size, in_bytes = (sum(d[i] for d in self.tree_deltas) for i in range(4))
        m = {
            "pipeline.run_s": total("pipeline.run"),
            "pipeline.self_s": sum(selfs[r.id] for r in runs) / n,
            "parse.logs_stage_s": total("parse.logs_stage"),
            "parse.task_cpu_s": parse.cpu_s / n,
            "parse.python_wait_s": (parse.run_s - parse.cpu_s) / n,
            "mapping.plan_s": total("mapping.plan"),
            "elements.append_s": total("elements.append"),
            "elements.task_cpu_s": elem.cpu_s / n,
            "elements.shuffle_write_records": elem.shuffle_write_records / n,
            "elements.shuffle_write_bytes": elem.shuffle_write_bytes / n,
            "publish.s": total("publish"),
            "publish.self_s": sum(selfs[s.id] for s in spans if s.name == "publish") / n,
            "publish.intake_s": total("publish.intake"),
            "publish.rows_read": pub.records_read / n,
            "metadata.overwrite_s": total("metadata.overwrite"),
            "tail.resources_merge_s": total("tail.resources_merge"),
            "tail.rollup_merge_s": total("tail.rollup_merge"),
            "tail.partition_stats_s": total("tail.partition_stats"),
            "lineage.manifest_s": total("lineage.manifest"),
            "txlog.commits_read_s": total("txlog.commits_read"),
            "txlog.publish_s": total("txlog.publish"),
            "txlog.commits_per_run": commits / n,
            "sinks.files_per_run": files / n,
            "sinks.bytes_per_input_byte": size / in_bytes,
        }
        m.update(spark_per_call(ev, runs))
        return m


def spark_per_call(ev, calls) -> dict[str, float]:
    """Scheduler and executor totals per traced call, by time window."""
    n = len(calls)
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "cpu": 0.0, "gc": 0.0,
           "spill": 0, "shuffle": 0, "idle": 0.0}
    for c in calls:
        tot["jobs"] += sum(1 for t in ev.job_times if c.start <= t <= c.end)
        tot["stages"] += sum(1 for t in ev.stage_times if c.start <= t <= c.end)
        ts = [t for t in ev.tasks if c.start <= t.launch <= c.end]
        tot["tasks"] += len(ts)
        tot["cpu"] += sum(t.cpu_s for t in ts)
        tot["gc"] += sum(t.gc_s for t in ts)
        tot["spill"] += sum(t.spill_bytes for t in ts)
        tot["shuffle"] += sum(t.shuffle_write_bytes for t in ts)
        tot["idle"] += tracing.idle_seconds(ev, c.start, c.end)
    return {
        "spark.jobs_per_run": tot["jobs"] / n,
        "spark.stages_per_run": tot["stages"] / n,
        "spark.tasks_per_run": tot["tasks"] / n,
        "spark.idle_s": tot["idle"] / n,
        "spark.executor_cpu_s": tot["cpu"] / n,
        "spark.gc_s": tot["gc"] / n,
        "spark.spill_bytes": tot["spill"] / n,
        "spark.shuffle_write_bytes": tot["shuffle"] / n,
    }


class Incremental(PipelineWorkload):
    """Small seeded ingest splits, each its own `input_split`, into one
    out root that starts empty. Split 0 carries the mapping switch: it
    runs `fixtures/mappings_v2.json` with the default mappings as the
    previous snapshot, so the metadata republish and the tombstones run.
    Every later split keeps v2 and appends to tables that already hold
    data, so those splits are alike. The traced pass runs one alike
    split more than the timed run, so `incr.growth_ratio` compares splits
    that differ only in how much the tables already hold."""

    name = "incremental"
    # a split costs ~9 s warm on 4 cores, mostly per-run fixed cost (about
    # 50 Spark jobs), so splits are small. Both timed splits count: the
    # cold first split spreads less run to run than the second, which
    # sits on the steep part of the JIT curve. A fixed count keeps the
    # element identity set of a seed the same run to run.
    SPLIT_PAGES = 5_000
    min_calls = max_calls = 2
    REMOVED = 2  # mappings v1 has and v2 drops

    def prepare(self) -> dict:
        c = self.ctx
        self.splits = [
            inputs.webtext(c.work, c.seed * 1000 + i, self.SPLIT_PAGES, c.cpus)
            for i in range(self.max_calls + 1)
        ]
        return {"split_pages": self.SPLIT_PAGES, "timed_splits": self.max_calls,
                "mapping_switch": "split 0"}

    def _fresh_root(self, name: str) -> None:
        self.root = os.path.join(self.scratch, name)
        shutil.rmtree(self.root, ignore_errors=True)
        self.used = 0

    def setup(self) -> None:
        self._fresh_root("out")

    def warm(self) -> None:
        self.pipeline(self.splits[0], os.path.join(self.scratch, "warm"),
                      mappings=self.v2, previous_mappings=self.v1)

    def call(self, i: int) -> int:
        prev = self.v1 if i == 0 else self.v2
        s = self.pipeline(self.splits[i], self.root, mappings=self.v2, previous_mappings=prev)
        self.used = i + 1
        if s["sink_counts"]["otel_logs"] != self.SPLIT_PAGES:
            self.fail(f"split {i} landed {s['sink_counts']['otel_logs']} pages")
        return self.SPLIT_PAGES

    def throughput(self, items, lat) -> float:
        # total pages over total sequence time: late-split growth shows here
        return sum(items) / sum(lat)

    def check(self) -> None:
        self.check_root(self.root, self.splits[: self.used], self.REMOVED)

    def traced_setup(self, tr) -> None:
        self._fresh_root("traced")

    def traced(self, tr, n_calls: int) -> list[float]:
        # one split more, so incr.growth_ratio has two alike splits; the
        # tracing overhead compares the timed run's splits only
        self.traced_lat = super().traced(tr, n_calls + 1)
        return self.traced_lat[:n_calls]

    def after_traced_call(self, i: int) -> None:
        # the traced root now holds the same splits as the timed root, so
        # their full element rows are compared within this one run
        if i == self.max_calls - 1:
            self.note_content(self.root, self.splits[: self.max_calls])

    def layer_metrics(self, tr, ev, lat) -> dict[str, float]:
        m = super().layer_metrics(tr, ev, lat)
        # the republish runs once, on the switch split
        m["metadata.overwrite_s"] = span_seconds(tr.spans, "metadata.overwrite")
        # last quarter's mean split latency over the first quarter's,
        # leaving out the switch split
        tl = self.traced_lat[1:]
        q = max(1, len(tl) // 4)
        m["incr.growth_ratio"] = (sum(tl[-q:]) / q) / (sum(tl[:q]) / q)
        return m

    def describe(self, items, lat) -> list[str]:
        return [
            f"incr_split_p50_s = {statistics.median(lat):.4f} s ({tail_note(lat)})",
            f"incr_pages_per_s = {sum(items) / sum(lat):.1f} pages/s",
        ]

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


class Batch(PipelineWorkload):
    """One `run_pipeline` over a seeded webtext table into an empty out
    root."""

    name = "batch"
    # ~13 s a warm run on 4 cores, parse and element write the largest
    # stages
    PAGES = 100_000
    WARM_PAGES = 2_000
    min_calls = max_calls = 1

    def prepare(self) -> dict:
        c = self.ctx
        self.input = inputs.webtext(c.work, c.seed, self.PAGES, 2 * c.cpus)
        self.warm_input = inputs.webtext(c.work, 0, self.WARM_PAGES, c.cpus)
        self.roots: list[str] = []
        return {"pages": self.PAGES, "warm_pages": self.WARM_PAGES}

    def warm(self) -> None:
        self.pipeline(self.warm_input, os.path.join(self.scratch, "warm"))

    def call(self, i: int) -> int:
        root = os.path.join(self.scratch, f"out{len(self.roots)}")
        self.roots.append(root)
        s = self.pipeline(self.input, root)
        if s["sink_counts"]["otel_logs"] != self.PAGES:
            self.fail(f"{root}: run landed {s['sink_counts']['otel_logs']} pages")
        return self.PAGES

    def check(self) -> None:
        for root in self.roots:
            self.check_root(root, [self.input], 0)
            shutil.rmtree(root, ignore_errors=True)
        self.roots = []

    def describe(self, items, lat) -> list[str]:
        return [f"batch_pages_per_s = {self.throughput(items, lat):.1f} pages/s "
                f"({tail_note(lat)}, {self.PAGES} pages each)"]

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# service graph connector


class ServiceGraph(Workload):
    """events -> spans_from_events -> build_edges -> edge_metrics (the
    connector dims q_sg_relations uses) + latency_histogram ->
    metrics_to_relations / metrics_to_components, all collected."""

    name = "service_graph"
    # ~15 s a cold call on 4 cores; four collected results re-derive the
    # edges.
    EVENTS = 200_000
    # a call's cost is mostly per-job, so a quarter-size warm pass fills
    # the same JIT and codegen caches as a full one; a 10k-event one left
    # the next call colder
    WARM_EVENTS = 50_000
    min_calls = max_calls = 1

    def prepare(self) -> dict:
        c = self.ctx
        self.input = inputs.events(c.work, c.seed, self.EVENTS, 2 * c.cpus)
        self.warm_input = inputs.events(c.work, 0, self.WARM_EVENTS, 2 * c.cpus)
        self.results: list[tuple] = []
        return {"events": self.EVENTS, "warm_events": self.WARM_EVENTS,
                **inputs.props_of(self.input)}

    def _graph(self, path: str):
        from sts_opentelemetry_collector_spark.entry_queries import _CONN_DIMS
        from sts_opentelemetry_collector_spark.operators.aggregate import (
            edge_metrics, latency_histogram,
        )
        from sts_opentelemetry_collector_spark.operators.service_graph import build_edges
        from sts_opentelemetry_collector_spark.sources.spans import spans_from_events

        dims = ["client", "server", "connection_type"] + _CONN_DIMS
        spans = spans_from_events(self.spark.read.parquet(path))
        edges = build_edges(spans)
        return spans, edges, edge_metrics(edges, dims), latency_histogram(
            edges, dims, "client_latency_sec")

    def _collect(self, path: str):
        from sts_opentelemetry_collector_spark.operators.service_graph import (
            metrics_to_components, metrics_to_relations,
        )

        _, _, counters, hist = self._graph(path)
        return (
            counters.toPandas(), hist.toPandas(),
            metrics_to_relations(counters).toPandas(),
            metrics_to_components(counters).toPandas(),
        )

    def warm(self) -> None:
        self._collect(self.warm_input)

    def call(self, i: int) -> int:
        self.results.append(self._collect(self.input))
        return 1

    def throughput(self, items, lat) -> float:
        # spans fed per call, counted after timing (check)
        return statistics.median(self.n_spans / t for t in lat)

    def check(self) -> None:
        from sts_opentelemetry_collector_spark import entry_queries as Q

        self.n_spans = self._graph(self.input)[0].count()
        views = {"events": os.path.join(self.input, "*.parquet")}
        rec = self.ctx.record
        want = {
            k: rec.get_or_compute(f"{os.path.basename(self.input)}.{k}",
                                  lambda sql=sql: checks.duckdb_hash(views, sql))
            for k, sql in (("edge_metrics", Q.SQL_SG_EDGE_METRICS),
                           ("relations", Q.SQL_SG_RELATIONS),
                           ("components", Q.SQL_SG_COMPONENTS))
        }
        for i, (counters, hist, rel, comp) in enumerate(self.results):
            edge = counters.groupby(
                ["client", "server", "connection_type"], as_index=False
            )[["req_total", "req_failed_total"]].sum()
            got = {"edge_metrics": checks.frame_hash(edge),
                   "relations": checks.frame_hash(rel),
                   "components": checks.frame_hash(comp)}
            for k in want:
                if got[k] != want[k]:
                    self.fail(f"call {i}: {k} differs from the DuckDB oracle")
            # histograms carry the same requests as the counters
            if int(hist["count"].sum()) != int(counters["req_total"].sum()) or any(
                sum(b) != c for b, c in zip(hist["bucket_counts"], hist["count"])
            ):
                self.fail(f"call {i}: histogram counts disagree with the counters")
        self.results = []

    def traced(self, tr, n_calls: int) -> list[float]:
        from sts_opentelemetry_collector_spark.operators.service_graph import (
            metrics_to_components, metrics_to_relations,
        )

        lat = []
        self.calls: list[int] = []
        for _ in range(n_calls):
            release_caches()
            t = time.perf_counter()
            with tr.span("sg.call") as sid:
                spans, edges, counters, hist = self._graph(self.input)
                with tr.span("sg.edges"):
                    force(edges)
                with tr.span("sg.metrics"):
                    counters.collect()
                    hist.collect()
                with tr.span("sg.topology"):
                    metrics_to_relations(counters).collect()
                    metrics_to_components(counters).collect()
            lat.append(time.perf_counter() - t)
            self.calls.append(sid)
        n_edges = edges.count()
        n_client = spans.where(F.col("kind").isin("CLIENT", "PRODUCER")).count()
        self.layer_extra["sg.pair_match_ratio"] = n_edges / n_client
        return lat

    def layer_metrics(self, tr, ev, lat) -> dict[str, float]:
        by_id = {s.id: s for s in tr.spans}
        calls = [by_id[i] for i in self.calls]
        n = len(calls)
        sub: set[int] = set()
        for c in calls:
            sub |= tr.subtree(c.id)
        r = tracing.rollup(ev, sub)
        m = {
            "sg.edges_s": span_seconds(tr.spans, "sg.edges") / n,
            "sg.metrics_s": span_seconds(tr.spans, "sg.metrics") / n,
            "sg.topology_s": span_seconds(tr.spans, "sg.topology") / n,
            "sg.task_cpu_s": r.cpu_s / n,
            "sg.shuffle_write_bytes": r.shuffle_write_bytes / n,
            "sg.spill_bytes": r.spill_bytes / n,
        }
        m.update(spark_per_call(ev, calls))
        return m

    def describe(self, items, lat) -> list[str]:
        return [f"sg_spans_per_s = {self.throughput(items, lat):.1f} spans/s "
                f"({tail_note(lat)}, {self.n_spans} spans each)"]


# ---------------------------------------------------------------------------
# near-dup text dedup


class NearDup(Workload):
    """The seeded near-dup corpus through `textops.apply_dedup`, with the
    kept corpus collected."""

    name = "near_dup"
    # ~25 s a cold call on 4 cores, mostly per-job cost (about 65 Spark
    # jobs, 40 of them CC rounds).
    DOCS = 1_000
    min_calls = max_calls = 1

    def prepare(self) -> dict:
        c = self.ctx
        self.input = inputs.corpus(c.work, c.seed, self.DOCS, c.cpus)
        self.results: list = []
        return inputs.props_of(self.input)

    def _kept(self, path: str):
        from sts_opentelemetry_collector_spark.operators.textops import apply_dedup

        docs = self.spark.read.parquet(path)
        return apply_dedup(docs).select("doc_id", "lang", "source", "n_chars").toPandas()

    def warm(self) -> None:
        self._kept(self.input)

    def call(self, i: int) -> int:
        self.results.append(self._kept(self.input))
        return self.DOCS

    def check(self) -> None:
        from sts_opentelemetry_collector_spark import entry_queries as Q

        views = {"documents": os.path.join(self.input, "*.parquet")}
        # the recursive `reach` CTE would re-derive the inlined pair CTE on
        # every iteration; materializing it changes the cost, not the rows
        sql = Q.SQL_DEDUP_APPLY.replace("pairs AS (", "pairs AS MATERIALIZED (", 1)
        want = self.ctx.record.get_or_compute(
            f"{os.path.basename(self.input)}.dedup_apply",
            lambda: checks.duckdb_hash(views, sql))
        for i, kept in enumerate(self.results):
            if checks.frame_hash(kept) != want:
                self.fail(f"call {i}: kept corpus differs from the DuckDB oracle")
        self.results = []

    def traced(self, tr, n_calls: int) -> list[float]:
        from sts_opentelemetry_collector_spark.operators import textops

        lat = []
        self.calls: list[int] = []
        for _ in range(n_calls):
            release_caches()
            docs = self.spark.read.parquet(self.input)
            t = time.perf_counter()
            with tr.span("textops.call") as sid:
                with tr.span("textops.band_index"):
                    force(textops.lsh_band_index(docs, bands=4, n=2))
                with tr.span("textops.pairs"):
                    pairs = textops.ngram_jaccard_pairs(docs, threshold=0.5)
                    verified = pairs.count()
                with tr.span("textops.cc"):
                    groups = textops.connected_components(pairs.select("doc_a", "doc_b"))
                    groups.count()
                with tr.span("textops.apply"):
                    textops.apply_dedup(docs, groups).select(
                        "doc_id", "lang", "source", "n_chars").toPandas()
            lat.append(time.perf_counter() - t)
            self.calls.append(sid)
        # candidates the way bench_extra.py cc counts them
        keyed = textops.lsh_band_index(docs, bands=4, n=2)
        a, b = keyed.alias("a"), keyed.alias("b")
        candidates = (
            a.join(b, on=["band", "bucket"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"])
            .count()
        )
        release_caches()
        self.layer_extra.update({
            "textops.candidate_pairs": candidates,
            "textops.verified_pairs": verified,
            "textops.candidate_precision": verified / candidates,
        })
        return lat

    def layer_metrics(self, tr, ev, lat) -> dict[str, float]:
        by_id = {s.id: s for s in tr.spans}
        calls = [by_id[i] for i in self.calls]
        n = len(calls)
        cc_spans = {s.id for s in tr.spans if s.name == "textops.cc"}
        m = {
            "textops.band_index_s": span_seconds(tr.spans, "textops.band_index") / n,
            "textops.pairs_s": span_seconds(tr.spans, "textops.pairs") / n,
            "textops.cc_s": span_seconds(tr.spans, "textops.cc") / n,
            "textops.apply_s": span_seconds(tr.spans, "textops.apply") / n,
            "textops.cc_jobs": tracing.rollup(ev, cc_spans).jobs / n,
        }
        m.update(spark_per_call(ev, calls))
        return m

    def describe(self, items, lat) -> list[str]:
        return [f"dedup_docs_per_s = {self.throughput(items, lat):.1f} docs/s "
                f"({tail_note(lat)}, {self.DOCS} docs each)"]


WORKLOADS = {w.name: w for w in (Batch, Incremental, ServiceGraph, NearDup)}
