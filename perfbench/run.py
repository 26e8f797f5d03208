"""End-to-end benchmark of the indexer engine.

Run from the repository root:

    python3 perfbench/run.py --workload follow_serve --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6

One workload per process. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones (spans, Spark
event-log counters by job group, retained state, tracing overhead). The
line before it prints each workload's own metrics by name (build_ops_per_s,
fresh_p50_s, ...), failed_frac and the sample count. ``--workload
all`` runs every workload untraced then traced, each in a fresh process,
and prints a table including the tracing overhead. Exit status is 1 when
any output check fails and 2 when the engine sources are missing.

Everything the run writes (inputs, snapshots, Spark scratch, event log)
stays under ``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

import spans
WORKLOAD_NAMES = ["index_build", "follow_serve"]
SETUP_REPS = 3  # input generations per run; setup_s takes their median

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
}
# the root fields follow_serve's post-write reads exercise
ROOT_FIELDS = ["socialPost", "socialFeed", "follows", "trendingTags"]
SPARK_LAYERS = [
    "ingest.posts", "ingest.profiles", "sources.sinks", "pipelines.search",
    "streaming.stream", "serving.graphql_api", "operators.api",
]
# span name -> per-layer metric holding its self time per traced step
SPAN_METRICS = {
    "ingest.posts.build_posts": "ingest.posts.build_posts_s",
    "ingest.posts.build_follows": "ingest.posts.build_follows_s",
    "ingest.profiles.build": "ingest.profiles.build_s",
    "sources.sinks.write": "sources.sinks.write_s",
    "pipelines.search.bm25_index": "pipelines.search.bm25_index_s",
    "pipelines.search.trigram_index": "pipelines.search.trigram_index_s",
    "streaming.stream.fold": "streaming.stream.fold_s",
}
COUNT_METRICS = {
    "ingest.posts.rows_out": "count",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "pipelines.search.postings_rows": "count",
    "streaming.stream.partitions_rewritten": "count",
    "streaming.stream.state_bytes": "bytes",
}
SERVING_METRICS = {
    "serving.http.transport_ms": "ms",
    "serving.graphql_api.parse_validate_ms": "ms",
    "serving.graphql_api.resolve_ms": "ms",
    **{f"serving.graphql_api.{f}.p50_ms": "ms" for f in ROOT_FIELDS},
    "operators.api.plan_ms": "ms",
    "operators.api.calls_per_request": "count",
    "spark.jobs_per_request": "count",
}
PARSE_VALIDATE_SPANS = ("serving.graphql_api.parse", "serving.graphql_api.validate")
STATE_METRICS = {
    "spark.persisted_rdds": "count",
    "spark.persisted_rdds_growth": "count",
    "spark.storage_bytes": "bytes",
    "trace.overhead_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    units = {m: "s" for m in SPAN_METRICS.values()}
    units.update(COUNT_METRICS)
    units.update(SERVING_METRICS)
    for layer in SPARK_LAYERS:
        for c, (_, _, u) in spans.SPARK_COUNTERS.items():
            units[f"spark.{layer}.{c}"] = u
    units.update(STATE_METRICS)
    return units


def summarize(steps: list[dict]) -> dict:
    """Latency and throughput over the timed steps: the median of one
    latency sample per step; throughput is units over the steps' own
    wall time."""
    lat = [s["latency_s"] for s in steps]
    wall = sum(s.get("wall_s", s["latency_s"]) for s in steps)
    return {
        "throughput_per_s": sum(s["units"] for s in steps) / wall,
        "latency_ms": 1000 * statistics.median(lat),
        "samples": len(lat),
    }


def reset_peak_rss(pid: int | str) -> None:
    """Restart a process's VmHWM from its current RSS (clear_refs 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Ctx:
    """Run-wide state shared with the workload."""

    def __init__(self, args, work: str, size: dict):
        self.seed = args.seed
        self.work = work
        self.size = size
        self.spark = None
        self.tracer = None
        self.counts: dict[str, float] = defaultdict(float)
        self.held: list = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def stage(self, df):
        """A stage output, returned as is when the step is untraced. In a
        traced step it is persisted and counted inside the open layer
        span, so that layer's job group owns its compute and the sink
        owns only the write; ``release`` drops it when the step ends."""
        if not self.tracer.enabled:
            return df
        df = df.persist()
        df.count()
        self.held.append(df)
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist(blocking=True)
        self.held.clear()


def install_serving_probes(tracer) -> None:
    """Traced runs only: spans around the serving layers' own calls
    (GraphQLService.execute, graphql-core parse/validate, and the
    operators.api.execute dispatch the resolvers call)."""
    import graphql.graphql  # noqa: F401  (the submodule, for sys.modules)
    import graphql.validation as gv

    from union_indexer_node_spark.operators import api
    from union_indexer_node_spark.serving import graphql_api

    def wrap(fn, name, layer):
        def inner(*a, **k):
            with tracer.span(name, layer=layer):
                return fn(*a, **k)

        return inner

    # graphql-core 3.2 binds parse at import time in graphql/graphql.py
    # but imports validate inside the call from graphql.validation; wrap
    # whichever binding each name has, so both are timed
    gql = sys.modules["graphql.graphql"]
    layer = "serving.graphql_api"
    gql.parse = wrap(gql.parse, f"{layer}.parse", layer)
    gv.validate = wrap(gv.validate, f"{layer}.validate", layer)
    if hasattr(gql, "validate"):
        gql.validate = wrap(gql.validate, f"{layer}.validate", layer)
    api.execute = wrap(api.execute, "operators.api.execute", "operators.api")
    graphql_api.GraphQLService.execute = wrap(
        graphql_api.GraphQLService.execute,
        "serving.graphql_api.execute",
        "serving.graphql_api",
    )


def retained_state(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory + disk)."""
    jsc = spark.sparkContext._jsc.sc()
    storage = sum(
        info.memSize() + info.diskSize() for info in jsc.getRDDStorageInfo()
    )
    return jsc.getPersistentRDDs().size(), storage


def layer_metrics(ctx, steps, traced_idx, event_dir, wl) -> dict[str, float]:
    """Per-layer metrics from the traced steps' spans, the event log and
    the workload's own counters. Zero where a layer did not run."""
    tracer = ctx.tracer
    n_traced = len(traced_idx)
    out = {m: 0.0 for m in per_layer_units()}
    self_s = tracer.self_seconds()
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        metric = SPAN_METRICS.get(s["name"])
        if metric:
            out[metric] += self_s[s["id"]] / n_traced
    for k, v in ctx.counts.items():  # summed over the traced steps
        out[k] = v / n_traced
    out.update(wl.layer_counts())  # taken from the last step's output
    # serving: per request, from the request spans and their children
    requests = [s for s in tracer.spans if s["name"] == "serving.http.request"]
    if requests:
        n = len(requests)
        tot = defaultdict(float)
        field_ms = defaultdict(list)
        for s in tracer.spans:
            if s["request"] is None:
                continue
            if s["name"] == "serving.http.request":
                tot["transport"] += self_s[s["id"]]
            elif s["name"] in PARSE_VALIDATE_SPANS:
                tot["pv"] += s["end"] - s["start"]
            elif s["name"] == "serving.graphql_api.execute":
                tot["resolve"] += self_s[s["id"]]
                field = by_id[s["parent"]].get("field") if s["parent"] is not None else None
                field_ms[field].append(1000 * (s["end"] - s["start"]))
            elif s["layer"] == "operators.api":
                tot["plan"] += s["end"] - s["start"]
                tot["calls"] += 1
        out["serving.http.transport_ms"] = 1000 * tot["transport"] / n
        out["serving.graphql_api.parse_validate_ms"] = 1000 * tot["pv"] / n
        out["serving.graphql_api.resolve_ms"] = 1000 * tot["resolve"] / n
        out["operators.api.plan_ms"] = 1000 * tot["plan"] / n
        out["operators.api.calls_per_request"] = tot["calls"] / n
        for f in ROOT_FIELDS:
            if field_ms.get(f):
                out[f"serving.graphql_api.{f}.p50_ms"] = statistics.median(field_ms[f])
    counters = spans.spark_counters(event_dir, tracer.group_layers)
    for layer in SPARK_LAYERS:
        for c in spans.SPARK_COUNTERS:
            out[f"spark.{layer}.{c}"] = counters.get(layer, {}).get(c, 0.0) / n_traced
    if requests:
        jobs = counters["_jobs_per_group"]
        req_jobs = sum(
            cnt for g, cnt in jobs.items()
            if g and g.startswith("pb") and by_id[int(g[2:])]["request"] is not None
        )
        out["spark.jobs_per_request"] = req_jobs / len(requests)
    state = [s["retained"] for s in steps if "retained" in s]
    if state:
        out["spark.persisted_rdds"] = state[-1][0]
        out["spark.persisted_rdds_growth"] = state[-1][0] - state[0][0]
        out["spark.storage_bytes"] = state[-1][1]
    lat_t = [steps[i]["latency_s"] for i in traced_idx]
    lat_u = [s["latency_s"] for i, s in enumerate(steps) if i not in set(traced_idx)]
    if lat_t and lat_u:
        base = statistics.median(lat_u)
        out["trace.overhead_pct"] = 100 * (statistics.median(lat_t) - base) / base
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes (PythonGatewayServer)
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    """Run one workload in this process; everything it writes lives in a
    private directory under .perfbench_work/ that is removed at exit."""
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run_one(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_one(args, root: str, work: str) -> int:
    nproc = len(os.sched_getaffinity(0))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_LAUNCHER_OPTS=java_opts,  # spark-submit's own launcher JVM
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, root)
    from union_indexer_node_spark.session import get_spark

    import workloads

    ctx = Ctx(args, work, workloads.SIZES[args.size])
    event_dir = ctx.path("eventlog")
    # the heap is fixed at 1 GB (-Xms = -Xmx): left to grow, G1 sized it
    # by pause timings, and that alone moved peak_rss_mb by up to 30 %
    # from run to run
    extra = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": ctx.path("warehouse"),
        "spark.driver.extraJavaOptions": java_opts + " -Xms1g",
    }
    if args.trace:
        os.makedirs(event_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{nproc}]", shuffle_partitions=nproc, extra=extra)
    session_s = time.perf_counter() - t0
    ctx.spark = spark
    ctx.tracer = spans.Tracer(spark.sparkContext, enabled=False)
    if args.trace:
        install_serving_probes(ctx.tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    try:
        gen_times = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.generate(rep)
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        # the peak covers the timed loop only, not generation or warm-up
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        pids = ["self"] + ([jvm.pid] if jvm else [])
        for pid in pids:
            reset_peak_rss(pid)

        steps, traced_idx = [], []
        deadline = time.perf_counter() + args.seconds
        loop_t0 = time.perf_counter()
        last = 0.0
        # start another step only while it can mostly finish in the window;
        # traced runs alternate untraced and traced steps, at least
        # untraced-traced-untraced, so the tracing overhead is measured
        # inside one process
        min_steps = 3 if args.trace else 1
        while len(steps) < min_steps or time.perf_counter() + last / 2 < deadline:
            ctx.tracer.enabled = bool(args.trace) and len(steps) % 2 == 1
            if ctx.tracer.enabled:
                traced_idx.append(len(steps))
            t = time.perf_counter()
            steps.append(wl.step())
            last = time.perf_counter() - t
            ctx.release()
            if args.trace:
                steps[-1]["retained"] = retained_state(spark)
        ctx.tracer.enabled = False
        loop_s = time.perf_counter() - loop_t0
        peak_kb = sum(vm_hwm_kb(pid) for pid in pids)
        t = time.perf_counter()
        errors = wl.check()
        check_s = time.perf_counter() - t
    finally:
        stop_spark(spark)

    summary = {
        "setup_s": session_s + statistics.median(gen_times) + prepare_s,
        "peak_rss_mb": peak_kb / 1024,
        **summarize(steps),
    }
    # every checked operation of every step, plus the final output check
    attempted = sum(s["ops"] for s in steps) + 1
    failed = sum(s["bad"] for s in steps) + (1 if errors else 0)
    named = {
        "setup_s": (summary["setup_s"], "s"),
        "peak_rss_mb": (summary["peak_rss_mb"], "MB"),
        "failed_frac": (failed / attempted, "ratio"),
        "latency_samples": (summary["samples"], "count"),
        **wl.named(summary),
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "steps": len(steps),
        "loop_s": round(loop_s, 3),
        "session_s": round(session_s, 3),
        "generate_s": [round(x, 3) for x in gen_times],
        "prepare_s": round(prepare_s, 3),
        "warmup_s": round(warmup_s, 3),
        "check_s": round(check_s, 3),
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "errors": errors,
    }
    if args.trace:
        metrics = layer_metrics(ctx, steps, traced_idx, event_dir, wl)
        units = per_layer_units()
        info["traced_steps"] = len(traced_idx)
        traces = os.path.join(root, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.write(os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
        result_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    else:
        result_metrics = {
            k: {"value": summary[k], "unit": u} for k, u in END_TO_END.items()
        }
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result_metrics,
    }), flush=True)
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process."""
    rc = 0
    rows = []
    for w in WORKLOAD_NAMES:
        res = {}
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", w,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(trace), "--size", args.size,
            ]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                rc = 1
                continue
            res[trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
        if 0 in res:
            named = res[0][0]["named"]
            for k, v in named.items():
                rows.append((w, k, v["value"], v["unit"]))
            if 1 in res:
                # tracing overhead, both ways: the traced run against the
                # untraced one, and traced against untraced steps in-run
                for k, v in res[1][0]["named"].items():
                    if k in named and v["unit"] in ("s", "ms", "1/s"):
                        rows.append((w, f"{k} traced-untraced", v["value"] - named[k]["value"], v["unit"]))
                ov = res[1][1]["metrics"]["trace.overhead_pct"]["value"]
                rows.append((w, "trace.overhead_pct", ov, "%"))
    for w, k, v, u in rows:
        print(f"{w:14s} {k:36s} {v:14.4f} {u}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join("union_indexer_node_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root; the engine package "
            "union_indexer_node_spark/ is not in the current directory",
            file=sys.stderr,
        )
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
