"""sparkdenrl benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload build --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates the workload's inputs
from ``--seed`` under ``.perfbench_work/`` (removed on exit), starts one
Spark session at local[<usable cores>], runs timed operations until
``--seconds`` have passed (at least one; the first is cold, see
workloads.py), checks every output, and prints one JSON line as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
timed operations in a session that writes a Spark event log, then one
traced operation and one untraced operation after it, and reports the
per-layer metrics: each span's self time, jobs, busy ratio, shuffle and
spill bytes and rows, summed over the span's calls in the traced
operation, plus the tracing overhead (the traced operation's time minus
the untraced one's).

    python3 perfbench/run.py --write-spec

rewrites BENCHMARK.json from the definitions below.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE_DIR = os.path.join(ROOT, ".perfbench_traces")

DRIVER_MEMORY = "2g"
RUN_SECONDS = 1  # an op takes longer, so a run times exactly one
RSS_INTERVAL_S = 0.1
RSS_TREE_EVERY = 10  # samples between rescans of the process tree

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "op_s", "unit": "s", "better": "lower", "bound": 0.24},
    {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.1},
]

WORKLOAD_WHY = {
    "build": "one-shot batch KG build: run_kg_pipeline (bootstrap round, checkpoints, "
    "parquet KG writes) over 3600 seeded turns with sparse entities and a long tail",
    "serve": "reads beside writes: 6 oracled registry queries over 100 entity-dense docs "
    "and 400 vectors, then 3 streamed 720-turn deltas, each with a view read, and a compaction",
}

SPAN_STATS = ["s", "jobs", "busy_ratio", "shuffle_write_bytes", "spill_bytes", "rows_out"]
QUERY_SPAN_STATS = SPAN_STATS[:4]


def per_layer_names() -> list[str]:
    from perfbench.workloads import (
        BUILD_SPANS,
        INGEST_SPANS,
        PIPELINE_SPAN,
        QUERY_MIX,
        ROWLESS_SPANS,
    )

    names = [
        f"{span}.{stat}"
        for span in [PIPELINE_SPAN] + [s for _, _, s in BUILD_SPANS]
        for stat in SPAN_STATS
        if not (stat == "rows_out" and span in ROWLESS_SPANS)
    ]
    names += ["tagging.instances_per_turn", "bootstrap.trust_ratio",
              "checkpoints.bytes_written"]
    names += [
        f"{span}.{stat}"
        for span in [f"{mod}.{q}" for q, mod in QUERY_MIX.items()] + INGEST_SPANS
        for stat in QUERY_SPAN_STATS
    ]
    names += ["ingest.compact_bytes_rewritten", "ingest.sink_bytes_per_turn",
              "ingest.delta_files_max"]
    names.append("trace.overhead_s")
    return names


def per_layer_unit(name: str) -> tuple[str, str]:
    """(unit, better) of a per-layer metric, from its suffix."""
    suffix = name.rsplit(".", 1)[1]
    return {
        "s": ("s", "lower"),
        "overhead_s": ("s", "lower"),
        "jobs": ("count", "lower"),
        "busy_ratio": ("ratio", "higher"),
        "shuffle_write_bytes": ("bytes", "lower"),
        "spill_bytes": ("bytes", "lower"),
        "bytes_written": ("bytes", "lower"),
        "compact_bytes_rewritten": ("bytes", "lower"),
        "sink_bytes_per_turn": ("bytes", "lower"),
        "delta_files_max": ("count", "lower"),
        "rows_out": ("count", "higher"),
        "instances_per_turn": ("ratio", "higher"),
        "trust_ratio": ("ratio", "higher"),
    }[suffix]


def write_spec() -> None:
    from perfbench.workloads import WORKLOADS

    spec = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": WORKLOAD_WHY[w]} for w in WORKLOADS],
        "end_to_end": END_TO_END,
        "per_layer": [
            dict(zip(("name", "unit", "better"), (n, *per_layer_unit(n))))
            for n in per_layer_names()
        ],
    }
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
        json.dump(spec, f, indent=2)
        f.write("\n")


# ---------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    return tree


def tree_rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler(threading.Thread):
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) until stopped; keeps the peak."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        n = 0
        while not self._stop_event.is_set():
            if n % RSS_TREE_EVERY == 0:  # listing /proc costs more than reading
                pids = process_tree(os.getpid())
            self.peak = max(self.peak, tree_rss_bytes(pids))
            n += 1
            self._stop_event.wait(RSS_INTERVAL_S)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def start_session(work: str, trace: bool):
    from denrl_spark.session import get_spark

    from perfbench.trace import EVENT_LOG_CONF

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        # a heap committed up front: its RSS no longer depends on when the
        # collector grows it, which spread peak_rss_mb by 10-30% per run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    return get_spark(len(os.sched_getaffinity(0)), app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stops Spark, then the JVM and every process under it, and waits
    until all have exited."""
    sc = spark.sparkContext
    gateway_proc = sc._gateway.proc
    spark.stop()
    descendants = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway_proc.stdin.close()  # the JVM exits on stdin EOF
    try:
        gateway_proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway_proc.kill()
        gateway_proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in descendants if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------- run


class Accounting:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def timed(self, w) -> float | None:
        """Runs and records one timed unit of workload ``w`` (``w.ops``
        operations); its wall time, or None when it raised."""
        self.attempted += w.ops
        try:
            t0 = time.perf_counter()
            result = w.op()
            elapsed = time.perf_counter() - t0
            w.record(result)
        except Exception:  # a failed operation is counted, the loop goes on
            traceback.print_exc()
            self.failed += w.ops
            return None
        return elapsed

    def verdicts(self, results: list[bool]) -> None:
        self.attempted += len(results)
        self.failed += results.count(False)


def span_metrics(tracer, groups: dict, cores: int) -> dict[str, float]:
    """Per-span metrics of the traced op, each over every call of the span."""
    out = {}
    for name, st in tracer.span_stats(groups).items():
        self_s = st["self_s"]
        out[f"{name}.s"] = self_s
        out[f"{name}.jobs"] = st.get("jobs", 0)
        out[f"{name}.busy_ratio"] = (
            st.get("run_ms", 0) / 1000 / (self_s * cores) if self_s > 0 else 0.0
        )
        out[f"{name}.shuffle_write_bytes"] = st.get("shuffle_write_bytes", 0)
        out[f"{name}.spill_bytes"] = st.get("spill_bytes", 0)
        # a span whose result is not a frame counts the rows its jobs wrote
        out[f"{name}.rows_out"] = st["rows_out"] or st.get("records_written", 0)
    return out


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench.trace import Tracer, fold_event_log
    from perfbench.workloads import WORKLOADS

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    w = WORKLOADS[workload](work, seed)  # inputs, outside every timed region
    log(f"inputs generated in {time.perf_counter() - t0:.1f}s")
    acct = Accounting()
    sampler = RssSampler()
    sampler.start()
    t0 = time.perf_counter()
    spark = start_session(work, trace)
    setup_s = time.perf_counter() - t0
    log(f"session started in {setup_s:.1f}s")
    times: list[float] = []
    traced_s = untraced_s = None
    try:
        tracer = Tracer(spark, enabled=False)
        w.bind(spark, tracer)

        loop_t0 = time.perf_counter()
        max_timed = (w.max_ops - 2) if trace and w.max_ops else w.max_ops
        while not times or (
            time.perf_counter() - loop_t0 < seconds and len(times) != max_timed
        ):
            t = acct.timed(w)
            if t is None:
                break
            times.append(t)
        log("ops " + " ".join(f"{t:.2f}s" for t in times))
        if trace and times:
            tracer.enabled = True
            with w.traced_layers():
                traced_s = acct.timed(w)
            tracer.enabled = False
            if traced_s is not None:
                counts = w.layer_counts()
            # the untraced op after the traced one is the baseline: the
            # op before it may be the run's first, compiled cold
            untraced_s = acct.timed(w)
            log(f"traced op {traced_s}s, untraced op after it {untraced_s}s")
        peak_rss = sampler.stop()
        t0 = time.perf_counter()
        acct.verdicts(w.check() if times else [])
        log(f"checks {time.perf_counter() - t0:.1f}s")
    finally:
        if sampler.is_alive():
            sampler.stop()
        t0 = time.perf_counter()
        stop_session(spark)
        log(f"session stopped in {time.perf_counter() - t0:.1f}s")

    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            # the first op is the cold one-shot job; later ones, if
            # --seconds leaves time for them, run warm and are only checked
            "op_s": (times[0] if times else 0.0, "s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
    else:
        layer = dict.fromkeys(per_layer_names(), 0.0)
        if traced_s is not None:
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.write(os.path.join(TRACE_DIR, f"spans-{workload}-{seed}.jsonl"))
            groups = fold_event_log(os.path.join(work, "eventlog"))
            layer.update(
                (k, v) for k, v in span_metrics(tracer, groups, cores).items() if k in layer
            )
            layer.update(counts)
            if untraced_s is not None:
                layer["trace.overhead_s"] = traced_s - untraced_s
        metrics = {n: (v, per_layer_unit(n)[0]) for n, v in layer.items()}
    return {
        "correct": acct.failed == 0,
        "attempted": acct.attempted,
        "failed": acct.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-spec", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "denrl_spark")):
        print(f"perfbench: no denrl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.write_spec:
        write_spec()
        return 0
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
