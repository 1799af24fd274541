#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload batch_training_data --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10

One run generates the workload's inputs from ``--seed``, starts a fresh
process (``child.py``) for the set-up and the measured passes, checks
every output against DuckDB, and prints one JSON object as its last
line: the end-to-end metrics with ``--trace 0``; with ``--trace 1`` the
per-layer metrics of a traced process, the same workload at ``local[1]``,
and the tracing overhead. Everything a run writes lives under
``.perfbench/`` in the working directory and is deleted at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS, make_inputs  # noqa: E402

CHILD_TIMEOUT_S = 150

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cold_wall_s": "s",
    "throughput_eps": "1/s",
    "batch_latency_p50_ms": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "dialect.parse_ms": "ms",
    "dialect.plan_ms": "ms",
    "dialect.statements": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rocksdb_commit_ms": "ms",
    "streaming.rocksdb_sst_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.driver_gap_s": "s",
    "streaming.tmp_bytes": "bytes",
    "queries.build_s": "s",
    "queries.collect_s": "s",
    "queries.eager_jobs": "count",
    "queries.result_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_launch_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.task_skew": "ratio",
    "spark.core_busy_frac": "ratio",
    "spark.driver_gap_s": "s",
    "spark.speedup_vs_1core": "ratio",
    "python.nodes": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "python.rows_received": "count",
    "python.stage_task_s": "s",
    "python.task_share": "ratio",
    "jvm.peak_rss_mb": "MB",
    "env.calibration_pre_s": "s",
    "env.calibration_post_s": "s",
    "trace.overhead_s": "s",
}


class RunError(Exception):
    pass


def _group_alive(pgid: int) -> bool:
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(pgid: int) -> None:
    """Stop every process left in the child's process group (the driver
    JVM and Python workers) and wait until they have ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _child(run_dir: str, tag: str, args: list[str], cpus: int) -> dict:
    """Run child.py in a fresh process with its own TMPDIR; return its JSON."""
    tmp = os.path.join(run_dir, f"tmp-{tag}")
    os.makedirs(tmp)
    out = os.path.join(run_dir, f"{tag}.json")
    root = os.getcwd()
    env = dict(
        os.environ,
        TMPDIR=tmp,
        PYTHONPATH=root,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        # the engine sizes its own fan-out from this; keep it equal to local[N]
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("SPARK_GRAFT_STATE_STORE", None)
    log_path = os.path.join(run_dir, f"{tag}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), "--out", out,
             "--cpus", str(cpus), *args],
            env=env, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
        try:
            rc = p.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap(p.pid)
            p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RunError(f"child {tag} failed (exit {rc})")
    with open(out) as fh:
        res = json.load(fh)
    res["tmp_bytes"] = _du(tmp)
    return res


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _warm(res: dict) -> list[dict]:
    return res["passes"][1:]


def _wall_s(res: dict, streaming: bool) -> float:
    """The fastest warm pass. Batch: each query's fastest warm time, summed.
    Other tenants of the host only ever slow a pass down, so the minimum
    is the sample least disturbed by them."""
    warm = _warm(res)
    if streaming:
        return min(p["wall_s"] for p in warm)
    return sum(
        min(p["units"][i] for p in warm) for i in range(len(warm[0]["units"]))
    )


def _latencies_ms(res: dict, streaming: bool) -> list[float]:
    if streaming:
        return [
            b["durationMs"].get("triggerExecution", 0)
            for p in _warm(res)
            for b in p["units"]
            if b.get("numInputRows", 0) > 0
        ]
    return [u * 1e3 for p in _warm(res) for u in p["units"]]


def _tally(results: list[dict]) -> tuple[int, int]:
    problems = [p for r in results for p in r["problems"]]
    return len(problems), sum(1 for p in problems if p)


def _measure(w, inputs: dict, run_dir: str, warm_passes: int, cpus: int,
             tag: str = "main", trace: int = 0) -> dict:
    return _child(
        run_dir, tag,
        ["--workload", w.name, "--inputs", json.dumps(inputs),
         "--warm-passes", str(warm_passes), "--trace", str(trace)],
        cpus,
    )


def end_to_end(w, inputs: dict, run_dir: str, seconds: float, cpus: int):
    main = _measure(w, inputs, run_dir, w.warm_passes(seconds), cpus)
    wall = _wall_s(main, w.streaming)
    lat = _latencies_ms(main, w.streaming)
    metrics = {
        "setup_s": main["setup_s"],
        "wall_s": wall,
        "cold_wall_s": main["passes"][0]["wall_s"],
        "throughput_eps": inputs["events"] / wall,
        "batch_latency_p50_ms": _median(lat),
    }
    info = {
        "warm_passes": len(_warm(main)),
        "latency_samples": len(lat),
        "warm_walls_s": [p["wall_s"] for p in _warm(main)],
        "versions": main["versions"],
    }
    return metrics, [main], info


def _span_s(spans: list[dict], name: str, within: set[str]) -> float:
    return sum(
        (s["end_ms"] - s["start_ms"]) / 1e3
        for s in spans
        if s["name"] == name and s["id"] in within
    )


def _stream_layers(progress: list[dict], wall_s: float) -> dict[str, float]:
    def dur(key: str) -> float:
        return float(sum(b["durationMs"].get(key, 0) for b in progress))

    def ops(b: dict) -> list[dict]:
        return b.get("stateOperators") or []

    custom = [
        {k: v for op in ops(b) for k, v in (op.get("customMetrics") or {}).items()}
        for b in progress
    ]
    return {
        "streaming.batches": float(len(progress)),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.state_commit_ms": float(
            sum(op.get("commitTimeMs", 0) for b in progress for op in ops(b))
        ),
        "streaming.state_rows_total": float(
            max([sum(op.get("numRowsTotal", 0) for op in ops(b)) for b in progress] or [0])
        ),
        "streaming.state_memory_bytes": float(
            max([sum(op.get("memoryUsedBytes", 0) for op in ops(b)) for b in progress] or [0])
        ),
        "streaming.rocksdb_commit_ms": float(
            sum(
                v for c in custom for k, v in c.items()
                if k.startswith("rocksdbCommit") and "Latency" in k
            )
        ),
        "streaming.rocksdb_sst_bytes": float(
            max([c.get("rocksdbSstFileSize", 0) for c in custom] or [0])
        ),
        "streaming.rows_dropped_by_watermark": float(
            sum(op.get("numRowsDroppedByWatermark", 0) for b in progress for op in ops(b))
        ),
        "streaming.driver_gap_s": wall_s - dur("triggerExecution") / 1e3 if progress else 0.0,
    }


def per_layer(w, inputs: dict, run_dir: str, seconds: float, cpus: int):
    import eventlog

    # a third of the warm passes per local[N] process keeps a traced run
    # (three processes) under three untraced ones
    n = max(1, w.warm_passes(seconds) // 3)
    plain = _measure(w, inputs, run_dir, n, cpus)
    traced = _measure(w, inputs, run_dir, n, cpus, tag="traced", trace=1)
    single = _measure(w, inputs, run_dir, 1, 1, tag="single")
    logs = glob.glob(os.path.join(run_dir, "eventlog", "*"))
    if len(logs) != 1:
        raise RunError(f"expected one event log, found {logs}")
    log = eventlog.Log(eventlog.load(logs[0]))
    spans = traced["spans"]
    rows = []
    for p in _warm(traced):
        scope = eventlog.descendants(spans, p["span"])
        m = eventlog.fold(log, spans, p["span"], cpus)
        m["queries.build_s"] = _span_s(spans, "queries.build", scope)
        m["queries.collect_s"] = _span_s(spans, "queries.collect", scope)
        m["queries.result_rows"] = float(p["rows"])
        if w.streaming:
            m.update(_stream_layers(p["units"], p["wall_s"]))
        rows.append(m)
    metrics = {k: _median(r.get(k, 0.0) for r in rows) for k in PER_LAYER}
    plain_wall = _wall_s(plain, w.streaming)
    traced_wall = _wall_s(traced, w.streaming)
    metrics.update({
        "session.start_s": traced["start_s"],
        "session.warmup_s": traced["warmup_s"],
        "dialect.parse_ms": traced.get("parse_ms", 0.0),
        "dialect.plan_ms": traced.get("plan_ms", 0.0),
        "dialect.statements": float(traced.get("statements", 0)),
        "streaming.tmp_bytes": float(traced["tmp_bytes"]) if w.streaming else 0.0,
        # first warm pass against first warm pass: both at the same point
        # of JIT warm-up
        "spark.speedup_vs_1core": single["passes"][1]["wall_s"] / plain["passes"][1]["wall_s"],
        "jvm.peak_rss_mb": plain["jvm_peak_rss_mb"],
        "env.calibration_pre_s": traced["calibration_pre_s"],
        "env.calibration_post_s": traced["calibration_post_s"],
        "trace.overhead_s": traced_wall - plain_wall,
    })
    info = {
        "untraced_wall_s": plain_wall,
        "traced_wall_s": traced_wall,
        "warm_passes": len(rows),
        "versions": traced["versions"],
    }
    return metrics, [plain, traced, single], info


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    started = time.monotonic()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "arroyo_spark", "__init__.py")):
        raise RunError("run from the repository root: arroyo_spark/ not found")
    w = WORKLOADS[workload]
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=base)
    try:
        inputs = make_inputs(w, os.path.join(run_dir, "inputs"), seed)
        measure = per_layer if trace else end_to_end
        metrics, results, info = measure(w, inputs, run_dir, seconds, cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # still holds another run's dir
            os.rmdir(base)
    attempted, failed = _tally(results)
    info.update(workload=workload, seed=seed, cpus=cpus, input_events=inputs["events"],
                input_bytes=inputs["bytes"], error_rate=failed / attempted,
                run_s=time.monotonic() - started)
    print("# run " + json.dumps(info), flush=True)
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def run_all(seed: int, seconds: float) -> None:
    """Every end-to-end metric of every workload, one fresh run each."""
    print(f"{'workload':26} {'metric':22} {'value':>12} unit")
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        res = json.loads(out[-1])
        for metric, v in res["metrics"].items():
            print(f"{name:26} {metric:22} {v['value']:12.4f} {v['unit']}")
        print(f"{name:26} {'error_rate':22} {res['failed'] / res['attempted']:12.4f} "
              f"ratio ({res['failed']}/{res['attempted']} failed)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.all:
        run_all(args.seed, args.seconds)
        return
    if not args.workload:
        ap.error("--workload or --all is required")
    try:
        result = run_one(args.workload, args.seed, args.seconds, args.trace)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
