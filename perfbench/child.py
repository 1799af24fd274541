"""One benchmark process: set up Spark, run one workload's passes, check
the outputs, and write the raw measurements as JSON.

``run.py`` starts this in a fresh process per run; it is not meant to be
run by hand. Pass 0 is the cold pass; ``--warm-passes`` warm passes follow.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager
from time import perf_counter

from workloads import WORKLOADS, check


class Tracer:
    """Spans around each call into a layer (name, start, end, parent, run
    id). While enabled, each span also tags the Spark jobs it starts with
    ``setJobGroup(span id)`` so the event log can be folded per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None

    def _tag(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = {
            "id": f"{self.run_id}-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start_ms": time.time() * 1000.0,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s["end_ms"] = time.time() * 1000.0
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)


def _progress_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            self.started += 1

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated += 1

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def _warmup(spark) -> None:
    """The fixed warm-up every workload's set-up includes."""
    import pyspark.sql.functions as F

    spark.range(200_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    ).groupBy("k").agg(F.sum("v")).collect()


def _setup(cpus: int, conf: dict, tracer: Tracer):
    """``get_spark`` plus the fixed warm-up; returns both times."""
    t0 = perf_counter()
    with tracer.span("session.start"):
        from arroyo_spark.session import get_spark

        spark = get_spark(
            "perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf
        )
    t1 = perf_counter()
    with tracer.span("session.warmup"):
        _warmup(spark)
    return spark, t1 - t0, perf_counter() - t1


def _calibration(spark) -> float:
    """Fixed shuffle + aggregate probe (best of 2): tracks machine speed,
    not code."""
    import pyspark.sql.functions as F

    probe = spark.range(2_000_000).select(
        (F.col("id") % 10_000).alias("k"), (F.col("id") % 977).alias("v")
    ).groupBy("k").agg(F.sum("v"), F.max("v"))
    times = []
    for _ in range(2):
        t0 = perf_counter()
        probe.count()
        times.append(perf_counter() - t0)
    return min(times)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _batch_pass(spark, w, inputs, tracer, registry):
    units, outputs = [], []
    for name in w.queries:
        t0 = perf_counter()
        try:
            with tracer.span("queries.build", query=name):
                df = registry[name].fn(spark, inputs["path"])
            with tracer.span("queries.collect", query=name):
                frame = df.toPandas()
        except Exception as e:  # counted as a failed unit
            frame = e
        # queries that persist intermediates must not leak them
        spark.catalog.clearCache()
        units.append(perf_counter() - t0)
        outputs.append((name, frame))
    return units, outputs


def _stream_pass(spark, w, inputs, tracer, listener, sink_path):
    from arroyo_spark.dialect.pipeline import Pipeline

    seen = len(listener.progress)
    try:
        with tracer.span("dialect.run_script"):
            Pipeline(
                spark, {"$src": inputs["path"], "$out": sink_path}, mode="streaming"
            ).run_script(w.script)
        out = sink_path
    except Exception as e:  # counted as a failed unit
        out = e
    # progress events arrive on the listener bus: wait for the last one
    deadline = perf_counter() + 5.0
    while listener.terminated < listener.started and perf_counter() < deadline:
        time.sleep(0.01)
    return listener.progress[seen:], [out]


def _rows(outputs: list) -> int:
    """Result rows of one pass: frame rows, or sink lines."""
    n = 0
    for out in outputs:
        if isinstance(out, tuple) and not isinstance(out[1], BaseException):
            n += len(out[1])
        elif isinstance(out, str):
            with open(out) as fh:
                n += sum(1 for _ in fh)
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True, help="JSON from make_inputs")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--warm-passes", type=int, required=True)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    inputs = json.loads(args.inputs)
    run_dir = os.path.dirname(os.path.abspath(args.out))
    tracer = Tracer(f"{w.name}-{os.getpid()}", bool(args.trace))
    os.environ["SPARK_GRAFT_STATE_STORE"] = w.state_store
    # keep the driver JVM's temporary files (Spark artifacts, native
    # libraries, perf data) inside the run directory
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        )
    }
    if args.trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        os.makedirs(conf["spark.eventLog.dir"])
    res: dict = {}

    spark, res["start_s"], res["warmup_s"] = _setup(args.cpus, conf, tracer)
    res["setup_s"] = res["start_s"] + res["warmup_s"]
    tracer.sc = spark.sparkContext if args.trace else None
    jvm = spark.sparkContext._jvm
    res["versions"] = {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }
    if args.trace:
        res["calibration_pre_s"] = _calibration(spark)
    listener = registry = None
    if w.streaming:
        listener = _progress_listener(spark)
        if args.trace:
            from arroyo_spark.dialect.parser import parse_script
            from arroyo_spark.dialect.pipeline import Pipeline

            a = perf_counter()
            with tracer.span("dialect.parse"):
                res["statements"] = len(parse_script(w.script))
            b = perf_counter()
            with tracer.span("dialect.plan"):
                Pipeline(
                    spark,
                    {"$src": inputs["path"], "$out": os.path.join(run_dir, "plan.json")},
                    mode="plan",
                ).run_script(w.script)
            res.update(parse_ms=(b - a) * 1e3, plan_ms=(perf_counter() - b) * 1e3)

    passes, outputs = [], []
    for i in range(1 + args.warm_passes):
        a = perf_counter()
        with tracer.span("pass", index=i) as span:
            if w.streaming:
                sink = os.path.join(run_dir, f"sink-{os.getpid()}-{i}.json")
                units, outs = _stream_pass(spark, w, inputs, tracer, listener, sink)
            else:
                if registry is None:
                    from arroyo_spark.suite import all_queries

                    registry = all_queries()
                units, outs = _batch_pass(spark, w, inputs, tracer, registry)
        wall = perf_counter() - a
        passes.append(
            {"wall_s": wall, "units": units, "rows": _rows(outs),
             "span": span and span["id"]}
        )
        outputs.extend(outs)
    res["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    if args.trace:
        res["calibration_post_s"] = _calibration(spark)
    spark.stop()

    res["passes"] = passes
    res["spans"] = tracer.spans
    res["problems"] = check(w, inputs, outputs)
    with open(args.out, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
