"""The benchmark's workloads: what each one runs and how its outputs are
checked against an independent reference (DuckDB).

Batch workloads build registry queries through ``suite.all_queries()[name]
.fn`` and collect them with ``toPandas()``. Stream workloads run an Arroyo
SQL script through ``dialect.pipeline.Pipeline(mode="streaming")``, one
input file per micro-batch, drained with ``availableNow`` (a closed loop
over a fixed backlog).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import gen

# stream backlog: FILES micro-batches of EVENTS_PER_FILE events over KEYS
# Zipf-distributed keys
FILES = 3
EVENTS_PER_FILE = 4000
KEYS = 1000

UPDATING_SCRIPT = """
CREATE TABLE src (ts TIMESTAMP, k BIGINT, v BIGINT) WITH (
  connector = 'filesystem', path = '$src', format = 'json',
  type = 'source', event_time_field = 'ts'
);
CREATE TABLE out (k BIGINT PRIMARY KEY, n BIGINT, total BIGINT) WITH (
  connector = 'filesystem', path = '$out', format = 'debezium_json',
  type = 'sink'
);
INSERT INTO out SELECT k, count(*) AS n, sum(v) AS total FROM src GROUP BY k;
"""


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # nominal warm-pass time on a 4-core machine; a run makes
    # ``warm_passes(seconds)`` warm passes, the same count on every run, so
    # that JIT warm-up across passes affects every run's median alike
    pass_s: float
    queries: tuple[str, ...] = ()
    script: str = ""
    # SPARK_GRAFT_STATE_STORE, the engine's state-store provider switch
    state_store: str = ""

    @property
    def streaming(self) -> bool:
        return bool(self.script)

    def warm_passes(self, seconds: float) -> int:
        return max(2, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_training_data",
            "retrieval and tokenizer queries: Python/Arrow-boundary "
            "nodes and driver-side eager jobs",
            pass_s=5.0,
            queries=(
                "knn_cosine_topk",
                "bm25_retrieval_topk",
                "tokenizer_unigram_lm",
            ),
        ),
        Workload(
            "stream_updating_rocksdb",
            "updating aggregate over Zipf keys, Debezium encoder and RocksDB "
            "state with changelog checkpointing",
            pass_s=6.5,
            script=UPDATING_SCRIPT,
            state_store="rocksdb",
        ),
    )
}


def make_inputs(w: Workload, root: str, seed: int) -> dict:
    """Generate the workload's inputs under ``root``; return their path,
    event count and bytes."""
    if w.streaming:
        path = os.path.join(root, "stream")
        info = gen.write_stream(path, seed, FILES, EVENTS_PER_FILE, KEYS)
    else:
        path = os.path.join(root, "tables")
        info = gen.write_tables(path, seed)
    return {"path": os.path.abspath(path), **info}


# -- checks -------------------------------------------------------------------


def _duck_tables(con, path: str) -> None:
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{path}/{t}.parquet')"
        )


def _replay_debezium(lines: list[str]) -> list[tuple]:
    state: dict[int, tuple] = {}
    for line in lines:
        env = json.loads(line)
        if env["op"] == "d":
            state.pop(env["before"]["k"], None)
        else:
            a = env["after"]
            state[a["k"]] = (a["k"], a["n"], a["total"])
    return sorted(state.values())


def check(w: Workload, inputs: dict, outputs: list) -> list[list[str]]:
    """Problems per output (empty list = correct). ``outputs`` holds one
    entry per attempted unit: ``(query, frame)`` for batch workloads,
    ``sink path`` for stream workloads; an exception counts as failed."""
    import duckdb

    con = duckdb.connect()
    problems: list[list[str]] = []
    if w.streaming:
        want = sorted(
            con.execute(
                f"SELECT k, count(*), sum(v) FROM read_json('{inputs['path']}/*.json', "
                "format = 'newline_delimited', "
                "columns = {ts: 'TIMESTAMP', k: 'BIGINT', v: 'BIGINT'}) GROUP BY k"
            ).fetchall()
        )
        for out in outputs:
            if isinstance(out, BaseException):
                problems.append([f"raised: {out!r}"[:300]])
                continue
            with open(out) as fh:
                got = _replay_debezium(fh.read().splitlines())
            problems.append(
                []
                if got == want
                else [f"sink rows differ: got {len(got)} rows, want {len(want)}"]
            )
        return problems

    import pandas as pd
    from tests.oracle_utils import compare_frames

    from arroyo_spark.suite import all_queries

    _duck_tables(con, inputs["path"])
    registry = all_queries()
    expected: dict = {}
    for name, frame in outputs:
        if isinstance(frame, BaseException):
            problems.append([f"{name} raised: {frame!r}"[:300]])
            continue
        if name not in expected:
            # a traced run checks three processes' outputs of the same
            # inputs: compute each oracle once per run, next to the inputs
            cached = os.path.join(os.path.dirname(inputs["path"]), f"oracle-{name}.pkl")
            if not os.path.exists(cached):
                con.execute(registry[name].oracle).df().to_pickle(cached)
            expected[name] = pd.read_pickle(cached)
        problems.append(
            [f"{name}: {p}" for p in compare_frames(frame, expected[name])]
        )
    return problems
