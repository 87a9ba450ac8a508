"""Worker process for the ``headline`` workload: the engine and its load in
one process, as an in-process API caller (and bench.py) drives it.

An operation is one registry query with ``bench=True`` (except those in
``KNOWN_DEFECTS``): build the DataFrame (``qd.fn``), then run bench.py's
content-forcing hash action on it.  A run
is one pass in the fresh process, in name order so that each run charges
the one-time JIT and codegen costs to the same queries.  A traced run adds
two warmed passes in the seed's order, one untraced and one traced, for
the layer breakdown and the tracing overhead.
The worker reports each operation's latency and content hash; run.py
judges them against the verified record.

``--verify`` instead checks every ``bench=True`` query, the known defects
too, against its DuckDB oracle with ``testing.compare_query(strict=True)``
and records each verdict and hash.
"""

from __future__ import annotations

import argparse
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

# bench=True queries that disagree with their DuckDB oracle on the generated
# data.  No timed operation may fail, so they are verified (and their
# verdicts kept in every run record) but not timed.
KNOWN_DEFECTS = {
    "q9_profit": "NATION_6/1997 sums to exactly 20652817.455: Spark rounds the double "
    "result half-up to .46, the DuckDB oracle rounds the binary double to .45",
}


def _queries() -> dict:
    from dataclod_spark.registry import load_all_queries

    return {n: qd for n, qd in load_all_queries().items() if qd.bench}


def _ready(spark, engine) -> None:
    spark.read.parquet(f"{common.data_dir()}/region.parquet").count()


def verify(out: str, only: list[str] | None) -> None:
    from dataclod_spark.testing import compare_query

    spark, engine = common.start_engine("perfbench_headline_verify")
    queries = _queries()
    oracle, content = {}, {}
    for name in sorted(only or queries):
        qd = queries[name]
        oracle[name] = compare_query(spark, common.data_dir(), qd.fn, qd.oracle, strict=True)[1]
        content[name] = common.forcing(qd.fn(spark, common.data_dir())).collect()[0][0]
    spark.stop()
    common.write_json(out, {"data": common.data_digest(), "oracle": oracle, "content": content})


def measure(a) -> dict:
    from perfbench.trace import Tracer, catalyst_phases, event_log_metrics, plan_metrics

    event_log = os.path.join(common.cache_dir(), "eventlog", a.run_id) if a.trace else None
    spark, engine = common.start_engine("perfbench_headline", event_log)
    _ready(spark, engine)
    ready_wall = time.time()
    setups = common.session_setup_samples(spark, _ready) if a.trace else []

    queries = {n: qd for n, qd in _queries().items() if n not in KNOWN_DEFECTS}
    data = common.data_dir()
    rng = random.Random(a.seed)
    tracer = Tracer(a.run_id)
    if a.trace:
        tracer.install()

    def run_pass(traced: bool, shuffle: bool = True) -> dict:
        tracer.enabled = traced
        order = sorted(queries)
        if shuffle:
            rng.shuffle(order)
        ops, layers, groups = [], [], []
        first_span = len(tracer.spans)
        cpu0 = common.tree_cpu_s(os.getpid())
        t_pass = time.perf_counter()
        for name in order:
            spark.catalog.clearCache()
            op = {"key": name}
            t0 = time.perf_counter()
            try:
                with tracer.span("query", query=name) as rec:
                    if traced:
                        groups.append(rec["id"])
                        spark.sparkContext.setJobGroup(rec["id"], name, False)
                    with tracer.span("queries.build") as b, tracer.py4j.count() as calls:
                        df = queries[name].fn(spark, data)
                    forced = common.forcing(df)
                    with tracer.span("exec.action") as x:
                        op["content"] = forced.collect()[0][0]
                op["latency_s"] = time.perf_counter() - t0
                if traced:
                    layers.append({
                        "query": name, "queries.build_s": b["dur_s"],
                        "queries.py4j_calls": calls["n"], "exec.action_s": x["dur_s"],
                        **catalyst_phases(forced), **plan_metrics(forced),
                    })
            except Exception as exc:  # judged as a failure by run.py
                op["error"] = f"{type(exc).__name__}: {exc}"[:500]
            finally:
                if traced:
                    spark.sparkContext.setJobGroup("perfbench-idle", "idle", False)
            ops.append(op)
        return {"ops": ops, "wall_s": time.perf_counter() - t_pass,
                "cpu_s": common.tree_cpu_s(os.getpid()) - cpu0, "layers": layers,
                "groups": groups, "spans": tracer.spans[first_span:]}

    passes = [run_pass(bool(a.trace), shuffle=False)]
    if a.trace:
        passes += [run_pass(False), run_pass(True)]
    spark.stop()
    out = {"ready_wall": ready_wall, "session_setup_samples": setups, "passes": passes}
    if a.trace:
        traced = passes[-1]
        out["layer_sums"] = tracer.layer_sums(traced["spans"])
        out["exec"] = event_log_metrics(event_log, set(traced["groups"]))
    for p in passes:
        del p["spans"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--only", help="comma-separated queries to verify")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-id", default="run")
    a = ap.parse_args()
    if a.verify:
        verify(a.out, a.only.split(",") if a.only else None)
    else:
        common.write_json(a.out, measure(a))


if __name__ == "__main__":
    main()
