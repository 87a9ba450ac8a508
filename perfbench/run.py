#!/usr/bin/env python3
"""Layered benchmark of the dataclod-spark engine.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout.  It pins the environment (local[nproc],
a driver heap below RAM, the repo on the Python workers' path, Spark's
local dirs and temp files inside the checkout), generates the data and
checks its manifest, runs the workload in fresh processes and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones.  The line before it holds the run's context (nproc, RAM, load average
at start, sample counts, tail percentile, failures); the same record is
kept under ``.bench_build/perfbench/runs``.

Correctness: every operation was verified once against its DuckDB oracle
(``testing.compare_query(strict=True)``; for ``wire``, the decoded reply
rows) and its content hash or reply digest recorded in
``perfbench/verified/<workload>.json`` for the data the generator writes.
Every run must reproduce the recorded content.  Content that differs is
verified against the oracle again after the run, outside any timing, and
counts as failed unless the oracle agrees; an operation whose recorded
verdict is a mismatch fails every time it runs.  The ``headline`` queries
in ``headline.KNOWN_DEFECTS`` are verified but not timed; their verdicts are
in every run record.  ``--reverify`` rewrites the committed records.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, datagen  # noqa: E402

RUN_TIMEOUT_S = 165
WORKLOADS = ("headline", "wire")


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def context() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": _mem_total_mb(), "loadavg": load}


def pinned_env() -> dict:
    """The engine's environment, set from outside the program."""
    tmp = os.path.join(common.cache_dir(), "tmp")
    local = os.path.join(common.cache_dir(), "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    heap_gb = max(1, min(4, int(_mem_total_mb() / 1024 / 3)))
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_gb}g",
        PYTHONPATH=os.pathsep.join(p for p in (common.repo_root(), env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


class RssSampler(threading.Thread):
    """Peak summed RSS of every process descending from this one."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()
        self.start()

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.peak_kb = max(self.peak_kb, common.tree_rss_kb(os.getpid()))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


# -- processes ---------------------------------------------------------------
_SPAWNED: list[subprocess.Popen] = []


def _worker(script: str, args: list[str], env: dict) -> subprocess.Popen:
    path = os.path.join(common.repo_root(), "perfbench", script)
    p = subprocess.Popen(
        [sys.executable, path, *args], env=env, stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE, text=True, cwd=common.cache_dir(),
    )
    _SPAWNED.append(p)
    return p


def _finish(procs: list[subprocess.Popen], deadline: float) -> None:
    """Wait for the first process until the deadline, then stop them all."""
    try:
        procs[0].wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    for p in procs:
        if p.poll() is None:
            p.terminate()
    for p in procs:
        try:
            p.wait(timeout=15)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def _reap_orphans(grace_s: float = 20.0) -> None:
    """Wait for every process still below this one.  A worker's JVM and
    Python daemon outlive the worker by a moment; as a child subreaper this
    process inherits them, waits for them and kills any that linger."""
    deadline = time.time() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for child in common.proc_tree(os.getpid()):
                if child != os.getpid():
                    try:
                        os.kill(child, signal.SIGKILL)
                    except OSError:
                        pass
        time.sleep(0.1)


def _check(proc: subprocess.Popen, what: str) -> None:
    if proc.returncode != 0:
        err = proc.stderr.read() if proc.stderr else ""
        raise SystemExit(f"{what} exited with {proc.returncode}:\n{err[-4000:]}")


# -- verified records ----------------------------------------------------------
def committed_record(workload: str) -> str:
    return os.path.join(common.repo_root(), "perfbench", "verified", f"{workload}.json")


def local_record(workload: str) -> str:
    return os.path.join(common.cache_dir(), f"verified-{workload}.json")


def _verify(workloads: list[str], env: dict, only: dict | None = None) -> dict:
    """Run the oracle verification of several workloads side by side."""
    outs, procs = {}, []
    for w in workloads:
        outs[w] = os.path.join(common.cache_dir(), f"verify-{w}-{uuid.uuid4().hex[:8]}.json")
        extra = ["--only", ",".join(only[w])] if only else []
        procs.append(_worker(f"{w}.py", ["--verify", "--out", outs[w], *extra], env))
    for w, p in zip(workloads, procs):
        _finish([p], time.time() + 600)
        _check(p, f"{w} verification")
    return {w: common.read_json(path) for w, path in outs.items()}


def prepare(env: dict) -> dict:
    """Generate the data once per checkout, check its manifest every run and
    load each workload's verified record (verifying afresh if the data
    differs from the one the committed record was made on)."""
    d = common.data_dir()
    if not os.path.exists(os.path.join(d, datagen.MANIFEST)):
        datagen.generate(d, common.DATA_SEED)
    datagen.check_manifest(d)
    digest = common.data_digest()
    records, todo = {}, []
    for w in WORKLOADS:
        for path in (local_record(w), committed_record(w)):
            if os.path.exists(path) and common.read_json(path)["data"] == digest:
                records[w] = common.read_json(path)
                break
        else:
            todo.append(w)
    for w, rec in _verify(todo, env).items() if todo else ():
        common.write_json(local_record(w), rec)
        records[w] = rec
    return records


def judge(workload: str, ops: list[dict], record: dict, env: dict) -> list[str]:
    """Failures among the run's operations; changed content is verified
    against the oracle again (after the run, outside any timing)."""
    failures, changed = [], set()
    for op in ops:
        key = op["key"]
        if "error" in op:
            failures.append(f"{key}: {op['error']}")
        elif record["oracle"][key] != "ok":
            failures.append(f"{key}: differs from its DuckDB oracle: {record['oracle'][key]}")
        elif op["content"] != record["content"][key]:
            changed.add(key)
    if changed:
        fresh = _verify([workload], env, {workload: sorted(changed)})[workload]
        for key in sorted(changed):
            if fresh["oracle"][key] == "ok":
                record["content"][key] = fresh["content"][key]
            else:
                record["oracle"][key] = fresh["oracle"][key]
        common.write_json(local_record(workload), record)
        for op in ops:
            key = op["key"]
            if key in changed and op["content"] != record["content"][key]:
                failures.append(f"{key}: content {op['content']} differs from the verified one")
    return failures


# -- workloads -----------------------------------------------------------------
def run_headline(a, env: dict, run_id: str, record: dict) -> dict:
    from perfbench.headline import KNOWN_DEFECTS

    out = os.path.join(common.cache_dir(), "runs", f"{run_id}.worker.json")
    args = ["--out", out, "--seed", str(a.seed), "--trace", str(a.trace), "--run-id", run_id]
    sampler = RssSampler()
    spawn = time.time()
    p = _worker("headline.py", args, env)
    _finish([p], spawn + RUN_TIMEOUT_S)
    peak = sampler.stop()
    _check(p, "headline worker")
    w = common.read_json(out)
    first = w["passes"][0]
    ops = [op for pas in w["passes"] for op in pas["ops"]]
    res = {
        "attempted": len(ops),
        "failures": judge("headline", ops, record, env),
        "setup_s": w["ready_wall"] - spawn,
        "first_pass_s": first["wall_s"],
        "first_pass_cpu_s": first["cpu_s"],
        "peak_rss_mb": peak,
        **common.latency_summary(
            [op["latency_s"] for op in first["ops"] if "latency_s" in op], first["wall_s"]
        ),
        "untimed_oracle_verdicts": {k: record["oracle"][k] for k in KNOWN_DEFECTS},
    }
    if a.trace:
        untraced, traced = w["passes"][1:]
        layers = {}
        for q in traced["layers"]:
            for k, v in q.items():
                if k != "query":
                    layers[k] = layers.get(k, 0) + v
        layers.update(w["layer_sums"])
        layers.update(w["exec"])
        cand = layers["spatial.candidate_pairs"]
        layers["spatial.refine_ratio"] = layers["spatial.matched_pairs"] / cand if cand else 0.0
        layers["trace.overhead"] = statistics.median(
            op["latency_s"] for op in traced["ops"] if "latency_s" in op
        ) / statistics.median(op["latency_s"] for op in untraced["ops"] if "latency_s" in op)
        layers["trace.pass_s"] = traced["wall_s"]
        layers["session.setup_s"] = statistics.median(w["session_setup_samples"])
        res["layers"] = layers
        res["py4j_calls_by_query"] = {
            p: {q["query"]: q["queries.py4j_calls"] for q in w["passes"][i]["layers"]}
            for i, p in ((0, "first"), (2, "warm"))
        }
    return res


def run_wire(a, env: dict, run_id: str, record: dict) -> dict:
    from perfbench import wire

    status = os.path.join(common.cache_dir(), "runs", f"{run_id}.server.json")
    out = os.path.join(common.cache_dir(), "runs", f"{run_id}.worker.json")
    sampler = RssSampler()
    spawn = time.time()
    server = _worker("wire.py", ["server", "--status", status, "--trace", str(a.trace),
                                 "--run-id", run_id], env)
    procs = [server]
    try:
        port = _await(server, status, "port")["port"]
        c = wire.Client(port)
        c.login()
        c.close()
        ready = time.time()
        _await(server, status, "serving")
        procs.insert(0, _worker("wire.py", [
            "client", "--port", str(port), "--server-pid", str(server.pid),
            "--conns", env["SPARK_GRAFT_CPUS"], "--seed", str(a.seed), "--seconds",
            str(a.seconds), "--trace", str(a.trace), "--out", out], env))
    finally:
        _finish(procs, spawn + RUN_TIMEOUT_S)
        peak = sampler.stop()
    for p, what in zip(procs, ("wire client", "wire server")):
        _check(p, what)
    w, srv = common.read_json(out), common.read_json(status)
    for op in w["ops"]:
        op["content"] = op.get("digest")
    phase = "traced" if a.trace else "warm"
    res = {
        "attempted": len(w["ops"]),
        "failures": judge("wire", w["ops"], record, env),
        "setup_s": ready - spawn,
        "first_pass_s": w["first_pass_s"],
        "first_pass_cpu_s": w["first_pass_cpu_s"],
        "deck_cpu_s": w["deck_cpu_s"][phase],
        "peak_rss_mb": peak,
        **wire.summarize(w["ops"], phase, w["walls"][phase]),
    }
    if a.trace:
        layers = {k: v for k, v in res.items() if k.startswith("pgwire.")}
        layers.update(srv["layer_sums"])
        layers.update(srv["exec"])
        untraced = wire.summarize(w["ops"], "untraced", w["walls"]["untraced"])
        layers["trace.overhead"] = res["latency_p50_s"] / untraced["latency_p50_s"]
        layers["trace.pass_s"] = w["walls"]["traced"]
        layers["session.setup_s"] = statistics.median(srv["session_setup_samples"])
        res["layers"] = layers
    return res


def _await(proc: subprocess.Popen, path: str, key: str, timeout: float = 120) -> dict:
    """Poll a worker's status file until it holds ``key``."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if proc.poll() is not None:
            _check(proc, "wire server")
            raise SystemExit("wire server exited early")
        if os.path.exists(path):
            st = common.read_json(path)
            if key in st:
                return st
        time.sleep(0.05)
    raise SystemExit(f"wire server did not report {key} in {timeout} s")


def metric_units(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(common.repo_root(), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> None:
    ap = argparse.ArgumentParser(description="dataclod-spark layered benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--reverify", action="store_true",
                    help="verify every workload against its oracle and rewrite the "
                    "records under perfbench/verified")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    try:
        _main(a, ap)
    finally:
        # every process the run started ends with it, however it ends
        if _SPAWNED:
            _finish(_SPAWNED, time.time())
        _reap_orphans()


def _main(a, ap) -> None:
    if not os.path.isdir(os.path.join(common.repo_root(), "dataclod_spark")):
        raise SystemExit("no dataclod_spark package next to perfbench/: run from a checkout")
    ctx = context()
    os.makedirs(os.path.join(common.cache_dir(), "runs"), exist_ok=True)
    env = pinned_env()
    if a.reverify:
        datagen.generate(common.data_dir(), common.DATA_SEED)
        for w, rec in _verify(list(WORKLOADS), env).items():
            common.write_json(committed_record(w), rec)
        return
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    records = prepare(env)
    run_id = f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}"
    runner = run_headline if a.workload == "headline" else run_wire
    res = runner(a, env, run_id, records[a.workload])
    failed = len(res["failures"])
    if a.trace:
        layers = res["layers"]
        metrics = {k: {"value": float(layers.get(k, 0)), "unit": u}
                   for k, u in metric_units("per_layer").items()}
    else:
        metrics = {k: {"value": float(res[k]), "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    record = {
        "run_id": run_id, "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "context": ctx, "fail_share": failed / res["attempted"], **res,
    }
    common.write_json(os.path.join(common.cache_dir(), "runs", f"{run_id}.json"), record)
    print(json.dumps({"context": record}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": res["attempted"], "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
