"""Helpers shared by the benchmark's runner and its worker processes."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

# one fixed data set per checkout: the run's --seed orders the operations
DATA_SEED = 20261017
SESSION_SETUP_SAMPLES = 3


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cache_dir() -> str:
    return os.path.join(repo_root(), ".bench_build", "perfbench")


def data_dir() -> str:
    return os.path.join(cache_dir(), f"sf0.1-seed{DATA_SEED}")


def data_digest() -> dict:
    """Per-table sha256 of the generated data, from its manifest."""
    manifest = read_json(os.path.join(data_dir(), "manifest.json"))
    return {t: m["sha256"] for t, m in sorted(manifest["tables"].items())}


def start_engine(app: str, event_log: str | None = None):
    """SparkSession + EngineSession the way the engine's own CLI starts
    them; the environment (cores, heap, local dirs) is pinned by run.py."""
    sys.path.insert(0, repo_root())
    from dataclod_spark.session import EngineSession, get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name=app, extra_conf=conf)
    return spark, EngineSession(spark)


def session_setup_samples(spark, ready) -> list[float]:
    """Seconds to set up one more engine session in this warm JVM, several
    times: a new SparkSession, the EngineSession registrations and
    ``ready(session, engine)`` (the workload's views and first request)."""
    from dataclod_spark.session import EngineSession

    out = []
    for _ in range(SESSION_SETUP_SAMPLES):
        t0 = time.perf_counter()
        fresh = spark.newSession()
        ready(fresh, EngineSession(fresh))
        out.append(time.perf_counter() - t0)
    return out


def forcing(df):
    """bench.py's content-forcing aggregate: a hash over every column of
    every row, so projection-only work is measured too."""
    from pyspark.sql import functions as F

    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    return df.agg(F.bit_xor(F.xxhash64(F.struct(*cols))))


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(samples)
    k = len(xs) - 1 if len(xs) <= 10 else len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


def latency_summary(samples: list[float], wall_s: float) -> dict:
    value, pct = tail(samples)
    return {
        "latency_p50_s": statistics.median(samples),
        "latency_tail_s": value,
        "tail_percentile": pct,
        "samples": len(samples),
        "ops_per_s": len(samples) / wall_s,
    }


def proc_tree(root: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (those after the command name, so
    ``fields[1]`` is the parent) of a process and all its live descendants."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stats[int(pid)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    tree = {}
    for pid, fields in stats.items():
        p = pid
        while p and p != root:
            p = int(stats[p][1]) if p in stats else 0
        if p == root:
            tree[pid] = fields
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children's) of a process
    and all its live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in f[11:15]) for f in proc_tree(root).values()) / tick


def tree_rss_kb(root: int) -> int:
    """Summed resident memory of a process's live descendants (not itself)."""
    pages = sum(int(f[21]) for pid, f in proc_tree(root).items() if pid != root)
    return pages * os.sysconf("SC_PAGE_SIZE") // 1024


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)
