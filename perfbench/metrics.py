"""Metric names, trace targets and the small measurements behind them."""

from __future__ import annotations

import math
import os

# end-to-end metrics (printed by `--trace 0` runs), name -> unit
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "query_tail_s": "s",
    "correct_frac": "fraction",
}

# spans around set-up calls; metric "<name>_s" is the span's self time
# in the run's one set-up. "program.import_s" is the time from process
# start until the package is imported.
SETUP_LAYERS = ["session.get_spark", "engine.init", "functions.register_all",
                "sources.register"]

# spans inside a pass; metric "<name>_s" is the self time in the traced
# pass of median length. Everything else in that pass (the loop,
# clearCache, job groups) is "bench.self_s", so the self times sum to
# "trace.pass_s".
PASS_LAYERS = ["engine.sql", "dialect.translate", "spark.analyze",
               "queries.build", "operators.build", "spark.plan", "spark.exec",
               "acid.prepare", "acid.handle", "acid.write_rows",
               "engine.insert", "engine.compute_stats"]

# per-layer metrics (printed by `--trace 1` runs), name -> unit
PER_LAYER = {
    "program.import_s": "s",
    **{f"{n}_s": "s" for n in SETUP_LAYERS},
    **{f"{n}_s": "s" for n in PASS_LAYERS},
    "bench.self_s": "s",
    "trace.pass_s": "s",
    "engine.read_after_write_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "operators.lsh_candidate_pairs": "count",
    "operators.lsh_pairs": "count",
    "operators.lsh_pair_yield": "fraction",
    "operators.planted_dup_recall": "fraction",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "partitions.written": "count",
    "write_rows_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "session.jvm_peak_rss_mb": "MB",
    "session.python_peak_rss_mb": "MB",
    "trace.overhead_frac": "fraction",
}

_PKG = "incubator_impala_spark"


def setup_targets() -> list[tuple]:
    """Wrap points for set-up, at the names their callers look up:
    `engine.py` imports register_all and register_tables by name."""
    from incubator_impala_spark import engine

    return [
        (f"{_PKG}.session", "get_spark", "session.get_spark"),
        (engine.Engine, "__init__", "engine.init"),
        (f"{_PKG}.engine", "register_all", "functions.register_all"),
        (f"{_PKG}.engine", "register_tables", "sources.register"),
        (f"{_PKG}.sources.tpch_full", "register_tpch_full", "sources.register"),
    ]


def pass_targets() -> list[tuple]:
    """Wrap points inside a pass. `engine.py` reaches dialect.translate,
    acid.prepare and acid.handle through their modules, `acid.py` calls
    its own write_rows through its module globals, and every caller
    reaches SparkSession.sql through the session object. The two dedup
    targets keep the candidate and pair DataFrames they return, to be
    counted after the pass."""
    from pyspark.sql import SparkSession

    from incubator_impala_spark import engine

    ops = f"{_PKG}.operators.dedup"
    return [
        (engine.Engine, "sql", "engine.sql"),
        (engine.Engine, "_insert", "engine.insert"),
        (engine.Engine, "_compute_stats", "engine.compute_stats"),
        (f"{_PKG}.dialect", "translate", "dialect.translate"),
        (f"{_PKG}.acid", "prepare", "acid.prepare"),
        (f"{_PKG}.acid", "handle", "acid.handle"),
        (f"{_PKG}.acid", "write_rows", "acid.write_rows"),
        (SparkSession, "sql", "spark.analyze"),
        (ops, "minhash_lsh_pairs", "operators.build", "lsh_pairs"),
        (ops, "lsh_candidate_pairs", "operators.build", "lsh_cand"),
    ]


def pick(spec: dict, values: dict) -> dict:
    return {n: {"value": float(values[n]), "unit": u} for n, u in spec.items()}


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail_percentile(n_min: int) -> int:
    """Highest whole percentile that leaves at least ten of `n_min`
    samples beyond it (at least the 1st)."""
    return max(1, math.floor(100 * (1 - 10 / n_min))) if n_min > 10 else 1


def nearest_rank(samples, p: float) -> float:
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)] if xs else 0.0


def job_counts(sc, groups) -> dict:
    """Jobs, stages and tasks Spark ran for the given job groups."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for gid in groups:
        for jid in st.getJobIdsForGroup(gid):
            jobs += 1
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                si = st.getStageInfo(sid)
                tasks += si.numTasks if si is not None else 0
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _proc_tree() -> dict:
    """pid -> parent pid for every visible process."""
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
                parents[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                pass
    return parents


def _vmhwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> dict:
    """Peak RSS (VmHWM) of the driver, its JVM and the JVM's Python
    workers, read from /proc while they are still alive. The sum bounds
    the peak of the whole process tree from above."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.proc.pid if gw is not None and getattr(gw, "proc", None) else None
    parents = _proc_tree()
    workers = []
    if jvm is not None:
        frontier = {jvm}
        while frontier:
            frontier = {p for p, pp in parents.items() if pp in frontier}
            workers.extend(frontier)
    driver = _vmhwm_mb(os.getpid())
    jvm_mb = _vmhwm_mb(jvm) if jvm else 0.0
    worker_mb = sum(_vmhwm_mb(p) for p in workers)
    return {"total": driver + jvm_mb + worker_mb, "jvm": jvm_mb,
            "python": driver + worker_mb, "workers": len(workers)}


def scan_written(work: str, marker: str) -> dict:
    """Files, bytes, partition directories and rows of the parquet data
    files the write session stored under directories containing
    `marker` in the run's warehouse."""
    import pyarrow.parquet as pq

    files = size = rows = 0
    parts = set()
    for dirpath, _dirs, names in os.walk(os.path.join(work, "spark-warehouse")):
        if marker not in dirpath:
            continue
        segs = dirpath.split(os.sep)
        keyed = [i for i, seg in enumerate(segs) if "=" in seg]
        if keyed:       # the partition directory, not its delta_* dirs
            parts.add(os.sep.join(segs[:keyed[-1] + 1]))
        for f in names:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, f)
            files += 1
            size += os.path.getsize(p)
            rows += pq.ParquetFile(p).metadata.num_rows
    return {"files": files, "bytes": size, "partitions": len(parts),
            "rows": rows}


def to_pandas(cols, rows):
    import pandas as pd

    return pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def steal_frac(since: tuple[int, int]) -> float:
    """Share of CPU time the host took from this machine since `since`."""
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(1, total - since[1])
