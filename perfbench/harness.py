"""One benchmark run: set-up, passes, tracing, oracle gate and metrics.

A pass submits the workload's statements one at a time (a single-client
closed loop: the next statement goes out only when the previous result
has been collected). `spark.catalog.clearCache()` runs before every
statement so no statement reads what an earlier one persisted.

Set-up is timed from process start until the engine is ready: the
program's import, the session with its JVM launch, the Engine with its
function registry, and table registration. Input generation and the
run stamp happen in between and are left out.
"""

from __future__ import annotations

import hashlib
import importlib
import json
import math
import os
import platform
import statistics
import subprocess
import sys
import time

import metrics as M
from tracer import Tracer


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 cpus: int, work: str, root: str, t_process: float):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.work = work
        self.root = root
        self.t_process = t_process
        self.tracer = Tracer() if trace else None
        self.stamp: dict = {}

    # ------------------------------------------------------------------
    def execute(self) -> dict:
        st = self.stamp
        # the program's import is the first part of set-up
        for mod in ("session", "engine", "sources.tpch_full"):
            importlib.import_module(f"incubator_impala_spark.{mod}")
        st["import_s"] = time.perf_counter() - self.t_process
        st.update(workload=self.w.name, seed=self.seed, seconds=self.seconds,
                  trace=int(self.trace), pid=os.getpid(), cpus=self.cpus,
                  nproc=os.cpu_count(),
                  affinity=len(os.sched_getaffinity(0)),
                  loadavg_start=list(os.getloadavg()),
                  python=platform.python_version())
        st.update(_source_ids(self.root))
        steal0 = M.cpu_ticks()

        t0 = time.perf_counter()
        data_dir = os.path.join(self.work, "data")
        manifest = self.w.make_inputs(self.seed, data_dir)
        st["gen_s"] = time.perf_counter() - t0
        st["inputs"] = manifest["tables"]
        st["input_rows"] = sum(t["rows"] for t in manifest["tables"].values())
        st["input_bytes"] = sum(t["bytes"] for t in manifest["tables"].values())
        self.manifest = manifest

        ctx = self._setup(data_dir)
        self.ctx = ctx
        spark = ctx.spark
        st["spark_version"] = spark.version
        st["java_version"] = spark._jvm.System.getProperty("java.version")
        import duckdb
        st["duckdb_version"] = duckdb.__version__

        # cold pass: first execution of every statement in this process
        cold = self._pass(0, traced=False, keep=True)
        self.cold = cold
        # unmeasured warm-up: the first warm passes of a young JVM are
        # the slowest and vary most while the JIT compiles
        self.warmup = [self._pass(k, traced=False, keep=False)
                       for k in range(1, self.w.warmup_passes + 1)]
        # measured window. A traced run alternates untraced and traced
        # passes, starting and ending untraced, so a remaining warm-up
        # trend favours neither side.
        warm, traced = [], []
        t_window = time.perf_counter()
        k = self.w.warmup_passes + 1
        while True:
            use_trace = self.trace and len(warm) > len(traced)
            p = self._pass(k, traced=use_trace, keep=False)
            (traced if use_trace else warm).append(p)
            k += 1
            if self.trace:
                enough = len(traced) >= self.w.trace_pairs and not use_trace
            else:
                enough = len(warm) >= self.w.min_warm_passes
            if enough and time.perf_counter() - t_window >= self.seconds:
                break
        st["window_s"] = time.perf_counter() - t_window
        self.warm, self.traced = warm, traced

        rss = M.peak_rss_mb()
        st["rss_mb"] = rss
        st["steal_frac"] = M.steal_frac(steal0)
        gate = self._oracle_gate()
        st["loadavg_end"] = list(os.getloadavg())
        return self._result(cold, warm, traced, rss, gate)

    # ------------------------------------------------------------------
    def _setup(self, data_dir: str):
        t0 = time.perf_counter()
        if self.tracer:
            root = len(self.tracer.spans)
            self.tracer.install(M.setup_targets())
            try:
                with self.tracer.span("setup"):
                    ctx = self.w.setup(self.cpus, data_dir)
            finally:
                self.tracer.uninstall()
            self.setup_layers = self.tracer.self_times(root)
        else:
            ctx = self.w.setup(self.cpus, data_dir)
        self.stamp["engine_setup_s"] = time.perf_counter() - t0
        self.setup_s = self.stamp["import_s"] + self.stamp["engine_setup_s"]
        return ctx

    def _pass(self, k: int, traced: bool, keep: bool) -> dict:
        """One pass over the workload's statements."""
        stmts = self.w.statements(self.seed, k)
        if not traced:
            t0 = time.perf_counter()
            p = self._loop(k, stmts, traced=False, keep=keep)
            p["s"] = time.perf_counter() - t0
            return p
        tr = self.tracer
        tr.kept.clear()
        tr.install(M.pass_targets())
        root = len(tr.spans)
        try:
            with tr.span("pass"):
                p = self._loop(k, stmts, traced=True, keep=keep)
        finally:
            tr.uninstall()
            tr.stmt = None
        p["s"] = tr.spans[root].duration
        p["layers"] = tr.self_times(root)
        p["read_after_write_s"] = sum(
            sp.duration for sp in tr.descendants(root) if sp.name == "stmt.read")
        p["spark"] = M.job_counts(self.ctx.spark.sparkContext, p["groups"])
        p["ops"] = self._count_operators()
        return p

    def _loop(self, k: int, stmts, traced: bool, keep: bool) -> dict:
        """Submit each statement once the previous result is in."""
        spark, tr = self.ctx.spark, self.tracer
        sc = spark.sparkContext
        lat, rows, errors, groups = {}, {}, {}, []
        for i, s in enumerate(stmts):
            spark.catalog.clearCache()
            if traced:
                groups.append(f"perfbench-{k}-{i}")
                sc.setJobGroup(groups[-1], s.name)
                tr.stmt = s.name
            t0 = time.perf_counter()
            try:
                if traced:
                    with tr.span(f"stmt.{s.kind}"):
                        out = self._statement(s, traced=True)
                else:
                    out = self._statement(s, traced=False)
                lat[s.name] = time.perf_counter() - t0
                rows[s.name] = out
                if keep:
                    self._observe(s)
            except Exception as e:  # a failing statement stays in the run
                lat[s.name] = time.perf_counter() - t0
                errors[s.name] = f"{type(e).__name__}: {str(e)[:300]}"
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        p = {"k": k, "lat": lat, "errors": errors, "groups": groups,
             "nrows": {n: len(r[1]) for n, r in rows.items()}}
        if keep:
            p["rows"] = rows
        return p

    def _statement(self, s, traced: bool):
        """Build, plan and collect one statement; returns (cols, rows)."""
        tr = self.tracer
        if traced and s.build_span:
            with tr.span(s.build_span):
                df = s.build(self.ctx)
        else:
            df = s.build(self.ctx)
        if traced:
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("spark.exec"):
                out = df.collect()
        else:
            out = df.collect()
        return df.columns, out

    def _observe(self, s) -> None:
        """Cold-pass hook: measure what the load session has stored once
        its last write is done."""
        if s.name == "load.compute_stats":
            self.stamp["written"] = M.scan_written(
                self.work, self.w.database(0))

    # -- operator counters (traced passes only) -------------------------
    def _count_operators(self) -> dict:
        out = {key: df.count() for key, df in self.tracer.kept.items()}
        self.ctx.spark.catalog.clearCache()
        return out

    # -- oracle gate ------------------------------------------------------
    def _oracle_gate(self) -> dict:
        from incubator_impala_spark.testing.oracle import compare_frames

        con = self.w.oracle_connection(self.ctx)
        con.execute(f"SET threads TO {self.cpus}")
        stmts = {s.name: s for s in self.w.statements(self.seed, 0)}
        ok, bad = [], {}
        for name, s in stmts.items():
            if name in self.cold["errors"]:
                bad[name] = self.cold["errors"][name]
                continue
            if s.oracle is None:
                ok.append(name)
                continue
            cols, rows = self.cold["rows"][name]
            try:
                problems = compare_frames(M.to_pandas(cols, rows),
                                          con.execute(s.oracle).df())
            except Exception as e:  # an oracle failure is a mismatch
                problems = [f"oracle error {type(e).__name__}: {e}"]
            if problems:
                bad[name] = "; ".join(problems)[:500]
            else:
                ok.append(name)
        con.close()
        # every later execution must return what the checked one did
        for p in self.warmup + self.warm + self.traced:
            for name, err in p["errors"].items():
                bad.setdefault(name, err)
            for name, n in p["nrows"].items():
                if name in ok and n != len(self.cold["rows"][name][1]):
                    ok.remove(name)
                    bad[name] = f"pass {p['k']} returned {n} rows"
        for name, why in sorted(bad.items()):
            print(f"perfbench: MISMATCH {self.w.name}/{name}: {why}",
                  file=sys.stderr)
        self.stamp["mismatches"] = bad
        return {"ok": ok, "bad": bad, "n": len(stmts)}

    # -- metrics ------------------------------------------------------------
    def _result(self, cold, warm, traced, rss, gate) -> dict:
        st = self.stamp
        passes = [cold] + self.warmup + warm + traced
        attempted = sum(len(p["lat"]) for p in passes)
        failed = sum(len(p["errors"]) for p in passes)
        # a statement that mismatched the oracle fails in every pass
        failed += sum(1 for p in passes for n in p["lat"]
                      if n in gate["bad"] and n not in p["errors"])
        st["pass_s"] = [p["s"] for p in warm]
        st["warmup_pass_s"] = [p["s"] for p in self.warmup]
        st["traced_pass_s"] = [p["s"] for p in traced]
        st["first_pass_s"] = cold["s"]
        st["first_pass_stmt_s"] = cold["lat"]
        per_stmt = {n: _median([p["lat"][n] for p in warm])
                    for n in cold["lat"]}
        st["stmt_median_s"] = per_stmt
        # the percentile follows from the guaranteed sample count, so it
        # is the same in every run of a workload
        samples = [v for p in warm for v in p["lat"].values()]
        tail_p = M.tail_percentile(self.w.min_warm_passes * len(cold["lat"]))
        tail_v = M.nearest_rank(samples, tail_p)
        st["query_tail"] = {"percentile": tail_p, "samples": len(samples),
                            "beyond": len(samples)
                            - math.ceil(tail_p / 100 * len(samples))}
        e2e = {
            "setup_s": self.setup_s,
            "first_pass_s": cold["s"],
            "pass_s": _median([p["s"] for p in warm]),
            "query_geomean_s": M.geomean(per_stmt.values()),
            "query_tail_s": tail_v,
            "correct_frac": len(gate["ok"]) / gate["n"],
        }
        st["end_to_end"] = e2e
        if self.trace:
            layer = self._per_layer(warm, traced, rss)
            st["per_layer"] = layer
            out = M.pick(M.PER_LAYER, layer)
        else:
            out = M.pick(M.END_TO_END, e2e)
        return {"correct": not gate["bad"] and failed == 0,
                "attempted": attempted, "failed": failed, "metrics": out}

    def _per_layer(self, warm, traced, rss) -> dict:
        layer = {"program.import_s": self.stamp["import_s"]}
        for name in M.SETUP_LAYERS:
            layer[name + "_s"] = self.setup_layers.get(name, 0.0)
        # the traced pass of median length; its self times sum to it
        rep = sorted(traced, key=lambda p: p["s"])[(len(traced) - 1) // 2]
        for name in M.PASS_LAYERS:
            layer[name + "_s"] = rep["layers"].get(name, 0.0)
        layer["bench.self_s"] = sum(v for n, v in rep["layers"].items()
                                    if n not in M.PASS_LAYERS)
        layer["trace.pass_s"] = rep["s"]
        layer["engine.read_after_write_s"] = rep["read_after_write_s"]
        for key in ("jobs", "stages", "tasks"):
            layer[f"spark.{key}"] = rep["spark"][key]
        ops = rep["ops"]
        layer["operators.lsh_candidate_pairs"] = ops.get("lsh_cand", 0)
        layer["operators.lsh_pairs"] = ops.get("lsh_pairs", 0)
        layer["operators.lsh_pair_yield"] = (
            ops["lsh_pairs"] / ops["lsh_cand"] if ops.get("lsh_cand") else 0.0)
        layer["operators.planted_dup_recall"] = self._planted_recall()
        written = self.stamp.get("written")
        if written:
            inserted = written["rows"]
            src = self.manifest["tables"]["lineitem"]
            input_bytes = src["bytes"] * inserted / src["rows"]
            layer["sink.files_written"] = written["files"]
            layer["sink.bytes_written"] = written["bytes"]
            layer["partitions.written"] = written["partitions"]
            layer["stored_bytes_per_input_byte"] = written["bytes"] / input_bytes
            # per second of the load session (the load.* statements)
            load_s = _median([sum(v for n, v in p["lat"].items()
                                  if n.startswith("load.")) for p in warm])
            layer["write_rows_per_s"] = inserted / load_s
        else:
            for n in ("sink.files_written", "sink.bytes_written",
                      "partitions.written", "stored_bytes_per_input_byte",
                      "write_rows_per_s"):
                layer[n] = 0
        layer["peak_rss_mb"] = rss["total"]
        layer["session.jvm_peak_rss_mb"] = rss["jvm"]
        layer["session.python_peak_rss_mb"] = rss["python"]
        untraced = _median([p["s"] for p in warm])
        layer["trace.overhead_frac"] = (
            _median([p["s"] for p in traced]) / untraced - 1.0)
        total = sum(rep["layers"].values())
        self.stamp["trace_self_sum_residual_s"] = total - rep["s"]
        return layer

    def _planted_recall(self) -> float:
        """Share of the planted (source, copy) document pairs that the
        MinHash LSH entry reports (pipeline_dedup_minhash_lsh output)."""
        rows = self.cold.get("rows", {}).get("pipeline_dedup_minhash_lsh")
        planted = self.manifest.get("planted_docs")
        if not rows or not planted:
            return 0.0
        cols, data = rows
        i1, i2 = cols.index("d1"), cols.index("d2")
        found = {(r[i1], r[i2]) for r in data}
        return sum(1 for p in planted if p in found) / len(planted)

    # ------------------------------------------------------------------
    def write(self, prefix: str) -> None:
        """Write the stamp and, in traced runs, the spans."""
        with open(prefix + ".json", "w") as fh:
            json.dump(self.stamp, fh, indent=1, default=str)
        if self.tracer:
            self.tracer.dump(prefix + ".spans.json")


def _source_ids(root: str) -> dict:
    """Git sha when the checkout is a repository, and always a digest of
    the program and benchmark sources, so a number names its code."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    for top in ("incubator_impala_spark", "perfbench"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(root, top))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith((".py", ".sql")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return {"git_sha": sha, "source_sha256": h.hexdigest()}

