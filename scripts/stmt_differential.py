#!/usr/bin/env python3
"""Statement differential: replay the `Engine.sql` texts a test run
issues against two checkouts and compare rows and error texts.

    # 1. record every top-level Engine.sql / Engine.hive_sql text the
    #    tests issue, with its test file and engine; the tests' temporary
    #    files (staged Avro, mixed-format and LOAD DATA inputs the texts
    #    point at) are kept in texts.basetemp/ beside the output
    python scripts/stmt_differential.py record --out texts.jsonl -- \\
        tests/ -q -p no:cacheprovider
    # 2. replay them per test file, in a fresh session, on each checkout
    #    (run each from a scratch directory: tables land in its
    #    spark-warehouse; a replay moves the LOAD DATA sources it
    #    loads, so restore texts.basetemp/ from a copy between the two)
    python scripts/stmt_differential.py replay --repo OLD \\
        --texts texts.jsonl --out old.jsonl
    python scripts/stmt_differential.py replay --repo NEW \\
        --texts texts.jsonl --out new.jsonl
    # 3. list the statements whose outcome differs
    python scripts/stmt_differential.py compare old.jsonl new.jsonl

`--extra FILE` appends statement sessions of its own (one JSON object
per line: {"file": session name, "text": statement}), such as a
perfbench load session. An outcome is the result's schema and rows
(each value's repr), or the error's class and message. What varies
from run to run is masked: JVM object and plan expression ids (they
count py4j calls), file UUIDs, creation times, sampling seeds and the
replay's working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys

SF_SMALL = "/root/testdata/sf0.001"


class Recorder:
    """pytest plugin: log each top-level text with its test file."""

    def __init__(self, out: str):
        self.out = open(out, "w")
        self.file = None
        self.depth = 0
        self.engines = 0

    def emit(self, rec: dict) -> None:
        rec["file"] = self.file
        self.out.write(json.dumps(rec) + "\n")
        self.out.flush()

    def pytest_configure(self, config):
        from incubator_impala_spark import engine as E

        rec = self
        init, sql, hive = E.Engine.__init__, E.Engine.sql, E.Engine.hive_sql

        def traced_init(eng, spark, sf_dir=None):
            rec.engines += 1
            eng._differential_id = rec.engines
            rec.emit({"op": "init", "eng": rec.engines, "sf_dir": sf_dir})
            return init(eng, spark, sf_dir)

        def wrap(fn, op):
            def call(eng, text):
                if rec.depth == 0:
                    rec.emit({"op": op, "text": text,
                              "eng": getattr(eng, "_differential_id", 0)})
                rec.depth += 1
                try:
                    return fn(eng, text)
                finally:
                    rec.depth -= 1
            return call

        E.Engine.__init__ = traced_init
        E.Engine.sql = wrap(sql, "sql")
        E.Engine.hive_sql = wrap(hive, "hive")

    def pytest_runtest_protocol(self, item, nextitem):
        self.file = item.nodeid.split("::")[0]


def record(args) -> int:
    import pytest

    base = os.path.splitext(os.path.abspath(args.out))[0] + ".basetemp"
    return pytest.main(args.pytest + ["--basetemp", base],
                       plugins=[Recorder(args.out)])


# what differs from run to run: JVM object and expression ids, file
# names, creation times, sampling seeds and the replay's directory
_MASKS = [(re.compile(r"\bo\d+\."), "oN."), (re.compile(r"#\d+L?\b"), "#N"),
          (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                      r"[0-9a-f]{12}"), "UUID"),
          (re.compile(r"'Created Time', '[^']*'"), "'Created Time', 'T'"),
          (re.compile(r"(Sample [^\n]*, )\d+"), r"\1SEED")]


def _mask(s: str) -> str:
    for pat, rep in _MASKS:
        s = pat.sub(rep, s)
    return s.replace(os.getcwd(), "CWD")


def _fresh(base):
    """A new session over an empty catalog and warehouse."""
    spark = base.newSession()
    for db in spark.catalog.listDatabases():
        for t in spark.catalog.listTables(db.name):
            if not t.isTemporary:
                spark.sql(f"DROP TABLE IF EXISTS `{db.name}`.`{t.name}`")
        if db.name != "default":
            spark.sql(f"DROP DATABASE IF EXISTS `{db.name}` CASCADE")
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    return spark


def replay(args) -> int:
    sys.path.insert(0, os.path.abspath(args.repo))
    from incubator_impala_spark.engine import Engine
    from incubator_impala_spark.session import get_spark

    recs = [json.loads(ln) for ln in open(args.texts)]
    for path in args.extra or []:
        recs += [dict(op="sql", eng=-1, **json.loads(ln))
                 for ln in open(path)]
    sf_dirs = {r["eng"]: r["sf_dir"] for r in recs if r["op"] == "init"}
    base = get_spark("stmt-differential", cpus=args.cpus)
    out = open(args.out, "w")
    files = list(dict.fromkeys(r["file"] for r in recs))
    for f in files:
        spark, engines = _fresh(base), {}
        for i, r in enumerate(x for x in recs if x["file"] == f):
            if r["op"] == "init":
                continue
            eng = engines.get(r["eng"])
            if eng is None:
                eng = engines[r["eng"]] = Engine(
                    spark, sf_dir=sf_dirs.get(r["eng"], SF_SMALL))
            res = {"file": f, "i": i, "op": r["op"], "text": r["text"]}
            try:
                run = eng.hive_sql if r["op"] == "hive" else eng.sql
                df = run(r["text"])
                res["schema"] = df.schema.simpleString()
                res["rows"] = [_mask(repr(tuple(row)))
                               for row in df.collect()]
            except Exception as e:  # noqa: BLE001 — the outcome compared
                res["error"] = _mask(f"{type(e).__name__}: {e}")
            out.write(json.dumps(res) + "\n")
            out.flush()
        print(f"replayed {f}", file=sys.stderr)
    return 0


def compare(args) -> int:
    old = [json.loads(ln) for ln in open(args.old)]
    new = [json.loads(ln) for ln in open(args.new)]
    keys = ("schema", "rows", "error")
    diffs = 0
    for a, b in zip(old, new):
        assert (a["file"], a["text"]) == (b["file"], b["text"])
        if any(a.get(k) != b.get(k) for k in keys):
            diffs += 1
            print(f"== {a['file']} #{a['i']}: {a['text'][:200]!r}")
            for name, x in (("old", a), ("new", b)):
                print(f"  {name}: " + json.dumps(
                    {k: x.get(k) for k in keys if k in x})[:600])
    print(f"{len(old)} statements, {diffs} differ")
    return 1 if diffs or len(old) != len(new) else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("record")
    p.add_argument("--out", required=True)
    p.add_argument("pytest", nargs=argparse.REMAINDER)
    p.set_defaults(fn=record)
    p = sub.add_parser("replay")
    p.add_argument("--repo", required=True)
    p.add_argument("--texts", required=True)
    p.add_argument("--extra", action="append")
    p.add_argument("--out", required=True)
    p.add_argument("--cpus", type=int, default=2)
    p.set_defaults(fn=replay)
    p = sub.add_parser("compare")
    p.add_argument("old")
    p.add_argument("new")
    p.set_defaults(fn=compare)
    args = ap.parse_args()
    if args.cmd == "record" and args.pytest[:1] == ["--"]:
        args.pytest = args.pytest[1:]
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
