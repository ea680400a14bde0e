"""The workloads: fixed statement lists, set-up, inputs and oracles.

Every statement list lives here, not in `bench.py`, so an edit to the
program's own bench cannot silently change a workload. The seed picks
the generated inputs and the order of each pass; it never changes which
statements run, so runs with different seeds do the same work.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Callable

import gen

# adhoc_sql: reference TPC-H query texts through Engine.sql over the
# committed full-schema fixture (fixtures/tpch). A subset of the
# reference's 125 texts: the whole corpus takes ~50 s per warm pass and
# one run can afford ~3 s. TPC-DS texts are left out because registering
# the 24 TPC-DS views adds ~2.5 s to set-up (README.md, "Budget").
ADHOC = ["1", "2", "3", "10", "18", "21"]

# pipeline_etl, transform half: dedup and sketch entries of queries.QUERIES
# over the generated corpus with planted duplicates. SimHash and IVF are
# left out for the run budget (README.md, "Budget").
PIPELINE = [
    "pipeline_dedup_minhash_lsh",     # shingles, MinHash signatures, LSH
    "fn_sketch_kll",                  # pandas/Arrow UDF partial sketches
]

# pipeline_etl, load half: an Impala DDL/DML session through Engine.sql in
# a fresh database per pass (left in place: dropping it adds a DDL round
# trip per pass the run budget cannot afford). A parquet table
# partitioned by l_returnflag and an insert-only transactional table each
# take the lineitem rows whose l_orderkey % LOAD_SLICES is a slice picked
# from the seed and k.
LOAD_COLS = {"l_orderkey": "BIGINT", "l_partkey": "BIGINT",
             "l_quantity": "DOUBLE"}
LOAD_SLICES = 4

# generated input scale (1.0 == TPC-H sf1 row counts)
SCALE = 0.01


@dataclass
class Stmt:
    name: str
    kind: str                       # query | ddl | insert | stats | read
    build: Callable                 # (Ctx) -> DataFrame
    oracle: str | None = None       # DuckDB SQL checked against the result
    build_span: str | None = None   # traced span around `build`, if any


@dataclass
class Ctx:
    spark: object
    engine: object
    data_dir: str | None


def _permuted(seq: list, seed: int, k: int) -> list:
    out = list(seq)
    random.Random(seed * 1_000_003 + k).shuffle(out)
    return out


def _engine_stmt(name: str, kind: str, text: str,
                 oracle: str | None = None) -> Stmt:
    def build(ctx, _t=text):
        return ctx.engine.sql(_t)

    return Stmt(name, kind, build, oracle)


class AdhocSql:
    name = "adhoc_sql"
    why = ("reference TPC-H texts via Engine.sql on small data: dialect, "
           "dispatch, analysis, planning and per-job overhead")
    warmup_passes = 2
    min_warm_passes = 5
    trace_pairs = 2

    def make_inputs(self, seed: int, data_dir: str) -> dict:
        """The committed fixture is the input; the seed only orders the
        statements. Returns its manifest."""
        from incubator_impala_spark.sources import tpch_full

        tables = {}
        for t in tpch_full.TPCH_TABLES:
            path = tpch_full.table_path(t)
            tables[t] = {"rows": _parquet_rows(path),
                         "bytes": os.path.getsize(path)}
        return {"seed": seed, "tables": tables}

    def setup(self, cpus: int, data_dir: str | None) -> Ctx:
        from incubator_impala_spark import engine, session
        from incubator_impala_spark.sources import tpch_full

        spark = session.get_spark("perfbench", cpus=cpus)
        eng = engine.Engine(spark)
        tpch_full.register_tpch_full(spark)
        return Ctx(spark, eng, None)

    def statements(self, seed: int, k: int) -> list[Stmt]:
        from incubator_impala_spark.queries import ORACLE_SQL, tpch_real

        return _permuted(
            [_engine_stmt(f"tpch_real_q{q}", "query", tpch_real.load_text(q),
                          ORACLE_SQL[f"tpch_real_q{q}"]) for q in ADHOC],
            seed, k)

    def oracle_connection(self, ctx: Ctx):
        import duckdb

        return duckdb.connect()     # oracle texts read their own parquet


class PipelineEtl:
    name = "pipeline_etl"
    why = ("MinHash dedup and KLL sketch operators over a generated corpus, "
           "then a DDL/DML load session: operators, UDFs, ACID, writes, stats")
    warmup_passes = 1
    min_warm_passes = 3
    trace_pairs = 1

    def make_inputs(self, seed: int, data_dir: str) -> dict:
        return gen.generate(data_dir, seed, SCALE)

    def setup(self, cpus: int, data_dir: str | None) -> Ctx:
        from incubator_impala_spark import engine, session

        spark = session.get_spark("perfbench", cpus=cpus)
        return Ctx(spark, engine.Engine(spark, sf_dir=data_dir), data_dir)

    @staticmethod
    def database(k: int) -> str:
        return f"perfbench_etl{k}"

    def statements(self, seed: int, k: int) -> list[Stmt]:
        return (_permuted(self._transform(), seed, k)
                + self._load(seed, k))

    @staticmethod
    def _transform() -> list[Stmt]:
        from incubator_impala_spark import queries

        def make(name):
            def build(ctx, _n=name):
                return queries.QUERIES[_n](ctx.spark, ctx.data_dir)

            return Stmt(name, "query", build, queries.ORACLE_SQL.get(name),
                        build_span="queries.build")

        return [make(n) for n in PIPELINE]

    def _load(self, seed: int, k: int) -> list[Stmt]:
        db = self.database(k)
        cols = ", ".join(LOAD_COLS)
        coldefs = ", ".join(f"{c} {t}" for c, t in LOAD_COLS.items())

        def src(offset):
            slice_ = (seed + k + offset) % LOAD_SLICES
            return (f"(SELECT * FROM lineitem "
                    f"WHERE l_orderkey % {LOAD_SLICES} = {slice_})")

        # one read over both written tables; the oracle runs the same
        # text over the source slices
        read = ("SELECT l_returnflag AS grp, count(*) AS n, "
                "sum(l_quantity) AS qty, count(DISTINCT l_partkey) AS parts "
                "FROM {part} p GROUP BY l_returnflag UNION ALL "
                "SELECT 'acid' AS grp, count(*) AS n, sum(l_quantity) AS qty, "
                "count(DISTINCT l_partkey) AS parts FROM {acid} a")
        return [
            _engine_stmt("load.create_db", "ddl", f"CREATE DATABASE {db}"),
            _engine_stmt(
                "load.create_part", "ddl",
                f"CREATE TABLE {db}.sales ({coldefs}) "
                "PARTITIONED BY (l_returnflag STRING) STORED AS PARQUET"),
            _engine_stmt(
                "load.create_acid", "ddl",
                f"CREATE TABLE {db}.sales_acid ({coldefs}) STORED AS PARQUET "
                "TBLPROPERTIES ('transactional'='true', "
                "'transactional_properties'='insert_only')"),
            _engine_stmt(
                "load.insert_part", "insert",
                f"INSERT INTO {db}.sales PARTITION (l_returnflag) "
                f"SELECT {cols}, l_returnflag FROM {src(0)} s"),
            _engine_stmt(
                "load.insert_acid", "insert",
                f"INSERT INTO {db}.sales_acid SELECT {cols} FROM {src(1)} s"),
            _engine_stmt("load.compute_stats", "stats",
                         f"COMPUTE STATS {db}.sales"),
            _engine_stmt(
                "load.read", "read",
                read.format(part=f"{db}.sales", acid=f"{db}.sales_acid"),
                read.format(part=src(0), acid=src(1))),
        ]

    def oracle_connection(self, ctx: Ctx):
        from incubator_impala_spark.testing.oracle import duckdb_connection

        return duckdb_connection(ctx.data_dir)


WORKLOADS = {w.name: w for w in (AdhocSql(), PipelineEtl())}


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows
