"""Approximate-aggregate surface: ndv / appx_median / DataSketches HLL
(reference registrations BuiltinsDb.java:913-1082; estimator scalars
datasketches-functions-ir.cc). Estimators can't hash-match an exact
oracle, so this layer checks the properties that define them:
bounded relative error vs the exact answer, and sketch mergeability
(union of per-partition sketches == one global sketch). Also covers
the Engine SET option surface (query-options.h mapping)."""

from __future__ import annotations

import datetime

import pytest

from incubator_impala_spark import options
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def li_view(spark):
    from incubator_impala_spark.sources.tables import load_table

    load_table(spark, SF_SMALL, "lineitem").createOrReplaceTempView("li_approx")
    return "li_approx"


def test_ndv_macro_accuracy(engine, li_view):
    """Impala ndv() → approx_count_distinct; HLL error ≤ ~5% at this
    cardinality (reference documents ~1.9% typical for its NDV)."""
    row = engine.sql(
        f"SELECT ndv(l_orderkey) AS est, count(distinct l_orderkey) AS exact "
        f"FROM {li_view}"
    ).collect()[0]
    assert abs(row.est - row.exact) / row.exact < 0.05


def test_appx_median_macro(engine, li_view):
    row = engine.sql(
        f"SELECT appx_median(l_quantity) AS med FROM {li_view}"
    ).collect()[0]
    exact = engine.sql(
        f"SELECT percentile(l_quantity, 0.5) AS m FROM {li_view}"
    ).collect()[0].m
    assert abs(row.med - exact) <= 2.0


def test_ds_hll_sketch_estimate(engine, li_view):
    row = engine.sql(
        f"SELECT ds_hll_estimate(ds_hll_sketch(l_partkey)) AS est, "
        f"count(distinct l_partkey) AS exact FROM {li_view}"
    ).collect()[0]
    assert abs(row.est - row.exact) / row.exact < 0.05


def test_ds_hll_union_mergeability(engine, li_view):
    """Sketches built per partition then unioned must estimate like a
    single global sketch — the property that makes HLL work on a
    1000-executor cluster (partial agg → merge)."""
    merged = engine.sql(
        f"""
        SELECT ds_hll_estimate(ds_hll_union(sk)) AS est FROM (
          SELECT l_orderkey % 4 AS p, ds_hll_sketch(l_partkey) AS sk
          FROM {li_view} GROUP BY l_orderkey % 4)
        """
    ).collect()[0].est
    direct = engine.sql(
        f"SELECT ds_hll_estimate(ds_hll_sketch(l_partkey)) AS est FROM {li_view}"
    ).collect()[0].est
    assert merged == direct


def test_sampled_ndv_pattern(engine, li_view):
    """sampled_ndv (BuiltinsDb.java:1086) ≈ ndv over TABLESAMPLE."""
    est = engine.sql(
        f"SELECT ndv(l_orderkey) AS e FROM {li_view} TABLESAMPLE (50 PERCENT)"
    ).collect()[0].e
    exact = engine.sql(
        f"SELECT count(distinct l_orderkey) AS c FROM {li_view}"
    ).collect()[0].c
    # half-sample of a ~1500-key table still sees most keys
    assert est > exact * 0.5


def test_set_option_mapped(engine):
    assert engine.set_option("disable_codegen", "true") is True
    assert engine.spark.conf.get("spark.sql.codegen.wholeStage") == "false"
    engine.set_option("disable_codegen", "false")
    assert engine.spark.conf.get("spark.sql.codegen.wholeStage") == "true"


def test_set_option_accept_and_ignore(engine):
    # unknown Impala options are accepted (no error), ignored
    assert engine.set_option("mem_limit", "2g") is False
    # explain_level became a *handled* option in r6 (drives the
    # Impala-format EXPLAIN renderer's detail level)
    assert engine.set_option("explain_level", "2") is True


def test_set_statement_through_sql(engine):
    out = engine.sql("SET runtime_filter_mode=OFF").collect()
    assert out[0].status == 1
    assert (
        engine.spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "false"
    )
    engine.sql("SET runtime_filter_mode=GLOBAL")


# one case per row of options.OPTIONS: (SET value, the attribute or
# Spark conf value it sets — None for a display-only option, the SET
# ALL value — None when SET ALL does not list the option)
_OPTION_CASES = {
    "abort_on_error": ("true", True, "1"),
    "batch_size": ("1024", None, "1024"),
    "buffer_pool_limit": ("10m", None, "10m"),
    "debug_action": ("x", "x", "x"),
    "disable_codegen": ("1", "false", "1"),
    "disable_outermost_topn": ("1", None, "1"),
    "explain_level": ("verbose", 3, "VERBOSE"),
    "hbase_cache_blocks": ("true", None, "1"),
    "hbase_caching": ("10", None, "10"),
    "max_errors": ("5", None, "5"),
    "max_scan_range_length": ("1m", None, "1m"),
    "mem_limit": ("2g", None, "2g"),
    "num_nodes": ("1", None, "1"),
    "num_scanner_threads": ("2", None, "2"),
    "compression_codec": ("ZSTD:3", "zstd", "ZSTD:3"),
    "parquet_file_size": ("128m", None, "128m"),
    "request_pool": ("pool_a", None, "pool_a"),
    "sync_ddl": ("1", None, "1"),
    "default_file_format": ("parquet", None, "parquet"),
    "disable_hdfs_num_rows_estimate": ("true", None, "1"),
    "runtime_filter_mode": ("OFF", "false", "OFF"),
    "parquet_fallback_schema_resolution": ("1", "name", "NAME"),
    "timezone": ("America/Los_Angeles", "America/Los_Angeles",
                 "America/Los_Angeles"),
    "use_local_tz_for_unix_timestamp_conversions": ("1", True, None),
    "now_string": ("2011-01-01 09:00:00",
                   datetime.datetime(2011, 1, 1, 9), None),
    "parquet_timestamp_type": ("int64_millis", "INT64_MILLIS", None),
    "appx_count_distinct": ("true", True, None),
    "exact_ndv": ("0", False, None),
    "decimal_v2": ("false", False, None),
    "strict_mode": ("true", True, None),
    "alter_schema_in_place": ("true", True, None),
    "default_transactional_type": ("INSERT_ONLY", "insert_only", None),
    "parquet_array_resolution": ("1", "two_level", None),
    "broadcast_bytes_limit": ("1000", "1000", None),
    "parquet_read_statistics": ("0", "false", None),
    "mt_dop": ("3", "3", None),
}


def _option_value(engine, opt):
    if opt.attr:
        return getattr(engine, opt.attr)
    return engine.spark.conf.get(opt.conf, None) if opt.conf else None


@pytest.mark.parametrize("name", list(options.OPTIONS))
def test_query_option_set_show_restore(engine, name):
    """SET sets the row's attribute or conf, SET ALL shows the value,
    and run_blocks' per-block restore undoes a block's SET."""
    from incubator_impala_spark.testing.querytest import Block, run_blocks

    opt = options.OPTIONS[name]
    value, want, shown = _OPTION_CASES[name]
    prev_ndv = engine.exact_ndv
    prev_conf = engine.spark.conf.get(opt.conf, None) if opt.conf else None
    try:
        # run_blocks skips a block that turns DECIMAL_V2 off (V1 result
        # typing is out of scope), so that file starts with it off and
        # the block turns it on
        presets, block_value = [], value
        if name == "decimal_v2":
            presets, block_value = ["SET DECIMAL_V2=false"], "true"
        run_blocks(engine, [], presets=presets)   # the per-file reset
        before = _option_value(engine, opt)
        block = Block(index=0, query=f"SET {name.upper()}={block_value};\n"
                      "select 1 as x", results=["1"], types=["TINYINT"],
                      labels=None, verifier=None, has_catch=False,
                      sections={})
        assert [r.status for r in
                run_blocks(engine, [block], presets=presets)] == ["pass"]
        assert _option_value(engine, opt) == before
        assert engine.option_display.get(name.upper()) == \
            ("0" if presets else None)
        assert engine.set_option(name.upper(), value) is \
            bool(opt.attr or opt.conf)
        assert _option_value(engine, opt) == want
        rows = {r.option: r.value
                for r in engine.sql("SET ALL").collect()}
        assert rows.get(name.upper()) == shown
    finally:
        run_blocks(engine, [])
        engine.exact_ndv = prev_ndv
        if opt.conf and prev_conf is None:
            engine.spark.conf.unset(opt.conf)
        elif opt.conf:
            engine.spark.conf.set(opt.conf, prev_conf)


@pytest.mark.parametrize("name,msg", [
    ("default_transactional_type",
     "Invalid default transactional type: 'bogus'. "
     "Valid values are NONE(0), INSERT_ONLY(1)."),
    ("parquet_array_resolution",
     "Invalid parquet array resolution: 'bogus'. Valid values are "
     "THREE_LEVEL(0), TWO_LEVEL(1), TWO_LEVEL_THEN_THREE_LEVEL(2)."),
])
def test_query_option_rejects_invalid_value(engine, name, msg):
    attr = options.OPTIONS[name].attr
    before = getattr(engine, attr)
    with pytest.raises(ValueError) as e:
        engine.set_option(name, "BOGUS")
    assert str(e.value) == msg
    assert getattr(engine, attr) == before


# ---------------------------------------------------------------------------
# ds_kll_* quantile-sketch family (BuiltinsDb.java:1327-1374) — macros
# over Spark's native DataSketches KLL (functions/registry.py).
# ---------------------------------------------------------------------------


def test_kll_quantile_error_bound(engine, li_view):
    """Realized rank of each estimated quantile within 2% of target
    (KLL k=200 guarantees ~1%)."""
    for q in (0.1, 0.5, 0.9):
        row = engine.sql(
            f"""
            SELECT avg(CAST(l_extendedprice <= est AS DOUBLE)) AS realized
            FROM {li_view},
              (SELECT ds_kll_quantile(ds_kll_sketch(l_extendedprice), {q}d)
                 AS est FROM {li_view})
            """
        ).collect()[0]
        assert abs(row.realized - q) < 0.02, (q, row.realized)


def test_kll_union_mergeability(engine, li_view):
    """Per-partition sketches merged with ds_kll_union must estimate
    like one global sketch — the partial-agg property that bounds the
    shuffle to ~KB per group on a real cluster."""
    merged = engine.sql(
        f"""
        SELECT ds_kll_quantile(ds_kll_union(sk), 0.5d) AS m FROM (
          SELECT l_orderkey % 8 AS p, ds_kll_sketch(l_extendedprice) AS sk
          FROM {li_view} GROUP BY l_orderkey % 8)
        """
    ).collect()[0].m
    exact = engine.sql(
        f"SELECT percentile(l_extendedprice, 0.5) AS m FROM {li_view}"
    ).collect()[0].m
    # realized rank of the merged-sketch median within 2%
    realized = engine.sql(
        f"SELECT avg(CAST(l_extendedprice <= {merged} AS DOUBLE))"
        f" AS r FROM {li_view}"
    ).collect()[0].r
    assert abs(realized - 0.5) < 0.02, (merged, exact, realized)


def test_kll_rank_and_n(engine, li_view):
    exact = engine.sql(
        f"SELECT percentile(l_extendedprice, 0.5) AS med, "
        f"count(l_extendedprice) AS n FROM {li_view}"
    ).collect()[0]
    row = engine.sql(
        f"""
        SELECT ds_kll_rank(sk, {float(exact.med)!r}d) AS r, ds_kll_n(sk) AS n
        FROM (SELECT ds_kll_sketch(l_extendedprice) AS sk FROM {li_view}) z
        """
    ).collect()[0]
    assert row.n == exact.n
    assert abs(row.r - 0.5) < 0.02
    # rank points must be constants: a column argument is rejected at
    # analysis, never evaluated row by row
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException,
                       match="NON_FOLDABLE_INPUT.*kll_sketch_get_rank_double"):
        engine.sql(
            f"""
            SELECT ds_kll_rank(sk, l_extendedprice) AS r
            FROM (SELECT ds_kll_sketch(l_extendedprice) AS sk
                  FROM {li_view}) z, {li_view}
            """
        ).collect()


def test_kll_serialization_roundtrip(engine, li_view):
    """A sketch stored in a parquet STRING column (the reference's
    sketch column type) reads back byte for byte, answering quantile,
    rank and n exactly as before it was stored."""
    sk = engine.sql(
        f"SELECT ds_kll_sketch(l_extendedprice) AS sk FROM {li_view}"
    ).collect()[0].sk
    lit = f"unhex('{bytes(sk).hex()}')"
    probe = ("SELECT ds_kll_quantile(sk, 0.3d) AS q, "
             "ds_kll_rank(sk, 50000d) AS r, ds_kll_n(sk) AS n, "
             "CAST(sk AS BINARY) AS raw FROM {}")
    engine.sql("DROP TABLE IF EXISTS kll_roundtrip")
    engine.sql("CREATE TABLE kll_roundtrip (sk STRING) STORED AS PARQUET")
    try:
        engine.sql(f"INSERT INTO kll_roundtrip SELECT CAST({lit} AS STRING)")
        stored = engine.sql(probe.format("kll_roundtrip")).collect()[0]
    finally:
        engine.sql("DROP TABLE IF EXISTS kll_roundtrip")
    before = engine.sql(probe.format(f"(SELECT {lit} AS sk) z")).collect()[0]
    assert bytes(stored.raw) == bytes(sk)
    assert (stored.q, stored.r, stored.n) == (before.q, before.r, before.n)


def test_kll_exact_mode_semantics(engine):
    """Below its first compaction a KLL sketch is exact, so the
    reference's exclusive semantics give exact answers over {1,2,3,4}:
    quantile(phi) is the item at floor(phi*n) and rank(v) counts items
    strictly below v (kll_sketch_impl.hpp:259-331). A sketch of no
    values is NULL, and so is every estimate over it."""
    engine.spark.sql(
        "CREATE OR REPLACE TEMP VIEW kll_1234 AS "
        "SELECT * FROM VALUES (1d), (2d), (3d), (4d) v(x)")
    engine.spark.sql(
        "CREATE OR REPLACE TEMP VIEW kll_nulls AS "
        "SELECT CAST(NULL AS DOUBLE) AS x FROM range(3)")
    row = engine.sql(
        """
        SELECT ds_kll_quantile(sk, 0.5d) AS q, ds_kll_rank(sk, 2) AS r,
               ds_kll_cdf_as_string(sk, 2) AS cdf,
               ds_kll_pmf_as_string(sk, 2) AS pmf,
               ds_kll_stringify(sk) AS info
        FROM (SELECT ds_kll_sketch(x) AS sk FROM kll_1234) z
        """
    ).collect()[0]
    assert (row.q, row.r, row.cdf, row.pmf) == (3.0, 0.25, "0.25,1",
                                                 "0.25,0.75")
    assert "N : 4;" in row.info
    assert "Min value : 1.0; Max value : 4.0" in row.info
    row = engine.sql(
        """
        SELECT sk IS NULL AS no_sketch, ds_kll_quantile(sk, 0.5d) AS q,
               ds_kll_rank(sk, 2) AS r, ds_kll_n(sk) AS n
        FROM (SELECT ds_kll_sketch(x) AS sk FROM kll_nulls) z
        """
    ).collect()[0]
    assert row.no_sketch
    assert (row.q, row.r, row.n) == (None, None, None)


def test_fn_sketch_kll_degenerate_groups_match_oracle(spark, tmp_path):
    """A group whose values are all NULL, and the NULL event_type
    group, keep their rows with ok flags 1, as the oracle states them."""
    import duckdb
    import pandas as pd

    from incubator_impala_spark.queries import ORACLE_SQL, QUERIES
    from incubator_impala_spark.sources.tables import load_table
    from incubator_impala_spark.testing.oracle import compare_frames

    types = ["click"] * 40 + ["ghost"] * 3 + [None] * 3
    values = [float(i) for i in range(40)] + [None] * 3 + [1.0, 2.0, None]
    path = tmp_path / "events.parquet"
    pd.DataFrame({
        "event_id": range(len(types)),
        "ts": pd.Series(pd.date_range("2024-01-01", periods=len(types),
                                      freq="min")).astype("datetime64[us]"),
        "user_id": [i % 5 for i in range(len(types))],
        "event_type": types,
        "value": values,
        "props": ["{}"] * len(types),
    }).to_parquet(path)
    try:
        got = QUERIES["fn_sketch_kll"](spark, str(tmp_path)).toPandas()
    finally:
        # the entry registers `events` as a temp view; restore the
        # shared session's view of the standard tables
        load_table(spark, SF_SMALL, "events").createOrReplaceTempView("events")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = con.execute(ORACLE_SQL["fn_sketch_kll"]).df()
    assert len(got) == 3
    assert compare_frames(got, want) == []


def test_sampled_ndv_operator_extrapolates(spark):
    """Duj1 over a 50% hash sample lands within 15% of exact NDV on
    orders.o_custkey (a realistic skewed-frequency column)."""
    from incubator_impala_spark.operators.sampling import sampled_ndv
    from incubator_impala_spark.sources.tables import load_table

    orders = load_table(spark, SF_SMALL, "orders")
    est = sampled_ndv(orders, "o_custkey", key="o_orderkey", fraction=0.5).collect()[0]
    exact = orders.select("o_custkey").distinct().count()
    assert est.sample_rows < orders.count()
    assert abs(est.ndv_estimate - exact) / exact < 0.15, (est, exact)


def test_histogram_macro_boundaries(engine, li_view):
    """histogram() (BuiltinsDb.java:1001): 100 sorted equi-height
    boundaries; spot-check interior boundaries against exact
    percentiles (sketch rank error at accuracy=10000 is well under one
    l_quantity step)."""
    h = engine.sql(
        f"SELECT histogram(l_quantity) AS h FROM {li_view}"
    ).collect()[0].h
    bounds = [float(x) for x in h.split(", ")]
    assert len(bounds) == 100
    assert bounds == sorted(bounds)
    for frac, b in ((0.25, bounds[24]), (0.5, bounds[49]), (0.75, bounds[74])):
        exact = engine.sql(
            f"SELECT percentile(l_quantity, {frac}) AS p FROM {li_view}"
        ).collect()[0].p
        assert abs(b - exact) <= 2.0, (frac, b, exact)


def test_kll_quantiles_as_string_and_stringify(engine, li_view):
    """ds_kll_quantiles_as_string / ds_kll_stringify
    (BuiltinsDb.java:1348-1362): CSV quantiles and a summary string."""
    row = engine.sql(
        f"""
        SELECT ds_kll_quantiles_as_string(sk, '0.25,0.5,0.75') AS qs,
               ds_kll_stringify(sk) AS info
        FROM (SELECT ds_kll_sketch(l_quantity) AS sk FROM {li_view})
        """
    ).collect()[0]
    vals = [float(x) for x in row.qs.split(",")]
    assert len(vals) == 3 and vals == sorted(vals)
    assert 1.0 <= vals[0] <= 20.0 and 35.0 <= vals[2] <= 50.0
    assert "### KLL sketch summary" in row.info
    assert "K : 200" in row.info and "Levels :" in row.info


def test_kll_cdf_pmf_as_string(engine, li_view):
    """ds_kll_cdf_as_string / ds_kll_pmf_as_string (reference registry
    impala_functions.py:952-954, variadic split points): n splits give
    n+1 CDF points ending at 1.0; the PMF entries are the successive
    CDF differences and sum to 1."""
    row = engine.sql(
        f"""
        SELECT ds_kll_cdf_as_string(sk, 10, 25, 40) AS cdf,
               ds_kll_pmf_as_string(sk, 10, 25, 40) AS pmf
        FROM (SELECT ds_kll_sketch(l_quantity) AS sk FROM {li_view})
        """
    ).collect()[0]
    cdf = [float(x) for x in row.cdf.split(",")]
    pmf = [float(x) for x in row.pmf.split(",")]
    assert len(cdf) == 4 and len(pmf) == 4
    assert cdf == sorted(cdf) and cdf[-1] == 1.0
    # printed values round to 6 significant digits (the reference's
    # C++ default ostream formatting), so compare at that tolerance
    assert abs(sum(pmf) - 1.0) < 1e-5
    for i in range(1, 4):
        assert abs(pmf[i] - (cdf[i] - cdf[i - 1])) < 1e-5
    # l_quantity is ~uniform on 1..50: the split at 25 sits near 0.5
    assert 0.3 <= cdf[1] <= 0.7


def test_hll_stringify_and_bounds(engine, li_view):
    """ds_hll_stringify / ds_hll_estimate_bounds_as_string /
    ds_hll_union_f (impala_functions.py:936-942): summary string,
    'estimate,lower,upper' bounds bracketing the estimate (kappa
    widens them), and the scalar two-sketch union."""
    row = engine.sql(
        f"""
        SELECT ds_hll_stringify(h) AS hs,
               ds_hll_estimate_bounds_as_string(h) AS hb,
               ds_hll_estimate_bounds_as_string(h, 3) AS hb3
        FROM (SELECT ds_hll_sketch(l_orderkey) AS h FROM {li_view})
        """
    ).collect()[0]
    assert row.hs.startswith("### HLL sketch summary: ")
    assert "Current Mode" in row.hs and "### End HLL sketch summary" in row.hs
    est, lo, hi = (float(x) for x in row.hb.split(","))
    est3, lo3, hi3 = (float(x) for x in row.hb3.split(","))
    assert lo <= est <= hi and lo3 <= est3 <= hi3
    assert lo3 <= lo and hi3 >= hi  # larger kappa -> wider interval
    u = engine.sql(
        f"""
        WITH a AS (SELECT ds_hll_sketch(l_orderkey) AS s FROM {li_view}
                   WHERE l_orderkey % 2 = 0),
             b AS (SELECT ds_hll_sketch(l_orderkey) AS s FROM {li_view}
                   WHERE l_orderkey % 2 = 1)
        SELECT cast(ds_hll_estimate(ds_hll_union_f(a.s, b.s)) as bigint) AS u
        FROM a, b
        """
    ).collect()[0].u
    exact = engine.sql(
        f"SELECT count(distinct l_orderkey) AS c FROM {li_view}"
    ).collect()[0].c
    assert abs(u - exact) / exact < 0.1
