"""Golden explain-plan corpus — the reference's PlannerTest methodology.

The reference asserts whole explain-plan text against golden files
(`fe/src/test/java/org/apache/impala/planner/PlannerTest.java`,
`testdata/workloads/functional-planner/queries/PlannerTest/*.test`) so
that ANY plan regression — a broadcast turning into a shuffle, a filter
sliding off a scan, a new exchange — fails a test naming the query.
Spark's physical plans carry unstable tokens (expression ids, paths,
codegen stage ids, sizes); `normalize()` scrubs them so the golden text
pins exactly the *structure*: operator tree, join strategies, pushed
filters, read schemas, partial/final agg modes.

Snapshot with `scripts/snapshot_plans.py`; diffed by
`tests/test_golden_plans.py`.
"""

from __future__ import annotations

import os
import re

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "golden_plans",
)

# The headline set (bench.py) — the plans whose shape is the perf
# contract. Kept as an explicit list so a rename fails loudly.
PLAN_QUERIES = [
    "tpch_q1", "tpch_q3", "tpch_q4_adapted", "tpch_q5", "tpch_q6",
    "tpch_q9_adapted", "tpch_q13", "tpch_q18", "tpch_q21_adapted",
    "analytic_window_frames", "agg_rollup",
    "events_session_windows", "events_asof_last_click",
    "pipeline_dedup_minhash_lsh", "pipeline_dedup_simhash",
    "pipeline_dedup_embedding_ivf", "pipeline_text_features",
    "pipeline_similarity_topk", "pipeline_corpus_curation",
    "pipeline_stratified_sample",
    "tpcds_q36_style_rollup_rank", "tpcds_q51_style_cumulative_crossover",
    "tpcds_q78_style_no_return_channel_ratio",
    "tpcds_q95_style_double_semijoin",
    "tpcds_q4_style_three_channel_yoy_preference",
    "tpcds_q64_style_snowflake_year_compare",
    "nested_tpch_two_level_max_order_qty",
]

# Entries whose plan is not statically pinnable: iterative operators
# materialize (localCheckpoint) at build time so their final plan
# embeds run-specific RDD state; multi-DISTINCT rewrites order their
# Expand projections by an internal set-iteration order that varies
# across JVM sessions (same plan shape, swapped gid assignment — a
# diff would flap without a regression).
_PLAN_EXCLUDE = {"pipeline_dedup_clusters", "agg_multi_distinct",
                 "tpcds_q28_style_six_band_distinct"}


def all_plan_queries() -> list[str]:
    """The extended golden corpus: the explicit headline set plus every
    tpcds_* (plan shapes AND the reference's real texts), nested_*,
    relational (join/agg/topn/setop/unnest/analytic), sql_* and
    pipeline_* entry — any optimizer or operator-translation regression
    in those fails a named test (the reference runs the same breadth in
    PlannerTest)."""
    from incubator_impala_spark.queries import QUERIES

    prefixes = ("tpcds_", "nested_", "join_", "agg_", "topn_", "setop_",
                "unnest_", "analytic_", "sql_", "pipeline_", "events_",
                "tpch_")
    extra = sorted(
        n for n in QUERIES
        if n.startswith(prefixes) and n not in PLAN_QUERIES
        and n not in _PLAN_EXCLUDE)
    return PLAN_QUERIES + extra


def explain_formatted(df) -> str:
    """EXPLAIN FORMATTED text of a DataFrame (pre-execution plan —
    AQE re-optimization happens at run time; the golden corpus pins
    the static plan the optimizer commits to)."""
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


_PARTITIONING = re.compile(r"\b(?:hash|range)partitioning\(")


def _scrub_partition_count(text: str) -> str:
    """hashpartitioning(k#x, 32) -> hashpartitioning(k#x, n) for each
    partitioning call in `text`: the trailing count is the
    shuffle width, which follows the core count (session.py), so a
    golden plan must not pin it. Scans balanced parens because the
    partitioning keys nest calls."""
    m = _PARTITIONING.search(text)
    if not m:
        return text
    depth, i = 1, m.end()
    while depth and i < len(text):
        depth += {"(": 1, ")": -1}.get(text[i], 0)
        i += 1
    return (text[:m.start()] + re.sub(r", \d+\)$", ", n)", text[m.start():i])
            + _scrub_partition_count(text[i:]))


_SCRUBS = [
    # shuffle width: hashpartitioning(..., 32) -> hashpartitioning(..., n)
    (re.compile(_PARTITIONING.pattern + ".*"),
     lambda m: _scrub_partition_count(m.group(0))),
    # expression / plan ids: l_orderkey#123L -> l_orderkey#xL
    (re.compile(r"#\d+"), "#x"),
    # lambda variable names carry a session-global counter
    # (lambda x_29#x) — scrub the counter, keep the variable letter
    (re.compile(r"\blambda ([a-zA-Z]+)_\d+"), r"lambda \1_n"),
    # codegen stage ids and whole-stage markers: (12) -> (n) is NOT
    # scrubbed (operator numbering is stable); codegen ids are:
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : x]"),
    # paths & locations: [file:/root/testdata/sf0.001/...] -> [path]
    (re.compile(r"\[?file:[^\],\s]+\]?"), "[path]"),
    (re.compile(r"InMemoryFileIndex\([^)]*\)"), "InMemoryFileIndex(x)"),
    # statistics / sizes
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(x)"),
    (re.compile(r"\b\d+(\.\d+)?\s*(B|KiB|MiB|GiB)\b"), "xB"),
    # temp/checkpoint dirs and uuids
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                r"[0-9a-f]{12}"), "uuid"),
    # broadcast exchange ids / reuse ids
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=x]"),
]


def normalize(plan: str) -> str:
    out = []
    for line in plan.splitlines():
        s = line.rstrip()
        for rx, rep in _SCRUBS:
            s = rx.sub(rep, s)
        out.append(s)
    # drop trailing blank lines, normalize to single trailing newline
    text = "\n".join(out).rstrip() + "\n"
    return text


def golden_path(name: str) -> str:
    return os.path.join(GOLDEN_DIR, f"{name}.plan")


def snapshot(spark, sf_dir: str, names=None) -> list[str]:
    """(Re)write golden plan files; returns the list written."""
    from incubator_impala_spark.queries import QUERIES

    os.makedirs(GOLDEN_DIR, exist_ok=True)
    written = []
    for name in names or all_plan_queries():
        # Mirror test_golden_plans exactly: clear the cache registry
        # before each build so a persist() registered by an earlier
        # query cannot substitute an InMemoryRelation into this one's
        # plan (r11: snapshots taken without this drifted from the
        # test's cache-free condition once queries began persisting
        # intermediates).
        spark.catalog.clearCache()
        df = QUERIES[name](spark, sf_dir)
        text = normalize(explain_formatted(df))
        with open(golden_path(name), "w") as f:
            f.write(text)
        written.append(name)
    return written
