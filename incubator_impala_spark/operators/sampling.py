"""Deterministic sampling operators for training-data pipelines.

TABLESAMPLE (the reference's sampling surface, sql-parser.cup:3080)
samples storage blocks — fast but layout-dependent, so results change
with file layout and can't be reproduced across engines or reruns.
These operators sample by *content hash* instead: a row's membership
depends only on its key, so samples are reproducible across engines,
cluster sizes, retries, and dataset versions (the property training
pipelines need for stable train/eval splits).

Mechanism: md5(key) is uniform; comparing a fixed-width hex prefix
against a threshold selects a fraction = threshold/16^width. Pure
Column expressions — codegen, no RNG state, trivially pushed down.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PREFIX_WIDTH = 8  # 32 bits of hash → fraction resolution ~2.3e-10


def _hash_prefix(key: Column) -> Column:
    return F.substring(F.md5(key.cast("string")), 1, _PREFIX_WIDTH)


def _threshold_hex(fraction: float) -> str:
    n = int(round(fraction * (16 ** _PREFIX_WIDTH)))
    n = max(0, min(16 ** _PREFIX_WIDTH, n))
    if n >= 16 ** _PREFIX_WIDTH:
        # fraction 1.0: 'g' sorts above every hex prefix, so the
        # predicate keeps everything (a 9-digit hex threshold would
        # compare lexicographically wrong against 8-char prefixes)
        return "g"
    return format(n, f"0{_PREFIX_WIDTH}x")


def hash_sample(df: DataFrame, key: str, fraction: float) -> DataFrame:
    """Keep ~fraction of rows, chosen by content hash of `key`."""
    return df.where(_hash_prefix(F.col(key)) < F.lit(_threshold_hex(fraction)))


def train_eval_split(df: DataFrame, key: str,
                     eval_fraction: float = 0.1) -> DataFrame:
    """Attach a deterministic 'split' column ('train' / 'eval').

    The same key always lands in the same split — across reruns, data
    versions, and engines — which is what prevents train/eval leakage
    when the corpus is rebuilt.
    """
    is_eval = _hash_prefix(F.col(key)) < F.lit(_threshold_hex(eval_fraction))
    return df.withColumn("split", F.when(is_eval, "eval").otherwise("train"))


def sampled_ndv(df: DataFrame, col: str, key: str,
                fraction: float = 0.2) -> DataFrame:
    """NDV estimated from a deterministic hash sample, extrapolated to
    the full table — the reference's sampled_ndv(col, sample_perc)
    (BuiltinsDb.java:1086; SampledNdvState,
    aggregate-functions-ir.cc:1950-2100) re-expressed Spark-first.

    The reference buckets HLL states and curve-fits; here the sample's
    per-value frequencies are exact (one groupBy on the sampled rows —
    a shuffle over ~fraction of the data), and the Duj1 estimator
    (Haas et al., SIGMOD'95) extrapolates using the singleton count.
    Returns one row: (sample_distinct, singletons, sample_rows,
    ndv_estimate).

    `key` must be a ROW-level key (e.g. the table's primary key) so
    the sample is a row sample: hashing `col` itself would sample by
    VALUE — whole values kept or dropped wholesale, f1 = 0, and the
    estimator degenerates to distinct-in-sample.

    Scale: the sample predicate is a pure Column expression pushed to
    the scan; the groupBy shuffles only sampled rows; the final agg is
    3 scalars. At 100 TB with fraction=0.01 this is a 1 TB shuffle —
    the same cost profile as COMPUTE STATS TABLESAMPLE in the
    reference.
    """
    sample = hash_sample(df, key, fraction)
    freq = sample.groupBy(F.col(col).alias("_v")).agg(F.count("*").alias("_c"))
    agg = freq.agg(
        F.count("*").alias("sample_distinct"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("singletons"),
        F.sum("_c").alias("sample_rows"),
    )
    # Duj1 as pure Column arithmetic (no UDF):
    #   D_hat = d / (1 - (1-q) * f1 / n),   denom guarded > 0
    d = F.col("sample_distinct").cast("double")
    f1 = F.col("singletons").cast("double")
    n = F.col("sample_rows").cast("double")
    denom = F.lit(1.0) - F.lit(1.0 - fraction) * f1 / n
    denom = F.when(denom <= 0, F.lit(1.0) / n).otherwise(denom)
    est = F.when(n == 0, F.lit(0)).otherwise(F.round(d / denom)).cast("long")
    if fraction >= 1.0:
        est = F.col("sample_distinct").cast("long")
    return agg.select(
        F.col("sample_distinct").cast("long").alias("sample_distinct"),
        F.col("singletons").cast("long").alias("singletons"),
        F.col("sample_rows").cast("long").alias("sample_rows"),
        est.alias("ndv_estimate"),
    )


def stratified_sample(df: DataFrame, key: str, stratum: str,
                      fractions: dict, default: float = 1.0) -> DataFrame:
    """Deterministic per-stratum sampling — the training-mix
    rebalancing step (downsample dominant languages/sources, keep
    rare ones whole). Membership is a pure function of (key), so the
    mix is reproducible across engines, reruns, and cluster sizes;
    the per-stratum threshold just moves the md5-prefix cut line.
    Everything is one generated CASE expression over the scan — no
    sampling state, no shuffle."""
    from pyspark.sql import functions as F

    expr = None
    for value, frac in sorted(fractions.items()):
        cond = F.col(stratum) == value
        branch = _hash_prefix(F.col(key).cast("string")) < _threshold_hex(frac)
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    keep = expr.otherwise(
        _hash_prefix(F.col(key).cast("string")) < _threshold_hex(default)
    ) if expr is not None else F.lit(True)
    return df.where(keep)


def stratified_sample_sql(key_expr: str, stratum: str,
                          fractions: dict, default: float = 1.0) -> str:
    """The equivalent predicate in portable SQL (oracle twin)."""
    branches = "".join(
        f"WHEN {stratum} = '{v}' THEN "
        f"substr(md5(CAST({key_expr} AS VARCHAR)), 1, {_PREFIX_WIDTH})"
        f" < '{_threshold_hex(f)}' "
        for v, f in sorted(fractions.items())
    )
    return (
        f"CASE {branches}ELSE "
        f"substr(md5(CAST({key_expr} AS VARCHAR)), 1, {_PREFIX_WIDTH})"
        f" < '{_threshold_hex(default)}' END"
    )
