"""DataSketches HLL debug printers (ds_hll_stringify,
ds_hll_estimate_bounds_as_string; impala_functions.py:936-942).

Every other sketch function is a macro over Spark's native DataSketches
functions (functions/registry.py): the ds_hll_* aggregates and
estimates over hll_*, and the whole ds_kll_* family over kll_*_double.
Only these two printers need the sketch preamble bytes, which no
native exposes, so they stay pandas UDFs (ds_hll_*_impl).
"""

from __future__ import annotations


def register(spark) -> None:
    """Install the ds_hll_*_impl printer UDFs on the session."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # The printers read the DataSketches HLL binary that Spark's
    # hll_sketch_agg emits (Spark embeds Apache DataSketches,
    # the same library the reference vendors in be/src/thirdparty/
    # datasketches). The preamble layout (HllUtil.hpp): byte3 lgK,
    # byte6 LIST couponCount / HLL curMin, byte7 lo2bits curMode +
    # next2 tgtHllType; SET count int32 LE at byte 8. Bounds follow
    # CouponList-internal.hpp:328-344 for LIST/SET —
    # est/(1 ± kappa*COUPON_RSE) clamped to couponCount, COUPON_RSE =
    # 0.409/2^13 — and the sqrt-RSE approximation of
    # HllArray::get{Lower,Upper}Bound for HLL mode (the reference's
    # lgK<=12 table-lookup variant isn't reproduced; the tests only
    # exercise coupon-mode sketches). Doubles print as C++ default
    # ostream formatting (6 significant digits), matching
    # datasketches-functions-ir.cc's stringstream output.
    _COUPON_RSE = 0.409 / (1 << 13)

    def _hll_parse(b: bytes):
        lgk = b[3]
        mode = b[7] & 3
        tgt = (b[7] >> 2) & 3
        count = None
        if mode == 0:
            count = b[6]
        elif mode == 1:
            count = int.from_bytes(b[8:12], "little")
        return (lgk, ("LIST", "SET", "HLL")[mode],
                ("HLL_4", "HLL_6", "HLL_8")[tgt], count)

    def _hll_bounds(b: bytes, est: float, kappa: int):
        import math

        lgk, mode, _tgt, count = _hll_parse(b)
        if mode in ("LIST", "SET"):
            lb = max(est / (1.0 + kappa * _COUPON_RSE), float(count))
            ub = max(est / (1.0 - kappa * _COUPON_RSE), float(count))
        else:
            rel = kappa * 1.03896 / math.sqrt(1 << lgk)
            lb, ub = est / (1.0 + rel), est / (1.0 - rel)
        return lb, ub

    def _cxx(v: float) -> str:
        return f"{v:g}"

    def _hll_bounds_as_string(s, est, kappa):
        out = []
        for b, e, k in zip(s, est, kappa):
            if b is None or e is None or len(b) < 8:
                out.append(None)
                continue
            k = int(k)
            if k < 1 or k > 3:
                out.append(None)  # reference raises; NULL is the
                continue          # non-aborting analogue
            lb, ub = _hll_bounds(bytes(b), float(e), k)
            out.append(f"{_cxx(float(e))},{_cxx(lb)},{_cxx(ub)}")
        return pd.Series(out, dtype="object")

    _hll_bounds_as_string.__annotations__ = {
        "s": pd.Series, "est": pd.Series, "kappa": pd.Series,
        "return": pd.Series,
    }
    hll_bounds_as_string = pandas_udf(_hll_bounds_as_string, "string")

    def _hll_stringify(s, est):
        out = []
        for b, e in zip(s, est):
            if b is None or e is None or len(b) < 8:
                out.append(None)
                continue
            b = bytes(b)
            lgk, mode, tgt, _count = _hll_parse(b)
            lb, ub = _hll_bounds(b, float(e), 1)
            out.append(
                "### HLL sketch summary: "
                f"Log Config K : {lgk}; Hll Target : {tgt}; "
                f"Current Mode : {mode}; LB : {_cxx(lb)}; "
                f"Estimate : {_cxx(float(e))}; UB : {_cxx(ub)}; "
                "### End HLL sketch summary")
        return pd.Series(out, dtype="object")

    _hll_stringify.__annotations__ = {
        "s": pd.Series, "est": pd.Series, "return": pd.Series,
    }
    hll_stringify = pandas_udf(_hll_stringify, "string")

    spark.udf.register("ds_hll_bounds_impl", hll_bounds_as_string)
    spark.udf.register("ds_hll_stringify_impl", hll_stringify)
