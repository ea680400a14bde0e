"""Unit pins for the ACID model's pure logic (no Spark session):
write-id visibility, AcidUtils-style file selection, bucket codec,
original-file name validation.  Reference:
fe/src/main/java/org/apache/impala/util/AcidUtils.java,
org.apache.hadoop.hive.ql.io.BucketCodec."""
from __future__ import annotations

import os
import re

import pytest

from incubator_impala_spark.acid import (
    AcidTable,
    _ORIG_NAME,
    _select_files,
    bucket_code,
)


def _table(tmp_path, **kw) -> AcidTable:
    d = dict(display="t", phys="t", db=None,
             location=str(tmp_path), cols=[("x", "int")], pcols=[],
             insert_only=True, fmt="text")
    d.update(kw)
    return AcidTable(**d)


def _mk(tmp_path, *entries):
    for e in entries:
        p = tmp_path / e
        if e.endswith("/"):
            p.mkdir(parents=True, exist_ok=True)
        else:
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_text("1\n")


def test_bucket_codec_v1():
    # BucketCodec V1: version in bits 29-31, bucket id in bits 16-28
    assert bucket_code(0) == 536870912
    assert bucket_code(1) == 536936448


def test_visibility_snapshot_semantics():
    t = AcidTable(display="t", phys="t", db=None, location="/x",
                  cols=[], pcols=[], insert_only=True, fmt="text")
    t.snap_hw, t.snap_exc = 5, {3}
    assert t.visible(0)          # originals always visible
    assert t.visible(5)
    assert not t.visible(3)      # open/aborted below high-water
    assert not t.visible(6)      # beyond the cached snapshot


def test_newest_visible_base_hides_older_files(tmp_path):
    _mk(tmp_path, "delta_1_1/f0", "delta_2_2/f0", "base_2/f0",
        "delta_3_3/f0", "000000_0")
    t = _table(tmp_path)
    t.snap_hw = 3
    data, deletes, origs = _select_files(t, str(tmp_path))
    rels = sorted(r for r, _, _ in data)
    # base_2 supersedes delta_1/2 and the original; delta_3 stacks
    assert rels == ["base_2/f0", "delta_3_3/f0"]
    assert origs == []


def test_invisible_base_falls_back_to_originals(tmp_path):
    _mk(tmp_path, "base_4/f0", "000000_0")
    t = _table(tmp_path)
    t.snap_hw = 3              # base_4 not yet committed
    data, _, origs = _select_files(t, str(tmp_path))
    assert [r for r, _, _ in data] == []
    assert [r for r, _, _ in origs] == ["000000_0"]


def test_aborted_delta_filtered(tmp_path):
    _mk(tmp_path, "delta_1_1/f0", "delta_2_2/f0")
    t = _table(tmp_path)
    t.snap_hw, t.snap_exc = 2, {2}
    data, _, _ = _select_files(t, str(tmp_path))
    assert [r for r, _, _ in data] == ["delta_1_1/f0"]


def test_streaming_range_delta_selected_when_any_wid_visible(
        tmp_path):
    # a Hive Streaming side-file spans write ids 1-2; it is selected
    # while either id is committed (per-row validation happens in
    # the scan, not the file selection)
    _mk(tmp_path, "delta_1_2/streaming.orc")
    t = _table(tmp_path, insert_only=False, fmt="orc")
    t.snap_hw, t.snap_exc = 2, {2}
    data, _, _ = _select_files(t, str(tmp_path))
    assert [r for r, lo, hi in data] == ["delta_1_2/streaming.orc"]
    t.snap_exc = {1, 2}
    data, _, _ = _select_files(t, str(tmp_path))
    assert data == []


def test_original_file_name_grammar():
    assert _ORIG_NAME.match("000000_0")
    assert _ORIG_NAME.match("000001_0")
    # the _copy_N collision suffix is what the reference rejects with
    # "Found original file with unexpected name" (acid-negative)
    assert not _ORIG_NAME.match("000000_0_copy_1")
    assert not _ORIG_NAME.match("part-00000.orc")


def test_compacted_base_dir_grammar(tmp_path):
    _mk(tmp_path, "base_0000003_v0001003/000000_0")
    t = _table(tmp_path)
    t.snap_hw = 3
    data, _, _ = _select_files(t, str(tmp_path))
    assert [r for r, _, _ in data] == \
        ["base_0000003_v0001003/000000_0"]


class _PrepEng:
    """Catalog records carrying only row__id shadows."""

    def __init__(self, shadows_map, cols_map):
        from incubator_impala_spark.stats import TableRecord

        self.tables = {
            f"default.{phys}": TableRecord(
                rowid=(shadow, [], cols_map[phys]))
            for phys, shadow in shadows_map.items()}


def test_rowid_swap_masks_string_literals():
    """Relation-name substitution and the row__id trigger must not
    fire inside string literals or -- comments."""
    from incubator_impala_spark import acid

    eng = _PrepEng({"streaming": "streaming__acidrowid__"},
                   {"streaming": ["a", "b"]})
    out = acid.prepare(
        eng, "select row__id.rowid, 'streaming is a word' "
             "from streaming")
    assert "'streaming is a word'" in out
    assert "from streaming__acidrowid__" in out
    # row__id only inside a literal: statement untouched
    sql = "select 'row__id' from streaming"
    assert acid.prepare(eng, sql) == sql
    # table spelling only inside a comment: no swap
    sql = "select row__id.rowid from other_tbl -- streaming"
    assert acid.prepare(eng, sql) == sql
    # a backtick-quoted row__id is a reference, not a literal
    assert "from streaming__acidrowid__" in acid.prepare(
        eng, "select `row__id`.rowid from streaming")


def test_rowid_star_expansion_scoped_to_acid_from_clause():
    """A bare star whose OWN from clause does not reference the
    swapped relation (subquery / union branch over another table)
    must stay a star; stars over the swapped relation expand to that
    relation's data columns."""
    from incubator_impala_spark import acid

    eng = _PrepEng({"streaming": "streaming__acidrowid__"},
                   {"streaming": ["a", "b"]})
    out = acid.prepare(
        eng, "select row__id.rowid from streaming where a in "
             "(select * from other_rel)")
    assert "select * from other_rel" in out
    out = acid.prepare(
        eng, "select * from other_rel union all "
             "select row__id.rowid, * from streaming")
    assert "select * from other_rel" in out
    assert re.search(r"row__id\.rowid,\s*a, b\s+from", out)


def test_rowid_star_expansion_per_relation():
    """Two swapped ACID relations in one statement: each star expands
    with ITS relation's columns (not last-match-wins)."""
    from incubator_impala_spark import acid

    eng = _PrepEng({"t1": "t1__acidrowid__", "t2": "t2__acidrowid__"},
                   {"t1": ["x"], "t2": ["y", "z"]})
    out = acid.prepare(
        eng, "select *, row__id.rowid from t1 union all "
             "select *, row__id.rowid from t2 order by 1")
    assert re.search(r"x,\s*row__id\.rowid\s+from t1__", out)
    assert re.search(r"y, z,\s*row__id\.rowid\s+from t2__", out)


def test_rowid_star_expansion_is_select_list_only():
    """prepare()'s bare-star expansion must rewrite only select-list
    stars (Impala's * never expands the hidden row__id), and must not
    touch count(*) or a multiplication operator."""

    from incubator_impala_spark import acid

    eng = _PrepEng({"streaming": "streaming__acidrowid__"},
                   {"streaming": ["a", "b"]})
    out = acid.prepare(eng, "select row__id.*, * from streaming")
    assert "streaming__acidrowid__" in out
    assert re.search(r"row__id\.\*,\s*a, b\s+from", out)
    out = acid.prepare(
        eng, "select count(*), row__id.rowid * 2 from streaming")
    assert "count(*)" in out          # argument star untouched
    assert "rowid * 2" in out         # operator star untouched
