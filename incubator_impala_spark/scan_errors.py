"""ABORT_ON_ERROR / STRICT_MODE scan-error semantics.

Reference surface: the parquet/text scanner error contract
(be/src/exec/parquet/hdfs-parquet-scanner.cc, parquet-column-readers.cc,
be/src/exec/text-converter.inline.h) exercised by strict-mode-abort,
parquet-abort-on-error, parquet-continue-on-error,
parquet-corrupt-footer-len-{incr,decr}, parquet-corrupt-rle-counts[-
abort] and out-of-range-timestamp-{abort,continue}-on-error .test
files. At 100 TB corrupt files are a certainty; the contract is:
ABORT_ON_ERROR=1 fails the query with a message naming the file and
defect, ABORT_ON_ERROR=0 skips/NULLs the bad values and returns the
good rows.

Spark's parquet reader either throws its own (differently-worded)
error or silently trusts page headers, so checked tables register the
file set here and the engine validates at query time: every check is a
REAL inspection of the file bytes (footer length arithmetic, thrift
metadata parse, per-row-group declared-vs-decoded value counts via
pyarrow, and a from-scratch INT96 page decoder for timestamp range
validation — the same checks the reference scanner performs, with its
message shapes).
"""
from __future__ import annotations

import datetime as _dt
import os
import re
import struct

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException

from incubator_impala_spark import sqlscan
from incubator_impala_spark.session import rows_df


def _decode_err() -> tuple:
    """The typed failure surfaces of a corrupt-file probe: pyarrow
    decode errors (ArrowInvalid/ArrowIOError subclass ArrowException)
    and filesystem errors. pyarrow is imported when a probe fails, so
    importing the engine does not load it."""
    from pyarrow.lib import ArrowException

    return ArrowException, OSError

# ---------------------------------------------------------------------------
# thrift compact-protocol reader (just enough for parquet PageHeader)
# ---------------------------------------------------------------------------


def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _compact_struct(buf: bytes, pos: int) -> tuple[dict, int]:
    """Parse one thrift compact struct into {field_id: value}."""
    fields: dict = {}
    fid = 0
    while True:
        byte = buf[pos]
        pos += 1
        if byte == 0:
            return fields, pos
        delta = byte >> 4
        ftype = byte & 0x0F
        if delta:
            fid += delta
        else:
            z, pos = _uvarint(buf, pos)
            fid = _zigzag(z)
        if ftype == 1:
            fields[fid] = True
        elif ftype == 2:
            fields[fid] = False
        elif ftype in (3,):  # byte
            fields[fid] = buf[pos]
            pos += 1
        elif ftype in (4, 5, 6):  # i16/i32/i64 zigzag varint
            z, pos = _uvarint(buf, pos)
            fields[fid] = _zigzag(z)
        elif ftype == 8:  # binary
            ln, pos = _uvarint(buf, pos)
            fields[fid] = buf[pos:pos + ln]
            pos += ln
        elif ftype == 12:  # struct
            fields[fid], pos = _compact_struct(buf, pos)
        elif ftype == 9:  # list
            head = buf[pos]
            pos += 1
            size = head >> 4
            etype = head & 0x0F
            if size == 15:
                size, pos = _uvarint(buf, pos)
            elems = []
            for _ in range(size):
                if etype in (4, 5, 6):
                    z, pos = _uvarint(buf, pos)
                    elems.append(_zigzag(z))
                elif etype == 8:
                    ln, pos = _uvarint(buf, pos)
                    elems.append(buf[pos:pos + ln])
                    pos += ln
                elif etype == 12:
                    e, pos = _compact_struct(buf, pos)
                    elems.append(e)
                else:
                    raise ValueError(f"thrift list elem type {etype}")
            fields[fid] = elems
        else:
            raise ValueError(f"thrift compact type {ftype}")


# ---------------------------------------------------------------------------
# RLE / bit-packed hybrid decoder (parquet encodings)
# ---------------------------------------------------------------------------


def _rle_decode(buf: bytes, bit_width: int, count: int) -> list[int]:
    out: list[int] = []
    pos = 0
    byte_w = (bit_width + 7) // 8
    while len(out) < count and pos < len(buf):
        header, pos = _uvarint(buf, pos)
        if header & 1:  # bit-packed group of (header>>1)*8 values
            n = (header >> 1) * 8
            nbytes = n * bit_width // 8
            bits = int.from_bytes(buf[pos:pos + nbytes], "little")
            pos += nbytes
            mask = (1 << bit_width) - 1
            for i in range(n):
                out.append((bits >> (i * bit_width)) & mask)
        else:  # repeated run
            n = header >> 1
            v = int.from_bytes(buf[pos:pos + byte_w], "little") \
                if byte_w else 0
            pos += byte_w
            out.extend([v] * n)
    return out[:count]


# ---------------------------------------------------------------------------
# INT96 column decoder (dictionary-encoded v1 data pages)
# ---------------------------------------------------------------------------

_JD_EPOCH = 2440588  # julian day number of 1970-01-01


def decode_int96_column(path: str, col_idx: int = 0,
                        ) -> list[tuple[int, int] | None]:
    """All (nanos_of_day, julian_day) values of the file's INT96
    column at `col_idx`, None for NULL rows — decoded from the raw pages
    (PageHeader thrift, snappy, RLE def levels + dictionary indices),
    because every generic reader converts INT96 to an epoch unit and
    destroys the out-of-range evidence the validation needs."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    md = pq.ParquetFile(path).metadata
    data = open(path, "rb").read()
    out: list[tuple[int, int] | None] = []
    # ADVICE r8: loop every data page of every row group until each
    # row group's declared num_values are consumed — a single-page
    # read silently loses rows past page 1 (both in the registered
    # continue-mode view and in the ts_range validation)
    for rg in range(md.num_row_groups):
        cc = md.row_group(rg).column(col_idx)
        codec = cc.compression.lower()
        pos = cc.dictionary_page_offset
        if pos is None:
            pos = cc.data_page_offset

        def _page(pos, codec=codec):
            header, body_pos = _compact_struct(data, pos)
            csize = header[3]
            raw = data[body_pos:body_pos + csize]
            if codec != "uncompressed":
                raw = pa.Codec(codec).decompress(
                    raw, header[2]).to_pybytes()
            return header, raw, body_pos + csize

        dict_vals: list[tuple[int, int]] = []
        header, raw, pos = _page(pos)
        if header[1] == 2:  # DICTIONARY_PAGE
            for i in range(0, len(raw), 12):
                nanos = struct.unpack("<q", raw[i:i + 8])[0]
                jday = struct.unpack("<I", raw[i + 8:i + 12])[0]
                dict_vals.append((nanos, jday))
            header, raw, pos = _page(pos)
        remaining = cc.num_values
        while remaining > 0:
            assert header[1] == 0, \
                f"expected DATA_PAGE, got {header[1]}"
            n = header[5][1]  # num_values incl. NULLs, this page
            # v1 page, max_def=1: def levels = 4-byte-length-prefixed
            # RLE
            dl_len = struct.unpack("<I", raw[:4])[0]
            defs = _rle_decode(raw[4:4 + dl_len], 1, n)
            body = raw[4 + dl_len:]
            present = sum(defs)
            if dict_vals:
                bit_width = body[0]
                idxs = _rle_decode(body[1:], bit_width, present)
                vals = [dict_vals[i] for i in idxs]
            else:  # plain
                vals = [(struct.unpack("<q", body[i:i + 8])[0],
                         struct.unpack("<I", body[i + 8:i + 12])[0])
                        for i in range(0, 12 * present, 12)]
            it = iter(vals)
            for d in defs:
                out.append(next(it) if d else None)
            remaining -= n
            if remaining > 0:
                header, raw, pos = _page(pos)
    return out


_TS_MIN = _dt.date(1400, 1, 1)
_TS_MAX = _dt.date(9999, 12, 31)
_DAY_NANOS = 24 * 3600 * 10 ** 9


def int96_to_datetime(nanos: int, jday: int):
    d = _dt.date.fromordinal(
        _dt.date(1970, 1, 1).toordinal() + (jday - _JD_EPOCH))
    return _dt.datetime(d.year, d.month, d.day) + \
        _dt.timedelta(microseconds=nanos // 1000)


# ---------------------------------------------------------------------------
# validations (each returns None or the reference-shaped message)
# ---------------------------------------------------------------------------


def check_footer(path: str, display: str) -> str | None:
    """Footer length arithmetic + metadata thrift parse
    (reference hdfs-parquet-scanner.cc ValidateFileMetadata)."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(size - 8)
        tail = f.read(8)
    flen = struct.unpack("<I", tail[:4])[0]
    if flen + 12 > size:
        return (f"File '{display}' is invalid. Invalid metadata size "
                f"in file footer: {flen} bytes. File size: "
                f"{size} bytes.")
    import pyarrow.parquet as pq

    try:
        pq.ParquetFile(path).metadata
    except _decode_err() as exc:
        return (f"File '{display}' of length {size} bytes has invalid "
                f"file metadata at file offset {size - 8 - flen}, "
                f"Error = couldn't deserialize thrift msg: {exc}")
    return None


def check_codec(path: str, display: str) -> str | None:
    """Unsupported ColumnMetaData.codec (reference
    parquet-metadata-utils.cc:283-291: only UNCOMPRESSED/SNAPPY/GZIP/
    ZSTD/LZ4 scan). pyarrow's metadata veneer masks unknown enum
    values, so the footer FileMetaData thrift is parsed raw."""
    data = open(path, "rb").read()
    flen = struct.unpack("<I", data[-8:-4])[0]
    md, _ = _compact_struct(data[len(data) - 8 - flen:len(data) - 8],
                            0)
    supported = {0, 1, 2, 5, 6}  # UNCOMPRESSED SNAPPY GZIP LZ4 ZSTD
    for rg in md.get(4, []):          # FileMetaData.row_groups
        for cc in rg.get(1, []):      # RowGroup.columns
            cmd = cc.get(3, {})       # ColumnChunk.meta_data
            codec = cmd.get(4, 0)     # ColumnMetaData.codec
            if codec not in supported:
                col = ".".join(
                    x.decode() for x in cmd.get(3, []))  # path
                return (f"File '{display}' uses an unsupported "
                        f"compression: {codec} for column '{col}'.")
    return None


def check_def_levels(path: str, display: str) -> str | None:
    """Declared-vs-decodable definition levels per data page
    (reference parquet-column-readers.cc ReadDefLevel: 'Could not
    read definition level, even though metadata states there are N
    values remaining in data page.'). Decodes the def-level RLE run
    and compares against the page header's num_values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    for rg in range(md.num_row_groups):
        cc = md.row_group(rg).column(0)
        codec = cc.compression.lower()
        data = open(path, "rb").read()
        pos = cc.dictionary_page_offset
        if pos is None:
            pos = cc.data_page_offset
        remaining = cc.num_values
        while remaining > 0:
            header, body_pos = _compact_struct(data, int(pos))
            raw = data[body_pos:body_pos + header[3]]
            if codec != "uncompressed":
                raw = pa.Codec(codec).decompress(
                    raw, header[2]).to_pybytes()
            pos = body_pos + header[3]
            if header[1] == 2:      # dictionary page
                continue
            n = header[5][1]        # declared num_values
            dl_len = struct.unpack("<I", raw[:4])[0]
            defs = _rle_decode(raw[4:4 + dl_len], 1, n)
            if len(defs) < n:
                # PARQUET_DEF_LEVEL_ERROR (generate_error_codes.py:43)
                return (f"Could not read definition level, even "
                        f"though metadata states there are "
                        f"{n - len(defs)} values remaining in data "
                        f"page. file={display}")
            remaining -= n
    return None


def check_dict_page(path: str, display: str) -> str | None:
    """Dictionary-page decompressability (reference
    parquet-column-readers.cc InitDictionary via Codec: a zero/short
    compressed_page_size fails 'Snappy: GetUncompressedLength
    failed')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    cc = md.row_group(0).column(0)
    if cc.dictionary_page_offset is None:
        return None
    codec = cc.compression.lower()
    data = open(path, "rb").read()
    header, body_pos = _compact_struct(
        data, int(cc.dictionary_page_offset))
    raw = data[body_pos:body_pos + header[3]]
    if codec == "uncompressed":
        return None
    try:
        pa.Codec(codec).decompress(raw, header[2])
    except Exception:  # noqa: BLE001 — the defect under test
        # SNAPPY_DECOMPRESS_UNCOMPRESSED_LENGTH_FAILED
        # (generate_error_codes.py:23)
        label = {"snappy": "Snappy"}.get(codec, codec)
        return label + ": GetUncompressedLength failed"
    return None


def check_magic(path: str, display: str, table: str) -> str | None:
    """Footer magic-number validation (reference
    parquet-metadata-utils.cc ValidateFileVersion via
    generate_error_codes.py:195 PARQUET_BAD_VERSION_NUMBER): the last
    4 bytes of the file must read PAR1; anything else is a fatal
    metadata error regardless of ABORT_ON_ERROR (the file cannot be
    processed at all — IMPALA-7662's race fix pins that the error
    propagates even when a valid file completes first)."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(max(0, size - 4))
        magic = f.read(4)
    if magic != b"PAR1":
        return (f"File '{display}' has an invalid Parquet version "
                f"number: {magic.decode('ascii', 'replace')}.\n"
                "Please check that it is a valid Parquet file. This "
                "error can also occur due to stale metadata. If you "
                "believe this is a valid Parquet file, try running "
                f'"refresh {table}".')
    return None


def check_column_counts(path: str, display: str,
                        cols: set[str] | None) -> str | None:
    """Per-row-group declared num_values vs actually-decoded counts
    (reference parquet-column-readers.cc metadata validation). `cols`
    limits the check to queried columns (the scanner only materializes
    those)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    for rg in range(md.num_row_groups):
        tbl = pf.read_row_group(rg)
        for c in range(md.row_group(rg).num_columns):
            cm = md.row_group(rg).column(c)
            leaf = cm.path_in_schema.split(".")[-1]
            top = cm.path_in_schema.split(".")[0]
            if cols is not None and top.lower() not in cols:
                continue
            col = tbl[top]
            arr = col.combine_chunks()
            while pa.types.is_list(arr.type) or \
                    pa.types.is_large_list(arr.type):
                arr = arr.flatten()
            actual = len(arr)
            if actual != cm.num_values:
                return (f"Column metadata states there are "
                        f"{cm.num_values} values, but read {actual} "
                        f"values from column {leaf}.")
    return None


def check_decodable(path: str, display: str) -> str | None:
    """Whole-file decode probe; an undecodable page is the reference's
    'is corrupt: error decoding' class."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    cm = pf.metadata.row_group(0).column(0)
    try:
        pf.read()
        return None
    except _decode_err():
        kind = "dictionary-encoded value" \
            if cm.dictionary_page_offset is not None else "value"
        return (f"File '{display}' is corrupt: error decoding {kind} "
                f"of type {_impala_phys(cm.physical_type)} at offset "
                f"{cm.data_page_offset}")


def _impala_phys(t: str) -> str:
    return {"INT64": "BIGINT", "INT32": "INT", "BYTE_ARRAY": "STRING",
            "FLOAT": "FLOAT", "DOUBLE": "DOUBLE"}.get(t, t)


def check_int96_range(path: str, display: str, col: str,
                      col_idx: int = 0) -> str | None:
    for v in decode_int96_column(path, col_idx):
        if v is None:
            continue
        nanos, jday = v
        if not 0 <= nanos < _DAY_NANOS:
            return (f"Parquet file '{display}' column '{col}' contains "
                    f"a timestamp with invalid time of day. The time "
                    f"of day should be 0 <= and < 24 hour "
                    f"(in nanoseconds)")
        d_ord = _dt.date(1970, 1, 1).toordinal() + (jday - _JD_EPOCH)
        if not (_TS_MIN.toordinal() <= d_ord <= _TS_MAX.toordinal()):
            return (f"Parquet file '{display}' column '{col}' contains "
                    f"an out of range timestamp. The valid date range "
                    f"is 1400-01-01..9999-12-31.")
    return None


def check_text_convert(path: str, types: list[str],
                       cols: set[str] | None,
                       names: list[str]) -> str | None:
    """STRICT_MODE text conversion (reference
    be/src/exec/text-converter.inline.h strict-mode errno path):
    first queried column whose text value does not fit the declared
    type → 'Error converting column: <idx> to <TYPE>'."""
    from decimal import Decimal, InvalidOperation

    def fits(v: str, ty: str) -> bool:
        ty = ty.upper()
        try:
            if ty in ("TINYINT", "SMALLINT", "INT", "BIGINT"):
                bits = {"TINYINT": 8, "SMALLINT": 16,
                        "INT": 32, "BIGINT": 64}[ty]
                n = int(v)
                return -(2 ** (bits - 1)) <= n <= 2 ** (bits - 1) - 1
            if ty in ("FLOAT", "DOUBLE"):
                import math

                f = float(v)
                if math.isinf(f) or math.isnan(f):
                    return v.strip().lower() in (
                        "inf", "-inf", "infinity", "-infinity", "nan")
                if ty == "FLOAT":
                    return abs(f) <= 3.4028235e38
                return True
            m = re.match(r"DECIMAL\((\d+),(\d+)\)", ty)
            if m:
                p, s = int(m.group(1)), int(m.group(2))
                d = Decimal(v)
                t = d.as_tuple()
                frac = max(-t.exponent, 0)
                return frac <= s and len(t.digits) - frac <= p - s
            return True
        except (ValueError, InvalidOperation):
            return False

    for ln in open(path, encoding="utf-8").read().splitlines():
        f = ln.split(",")
        for i, (ty, nm) in enumerate(zip(types, names)):
            if cols is not None and nm.lower() not in cols:
                continue
            if i < len(f) and not fits(f[i], ty):
                disp = re.sub(r"\(.*", "", ty.upper()) \
                    if ty.upper().startswith("DECIMAL") else ty.upper()
                return f"Error converting column: {i} to {disp}"
    return None


# ---------------------------------------------------------------------------
# registration + engine hook
# ---------------------------------------------------------------------------


def register_parquet_check(engine, name: str, paths: list[str],
                           display_dir: str, check: str,
                           schema: str, ts_col: str | None = None):
    """Register `name` as a checked parquet table.

    `check`: footer | counts | decode | ts_range. The view presents
    the continue-mode face (readable files' rows; unreadable files
    skipped; out-of-range timestamps NULLed); ABORT_ON_ERROR=1 raises
    at query time from the engine hook."""
    spark = engine.spark
    engine.scan_checks[name.lower()] = {
        "kind": "parquet", "paths": paths, "check": check,
        "display_dir": display_dir, "ts_col": ts_col,
    }
    if check == "ts_range":
        rows = []
        for p in paths:
            for v in decode_int96_column(p):
                if v is None:
                    rows.append((None,))
                    continue
                nanos, jday = v
                ok_time = 0 <= nanos < _DAY_NANOS
                d_ord = _dt.date(1970, 1, 1).toordinal() \
                    + (jday - _JD_EPOCH)
                ok_date = _TS_MIN.toordinal() <= d_ord \
                    <= _TS_MAX.toordinal()
                rows.append((int96_to_datetime(nanos, jday)
                             if ok_time and ok_date else None,))
        rows_df(spark, rows, schema) \
            .createOrReplaceTempView(name)
        return
    dfs = []
    for p in paths:
        try:
            import pyarrow.parquet as pq

            t = pq.read_table(p)  # page-level decode (not footer-trusting)
            # Spark's own reader refuses files whose metadata lies
            # (e.g. bad num_values) even when the pages decode — the
            # continue contract returns the decodable rows, so the
            # view materializes from the page-decoded data
            dfs.append(spark.createDataFrame(t.to_pandas(), schema))
        except (*_decode_err(), ValueError, TypeError,
                PySparkException, Py4JJavaError):
            pass  # continue-mode file skip
    if dfs:
        df = dfs[0]
        for d in dfs[1:]:
            df = df.unionByName(d)
    else:
        df = rows_df(spark, [], schema)
    df.createOrReplaceTempView(name)


_DATE_MIN_DAYS = -719162   # 0001-01-01 as proleptic days from epoch
_DATE_MAX_DAYS = 2932896   # 9999-12-31


def register_orc_date_check(engine, name: str, paths: list[str],
                            display_dir: str, col: str = "d"):
    """Register `name` as a checked ORC DATE table with the
    reference's scanner semantics (hdfs-orc-scanner.cc date handling):
    raw day values read PROLEPTICALLY with no Julian rebase (Impala
    reads Hive-2-written pre-Gregorian dates 'incorrectly' —
    hive2-pre-gregorian-date-orc.test pins that), and values outside
    0001-01-01..9999-12-31 are NULL in continue mode / the
    out-of-range error under ABORT_ON_ERROR
    (out-of-range-date-orc.test). pyarrow's ORC reader supplies the
    raw proleptic day numbers (Spark's own reader rebases by writer
    version, masking both behaviors)."""
    import pyarrow.orc as po

    rows, msg = [], None
    for p in paths:
        t = po.ORCFile(p).read()
        for v in t.column(0).cast("int32").to_pylist():
            if v is None:
                rows.append((None,))
            elif _DATE_MIN_DAYS <= v <= _DATE_MAX_DAYS:
                rows.append((_dt.date.fromordinal(v + 719163),))
            else:
                rows.append((None,))
                if msg is None:
                    display = (f"{display_dir}/"
                               f"{os.path.basename(p)}")
                    msg = (f"ORC file '{display}' column '1' contains "
                           f"an out of range date. The valid date "
                           f"range is 0001-01-01..9999-12-31.")
    engine.scan_checks[name.lower()] = {
        "kind": "parquet", "paths": paths, "check": "orc_date",
        "display_dir": display_dir, "ts_col": None, "msg": msg,
    }
    rows_df(engine.spark, rows, f"{col} date") \
        .createOrReplaceTempView(name)


def register_hive211_tz_check(engine, name: str, path: str,
                              display_dir: str):
    """Register `name` as an (id, timestamp_col) view over a
    Hive-written INT96 parquet file under
    convert_legacy_hive_parquet_utc_timestamps=true semantics
    (reference hdfs-parquet-scanner timestamp conversion +
    timestamp-value.h range validation): legacy Hive wrote wall-clock
    UTC, so valid values convert UTC -> the session TIMEZONE; values
    outside 1400-01-01..9999-12-31 read NULL in continue mode and
    raise under ABORT_ON_ERROR. The view face follows SET TIMEZONE
    (engine.set_option re-invokes the builder)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    col_idx = next(
        i for i in range(pf.metadata.num_columns)
        if pf.metadata.row_group(0).column(i).physical_type == "INT96")
    ids = pq.read_table(path, columns=["id"]).column(0).to_pylist()
    raw = decode_int96_column(path, col_idx)

    def _build(tz_name: str):
        from zoneinfo import ZoneInfo

        tz = ZoneInfo(tz_name or "UTC")
        utc = ZoneInfo("UTC")
        rows = []
        for rid, v in zip(ids, raw):
            if v is None:
                rows.append((rid, None))
                continue
            nanos, jday = v
            ok_time = 0 <= nanos < _DAY_NANOS
            d_ord = _dt.date(1970, 1, 1).toordinal() \
                + (jday - _JD_EPOCH)
            ok_date = _TS_MIN.toordinal() <= d_ord \
                <= _TS_MAX.toordinal()
            if not (ok_time and ok_date):
                rows.append((rid, None))
                continue
            ts = int96_to_datetime(nanos, jday)
            rows.append((rid, ts.replace(tzinfo=utc).astimezone(tz)
                         .replace(tzinfo=None)))
        rows_df(engine.spark, rows, "id int, timestamp_col timestamp") \
            .createOrReplaceTempView(name)

    engine.tz_check_views[name] = _build
    _build(engine.tz)
    engine.scan_checks[name.lower()] = {
        "kind": "parquet", "paths": [path], "check": "ts_range",
        "display_dir": display_dir, "ts_col": "timestamp_col",
        "col_idx": col_idx,
    }


def register_magic_dir_check(engine, name: str, dir_path: str,
                             display_dir: str):
    """Register `name` as a directory-backed checked parquet table:
    every data file in the table directory must carry the PAR1 footer
    magic. Unlike the path-list checks, this one re-walks the
    directory per query (the error-propagation-race test INSERTs a
    valid file next to the corrupt one — the scan must still fail),
    and it fires regardless of ABORT_ON_ERROR (metadata errors are
    not maskable in the reference, hdfs-parquet-scanner.cc
    ProcessFooter)."""
    engine.scan_checks[name.lower()] = {
        "kind": "magic_dir", "dir": dir_path,
        "display_dir": display_dir, "always": True,
    }


def register_partition_plugin_check(engine, name: str,
                                    bad_parts: list[tuple[dict, str]]):
    """Register `name` as a partitioned text table some of whose
    partitions hold files with an unsupported compression-plugin
    suffix (reference hdfs-plugin-text-scanner.cc:108
    CheckPluginEnabled: LZ4/LZO text scanning is plugin-gated and no
    plugins are enabled in the default build). The error fires at
    planning time for any query whose partition pruning does NOT
    exclude the bad partition — pruned scans succeed, which is the
    contract unsupported-compression-partitions.test pins.

    `bad_parts`: [(partition-key values, plugin name)], e.g.
    [({"year": 2009, "month": 3}, "LZ4")]."""
    engine.scan_checks[name.lower()] = {
        "kind": "plugin_text", "bad_parts": bad_parts, "always": True,
    }


# a WHERE clause runs to the next depth-0 terminator
_WHERE_END = re.compile(
    r"\)|;|\b(?:group\s+by|order\s+by|limit|having|union|intersect|"
    r"except)\b", re.IGNORECASE)


def _top_level_wheres(sql_text: str) -> list[str]:
    """Extract every paren-depth-0 WHERE clause from `sql_text`
    (one per UNION branch), sliced from the ORIGINAL text using the
    literal/comment-blind shadow for keyword positions — a literal
    containing 'where' or a subquery WHERE can't mis-scope the probe
    (ADVICE r9)."""
    top = sqlscan.top_level(sql_text)
    out = []
    for m in re.finditer(r"\bwhere\b", top, re.IGNORECASE):
        em = _WHERE_END.search(top, m.end())
        out.append(sql_text[m.end():em.start() if em else len(sql_text)])
    return out


def _partition_survives(spark, values: dict, where: str | None) -> bool:
    """Would partition pruning keep this partition under `where`?
    Evaluated the way a planner does: the predicate applied to the
    partition-key tuple (non-key references fail analysis and keep
    the partition — the scanner would have to read it to decide).
    Alias qualifiers on partition-key columns (`m.month = 1`) are
    stripped first so an aliased scan still prunes (ADVICE r9)."""
    if not where or not where.strip():
        return True
    for k in values:
        where = re.sub(rf"(?i)\b\w+\s*\.\s*(?={re.escape(k)}\b)", "",
                       where)
    df = rows_df(
        spark, [tuple(values.values())],
        ", ".join(f"{k} int" if isinstance(v, int) else f"{k} string"
                  for k, v in values.items()))
    try:
        return df.where(where).count() > 0
    except (PySparkException, Py4JJavaError):
        return True  # predicate needs non-key cols: cannot prune


def register_text_check(engine, name: str, path: str,
                        col_types: list[str], col_names: list[str]):
    engine.scan_checks[name.lower()] = {
        "kind": "text", "path": path,
        "types": col_types, "names": col_names,
    }


def check_query(engine, sql_text: str, sink_end: int, reads: bool) -> None:
    """Engine hook: raise the reference-shaped scan error when an
    abort-mode statement references a checked table. `sql_text[:
    sink_end]` is an INSERT's head and target, a sink rather than a
    scan; `reads` says the statement is a query or an INSERT, whose
    scans pruning can narrow."""
    checks = engine.scan_checks
    if not checks:
        return
    abort = engine.abort_on_error
    if not abort and not any(c.get("always") for c in checks.values()):
        return
    # match on the neutralized shadow (string literals and comments
    # blanked) so a checked-table name inside a literal or comment
    # doesn't spuriously trigger the abort validation (ADVICE r8);
    # an INSERT's target is stripped so INSERT INTO <checked>
    # SELECT ... doesn't trigger the validation
    low = sqlscan.shadow(sql_text).lower()
    if sink_end:
        low = " " + low[sink_end:]
    for name, info in checks.items():
        if not (abort or info.get("always")):
            continue
        if not re.search(rf"\b{re.escape(name)}\b", low):
            continue
        if info["kind"] == "magic_dir":
            for fn in sorted(os.listdir(info["dir"])):
                if fn.startswith((".", "_")) or fn.endswith(".crc"):
                    continue
                msg = check_magic(os.path.join(info["dir"], fn),
                                  f"{info['display_dir']}/{fn}", name)
                if msg:
                    raise ScanError(msg)
            continue
        if info["kind"] in ("plugin_text", "format_partition"):
            # a disabled scanner plugin, or a mixed-format partition
            # with an unresolvable schema (mixedformat._avro_reconcile,
            # checked only when the statement scans: DDL like
            # DROP/ALTER names the table without reading it): an error
            # iff pruning keeps the partition
            if info["kind"] == "format_partition" and not reads:
                continue
            wheres = _top_level_wheres(sql_text) or [None]
            for values, what in info["bad_parts"]:
                if any(_partition_survives(engine.spark, values, w)
                       for w in wheres):
                    raise ScanError(
                        what if info["kind"] == "format_partition" else
                        f"Scanner plugin '{what}' is not one of "
                        f"the enabled plugins: ''")
            continue
        if info["kind"] == "text":
            if not engine.strict_mode:
                continue
            cols = {c for c in info["names"]
                    if re.search(rf"\b{c.lower()}\b", low)} or None
            msg = check_text_convert(info["path"], info["types"],
                                     cols, info["names"])
        else:
            msg = None
            for p in info["paths"]:
                display = f"{info['display_dir']}/{os.path.basename(p)}"
                if info["check"] in _FILE_CHECKS:
                    msg = _FILE_CHECKS[info["check"]](p, display)
                elif info["check"] == "orc_date":
                    msg = info.get("msg")
                elif info["check"] == "ts_range":
                    msg = check_int96_range(p, display,
                                            info["ts_col"],
                                            info.get("col_idx", 0))
                elif info["check"] == "counts":
                    import pyarrow.parquet as pq

                    rg = pq.ParquetFile(p).metadata.row_group(0)
                    tops = {rg.column(i).path_in_schema.split(".")[0]
                            .lower() for i in range(rg.num_columns)}
                    cols = {t for t in tops
                            if re.search(rf"\b{t}\b", low)} or None
                    msg = check_column_counts(p, display, cols)
                if msg:
                    break
        if msg:
            raise ScanError(msg)


# the per-file checks that need only the file and its display path
_FILE_CHECKS = {"footer": check_footer, "codec": check_codec,
                "def_levels": check_def_levels, "dict_page": check_dict_page,
                "decode": check_decodable}


class ScanError(Exception):
    """A reference-shaped scan abort (ABORT_ON_ERROR=1)."""
