"""Avro object-container reader/writer, pure Python + stdlib.

The reference scans Avro natively with schema *resolution* — reader
schema vs per-file writer schema, field matching by name/alias,
defaults for missing fields, numeric promotions
(`be/src/exec/hdfs-avro-scanner.cc`, 1,149 LoC; resolution rules
`hdfs-avro-scanner.h:60-90`). Spark's external `spark-avro` module is
not bundled in this environment, so this module implements the public
Avro 1.x object-container spec (https://avro.apache.org/docs/current/
specification/) directly: varint/zigzag binary encoding, `null` and
`deflate` codecs (stdlib zlib), and the reader-schema resolution the
reference implements.

Spark integration is `read_avro()`: the driver plans (file, start,
end) byte-range splits (header-only read per file), and each range
decodes in an executor task via Arrow-batched `mapInPandas` — bytes
never collect to the driver. Like the reference's scan-range splits,
one large container file is split on sync markers (`_decode_range`
seeks the next marker), so a single multi-GB file fans out across
tasks instead of serializing on one.

`write_avro()` is likewise distributed: each partition encodes and
writes its own container file (no driver collect). The engine's
preferred sink path is still columnar (parquet); Avro write exists for
format parity and interchange.
"""

from __future__ import annotations

import io
import json
import struct
import zlib

MAGIC = b"Obj\x01"
SYNC = bytes(range(16))  # deterministic sync marker for the writer


# ---------------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------------


def _read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # zigzag


def _write_long(out: bytearray, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n >= 0 else ((-n - 1) << 1 | 1)
    while True:
        if n & ~0x7F:
            out.append((n & 0x7F) | 0x80)
            n >>= 7
        else:
            out.append(n)
            return


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _write_bytes(out: bytearray, b: bytes) -> None:
    _write_long(out, len(b))
    out.extend(b)


# ---------------------------------------------------------------------------
# schema helpers
# ---------------------------------------------------------------------------


def _norm(schema):
    """Normalize a schema node: 'int' and {'type': 'int'} both → 'int'
    for primitives; dict for complex types."""
    if isinstance(schema, dict) and isinstance(schema.get("type"), str) and (
        schema["type"] not in ("record", "enum", "array", "map", "fixed")
    ) and "logicalType" not in schema:
        return schema["type"]
    return schema


def _type_name(schema) -> str:
    schema = _norm(schema)
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


# ---------------------------------------------------------------------------
# datum decode (writer schema only)
# ---------------------------------------------------------------------------


def _decode(schema, buf: io.BytesIO):
    schema = _norm(schema)
    if isinstance(schema, list):  # union: varint branch index
        return _decode(schema[_read_long(buf)], buf)
    t = _type_name(schema)
    if t == "null":
        return None
    if t == "boolean":
        return buf.read(1) == b"\x01"
    if t in ("int", "long"):
        v = _read_long(buf)
        lt = schema.get("logicalType") if isinstance(schema, dict) else None
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            import datetime as _dt

            return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
        if lt in ("timestamp-millis", "local-timestamp-millis"):
            import datetime as _dt

            return _dt.datetime(1970, 1, 1) + _dt.timedelta(milliseconds=v)
        if lt == "date":
            import datetime as _dt

            return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
        return v
    if t == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if t == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if t == "bytes":
        raw = _read_bytes(buf)
        if isinstance(schema, dict) and \
                schema.get("logicalType") == "decimal":
            # avro spec: big-endian two's-complement unscaled int
            import decimal as _dec

            unscaled = int.from_bytes(raw, "big", signed=True)
            return _dec.Decimal(unscaled).scaleb(
                -int(schema.get("scale", 0)))
        return raw
    if t == "string":
        return _read_bytes(buf).decode("utf-8")
    if t == "record":
        return {f["name"]: _decode(f["type"], buf) for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "fixed":
        raw = buf.read(schema["size"])
        if schema.get("logicalType") == "decimal":
            import decimal as _dec

            unscaled = int.from_bytes(raw, "big", signed=True)
            return _dec.Decimal(unscaled).scaleb(
                -int(schema.get("scale", 0)))
        return raw
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte size prefix
                n = -n
                _read_long(buf)
            for _ in range(n):
                out.append(_decode(schema["items"], buf))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                k = _read_bytes(buf).decode("utf-8")
                out[k] = _decode(schema["values"], buf)
    raise ValueError(f"unsupported avro type {t!r}")


# ---------------------------------------------------------------------------
# datum encode
# ---------------------------------------------------------------------------


def _branch_matches(branch, val, strict: bool) -> bool:
    """Does a Python value fit a union branch? Two passes: `strict`
    wants the natural type; the loose pass allows the spec's encodable
    coercions (int→double, str→bytes, ...)."""
    import numbers

    t = _type_name(_norm(branch))
    if val is None:
        return t == "null"
    if isinstance(val, bool):
        return t == "boolean"
    if isinstance(val, numbers.Integral):  # covers numpy ints
        return t in (("int", "long") if strict
                     else ("int", "long", "float", "double"))
    if isinstance(val, numbers.Real):
        return t in (("float", "double") if strict else ("float", "double"))
    if isinstance(val, str):
        return t in (("string", "enum") if strict
                     else ("string", "enum", "bytes"))
    if isinstance(val, (bytes, bytearray)):
        return t in (("bytes", "fixed") if strict
                     else ("bytes", "fixed", "string"))
    if isinstance(val, dict):
        return t in ("record", "map")
    if isinstance(val, (list, tuple)):
        return t == "array"
    return False


def _encode(schema, val, out: bytearray) -> None:
    schema = _norm(schema)
    if isinstance(schema, list):
        # pick the branch whose type matches the value (ADVICE r2: the
        # old first-non-null rule forced e.g. a str through a "long"
        # branch in ["null","long","string"] unions)
        for strict in (True, False):
            for i, branch in enumerate(schema):
                if _branch_matches(branch, val, strict):
                    _write_long(out, i)
                    _encode(branch, val, out)
                    return
        raise ValueError(f"no union branch for {val!r}")
    t = _type_name(schema)
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if val else 0)
    elif t in ("int", "long"):
        _write_long(out, int(val))
    elif t == "float":
        out.extend(struct.pack("<f", float(val)))
    elif t == "double":
        out.extend(struct.pack("<d", float(val)))
    elif t == "bytes":
        _write_bytes(out, bytes(val))
    elif t == "string":
        _write_bytes(out, str(val).encode("utf-8"))
    elif t == "record":
        for f in schema["fields"]:
            _encode(f["type"], val[f["name"]], out)
    elif t == "enum":
        _write_long(out, schema["symbols"].index(val))
    elif t == "fixed":
        out.extend(bytes(val))
    elif t == "array":
        if val:
            _write_long(out, len(val))
            for v in val:
                _encode(schema["items"], v, out)
        _write_long(out, 0)
    elif t == "map":
        if val:
            _write_long(out, len(val))
            for k, v in val.items():
                _write_bytes(out, str(k).encode("utf-8"))
                _encode(schema["values"], v, out)
        _write_long(out, 0)
    else:
        raise ValueError(f"unsupported avro type {t!r}")


# ---------------------------------------------------------------------------
# schema resolution (reader vs writer) — hdfs-avro-scanner.h:60-90
# ---------------------------------------------------------------------------

_PROMOTIONS = {
    "int": {"int", "long", "float", "double"},
    "long": {"long", "float", "double"},
    "float": {"float", "double"},
    "double": {"double"},
    "string": {"string", "bytes"},
    "bytes": {"bytes", "string"},
}


def _names(field: dict) -> set[str]:
    return {field["name"], *field.get("aliases", [])}


def _unwrap_nullable(schema):
    """["null", X] (either order) → X; anything else unchanged."""
    schema = _norm(schema)
    if isinstance(schema, list):
        non_null = [s for s in schema if _type_name(s) != "null"]
        if len(non_null) == 1:
            return _norm(non_null[0])
    return schema


def _coerce_default(rtype, default):
    """A reader-side default is the RAW avro value (spec §default);
    logical types still apply (a date default of 1 is day 1 =
    1970-01-02 — avro-schema-resolution.test)."""
    rt = _unwrap_nullable(rtype)
    lt = rt.get("logicalType") if isinstance(rt, dict) else None
    if lt is None or default is None:
        return default
    import datetime as _dt

    if lt == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=default)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=default)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            milliseconds=default)
    return default


def resolve(writer_record: dict, reader_record: dict, rec: dict) -> dict:
    """Resolve one decoded writer record against the reader schema:
    match by name or reader-side alias, apply defaults for fields the
    writer lacks, drop writer-only fields, promote numerics and
    string<->bytes (hdfs-avro-scanner.h:60-90). Nullable unions are
    unwrapped on both sides before the promotion check (ADVICE r2)."""
    out = {}
    writer_fields = {f["name"]: f for f in writer_record["fields"]}
    for rf in reader_record["fields"]:
        src = None
        for cand in _names(rf):
            if cand in writer_fields:
                src = writer_fields[cand]
                break
        if src is None:
            if "default" in rf:
                out[rf["name"]] = _coerce_default(rf["type"],
                                                  rf["default"])
            else:
                out[rf["name"]] = None
            continue
        v = rec[src["name"]]
        wt = _type_name(_unwrap_nullable(src["type"]))
        rt = _type_name(_unwrap_nullable(rf["type"]))
        if isinstance(v, int) and not isinstance(v, bool):
            # writer stored a plain int where the reader declares a
            # logical date/timestamp (file_schema2's "type promotion"
            # fields) — the logical annotation resolves like a type
            coerced = _coerce_default(rf["type"], v)
            if coerced is not v:
                out[rf["name"]] = coerced
                continue
        if v is not None and wt != rt and rt in _PROMOTIONS.get(wt, ()):
            if rt in ("float", "double") and wt in ("int", "long"):
                v = float(v)
            elif wt == "float" and rt == "double":
                v = float(v)
            elif wt == "string" and rt == "bytes":
                v = v.encode("utf-8")
            elif wt == "bytes" and rt == "string":
                v = v.decode("utf-8")
        out[rf["name"]] = v
    return out


# ---------------------------------------------------------------------------
# container files
# ---------------------------------------------------------------------------


def read_header(fh) -> tuple[dict, str, bytes]:
    """Parse ONLY the container header from a readable byte stream:
    magic + metadata map + sync marker → (writer_schema, codec, sync).

    Stops before the first data block, so schema discovery on a large
    file reads a few KB, never the records (ADVICE r2: the old path
    decoded the whole first file on the driver). Works on a plain file
    handle — the varint readers only need `.read`."""
    if fh.read(4) != MAGIC:
        raise ValueError("not an Avro object container (bad magic)")
    meta = _decode({"type": "map", "values": "bytes"}, fh)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = fh.read(16)
    return schema, codec, sync


def read_container(data: bytes) -> tuple[dict, list[dict]]:
    """Decode one object-container file → (writer_schema, records)."""
    buf = io.BytesIO(data)
    schema, codec, sync = read_header(buf)
    records: list[dict] = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        n_records = _read_long(buf)
        n_bytes = _read_long(buf)
        block = buf.read(n_bytes)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec == "snappy":
            block = _snappy_decompress(block)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        bbuf = io.BytesIO(block)
        for _ in range(n_records):
            records.append(_decode(schema, bbuf))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch")
    return schema, records


def write_container(schema: dict, records: list[dict],
                    codec: str = "null",
                    max_block_records: int | None = None) -> bytes:
    """Encode records into one object-container byte string.
    `max_block_records` caps records per data block (default: one
    block) — multi-block files are what intra-file splitting needs."""
    out = bytearray()
    out.extend(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _encode({"type": "map", "values": "bytes"}, meta, out)
    out.extend(SYNC)
    step = max_block_records or len(records) or 1
    for lo in range(0, len(records), step):
        chunk = records[lo : lo + step]
        block = bytearray()
        for r in chunk:
            _encode(schema, r, block)
        payload = bytes(block)
        if codec == "deflate":
            co = zlib.compressobj(level=6, wbits=-15)
            payload = co.compress(payload) + co.flush()
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        _write_long(out, len(chunk))
        _write_long(out, len(payload))
        out.extend(payload)
        out.extend(SYNC)
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark bridge
# ---------------------------------------------------------------------------

_AVRO_TO_SPARK = {
    "null": "string",
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "bytes": "binary",
    "string": "string",
}


_LOGICAL_TO_SPARK = {
    # Avro spec logical types (the reference's scanner resolves the
    # same annotations, hdfs-avro-scanner.cc / avro spec §Logical Types)
    "timestamp-micros": "timestamp",
    "timestamp-millis": "timestamp",
    "local-timestamp-micros": "timestamp_ntz",
    "local-timestamp-millis": "timestamp_ntz",
    "date": "date",
}


def avro_field_spark_type(schema) -> str:
    schema = _norm(schema)
    if isinstance(schema, list):
        non_null = [s for s in schema if _type_name(s) != "null"]
        return avro_field_spark_type(non_null[0]) if non_null else "string"
    if isinstance(schema, dict) and \
            schema.get("logicalType") == "decimal":
        return (f"decimal({schema.get('precision', 38)},"
                f"{schema.get('scale', 0)})")
    if isinstance(schema, dict) and schema.get("logicalType") in _LOGICAL_TO_SPARK:
        return _LOGICAL_TO_SPARK[schema["logicalType"]]
    t = _type_name(schema)
    if t in _AVRO_TO_SPARK:
        return _AVRO_TO_SPARK[t]
    if t == "array":
        return f"array<{avro_field_spark_type(schema['items'])}>"
    if t == "map":
        return f"map<string,{avro_field_spark_type(schema['values'])}>"
    if t == "enum":
        return "string"
    if t == "fixed":
        return "binary"
    raise ValueError(f"no spark type for avro {t!r}")


def spark_schema_for(reader_schema: dict) -> str:
    return ", ".join(
        f"{f['name']} {avro_field_spark_type(f['type'])}"
        for f in reader_schema["fields"]
    )


def _find_sync(fh, sync: bytes, from_pos: int, limit: int) -> int | None:
    """First block-boundary position `b` (byte just after a sync
    marker) with from_pos+16 <= b and b-16 < limit; None if none.
    Streams in 64 KB chunks with a 15-byte overlap — never loads the
    file."""
    chunk_size = 65536
    fh.seek(from_pos)
    carry = b""
    pos = from_pos
    while pos - len(carry) - 16 < limit:
        chunk = fh.read(chunk_size)
        if not chunk:
            return None
        hay = carry + chunk
        idx = hay.find(sync)
        if idx != -1:
            q = pos - len(carry) + idx  # absolute sync start
            if q < limit:
                return q + 16
            return None
        carry = hay[-15:]
        pos += len(chunk)
    return None


def _snappy_decompress(block: bytes) -> bytes:
    """Avro snappy block: raw-snappy data + 4-byte big-endian CRC32 of
    the uncompressed bytes (avro spec §Required Codecs). No snappy
    module in this environment — pyarrow's codec handles the raw
    frame given the decompressed size, which raw snappy carries as a
    leading uvarint."""
    import binascii
    import struct

    import pyarrow as pa

    data, crc = block[:-4], block[-4:]
    n, shift, i = 0, 0, 0
    while True:
        b = data[i]
        n |= (b & 0x7F) << shift
        i += 1
        shift += 7
        if not b & 0x80:
            break
    out = pa.decompress(data, decompressed_size=n, codec="snappy",
                        asbytes=True)
    if struct.pack(">I", binascii.crc32(out) & 0xFFFFFFFF) != crc:
        raise ValueError("avro snappy block CRC mismatch")
    return out


def _decode_range(fh, reader: dict, start: int, end: int) -> list[dict]:
    """Decode all blocks whose boundary position lies in [start, end)
    of one container file, resolving writer→reader schema. `start` at
    or before the header decodes from the first block. This is the
    reference's scan-range split (`hdfs-avro-scanner.cc`: a range owns
    the blocks that *begin* inside it, found by seeking the next sync
    marker) re-expressed over a byte stream."""
    writer, codec, sync = read_header(fh)
    header_end = fh.tell()
    if start <= header_end:
        pos = header_end
    else:
        # a sync occupies [b-16, b); the first boundary >= start has
        # its sync starting at >= start-16
        found = _find_sync(fh, sync, start - 16, end - 16)
        if found is None:
            return []
        pos = found
    out: list[dict] = []
    fh.seek(pos)
    while pos < end:
        try:
            n_records = _read_long(fh)
        except EOFError:  # clean end of file
            break
        n_bytes = _read_long(fh)
        block = fh.read(n_bytes)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec == "snappy":
            block = _snappy_decompress(block)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec!r}")
        bbuf = io.BytesIO(block)
        for _ in range(n_records):
            out.append(resolve(writer, reader, _decode(writer, bbuf)))
        if fh.read(16) != sync:
            raise ValueError("sync marker mismatch")
        pos = fh.tell()
    return out


def plan_avro_splits(path: str, split_bytes: int) -> list[tuple[str, int, int]]:
    """Driver-side split planning: (file, start, end) byte ranges, one
    per ~split_bytes of data, reading only each file's header + size.
    Boundaries are arbitrary byte offsets — `_decode_range` aligns them
    to sync markers in the task."""
    import glob as _glob
    import os

    files = sorted(
        _glob.glob(os.path.join(path, "*.avro"))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    splits: list[tuple[str, int, int]] = []
    for p in files:
        size = os.path.getsize(p)
        with open(p, "rb") as fh:
            read_header(fh)
            header_end = fh.tell()
        body = max(0, size - header_end)
        n = max(1, -(-body // split_bytes))  # ceil
        step = -(-body // n) if n else body
        for k in range(n):
            lo = header_end + k * step
            hi = min(header_end + (k + 1) * step, size)
            if lo < hi or k == 0:
                splits.append((p, lo, hi))
    return splits


def read_avro(spark, path: str, reader_schema: dict | None = None,
              split_bytes: int = 32 << 20):
    """Distributed Avro scan with intra-file splitting: the driver
    plans (file, start, end) byte ranges on sync-marker-agnostic
    boundaries (header-only read per file); each task opens its file,
    seeks the next sync marker, and decodes only the blocks beginning
    in its range — so ONE multi-block container file fans out across
    tasks, like the reference's scan-range splits
    (`be/src/exec/hdfs-avro-scanner.cc`). Each file's writer schema is
    resolved against `reader_schema` (schema evolution); with no
    reader schema, the first file's header supplies it."""
    from incubator_impala_spark.session import rows_df

    if reader_schema is None:
        splits = plan_avro_splits(path, split_bytes)
        with open(splits[0][0], "rb") as fh:
            reader_schema, _, _ = read_header(fh)
    else:
        splits = plan_avro_splits(path, split_bytes)
    schema_json = json.dumps(reader_schema)
    ddl = spark_schema_for(reader_schema)
    field_names = [f["name"] for f in reader_schema["fields"]]

    def _batches(it):
        import pandas as pd

        reader = json.loads(schema_json)
        for pdf in it:
            for p, lo, hi in zip(pdf["path"], pdf["start"], pdf["end"]):
                with open(p, "rb") as fh:
                    resolved = _decode_range(fh, reader, int(lo), int(hi))
                yield pd.DataFrame(
                    {n: [r[n] for r in resolved] for n in field_names}
                    if resolved
                    else {n: [] for n in field_names}
                )

    split_df = rows_df(
        spark, splits, schema="path string, start long, end long"
    ).repartition(len(splits))
    return split_df.mapInPandas(_batches, schema=ddl)


# keys are DataType.simpleString() spellings
_SPARK_TO_AVRO = {
    "bigint": "long",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "bytes",
}


_SPARK_TO_AVRO_LOGICAL = {
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp_ntz": {"type": "long",
                      "logicalType": "local-timestamp-micros"},
    "date": {"type": "int", "logicalType": "date"},
}


def avro_schema_for_df(df, name: str = "row") -> dict:
    """Derive a (nullable-union) Avro record schema from a DataFrame's
    simple-typed columns; timestamps and dates map to the Avro spec's
    logical types (timestamp-micros / local-timestamp-micros / date)."""
    fields = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in _SPARK_TO_AVRO_LOGICAL:
            fields.append({"name": f.name,
                           "type": ["null", _SPARK_TO_AVRO_LOGICAL[t]]})
            continue
        if t not in _SPARK_TO_AVRO:
            raise ValueError(
                f"avro writer: unsupported spark type {t!r} for {f.name!r} "
                "(cast decimals/nested types to string/double first)"
            )
        fields.append({"name": f.name, "type": ["null", _SPARK_TO_AVRO[t]]})
    return {"type": "record", "name": name, "fields": fields}


def write_avro(df, path: str, codec: str = "deflate") -> int:
    """Distributed Avro write: each partition encodes its rows into one
    container file under `path` (works on any shared filesystem; in
    local mode that's the local disk). Returns number of files.

    No driver collect — the only thing that comes back is one
    (file, row-count) row per partition."""
    import os

    import pandas as pd

    os.makedirs(path, exist_ok=True)
    schema = avro_schema_for_df(df)
    schema_json = json.dumps(schema)
    names = [f["name"] for f in schema["fields"]]
    # logical-type converters: pandas Timestamp/date -> the underlying
    # avro long/int (micros since epoch / days since epoch)
    lts = {}
    itypes = set()
    for f in schema["fields"]:
        branch = f["type"][1]
        if isinstance(branch, dict):
            lts[f["name"]] = branch.get("logicalType")
        elif branch in ("int", "long"):
            itypes.add(f["name"])

    def _to_avro(n, v):
        lt = lts.get(n)
        if lt in ("timestamp-micros", "local-timestamp-micros"):
            return int(v.value) // 1000  # pd.Timestamp.value is nanos
        if lt == "date":
            return v.toordinal() - 719163  # days since 1970-01-01
        if n in itypes and isinstance(v, float):
            # pandas widens nullable int columns to float64; the
            # declared avro branch stays integral
            return int(v)
        return v

    def _write_part(it):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        recs: list[dict] = []
        for pdf in it:
            for row in pdf.itertuples(index=False):
                rec = {}
                for n, v in zip(names, row):
                    # scalar NA check (float NaN and pandas NaT);
                    # sequences never go through pd.isna (ambiguous)
                    is_na = v is None or (
                        not isinstance(v, (list, tuple, dict, bytes, str))
                        and not hasattr(v, "__len__") and pd.isna(v))
                    rec[n] = None if is_na else _to_avro(n, v)
                recs.append(rec)
        fname = os.path.join(path, f"part-{pid:05d}.avro")
        with open(fname, "wb") as fh:
            # bounded blocks so the read side's sync-marker splitting
            # can fan one large output file back out across tasks
            fh.write(write_container(
                json.loads(schema_json), recs, codec, max_block_records=4096
            ))
        yield pd.DataFrame({"file": [fname], "n": [len(recs)]})

    report = df.mapInPandas(_write_part, schema="file string, n long")
    return report.count()
