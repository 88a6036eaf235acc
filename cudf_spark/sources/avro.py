"""Pure-Python distributed Avro reader (+ minimal writer for tests).

The reference reads Avro natively (cpp/src/io/avro/, ~4k LoC of decode
kernels; cpp/include/cudf/io/avro.hpp:217). Spark's own `spark-avro`
datasource module is a separate jar that is absent from this environment,
so this module implements the Avro Object Container File spec (public:
https://avro.apache.org/docs/current/specification/) directly:

* :func:`read_avro` carves each file into byte ranges of the session's
  ``spark.sql.files.maxPartitionBytes`` on the driver, and each task
  decodes the sync-delimited blocks that start in its range (the Hadoop
  AvroInputFormat split protocol): a small part-file is one range, a
  single huge file is many ranges spread across tasks;
* each task parses the header (magic, metadata map with embedded JSON
  schema, 16-byte sync marker) and walks the blocks, decoding
  zigzag-varint primitives per the spec — no row-at-a-time Python UDF:
  decoding happens inside one Arrow ``mapInPandas`` pass. Tasks open
  files by path, so on a cluster the files must sit on a shared
  filesystem;
* ``null`` and ``deflate`` codecs via the stdlib, ``snappy`` via pyarrow.

Scope (documented): record schemas over the primitive types
null/boolean/int/long/float/double/bytes/string, nullable unions in
either declared order (branch decode is index-driven per the spec),
multi-branch unions (→ the spark-avro struct-of-nullables ``memberN``
mapping on read; type-driven branch resolution on write), nested records
(→ Spark ``struct``), arrays (→ ``array<T>``), maps with string keys
(→ ``map<string,T>``), named types — ``enum`` (→ ``string``, the
spark-avro mapping), ``fixed`` (→ ``binary``) — with later by-name
references canonicalized in one pre-pass per the spec's name rules
(unqualified references resolve relative to the enclosing definition's
namespace, falling back to the null namespace; see :func:`_qualify`),
and the logical types ``date`` (int → ``date``), ``timestamp-micros`` /
``timestamp-millis`` (long → ``timestamp``), and ``decimal`` over bytes
or fixed (big-endian two's-complement unscaled int → ``decimal(p,s)``);
unrecognized logical types fall back to their base type per the spec.
Recursive (self-referential) record schemas raise NotImplementedError —
Spark's static struct types cannot represent them. Nesting composes
recursively. This exceeds the reference's scope, which is read-only
primitives + nullable unions (cpp/src/io/avro/avro.cpp schema walk).
"""

from __future__ import annotations

import io
import json
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

MAGIC = b"Obj\x01"

# {id(schema): (schema, non-null branch positions)} — see _decode's union path
_UNION_POS_CACHE: dict = {}

_PRIMITIVE_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "bytes": "binary",
    "string": "string",
}


def _read_varint(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        acc |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            return acc
        shift += 7


def _read_long(buf: io.BytesIO) -> int:
    n = _read_varint(buf)
    return (n >> 1) ^ -(n & 1)  # zigzag


def _read_bytes(buf: io.BytesIO) -> bytes:
    return buf.read(_read_long(buf))


def _qualify(t, ns: str | None, named: dict):
    """One pre-pass over a parsed Avro schema implementing the spec's
    name rules ("Names"): a definition's effective namespace is its own,
    else the enclosing one; an unqualified REFERENCE is resolved relative
    to the namespace of the enclosing definition (falling back to the
    null namespace for globally-named types, as conformant parsers do).
    Returns a copy of the tree with every reference rewritten to the
    defining type's canonical full name and every definition registered
    in ``named`` under that full name — so runtime resolution is one
    exact dict lookup, independent of field order, with no short-name
    collisions possible."""
    if isinstance(t, str):
        if t == "null" or t in _PRIMITIVE_TO_SPARK:
            return t
        full = f"{ns}.{t}" if ns and "." not in t else t
        if full in named:
            return full
        if t in named:  # null-namespace definition referenced from inside ns
            return t
        raise NotImplementedError(
            f"unresolved avro type reference {t!r}"
            + (f" (in namespace {ns!r})" if ns else "")
        )
    if isinstance(t, list):
        return [_qualify(b, ns, named) for b in t]
    if isinstance(t, dict):
        kind = t["type"]
        if kind in ("record", "enum", "fixed"):
            name = t["name"]
            if "." in name:
                full, tns = name, name.rsplit(".", 1)[0]
            else:
                tns = t.get("namespace", ns)
                full = f"{tns}.{name}" if tns else name
            out = dict(t)
            named[full] = out
            if kind == "record":
                out["fields"] = [
                    dict(f, type=_qualify(f["type"], tns, named))
                    for f in t["fields"]
                ]
            return out
        if kind == "array":
            return dict(t, items=_qualify(t["items"], ns, named))
        if kind == "map":
            return dict(t, values=_qualify(t["values"], ns, named))
        if isinstance(kind, (list, dict)):
            return dict(t, type=_qualify(kind, ns, named))
        return t  # primitive wrapper / logical-typed primitive
    raise NotImplementedError(f"unsupported avro type {t!r}")


def _collect_defs(t, ns: str | None, named: dict) -> None:
    """Definition-only pre-pass: register every named type's full name
    WITHOUT resolving references, so :func:`_qualify` also accepts
    forward references (the spec mandates define-before-use, but lenient
    writers exist and the old reader accepted them)."""
    if isinstance(t, list):
        for b in t:
            _collect_defs(b, ns, named)
    elif isinstance(t, dict):
        kind = t.get("type")
        if kind in ("record", "enum", "fixed"):
            name = t["name"]
            if "." in name:
                full, tns = name, name.rsplit(".", 1)[0]
            else:
                tns = t.get("namespace", ns)
                full = f"{tns}.{name}" if tns else name
            named[full] = t
            ns = tns
        if kind == "record":
            for f in t["fields"]:
                _collect_defs(f["type"], ns, named)
        elif kind == "array":
            _collect_defs(t["items"], ns, named)
        elif kind == "map":
            _collect_defs(t["values"], ns, named)
        elif isinstance(kind, (list, dict)):
            _collect_defs(kind, ns, named)


def _prepare_schema(schema) -> tuple[dict, dict]:
    """(reference-canonicalized schema copy, full-name registry) — the
    single entry point every reader/writer path uses before walking a
    schema. Call once per file; the returned registry is what
    ``_decode`` / ``_spark_type`` / ``_encode`` resolve references
    through. Definitions are collected first so forward references
    qualify correctly; ``_qualify`` then overwrites each entry with its
    canonicalized copy."""
    named: dict = {}
    _collect_defs(schema, None, named)
    return _qualify(schema, None, named), named


def _logical_spark_type(t: dict) -> str | None:
    """Spark DDL fragment for a recognized logical type, else None (the
    spec says unknown logical types fall back to the base type)."""
    lt = t.get("logicalType")
    base = t.get("type")
    if lt == "date" and base == "int":
        return "date"
    if lt in ("timestamp-micros", "timestamp-millis") and base == "long":
        return "timestamp"
    if lt == "decimal" and base in ("bytes", "fixed"):
        return f"decimal({int(t['precision'])}, {int(t.get('scale', 0))})"
    return None


def _resolve_named(ref: str, named: dict):
    """Exact full-name lookup — references were canonicalized by
    :func:`_qualify`, so no relative/ambiguous resolution happens here."""
    return named.get(ref)


def _spark_type(t, named: dict | None = None, _stack: frozenset = frozenset()) -> str:
    """Recursive Avro-schema → Spark DDL type fragment. ``named`` is the
    per-file registry of named-type definitions; ``_stack`` tracks the
    ids of in-progress record definitions to reject recursive schemas
    (Spark's static struct types cannot represent them) — identity, not
    name strings, so full- and short-name self-references are both
    caught."""
    if named is None:
        named = {}
    if isinstance(t, str):
        if t == "null":
            return "void"
        if t in _PRIMITIVE_TO_SPARK:
            return _PRIMITIVE_TO_SPARK[t]
        resolved = _resolve_named(t, named)
        if resolved is not None:  # reference to a previously-defined type
            if id(resolved) in _stack:
                raise NotImplementedError(f"recursive avro schema via {t!r}")
            return _spark_type(resolved, named, _stack)
        raise NotImplementedError(f"unsupported avro type {t!r}")
    if isinstance(t, list):  # union
        non_null = [b for b in t if b != "null"]
        if len(non_null) == 1:
            return _spark_type(non_null[0], named, _stack)
        # multi-branch union -> struct-of-nullables (the spark-avro
        # mapping: one memberN field per non-null branch; exactly one is
        # set per row, all null when the null branch was written)
        inner = ", ".join(
            f"`member{i}`: {_spark_type(b, named, _stack)}"
            for i, b in enumerate(non_null)
        )
        return f"struct<{inner}>"
    if isinstance(t, dict):
        kind = t["type"]
        logical = _logical_spark_type(t) if isinstance(kind, str) else None
        if logical is not None:
            return logical
        if kind == "record":
            stack = _stack | {id(t)}
            inner = ", ".join(
                f"`{f['name']}`: {_spark_type(f['type'], named, stack)}"
                for f in t["fields"]
            )
            return f"struct<{inner}>"
        if kind == "enum":  # decoded to its symbol — the spark-avro mapping
            return "string"
        if kind == "fixed":
            return "binary"
        if kind == "array":
            return f"array<{_spark_type(t['items'], named, _stack)}>"
        if kind == "map":  # avro map keys are always strings
            return f"map<string, {_spark_type(t['values'], named, _stack)}>"
        if isinstance(kind, (list, dict)):
            # wrapped union / nested schema object
            return _spark_type(kind, named, _stack)
        if isinstance(kind, str) and kind in _PRIMITIVE_TO_SPARK:
            return _spark_type(kind, named, _stack)  # {"type": "string"} wrapper
    raise NotImplementedError(f"unsupported avro type {t!r}")


def _decode_value(buf: io.BytesIO, type_name: str):
    if type_name == "boolean":
        return buf.read(1) == b"\x01"
    if type_name in ("int", "long"):
        return _read_long(buf)
    if type_name == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if type_name == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if type_name == "bytes":
        return _read_bytes(buf)
    if type_name == "string":
        return _read_bytes(buf).decode("utf-8")
    if type_name == "null":
        return None
    raise NotImplementedError(f"unsupported avro type {type_name!r}")


def _decode_logical(buf: io.BytesIO, schema: dict):
    """Decode a recognized logical type to its Spark-side Python value;
    None sentinel is impossible here (caller checks recognition first)."""
    import datetime
    import decimal

    lt = schema["logicalType"]
    base = schema["type"]
    if lt == "date":  # int: days since epoch
        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=_read_long(buf)
        )
    if lt == "timestamp-micros":
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=_read_long(buf)
        )
    if lt == "timestamp-millis":
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(
            milliseconds=_read_long(buf)
        )
    # decimal over bytes or fixed: big-endian two's-complement unscaled
    raw = (
        buf.read(int(schema["size"])) if base == "fixed" else _read_bytes(buf)
    )
    unscaled = int.from_bytes(raw, "big", signed=True) if raw else 0
    return decimal.Decimal(unscaled).scaleb(-int(schema.get("scale", 0)))


def _decode(buf: io.BytesIO, schema, named: dict | None = None):
    """Recursive spec decoder: unions pick the branch the decoded index
    names (either declared order), records nest as dicts, arrays/maps use
    the spec's count-delimited block form (negative count = abs count with
    a byte-size long to skip); named references resolve via ``named``."""
    if named is None:
        named = {}
    if isinstance(schema, str):
        resolved = _resolve_named(schema, named)
        if resolved is not None:
            return _decode(buf, resolved, named)
        return _decode_value(buf, schema)
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union branch {idx} out of range for {schema!r}")
        val = _decode(buf, schema[idx], named)
        # positions are a pure function of the schema — memoize per
        # schema object (this runs once per VALUE in the decode loop);
        # the cache holds a strong ref so id() cannot be recycled
        cached = _UNION_POS_CACHE.get(id(schema))
        if cached is None or cached[0] is not schema:
            non_null_pos = [i for i, b in enumerate(schema) if b != "null"]
            # bound the cache: every decoded FILE parses fresh schema
            # objects, so on a long-lived executor reading many
            # part-files the id()-keyed entries (strong refs, never
            # evicted) grow without limit — reset cheaply instead;
            # positions recompute in microseconds and the win is the
            # per-VALUE loop within one file
            if len(_UNION_POS_CACHE) > 1024:
                _UNION_POS_CACHE.clear()
            _UNION_POS_CACHE[id(schema)] = (schema, non_null_pos)
        else:
            non_null_pos = cached[1]
        if len(non_null_pos) <= 1:
            return val
        # multi-branch: struct-of-nullables row (see _spark_type)
        if schema[idx] == "null":
            return None
        j = non_null_pos.index(idx)
        return {
            f"member{k}": (val if k == j else None)
            for k in range(len(non_null_pos))
        }
    if isinstance(schema, dict):
        kind = schema["type"]
        if (
            isinstance(kind, str)
            and "logicalType" in schema
            and _logical_spark_type(schema) is not None
        ):
            return _decode_logical(buf, schema)
        if kind == "record":
            return {
                f["name"]: _decode(buf, f["type"], named)
                for f in schema["fields"]
            }
        if kind == "enum":  # int index into the declared symbol list
            return schema["symbols"][_read_long(buf)]
        if kind == "fixed":  # size raw bytes, no length prefix
            return buf.read(int(schema["size"]))
        if kind == "array":
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    _read_long(buf)  # byte size of the block — not needed
                for _ in range(n):
                    out.append(_decode(buf, schema["items"], named))
        if kind == "map":
            m: dict = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    return m
                if n < 0:
                    n = -n
                    _read_long(buf)
                for _ in range(n):
                    key = _read_bytes(buf).decode("utf-8")
                    m[key] = _decode(buf, schema["values"], named)
        if isinstance(kind, (list, dict)):
            # wrapped union / nested schema object
            return _decode(buf, kind, named)
        if isinstance(kind, str) and (kind in _PRIMITIVE_TO_SPARK or kind == "null"):
            return _decode_value(buf, kind)  # {"type": "string"} wrapper
    raise NotImplementedError(f"unsupported avro type {schema!r}")


# ---------------- schema resolution (reader-schema evolution) ----------------
#
# Spec "Schema Resolution" (avro.apache.org/docs/current/specification/
# #schema-resolution), applied VALUE-side after the writer-schema decode:
# fields match by name; reader-only fields take their declared default
# (bytes/fixed defaults are ISO-8859-1 strings per the spec); writer-only
# fields are discarded; numeric promotions int->long->float->double and
# string<->bytes apply; enum symbols unknown to the reader fall back to
# the reader's enum default. Unions are supported in their nullable
# single-branch form (the overwhelmingly common evolution case); adapting
# multi-branch memberN structs across schema versions is out of scope and
# raises.

_PROMOTIONS = {
    ("int", "long"): int,
    ("int", "float"): float,
    ("int", "double"): float,
    ("long", "float"): float,
    ("long", "double"): float,
    ("float", "double"): float,
    ("string", "bytes"): lambda v: v.encode("utf-8"),
    ("bytes", "string"): lambda v: v.decode("utf-8"),
}


def _type_tag(schema, named: dict) -> str | dict | list:
    """Strip wrapper dicts / named references down to a comparable tag."""
    if isinstance(schema, str):
        resolved = _resolve_named(schema, named)
        if resolved is not None:
            return _type_tag(resolved, named)
        return schema
    if isinstance(schema, dict):
        kind = schema["type"]
        if "logicalType" in schema and _logical_spark_type(schema) is not None:
            return schema
        if kind in ("record", "enum", "fixed", "array", "map"):
            return schema
        return _type_tag(kind, named)
    return schema  # union list


def _default_value(schema, default, named: dict):
    """JSON default -> decoded-value shape for the reader field type."""
    tag = _type_tag(schema, named)
    if isinstance(tag, list):  # union default applies to the FIRST branch
        non_null = [b for b in tag if b != "null"]
        if default is None or len(non_null) != 1:
            return None
        return _default_value(non_null[0], default, named)
    if isinstance(tag, dict):
        kind = tag["type"]
        if "logicalType" in tag and _logical_spark_type(tag) is not None:
            raise NotImplementedError(
                "defaults for logical-typed fields are not supported"
            )
        if kind == "record":
            return {
                f["name"]: _default_value(
                    f["type"], default.get(f["name"], f.get("default")), named
                )
                for f in tag["fields"]
            }
        if kind == "enum":
            return default
        if kind == "fixed":
            return default.encode("iso-8859-1")  # spec: codepoints 0-255
        if kind == "array":
            return [_default_value(tag["items"], d, named) for d in default]
        if kind == "map":
            return {
                k: _default_value(tag["values"], d, named)
                for k, d in default.items()
            }
    if tag == "bytes":
        return default.encode("iso-8859-1")
    if tag in ("float", "double") and default is not None:
        return float(default)
    return default


def _adapt(v, wschema, rschema, named_w: dict, named_r: dict):
    """Adapt one decoded value from writer-schema shape to reader-schema
    shape, applying the spec's resolution rules recursively."""
    wt = _type_tag(wschema, named_w)
    rt = _type_tag(rschema, named_r)
    # unions: nullable single-branch form on either side
    if isinstance(wt, list) or isinstance(rt, list):
        wb = [b for b in (wt if isinstance(wt, list) else [wt]) if b != "null"]
        rb = [b for b in (rt if isinstance(rt, list) else [rt]) if b != "null"]
        if len(wb) != 1 or len(rb) != 1:
            raise NotImplementedError(
                "schema resolution across multi-branch unions is not supported"
            )
        if v is None:
            if not (isinstance(rt, list) and "null" in rt):
                raise ValueError("writer null but reader type is not nullable")
            return None
        return _adapt(v, wb[0], rb[0], named_w, named_r)
    if isinstance(wt, dict) or isinstance(rt, dict):
        wkind = wt["type"] if isinstance(wt, dict) else wt
        rkind = rt["type"] if isinstance(rt, dict) else rt
        if wkind == "record" and rkind == "record":
            wfields = {f["name"]: f for f in wt["fields"]}
            out = {}
            for rf in rt["fields"]:
                name = rf["name"]
                if name in wfields:
                    out[name] = _adapt(
                        v[name], wfields[name]["type"], rf["type"],
                        named_w, named_r,
                    )
                elif "default" in rf:
                    out[name] = _default_value(rf["type"], rf["default"], named_r)
                else:
                    raise ValueError(
                        f"reader field {name!r} missing from writer schema "
                        "and declares no default"
                    )
            return out  # writer-only fields fall away here
        if wkind == "enum" and rkind == "enum":
            if v in rt["symbols"]:
                return v
            if "default" in rt:
                return rt["default"]
            raise ValueError(f"enum symbol {v!r} unknown to reader schema")
        if wkind == "array" and rkind == "array":
            return [
                _adapt(x, wt["items"], rt["items"], named_w, named_r) for x in v
            ]
        if wkind == "map" and rkind == "map":
            return {
                k: _adapt(x, wt["values"], rt["values"], named_w, named_r)
                for k, x in v.items()
            }
        if wkind == "fixed" and rkind == "fixed":
            if int(wt["size"]) != int(rt["size"]):
                raise ValueError("fixed size mismatch between writer and reader")
            return v
        # logical types resolve like their decoded value when identical
        if wt == rt:
            return v
        raise ValueError(f"cannot resolve writer {wt!r} to reader {rt!r}")
    if wt == rt:
        return v
    promote = _PROMOTIONS.get((wt, rt))
    if promote is None:
        raise ValueError(f"no promotion from writer {wt!r} to reader {rt!r}")
    return promote(v)


def _parse_header(buf: io.BytesIO):
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:  # negative block count: abs count + byte size follows
            n = -n
            _read_long(buf)
        for _ in range(n):
            key = _read_bytes(buf).decode("utf-8")
            meta[key] = _read_bytes(buf)
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync


def _decompress(block: bytes, codec: str) -> bytes:
    if codec == "null":
        return block
    if codec == "deflate":
        return zlib.decompress(block, -15)  # raw deflate per spec
    if codec == "snappy":
        import pyarrow as pa

        return pa.Codec("snappy").decompress(block[:-4]).to_pybytes()  # crc32 tail
    raise NotImplementedError(f"unsupported avro codec {codec!r}")


def _decode_block(
    src, codec, sync, fields, named, schema, reader_schema, named_r, out_names
) -> list[tuple]:
    """Decode ONE sync-delimited block from ``src`` (positioned at the
    block's object count)."""
    n_objects = _read_long(src)
    block = _decompress(_read_bytes(src), codec)
    if src.read(16) != sync:
        raise ValueError("sync marker mismatch (corrupt block)")
    bbuf = io.BytesIO(block)
    rows: list[tuple] = []
    if reader_schema is None:  # common path: no dict per row
        for _ in range(n_objects):
            rows.append(tuple(_decode(bbuf, f["type"], named) for f in fields))
    else:
        for _ in range(n_objects):
            row = _adapt(
                {f["name"]: _decode(bbuf, f["type"], named) for f in fields},
                schema,
                reader_schema,
                named,
                named_r,
            )
            rows.append(tuple(row[n] for n in out_names))
    return rows


def avro_spark_schema(path: str) -> tuple[str, dict]:
    """DDL schema string from one file's header (driver-side peek; at
    cluster scale read the first part-file through the FileSystem API)."""
    with open(path, "rb") as fh:
        schema, _codec, _sync = _parse_header(io.BytesIO(fh.read(1 << 20)))
    qschema, named = _prepare_schema(schema)
    parts = [
        f"`{f['name']}` {_spark_type(f['type'], named)}"
        for f in qschema["fields"]
    ]
    return ", ".join(parts), schema


def _scan_sync(fh, sync: bytes, from_pos: int, end: int, chunk: int = 1 << 20):
    """First block boundary (byte position just after a sync marker) at
    or after ``from_pos + 16``; None if no sync starts before ``end``.
    Chunked scan with a 15-byte overlap so a marker straddling a chunk
    edge is still found."""
    fh.seek(max(from_pos, 0))
    tail = b""
    base = fh.tell()
    while base - len(tail) <= end:
        data = fh.read(chunk)
        if not data:
            return None
        hay = tail + data
        i = hay.find(sync)
        if i != -1:
            pos = base - len(tail) + i
            return pos + len(sync) if pos < end else None
        tail = hay[-(len(sync) - 1):]
        base = fh.tell()
    return None


def _decode_file_range(
    path: str, start: int, end: int, reader_schema: dict | None = None
):
    """Decode every sync-delimited block that STARTS in ``[start, end)``
    — the Hadoop AvroInputFormat split protocol, so the union of ranges
    covering the file yields each row exactly once."""
    with open(path, "rb") as fh:
        schema, codec, sync = _parse_header(fh)
        header_end = fh.tell()
        if schema.get("type") != "record":
            raise NotImplementedError("only top-level record schemas supported")
        schema, named = _prepare_schema(schema)
        fields = schema["fields"]
        named_r: dict = {}
        if reader_schema is not None:
            reader_schema, named_r = _prepare_schema(reader_schema)
            names = [f["name"] for f in reader_schema["fields"]]
        else:
            names = [f["name"] for f in fields]
        if start <= header_end:
            pos = header_end
        else:
            # a block starting at p is preceded by a sync ending at p;
            # scan from start-16 so a boundary exactly at `start` is hit
            pos = _scan_sync(fh, sync, start - len(sync), end)
            if pos is None:
                return [], names
        fh.seek(pos)
        rows: list[tuple] = []
        while pos < end:
            head = fh.read(1)
            if not head:
                break
            fh.seek(-1, 1)
            rows.extend(
                _decode_block(
                    fh, codec, sync, fields, named, schema, reader_schema,
                    named_r, names,
                )
            )
            pos = fh.tell()
        return rows, names


def read_avro(
    spark: SparkSession,
    path: str,
    *,
    schema=None,
    reader_schema: dict | None = None,
) -> DataFrame:
    """Distributed Avro read of one file or a directory of part-files.

    Each file is carved on the driver into byte ranges of the session's
    ``spark.sql.files.maxPartitionBytes`` (a size listing; no data is
    read), and every task decodes only the sync-delimited blocks that
    START inside its range, in one Arrow ``mapInPandas`` pass. A file
    smaller than the split size is one range, decoded by one task; a
    single huge file decodes on many. The output schema comes from the header
    of the first file in sorted order; an explicit ``schema`` (DDL
    string or StructType) overrides it.

    ``reader_schema`` (an Avro schema dict) turns on spec schema
    resolution: each file decodes under ITS OWN writer schema, then
    adapts to the reader schema (reader-only fields take defaults,
    writer-only fields drop, numeric/string promotions apply), so a
    directory of part-files written across schema versions reads as one
    uniform DataFrame. The output schema then IS the reader schema, so
    passing ``schema`` too is an error.

    Tasks ``open()`` files by path, so on a cluster the path must be on
    a filesystem every executor mounts (the same requirement as
    :func:`write_avro_dataframe`); an object-store variant would route
    the ranged reads through the Hadoop FileSystem API instead.
    """
    import glob as globmod
    import os

    if reader_schema is not None and schema is not None:
        raise ValueError(
            "schema and reader_schema are mutually exclusive: with "
            "resolution on, the output schema IS the reader schema"
        )
    if os.path.isdir(path):
        files = sorted(
            p
            for p in globmod.glob(os.path.join(path, "*"))
            if os.path.isfile(p) and not os.path.basename(p).startswith(("_", "."))
        )
    else:
        files = [path] if os.path.isfile(path) else []
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    splits = []
    for p in files:
        size = os.path.getsize(p)
        splits += [(p, s, min(s + split, size)) for s in range(0, size, split)]
    if not splits:
        raise ValueError(f"no avro files under {path!r}")
    if reader_schema is not None:
        qreader, named_r = _prepare_schema(reader_schema)
        ddl = ", ".join(
            f"`{f['name']}` {_spark_type(f['type'], named_r)}"
            for f in qreader["fields"]
        )
    else:
        ddl = schema if schema is not None else avro_spark_schema(files[0])[0]
    sdf = spark.createDataFrame(
        splits, "path string, start long, end long"
    ).repartition(len(splits))

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for p, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                rows, names = _decode_file_range(
                    str(p), int(s), int(e), reader_schema
                )
                yield pd.DataFrame(rows, columns=names)

    return sdf.mapInPandas(decode, schema=ddl)


# ------------------------- writers -------------------------


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode_value(v, type_name: str) -> bytes:
    if type_name == "boolean":
        return b"\x01" if v else b"\x00"
    if type_name in ("int", "long"):
        return _zigzag(int(v))
    if type_name == "float":
        return struct.pack("<f", v)
    if type_name == "double":
        return struct.pack("<d", v)
    if type_name == "bytes":
        return _zigzag(len(v)) + bytes(v)
    if type_name == "string":
        enc = v.encode("utf-8")
        return _zigzag(len(enc)) + enc
    raise NotImplementedError(type_name)


try:  # cached once: _is_null runs per VALUE in the union-encode hot path
    from pandas import NaT as _PD_NAT
except ImportError:  # pragma: no cover - pandas is baked in
    _PD_NAT = object()


def _is_null(v) -> bool:
    # pandas hands nullable numerics over as float NaN, datetimes as NaT
    return (
        v is None or (isinstance(v, float) and v != v) or v is _PD_NAT
    )


def _encode_logical(v, schema: dict) -> bytes:
    """Writer mirror of ``_decode_logical``."""
    import datetime

    lt = schema["logicalType"]
    base = schema["type"]
    if lt == "date":
        if hasattr(v, "to_pydatetime"):  # pandas Timestamp
            v = v.date()
        return _zigzag((v - datetime.date(1970, 1, 1)).days)
    if lt in ("timestamp-micros", "timestamp-millis"):
        if hasattr(v, "to_pydatetime"):
            v = v.to_pydatetime()
        # the epoch must be a FIXED instant: naive values are treated as
        # UTC (Spark session TZ contract), aware values are converted —
        # subtracting an epoch carrying the VALUE's own tzinfo would
        # encode the local-naive reading and shift every aware timestamp
        # by its UTC offset
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - datetime.datetime(1970, 1, 1)
        micros = (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds
        return _zigzag(micros if lt == "timestamp-micros" else micros // 1000)
    # decimal: unscaled big-endian two's complement at the declared scale
    scale = int(schema.get("scale", 0))
    unscaled = int(v.scaleb(scale).to_integral_value())
    # minimal SIGNED two's-complement length: measure the magnitude as
    # (-n - 1) for negatives, else bit_length() over-allocates one byte
    # for exact powers -(2^(8k-1)) (e.g. -128 fits 1 byte, not 2)
    mag = unscaled if unscaled >= 0 else -unscaled - 1
    nbytes = max(1, (mag.bit_length() + 8) // 8)
    raw = unscaled.to_bytes(nbytes, "big", signed=True)
    if base == "fixed":
        size = int(schema["size"])
        if len(raw) > size:
            raise ValueError(
                f"decimal {v} needs {len(raw)} bytes, exceeding fixed "
                f"size {size} — writing it would desync the stream"
            )
        pad = b"\xff" if unscaled < 0 else b"\x00"
        return pad * (size - len(raw)) + raw
    return _zigzag(len(raw)) + raw


def _encode(v, schema, named: dict | None = None) -> bytes:
    """Recursive writer mirror of ``_decode`` (declared union order).
    Tolerant of pandas/Arrow value shapes: numpy arrays for lists, NaN for
    null, dicts OR key/value tuple lists for maps."""
    if named is None:
        named = {}
    if isinstance(schema, str):
        resolved = _resolve_named(schema, named)
        if resolved is not None:
            return _encode(v, resolved, named)
        return b"" if schema == "null" else _encode_value(v, schema)
    if isinstance(schema, list):  # union: emit the branch index, then value
        if _is_null(v):
            # pandas hands NULL floats over as NaN, so NaN maps to the
            # null branch when one exists (the Arrow/pandas boundary
            # cannot distinguish the two — documented in write_avro).
            # For a union WITHOUT a null branch, NaN is a legal IEEE
            # value: fall through to the float/double branch match
            # instead of refusing to write.
            if "null" in schema:
                return _zigzag(schema.index("null"))
            if not (isinstance(v, float) and v != v):
                raise NotImplementedError(
                    f"null value for union {schema!r} with no null branch"
                )
        branches = [i for i, b in enumerate(schema) if b != "null"]
        if len(branches) == 1:
            return _zigzag(branches[0]) + _encode(v, schema[branches[0]], named)
        # general union: first branch matching the Python value's type,
        # with Avro numeric promotion (int -> long -> float -> double)
        # as every spec-conformant writer resolves it
        matches = {
            bool: ("boolean",),
            int: ("int", "long", "float", "double"),
            float: ("float", "double"),
            str: ("string",),
            bytes: ("bytes",),
        }
        for t, names in matches.items():
            if isinstance(v, t) and not (t is int and isinstance(v, bool)):
                for name in names:  # promotion order, not branch order
                    for i in branches:
                        if schema[i] == name:
                            return _zigzag(i) + _encode(v, schema[i], named)
        raise NotImplementedError(
            f"no union branch of {schema!r} matches value {v!r}"
        )
    if isinstance(schema, dict):
        kind = schema["type"]
        if (
            isinstance(kind, str)
            and "logicalType" in schema
            and _logical_spark_type(schema) is not None
        ):
            return _encode_logical(v, schema)
        if kind == "record":
            out = bytearray()
            for f in schema["fields"]:
                fv = v[f["name"]] if isinstance(v, dict) else getattr(v, f["name"])
                out += _encode(fv, f["type"], named)
            return bytes(out)
        if kind == "enum":
            return _zigzag(schema["symbols"].index(v))
        if kind == "fixed":
            raw = bytes(v)
            if len(raw) != int(schema["size"]):
                raise ValueError(
                    f"fixed {schema.get('name')} expects {schema['size']} "
                    f"bytes, got {len(raw)}"
                )
            return raw
        if kind == "array":
            items = list(v)
            if not items:
                return _zigzag(0)
            body = b"".join(_encode(x, schema["items"], named) for x in items)
            return _zigzag(len(items)) + body + _zigzag(0)
        if kind == "map":
            entries = list(v.items()) if isinstance(v, dict) else list(v)
            if not entries:
                return _zigzag(0)
            body = bytearray()
            for k, mv in entries:
                ke = k.encode("utf-8")
                body += _zigzag(len(ke)) + ke + _encode(mv, schema["values"], named)
            return _zigzag(len(entries)) + bytes(body) + _zigzag(0)
        if kind in _PRIMITIVE_TO_SPARK or kind == "null":
            return _encode(v, kind)
    raise NotImplementedError(f"unsupported avro type {schema!r}")


def _avro_schema_of(spark_type, name: str = "row") -> dict | str | list:
    """Spark DataType → Avro schema (inverse of :func:`_spark_type`).
    Nullable struct fields become ``["null", T]`` unions."""
    from pyspark.sql import types as T

    simple = {
        T.BooleanType: "boolean",
        T.ByteType: "int",
        T.ShortType: "int",
        T.IntegerType: "int",
        T.LongType: "long",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.StringType: "string",
        T.BinaryType: "bytes",
    }
    for cls, avro_name in simple.items():
        if isinstance(spark_type, cls):
            return avro_name
    if isinstance(spark_type, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(spark_type, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(spark_type, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": spark_type.precision,
            "scale": spark_type.scale,
        }
    if isinstance(spark_type, T.StructType):
        return {
            "type": "record",
            "name": name,
            "fields": [
                {
                    "name": f.name,
                    "type": (
                        ["null", _avro_schema_of(f.dataType, f"{name}_{f.name}")]
                        if f.nullable
                        else _avro_schema_of(f.dataType, f"{name}_{f.name}")
                    ),
                }
                for f in spark_type.fields
            ],
        }
    if isinstance(spark_type, T.ArrayType):
        return {
            "type": "array",
            "items": _avro_schema_of(spark_type.elementType, f"{name}_item"),
        }
    if isinstance(spark_type, T.MapType):
        if not isinstance(spark_type.keyType, T.StringType):
            raise NotImplementedError("avro maps require string keys")
        return {
            "type": "map",
            "values": _avro_schema_of(spark_type.valueType, f"{name}_value"),
        }
    raise NotImplementedError(f"no avro mapping for Spark type {spark_type}")


def write_avro_dataframe(
    df: DataFrame, path: str, *, codec: str = "null"
) -> list[tuple[str, int]]:
    """Distributed Avro sink: one spec-conformant part-file per partition,
    written inside a single Arrow ``mapInPandas`` pass (the write-side
    mirror of :func:`read_avro`'s decode). Returns
    [(file, n_rows), ...].

    The target must be visible to every executor — on a real cluster that
    means a shared filesystem mount (object-store output would route
    through the Hadoop FileSystem API instead); on local[N] any directory
    works. The reference has no Avro writer at all
    (cpp/include/cudf/io/avro.hpp is read-only), so this exceeds parity.
    """
    import os

    os.makedirs(path, exist_ok=True)
    schema = _avro_schema_of(df.schema, name="row")
    schema_json = json.dumps(schema)

    def write_part(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        if rows:
            target = os.path.join(path, f"part-{pid:05d}.avro")
            write_avro(rows, json.loads(schema_json), target, codec=codec)
            yield pd.DataFrame({"file": [target], "n_rows": [len(rows)]})

    files = [
        (r.file, r.n_rows)
        for r in df.mapInPandas(write_part, "file string, n_rows long").collect()
    ]
    if not files:
        # Empty input (r11 fuzz finding, seed 2): every partition was
        # rowless, so no executor wrote a part — emit ONE header-only
        # OCF driver-side so the dataset still carries its schema and a
        # read-back yields zero rows instead of "no files to read".
        target = os.path.join(path, "part-00000.avro")
        write_avro([], schema, target, codec=codec)
        files = [(target, 0)]
    return files


def write_avro(
    rows, schema: dict, path: str, *, codec: str = "null", rows_per_block: int | None = None
) -> None:
    """Minimal Avro writer (spec-conformant). ``rows_per_block`` splits
    the output into multiple sync-delimited blocks (default: one block),
    which is what makes a file range-splittable for :func:`read_avro`.

    NaN policy: values arrive through pandas (``write_avro_dataframe``'s
    ``mapInPandas``), where a float column's NULL IS NaN — so for a
    nullable float/double union, NaN takes the null branch (the two are
    indistinguishable at that boundary); for a non-nullable float/double,
    NaN encodes as the IEEE value.
    """
    if rows_per_block is not None and rows_per_block < 1:
        # range(0, n, -5) is empty — a header-only file would silently
        # drop every row
        raise ValueError(
            f"write_avro: rows_per_block ({rows_per_block}) must be >= 1"
        )

    def _compress(block: bytes) -> bytes:
        if codec == "deflate":
            comp = zlib.compressobj(9, zlib.DEFLATED, -15)
            return comp.compress(block) + comp.flush()
        if codec != "null":
            raise NotImplementedError(codec)
        return block

    # RANDOM per-file sync marker, as the spec intends: a fixed ASCII
    # marker can occur verbatim inside row data, and the range-split
    # scanner (_scan_sync) would treat that as a block boundary and
    # decode garbage (found by review with b"0123456789abcdef" embedded
    # in a string field). 16 random bytes make a data collision 2^-128.
    import os as _os

    sync = _os.urandom(16)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    out = bytearray(MAGIC)
    out += _zigzag(len(meta))
    for k, v in meta.items():
        ke = k.encode()
        out += _zigzag(len(ke)) + ke + _zigzag(len(v)) + v
    out += _zigzag(0)
    out += sync
    qschema, named = _prepare_schema(schema)
    step = rows_per_block or max(len(rows), 1)
    for i in range(0, len(rows), step):
        chunk = rows[i : i + step]
        block = _compress(
            b"".join(_encode(row, qschema, named) for row in chunk)
        )
        out += _zigzag(len(chunk)) + _zigzag(len(block)) + block + sync
    with open(path, "wb") as fh:
        fh.write(bytes(out))
