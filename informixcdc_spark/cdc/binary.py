"""Binary change-record codec: envelope + typed row images.

Wire format (mirrors the reference's framing, SURVEY.md §1.1):

- envelope, 16 bytes, all big-endian int32: ``header_sz`` (=16),
  ``payload_sz``, ``packet_scheme`` (must be 66 —
  ``ext/_informixcdcmodule.ec:56,1816-1820``), ``record_number`` (tag);
- payload layouts per tag (offsets per SURVEY §1.2):
  BEGINTX  seq:i64 txid:i32 start_time:i64 user_id:i32
  COMMTX   seq:i64 txid:i32 commit_time:i64
  RBTX     seq:i64 txid:i32
  DISCARD  seq:i64 txid:i32
  TRUNCATE seq:i64 txid:i32 tabid:i32
  TABSCHEM tabid:i32 flags:i32 fix_len_sz:i32 fix_len_cols:i32
           var_len_cols:i32 cols_desc:utf8
  TIMEOUT  seq:i64
  IUD      seq:i64 txid:i32 tabid:i32 flags:i32 row-image
    (row image starts at payload offset 20 = CHANGE_HEADER_SZ,
     ``ext/_informixcdcmodule.ec:63``)
- row image: first a side-channel array of 4-byte BE lengths, one per
  var-length column in table order (``ext/_informixcdcmodule.ec:
  1183-1184``; 0xFFFFFFFF = NULL), then column data in table order —
  fixed types advance by ``col_size``, var types by their decoded length
  (VARCHAR skips a 1-byte prefix, LVARCHAR a 3-byte prefix —
  ``ext/_informixcdcmodule.ec:447-448,915-954``).

Scalar encodings follow SURVEY §1.4: big-endian integers, INT8 as
2-byte sign plus 32-bit lo/hi halves, DATE as julian days since
1899-12-31 (``rjulmdy`` semantics), CHAR fixed-width and NOT trimmed,
BOOL as null-flag byte + value byte. DECIMAL and DATETIME get real
encodings of our own design (flag + scale + 128-bit unscaled BE int;
flag + 64-bit epoch-micros) — the reference stubs both types to the
string "0.0" (dead code below an early break, ``ext/_informixcdcmodule
.ec:18-22,1024-1126``), a bug we deliberately do not reproduce.

NULL sentinels (reference uses ESQL ``risnull``; ours are explicit and
documented): INT/SMALLINT/BIGINT/DATE use their type's minimum value,
INT8 a sign byte of 2, floats a fixed quiet-NaN bit pattern, CHAR a
leading NUL byte, var-length columns 0xFFFFFFFF in the length array,
BOOL/DECIMAL/DATETIME a flag byte of 1.

There is one decoder: one envelope parser (:func:`parse_envelope`, fed
by :func:`split_stream` in the ``cdc-binlog`` source) and one typed-row
builder (:func:`_changelog_rows`), which every decode entry point goes
through. It runs as ``mapInPandas`` (Arrow-batched; binary frame walks
are genuinely inexpressible as column expressions — SURVEY §4.1's one
custom physical piece). The encoder is plain Python, used to build test
fixtures and golden streams (the analog of the reference's OWRITESBLOB
recorder, ``ext/_informixcdcmodule.ec:201-217``).
"""

from __future__ import annotations

import bisect
import datetime as dt
import struct
from collections.abc import Iterable, Iterator
from decimal import Decimal, localcontext

import numpy as np
import pandas as pd

from informixcdc_spark.cdc.model import (
    ENVELOPE_SZ,
    PACKET_SCHEME,
    RecordType,
    changelog_schema,
)
from informixcdc_spark.cdc.typemap import WireColumn, to_struct

_EPOCH_DATE = dt.date(1899, 12, 31)  # Informix julian day 0
_NULL_F64 = b"\x7f\xf8\x00\x00\xde\xad\xbe\xef"
_NULL_F32 = b"\x7f\xc0\xde\xad"
_NULL_VARLEN = 0xFFFFFFFF
_I32_MIN = -(1 << 31)
_I16_MIN = -(1 << 15)
_I64_MIN = -(1 << 63)


# ---------------------------------------------------------------------------
# scalar encode / decode
# ---------------------------------------------------------------------------
def _encode_scalar(col: WireColumn, v) -> bytes:
    t = col.ifx_type
    if t in ("int8", "serial8"):
        if v is None:
            return struct.pack(">HII", 2, 0, 0)
        sign = 1 if v < 0 else 0
        mag = -v if v < 0 else v
        return struct.pack(">HII", sign, mag & 0xFFFFFFFF, mag >> 32)
    if t in ("int", "integer", "serial"):
        return struct.pack(">i", _I32_MIN if v is None else int(v))
    if t == "bigint":
        return struct.pack(">q", _I64_MIN if v is None else int(v))
    if t == "smallint":
        return struct.pack(">h", _I16_MIN if v is None else int(v))
    if t in ("float", "double precision"):
        return _NULL_F64 if v is None else struct.pack(">d", float(v))
    if t in ("smallfloat", "real"):
        return _NULL_F32 if v is None else struct.pack(">f", float(v))
    if t == "date":
        days = _I32_MIN if v is None else (v - _EPOCH_DATE).days
        return struct.pack(">i", days)
    if t == "boolean":
        return struct.pack(">BB", 1 if v is None else 0, 1 if v else 0)
    if t == "char":
        if v is None:
            return b"\x00" * col.col_size
        raw = str(v).encode("utf-8")[: col.col_size]
        return raw.ljust(col.col_size, b" ")  # pad, never trim (ec:905)
    if t in ("decimal", "money"):
        if v is None:
            return struct.pack(">B", 1) + b"\x00" * 17
        with localcontext() as ctx:
            ctx.prec = 50  # a decimal(32,16) needs more than the default 28
            d = Decimal(v).scaleb(col.scale).to_integral_value()
        return (
            struct.pack(">BB", 0, col.scale)
            + int(d).to_bytes(16, "big", signed=True)
        )
    if t == "datetime":
        if v is None:
            return struct.pack(">B", 1) + b"\x00" * 8
        # integer arithmetic: float .timestamp() loses sub-µs precision
        td = v.replace(tzinfo=None) - dt.datetime(1970, 1, 1)
        micros = (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds
        return struct.pack(">Bq", 0, micros)
    if t == "interval":
        # day-time interval span: null flag + signed BE micros — the
        # DATETIME layout minus the epoch anchor. The reference's
        # INTERVAL decode is the same dead "0.0" stub as DATETIME
        # (ext/_informixcdcmodule.ec:1073-1126); we decode correctly.
        if v is None:
            return struct.pack(">B", 1) + b"\x00" * 8
        micros = (v.days * 86400 + v.seconds) * 1_000_000 + v.microseconds
        return struct.pack(">Bq", 0, micros)
    if t == "interval_ym":
        # year-month interval span: null flag + signed BE month count
        # (years fold in as 12 months each; see typemap.parse_ddl for
        # why the decoded representation is the month INT).
        if v is None:
            return struct.pack(">B", 1) + b"\x00" * 4
        return struct.pack(">Bi", 0, v)
    raise ValueError(f"no encoder for {t!r}")


def _decode_scalar(col: WireColumn, buf: bytes, off: int):
    t = col.ifx_type
    if t in ("int8", "serial8"):
        sign, lo, hi = struct.unpack_from(">HII", buf, off)
        if sign == 2:
            return None
        mag = (hi << 32) | lo
        return -mag if sign == 1 else mag
    if t in ("int", "integer", "serial"):
        v = struct.unpack_from(">i", buf, off)[0]
        return None if v == _I32_MIN else v
    if t == "bigint":
        v = struct.unpack_from(">q", buf, off)[0]
        return None if v == _I64_MIN else v
    if t == "smallint":
        v = struct.unpack_from(">h", buf, off)[0]
        return None if v == _I16_MIN else v
    if t in ("float", "double precision"):
        raw = buf[off : off + 8]
        return None if raw == _NULL_F64 else struct.unpack(">d", raw)[0]
    if t in ("smallfloat", "real"):
        raw = buf[off : off + 4]
        return None if raw == _NULL_F32 else struct.unpack(">f", raw)[0]
    if t == "date":
        v = struct.unpack_from(">i", buf, off)[0]
        return None if v == _I32_MIN else _EPOCH_DATE + dt.timedelta(days=v)
    if t == "boolean":
        nul, val = struct.unpack_from(">BB", buf, off)
        return None if nul else bool(val)
    if t == "char":
        raw = buf[off : off + col.col_size]
        return None if raw[:1] == b"\x00" else raw.decode("utf-8")
    if t in ("decimal", "money"):
        if buf[off] == 1:
            return None
        scale = buf[off + 1]
        unscaled = int.from_bytes(buf[off + 2 : off + 18], "big", signed=True)
        with localcontext() as ctx:
            ctx.prec = 50
            return Decimal(unscaled).scaleb(-scale)
    if t == "datetime":
        if buf[off] == 1:
            return None
        micros = struct.unpack_from(">q", buf, off + 1)[0]
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros)
    if t == "interval":
        if buf[off] == 1:
            return None
        micros = struct.unpack_from(">q", buf, off + 1)[0]
        return dt.timedelta(microseconds=micros)
    if t == "interval_ym":
        if buf[off] == 1:
            return None
        return struct.unpack_from(">i", buf, off + 1)[0]
    raise ValueError(f"no decoder for {t!r}")


# ---------------------------------------------------------------------------
# row image
# ---------------------------------------------------------------------------
def encode_row_image(cols: list[WireColumn], values: dict) -> bytes:
    varlens, data = [], []
    for c in cols:
        v = values.get(c.name)
        if c.varlen:
            if v is None:
                varlens.append(_NULL_VARLEN)
            else:
                raw = str(v).encode("utf-8")
                prefix = 3 if c.ifx_type == "lvarchar" else 1
                varlens.append(prefix + len(raw))
                data.append(b"\x00" * prefix + raw)
        else:
            data.append(_encode_scalar(c, v))
    return b"".join(struct.pack(">I", n) for n in varlens) + b"".join(data)


def decode_row_image(cols: list[WireColumn], buf: bytes, off: int) -> dict:
    n_var = sum(1 for c in cols if c.varlen)
    lengths = struct.unpack_from(f">{n_var}I", buf, off) if n_var else ()
    pos = off + 4 * n_var
    out, vi = {}, 0
    for c in cols:
        if c.varlen:
            ln = lengths[vi]
            vi += 1
            if ln == _NULL_VARLEN:
                out[c.name] = None
            else:
                prefix = 3 if c.ifx_type == "lvarchar" else 1
                out[c.name] = buf[pos + prefix : pos + ln].decode("utf-8")
                pos += ln
        else:
            out[c.name] = _decode_scalar(c, buf, pos)
            pos += c.col_size
    return out


# ---------------------------------------------------------------------------
# records
# ---------------------------------------------------------------------------
_ENVELOPE = struct.Struct(">iiii")

#: the envelope parser's output, one row per framed record and the
#: ``cdc-binlog`` source's schema: every variant's fields nullable
#: (§1.2), plus the raw row image for the per-table row codec and the
#: record's position in its capture
BINLOG_DDL = (
    "seq_number BIGINT, record_type STRING, transaction_id BIGINT, "
    "tabid INT, flags INT, start_time BIGINT, commit_time BIGINT, "
    "user_id INT, cols_desc STRING, row_image BINARY, stream_pos BIGINT"
)
_ENVELOPE_COLS = [c.split()[0] for c in BINLOG_DDL.split(",")]
# positions in BINLOG_DDL
_SEQ, _TXID, _TABID, _FLAGS, _START, _COMMIT, _USER, _DESC, _IMAGE = (
    0, 2, 3, 4, 5, 6, 7, 8, 9
)

#: tag → (name, fixed payload header, the BINLOG_DDL position each header
#: field fills (None: not carried), the position the payload's tail
#: fills) — the layouts in the module docstring
_LAYOUTS = {
    t.value: (t.name, struct.Struct(fmt), slots, tail)
    for t, fmt, slots, tail in [
        (RecordType.BEGINTX, ">qiqi", (_SEQ, _TXID, _START, _USER), None),
        (RecordType.COMMTX, ">qiq", (_SEQ, _TXID, _COMMIT), None),
        (RecordType.RBTX, ">qi", (_SEQ, _TXID), None),
        (RecordType.INSERT, ">qiii", (_SEQ, _TXID, _TABID, _FLAGS), _IMAGE),
        (RecordType.DELETE, ">qiii", (_SEQ, _TXID, _TABID, _FLAGS), _IMAGE),
        (RecordType.UPDBEF, ">qiii", (_SEQ, _TXID, _TABID, _FLAGS), _IMAGE),
        (RecordType.UPDAFT, ">qiii", (_SEQ, _TXID, _TABID, _FLAGS), _IMAGE),
        (RecordType.DISCARD, ">qi", (_SEQ, _TXID), None),
        (RecordType.TRUNCATE, ">qii", (_SEQ, _TXID, _TABID), None),
        (RecordType.TABSCHEM, ">iiiii", (_TABID, _FLAGS, None, None, None), _DESC),
        (RecordType.TIMEOUT, ">q", (_SEQ,), None),
        (RecordType.ERROR, "", (), None),
    ]
}


def _frame(tag: int, payload: bytes) -> bytes:
    return _ENVELOPE.pack(ENVELOPE_SZ, len(payload), PACKET_SCHEME, tag) + payload


def encode_record(
    rtype: RecordType,
    seq: int = 0,
    txid: int = 0,
    tabid: int = 0,
    flags: int = 0,
    start_time: int = 0,
    commit_time: int = 0,
    user_id: int = 0,
    cols_desc: str = "",
    row_image: bytes = b"",
) -> bytes:
    _name, head, slots, tail = _LAYOUTS[rtype.value]
    fields = {
        _SEQ: seq,
        _TXID: txid,
        _TABID: tabid,
        _FLAGS: flags,
        _START: start_time,
        _COMMIT: commit_time,
        _USER: user_id,
    }
    payload = head.pack(*(fields.get(slot, 0) for slot in slots))
    if tail == _IMAGE:
        payload += row_image
    elif tail == _DESC:
        payload += cols_desc.encode("utf-8")
    return _frame(rtype.value, payload)


def split_stream(buf: bytes, strict: bool = False) -> Iterator[bytes]:
    """Frame a raw byte stream into records (the fetchone frame check,
    ``ext/_informixcdcmodule.ec:2245-2254``).

    A trailing PARTIAL record (a chunked transport cutting mid-record —
    fewer than 16 envelope bytes, or a frame longer than the remaining
    buffer) is NOT yielded: emitting a truncated frame would decode
    garbage downstream. Callers that stitch chunks retry the remainder
    with the next chunk appended; callers framing a COMPLETE unit (a
    whole capture file) pass ``strict=True`` so a torn tail fails
    loudly instead of silently losing the final record.

    A frame whose envelope cannot be right — a bad packet scheme, a
    header shorter than the envelope, a negative payload size — raises
    ``ValueError`` naming its offset, so every yielded frame is at least
    16 bytes and the walk always advances."""
    pos = 0
    while pos + ENVELOPE_SZ <= len(buf):
        header_sz, payload_sz, scheme, _tag = _ENVELOPE.unpack_from(buf, pos)
        if scheme != PACKET_SCHEME:
            raise ValueError(f"bad packet scheme {scheme} at offset {pos}")
        if header_sz < ENVELOPE_SZ or payload_sz < 0:
            raise ValueError(
                f"bad frame size (header {header_sz}, payload {payload_sz}) "
                f"at offset {pos}"
            )
        sz = header_sz + payload_sz
        if pos + sz > len(buf):
            break  # incomplete trailing frame
        yield buf[pos : pos + sz]
        pos += sz
    if strict and pos != len(buf):
        raise ValueError(
            f"truncated trailing frame: {len(buf) - pos} leftover bytes "
            f"after offset {pos}"
        )


def parse_envelope(rec: bytes, stream_pos: int = 0) -> tuple:
    """One framed record → its envelope row, a tuple in ``BINLOG_DDL``
    column order (the per-tag extractors P3–P13, row codec aside). The
    engine's one envelope parser: the ``cdc-binlog`` source,
    :func:`decode_stream_df` and :func:`decode_record` all go through it.

    ``stream_pos`` is the record's position in its capture — the source
    passes its LSN analog; a one-schema decode can leave it at 0. A bad
    packet scheme, an unknown tag, or a frame shorter than its record
    type's fixed header raises ``ValueError``."""
    if len(rec) < ENVELOPE_SZ:
        raise ValueError(f"record of {len(rec)} bytes has no envelope")
    _header_sz, _payload_sz, scheme, tag = _ENVELOPE.unpack_from(rec, 0)
    if scheme != PACKET_SCHEME:
        raise ValueError(f"bad packet scheme {scheme}")
    layout = _LAYOUTS.get(tag)
    if layout is None:
        raise ValueError(f"unknown record tag {tag}")
    name, head, slots, tail = layout
    body = ENVELOPE_SZ + head.size
    if len(rec) < body:
        raise ValueError(
            f"{name} record of {len(rec)} bytes is shorter than its "
            f"{body}-byte header"
        )
    env = [None, name, None, None, None, None, None, None, None, None, stream_pos]
    for slot, v in zip(slots, head.unpack_from(rec, ENVELOPE_SZ)):
        if slot is not None:
            env[slot] = v
    if tail == _IMAGE:
        env[_IMAGE] = rec[body:]
    elif tail == _DESC:
        env[_DESC] = rec[body:].decode("utf-8")
    return tuple(env)


def _replay_flags(record_type: str, seq: int, last_seq_number: int):
    """(discard_candidate, discard_transaction) for one record — the
    reference's per-record replay markers (strict ``seq <`` comparison,
    ext/_informixcdcmodule.ec:1459-1461,1527-1529,1585-1587); None on
    the records that carry no marker."""
    if record_type == "BEGINTX":
        return seq < last_seq_number, None
    if record_type in ("COMMTX", "RBTX"):
        return None, seq < last_seq_number
    return None, None


def decode_record(
    rec: bytes,
    registry: dict[int, list[WireColumn]] | None = None,
    last_seq_number: int = 0,
) -> dict:
    """One framed record → generic dict: the :func:`parse_envelope`
    fields its record type carries, plus the decoded ``row`` of an IUD
    record whose table ``registry`` holds. The scalar, Spark-free view
    of a record.

    ``last_seq_number`` is the session's last-committed LSN resolved at
    activate time (0 before any commit, matching the reference's init —
    ``ext/_informixcdcmodule.ec:300``). BEGINTX records gain a
    ``discard_candidate`` flag and COMMTX/RBTX a ``discard_transaction``
    flag, both ``seq_number < last_seq_number`` — the per-record replay
    markers the reference computes in its extractors
    (``ext/_informixcdcmodule.ec:1459-1461,1527-1529,1585-1587``)."""
    env = parse_envelope(rec)
    out = {k: v for k, v in zip(_ENVELOPE_COLS[:_DESC + 1], env) if v is not None}
    if env[_IMAGE] is not None and registry and out["tabid"] in registry:
        out["row"] = decode_row_image(registry[out["tabid"]], env[_IMAGE], 0)
    cand, txn = _replay_flags(out["record_type"], env[_SEQ], last_seq_number)
    if cand is not None:
        out["discard_candidate"] = cand
    if txn is not None:
        out["discard_transaction"] = txn
    return out


# ---------------------------------------------------------------------------
# typed changelog rows
# ---------------------------------------------------------------------------
#: epoch-0 sentinel: a stream position before every real one, for the
#: schema a caller knows before any in-stream announcement
_EPOCH0_POS = -(1 << 62)


def _changelog_rows(
    envelopes: Iterable[tuple],
    epochs: list[tuple[int, list[WireColumn]]],
    table_tabid: int,
    tabname: str,
    last_seq_number: int,
) -> Iterator[tuple]:
    """The engine's one typed-row builder: envelope rows (``BINLOG_DDL``
    order) → changelog rows (``changelog_schema`` order) for one table.

    Schema announcements and other tables' events are dropped; this
    table's IUD and TRUNCATE records carry ``tabid``/``tabname``, and
    table-less lifecycle records pass with a NULL row. A row image
    decodes with the epoch in force at its ``stream_pos`` (the greatest
    announcement position ≤ it; ``epochs`` ascending) and projects onto
    the latest epoch's columns."""
    positions = [pos for pos, _ in epochs]
    latest = epochs[-1][1]
    names = [c.name for c in latest]
    for env in envelopes:
        seq, rtype, txid, tabid, flags, start, commit, user, _, image, pos = env
        if rtype == "TABSCHEM" or (tabid is not None and tabid != table_tabid):
            continue
        row = None
        if image is not None:
            i = bisect.bisect_right(positions, pos) - 1
            if i < 0:
                raise ValueError(f"record at stream_pos={pos} precedes first TABSCHEM")
            cols = epochs[i][1]
            row = decode_row_image(cols, image, 0)
            if cols is not latest:
                row = {n: row.get(n) for n in names}
        cand, txn = _replay_flags(rtype, seq, last_seq_number)
        yield (
            seq or 0,
            rtype,
            txid,
            tabid,
            None if tabid is None else tabname,
            flags,
            start,
            commit,
            user,
            cand,
            txn,
            row,
        )


def _envelope_rows(pdf: pd.DataFrame) -> Iterator[tuple]:
    """One Arrow batch of envelope rows → tuples of plain Python values in
    ``BINLOG_DDL`` order. pandas widens an int column holding NULLs to
    float64 with NaN; such a column turns back into ints and None."""
    cols = []
    for name in _ENVELOPE_COLS:
        s = pdf[name]
        if s.dtype.kind == "f":
            vals = s.fillna(0).astype("int64").tolist()
            for i in np.flatnonzero(s.isna().to_numpy()).tolist():
                vals[i] = None
        else:
            vals = s.tolist()
        cols.append(vals)
    return zip(*cols)


def _decode_df(
    df,
    envelopes,
    schema_log: list[tuple[int, list[WireColumn]]],
    table_tabid: int,
    tabname: str,
    last_seq_number: int,
):
    """The one decode: an Arrow-batched ``mapInPandas`` in which
    ``envelopes`` turns each batch of ``df`` into envelope rows and
    :func:`_changelog_rows` builds the typed rows. Output ``row`` struct
    = the latest epoch's schema."""
    epochs = sorted(schema_log, key=lambda e: e[0])
    if not epochs:
        raise ValueError("schema_log is empty — no TABSCHEM for table")
    out_schema = changelog_schema(to_struct(epochs[-1][1]))
    names = out_schema.fieldNames()

    def _decode(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = _changelog_rows(
                envelopes(pdf), epochs, table_tabid, tabname, last_seq_number
            )
            yield pd.DataFrame(list(rows), columns=names)

    return df.mapInPandas(_decode, schema=out_schema)


def decode_stream_df(
    records_df,
    registry: dict[int, list[WireColumn]],
    table_tabid: int,
    tabname: str,
    last_seq_number: int = 0,
):
    """Binary records DataFrame (column ``record: binary``) → typed
    changelog DataFrame for one captured table: each record goes through
    :func:`parse_envelope`, then the same row builder as
    :func:`decode_envelope_df`, inside one ``mapInPandas`` — the only
    Python hot path in the engine, batch-vectorized at the transfer
    layer. Control records pass through with a NULL row struct.

    ``last_seq_number`` (the session watermark resolved at activate
    time) stamps BEGINTX/COMMTX/RBTX rows with the reference's
    per-record ``discard_candidate`` / ``discard_transaction`` replay
    markers. With the default 0, the flags are False on those records
    (nothing is a replay), matching the reference's fresh-session init;
    consumers that resolve the watermark only after decoding can instead
    stamp an already-decoded changelog with
    :func:`informixcdc_spark.cdc.apply.with_discard_flags`.
    """
    return _decode_df(
        records_df,
        lambda pdf: (parse_envelope(bytes(r)) for r in pdf["record"]),
        [(_EPOCH0_POS, registry[table_tabid])],
        table_tabid,
        tabname,
        last_seq_number,
    )


def decode_envelope_df(
    envelope_df,
    registry: dict[int, list[WireColumn]],
    table_tabid: int,
    tabname: str,
    last_seq_number: int = 0,
):
    """Envelope rows (the ``cdc-binlog`` source's output, with raw
    ``row_image`` bytes) → typed changelog DataFrame for one captured
    table, decoded with the one schema ``registry[table_tabid]``: the
    one-epoch call of :func:`decode_envelope_df_evolving`.
    ``last_seq_number`` stamps the per-record replay markers, as in
    :func:`decode_stream_df`."""
    return decode_envelope_df_evolving(
        envelope_df,
        [(_EPOCH0_POS, registry[table_tabid])],
        table_tabid,
        tabname,
        last_seq_number,
    )


def decode_envelope_df_evolving(
    envelope_df,
    schema_log: list[tuple[int, list[WireColumn]]],
    table_tabid: int,
    tabname: str,
    last_seq_number: int = 0,
):
    """Envelope rows → typed changelog DataFrame for one captured table,
    each row decoded with the schema IN FORCE at its stream position —
    the second half of the P1–P5 split: the source parses envelopes;
    this stage applies the per-table row codec that a TABSCHEM record
    announced (SURVEY §1.3). ``last_seq_number`` stamps the per-record
    replay markers, as in :func:`decode_stream_df`.

    ``schema_log`` is [(stream_pos, cols), ...] from the capture's own
    TABSCHEM records (ALTER TABLE re-announces the schema mid-stream —
    the reference rebuilds its registry the same way, SURVEY §1.3), or
    from a persisted :class:`informixcdc_spark.cdc.registry.EpochRegistry`
    when resuming a stream past already-consumed announcements. It is
    tiny (one entry per DDL change), so it broadcasts inside the UDF
    closure; the decode itself stays a distributed Arrow-batched map.

    Output struct = the LATEST schema, and every supported DDL
    transition projects onto it: column ADD (older-epoch rows null-fill
    the new column), column DROP (older-epoch values for a column absent
    from the latest schema vanish from the projection), and re-TYPE
    WIDENING such as int→bigint (each row image decodes with its own
    epoch's wire type, the value surfaces as the latest logical type; a
    narrowing re-TYPE fails loudly at the Arrow boundary rather than
    silently truncating).
    """
    return _decode_df(
        envelope_df, _envelope_rows, schema_log, table_tabid, tabname, last_seq_number
    )
