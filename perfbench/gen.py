"""Seeded inputs for the CDC benchmark and the references its results are
checked against.

The catchup capture is the orders changelog that ``cdc/generator.py``
defines (and the CDC queries use), written by the engine's own capture
recorder. The trickle stream and every reference are plain Python.

A capture is a list of ``(file name, bytes)`` in arrival order. File names
sort in arrival order, because the ``cdc-binlog`` source's offsets count
files in name order.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import math
import os
import random
import struct
from dataclasses import dataclass, field

from informixcdc_spark.cdc.binary import decode_record, encode_record, encode_row_image, split_stream
from informixcdc_spark.cdc.generator import ORDERS_TABID
from informixcdc_spark.cdc.model import RecordType
from informixcdc_spark.cdc.typemap import parse_ddl

#: the orders capture schema (the same DDL the c09/c10 captures announce)
ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus varchar(2), "
    "o_totalprice float, o_orderdate datetime year to fraction, "
    "o_orderpriority varchar(20)"
)
WIRE = parse_ddl(ORDERS_DDL)
COLS = [c.name for c in WIRE]
KEY = "o_orderkey"

_STATUSES = ("O", "F", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DATE0 = dt.datetime(1992, 1, 1)


@dataclass
class Capture:
    """Generated capture files plus what the checks need to know about them."""

    files: list[tuple[str, bytes]]
    #: committed txid -> index (into ``files``) of the file holding its COMMTX
    commit_file: dict[int, int] = field(default_factory=dict)
    #: committed txid -> position of its COMMTX among its file's records
    commit_index: dict[int, int] = field(default_factory=dict)
    #: records per file
    records: list[int] = field(default_factory=list)

    def fingerprint(self, **params) -> str:
        """sha256 over the capture bytes, in arrival order, plus the seed and
        parameters that produced them. Two results are comparable only when
        their fingerprints are equal."""
        h = hashlib.sha256()
        for k in sorted(params):
            h.update(f"{k}={params[k]};".encode())
        for name, data in self.files:
            h.update(name.encode() + b"\0" + struct.pack(">Q", len(data)) + data)
        return h.hexdigest()


# ---------------------------------------------------------------------------
# rows
# ---------------------------------------------------------------------------
def order_row(rng: random.Random, key: int) -> dict:
    return {
        "o_orderkey": key,
        "o_custkey": rng.randrange(1, 15_000),
        "o_orderstatus": rng.choice(_STATUSES),
        "o_totalprice": round(rng.uniform(850.0, 550_000.0), 2),
        # fractional seconds exercise the DATETIME fraction encoding
        "o_orderdate": _DATE0
        + dt.timedelta(seconds=rng.randrange(0, 2400 * 86400), microseconds=rng.randrange(0, 10**6)),
        "o_orderpriority": rng.choice(_PRIORITIES),
    }


def orders_rows(seed: int, n: int) -> list[dict]:
    """``n`` orders with keys ``0..n-1`` (the generator's closed form keys off
    ``o_orderkey`` modulo small primes, so keys are dense like the fixture)."""
    rng = random.Random(f"orders/{seed}")
    return [order_row(rng, k) for k in range(n)]


def row_tuple(row: dict) -> tuple:
    """The comparable form of a table row: timestamps as epoch micros."""
    d = row["o_orderdate"] - dt.datetime(1970, 1, 1)
    micros = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    return (
        row["o_orderkey"],
        row["o_custkey"],
        row["o_orderstatus"],
        row["o_totalprice"],
        micros,
        row["o_orderpriority"],
    )


def table_digest(rows) -> tuple[int, int]:
    """(row count, order-independent hash) of an iterable of row tuples: the
    sum, mod 2**64, of a 64-bit hash of each row's repr. Floats repr exactly,
    so equal digests mean equal multisets of rows (up to hash collisions)."""
    n, total = 0, 0
    for t in rows:
        n += 1
        total += int.from_bytes(hashlib.blake2b(repr(t).encode(), digest_size=8).digest(), "big")
    return n, total % (1 << 64)


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------
def _iud(rtype: RecordType, seq: int, txid: int, row: dict) -> bytes:
    return encode_record(
        rtype, seq=seq, txid=txid, tabid=ORDERS_TABID, row_image=encode_row_image(WIRE, row)
    )


def _cut(cap: Capture, records: list[bytes], bounds: list[int], prefix: str,
         commit_at: dict[int, int]) -> None:
    """Append the files ``records[bounds[i]:bounds[i+1]]`` to ``cap`` and
    locate each COMMTX (txid -> position in ``records``) in them."""
    first = len(cap.files)
    for i in range(len(bounds) - 1):
        cap.files.append((f"{prefix}-{i:05d}.bin", b"".join(records[bounds[i] : bounds[i + 1]])))
        cap.records.append(bounds[i + 1] - bounds[i])
    for txid, pos in commit_at.items():
        f = bisect.bisect_right(bounds, pos) - 1
        cap.commit_file[txid] = first + f
        cap.commit_index[txid] = pos - bounds[f]


# ---------------------------------------------------------------------------
# catchup: the orders changelog, present before the query starts
# ---------------------------------------------------------------------------
def catchup_capture(spark, seed: int, n_orders: int, n_files: int, work_dir: str):
    """The engine's orders changelog (``cdc/generator.py``) over ``n_orders``
    seeded orders, encoded by the engine's capture recorder
    (``write_capture_from_changelog``) into ``n_files`` files under
    ``work_dir/capture``. Returns ``(capture, orders rows)``.

    Files are cut on seq ranges, each cut inside a transaction (after its
    seq ``k*10+4``, as c09 splits its capture), so transactions straddle
    files. Each file is written from one coalesced, seq-sorted partition:
    the cuts are fixed by the seed, where a range repartition would sample
    its bounds."""
    import pandas as pd
    from pyspark.sql import functions as F

    from informixcdc_spark.cdc.generator import orders_changelog
    from informixcdc_spark.sources.binlog import write_capture_from_changelog

    rows = orders_rows(seed, n_orders)
    sf_dir = os.path.join(work_dir, "sf")
    os.makedirs(sf_dir, exist_ok=True)
    pd.DataFrame(rows).astype({"o_orderdate": "datetime64[us]"}).to_parquet(
        os.path.join(sf_dir, "orders.parquet"), index=False
    )
    log = orders_changelog(spark, sf_dir)
    seq = F.col("seq_number")
    bounds = [-1] + [(i * n_orders // n_files) * 10 + 4 for i in range(1, n_files)] + [n_orders * 10]
    cap_dir = os.path.join(work_dir, "capture")
    for i in range(n_files):
        part = log.where((seq > bounds[i]) & (seq <= bounds[i + 1]))
        write_capture_from_changelog(
            part.coalesce(1).sortWithinPartitions("seq_number"), WIRE, ORDERS_TABID, cap_dir,
            prefix=f"c{i:02d}",
        )
    return read_capture(cap_dir), rows


def read_capture(d: str) -> Capture:
    """The capture files in ``d`` in arrival (name) order, with each COMMTX
    located."""
    cap = Capture([])
    for name in sorted(n for n in os.listdir(d) if n.endswith(".bin")):
        with open(os.path.join(d, name), "rb") as fh:
            data = fh.read()
        recs = list(split_stream(data, strict=True))
        for i, rec in enumerate(recs):
            r = decode_record(rec)
            if r["record_type"] == "COMMTX":
                cap.commit_file[r["transaction_id"]] = len(cap.files)
                cap.commit_index[r["transaction_id"]] = i
        cap.files.append((name, data))
        cap.records.append(len(recs))
    return cap


def closed_form(rows: list[dict]) -> list[tuple]:
    """The final table ``cdc/generator.py`` documents for its changelog:
    orders not rolled back (k%10!=3), committed (k%13!=11) and not deleted
    (k%7!=0), with totalprice * 1.1 where k%5==0."""
    out = []
    for r in rows:
        k = r["o_orderkey"]
        if k % 10 == 3 or k % 13 == 11 or k % 7 == 0:
            continue
        if k % 5 == 0:
            r = dict(r, o_totalprice=r["o_totalprice"] * 1.1)
        out.append(row_tuple(r))
    return out


# ---------------------------------------------------------------------------
# trickle: a base table, then small files of Zipf-keyed transactions
# ---------------------------------------------------------------------------
@dataclass
class Txn:
    txid: int
    #: [(record type name, row)] in seq order; UPDBEF rows are images only
    ops: list[tuple[str, dict]]
    committed: bool


@dataclass
class Trickle:
    base: list[dict]
    #: keys the generator never modifies (the reader checks these)
    frozen: list[int]
    #: base files first, then the arrival files, in arrival order
    capture: Capture
    n_base_files: int
    txns: list[Txn]


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return [c / acc for c in out]


#: base rows per committed insert transaction
_BASE_TXN_ROWS = 500
#: Zipf exponent of the key choice for updates and deletes
_ZIPF_S = 1.1


def trickle_stream(
    seed: int, n_base: int, n_files: int, events_per_file: int, n_frozen: int = 200
) -> Trickle:
    """Base rows (keys ``0..n_base-1``, inserted by committed transactions
    in one file), then ``n_files`` arrival files of about ``events_per_file``
    records each.

    Arrival transactions touch 1-6 keys: 75% updates (UPDBEF+UPDAFT) of
    existing keys drawn by a seeded Zipf over a shuffled key order, 12.5%
    inserts of new keys and 12.5% deletes; 10% roll back. Transactions are
    sequential in the stream and shorter than a file, so one transaction
    straddles each cut and every transaction ends within two files. The
    ``frozen`` keys are never touched."""
    rng = random.Random(f"trickle/{seed}")
    base = [order_row(rng, k) for k in range(n_base)]
    keys = list(range(n_base))
    rng.shuffle(keys)
    frozen, mutable = sorted(keys[:n_frozen]), keys[n_frozen:]
    cdf = _zipf_cdf(len(mutable), _ZIPF_S)

    seq = 0
    txid = 0
    records: list[bytes] = []

    def emit(rec_fn, *args, **kw):
        nonlocal seq
        seq += 1
        records.append(rec_fn(*args, seq=seq, **kw))

    # base: committed insert transactions
    for i in range(0, n_base, _BASE_TXN_ROWS):
        txid += 1
        emit(encode_record, RecordType.BEGINTX, txid=txid, start_time=txid, user_id=1)
        for row in base[i : i + _BASE_TXN_ROWS]:
            seq += 1
            records.append(_iud(RecordType.INSERT, seq, txid, row))
        emit(encode_record, RecordType.COMMTX, txid=txid, commit_time=txid)
    cap = Capture([])
    _cut(cap, records, [0, len(records)], "a", {})

    live = {r[KEY]: r for r in base}
    next_key = n_base
    txns: list[Txn] = []
    records = []
    commit_at: dict[int, int] = {}
    target = n_files * events_per_file
    while len(records) < target:
        txid += 1
        view: dict[int, dict | None] = {}  # this txn's writes

        def current(k):
            return view[k] if k in view else live.get(k)

        ops: list[tuple[str, dict]] = []
        for _ in range(rng.randint(1, 6)):
            u = rng.random()
            if u < 0.125:
                k, next_key = next_key, next_key + 1
                row = order_row(rng, k)
                ops.append(("INSERT", row))
                view[k] = row
                continue
            k = mutable[bisect.bisect_left(cdf, rng.random())]
            cur = current(k)
            if cur is None:  # deleted earlier: re-insert
                row = order_row(rng, k)
                ops.append(("INSERT", row))
                view[k] = row
            elif u < 0.25:
                ops.append(("DELETE", cur))
                view[k] = None
            else:
                new = dict(cur, o_totalprice=round(cur["o_totalprice"] + rng.uniform(-50, 50), 2),
                           o_orderstatus=rng.choice(_STATUSES))
                ops.append(("UPDBEF", cur))
                ops.append(("UPDAFT", new))
                view[k] = new
        committed = rng.random() >= 0.10
        emit(encode_record, RecordType.BEGINTX, txid=txid, start_time=txid, user_id=1)
        for rtype, row in ops:
            seq += 1
            records.append(_iud(RecordType[rtype], seq, txid, row))
        if committed:
            commit_at[txid] = len(records)
            emit(encode_record, RecordType.COMMTX, txid=txid, commit_time=txid)
            for k, row in view.items():
                if row is None:
                    live.pop(k, None)
                else:
                    live[k] = row
        else:
            emit(encode_record, RecordType.RBTX, txid=txid)
        txns.append(Txn(txid, ops, committed))
    # cut on exact event counts; the stream overshoots the last file by less
    # than one transaction, which stays in the last file
    bounds = [i * events_per_file for i in range(n_files)] + [len(records)]
    _cut(cap, records, bounds, "t", commit_at)
    return Trickle(base, frozen, cap, 1, txns)


def replay(base: list[dict], txns: list[Txn], commit_file: dict[int, int], n_released: int) -> list[tuple]:
    """The reference table: the base, then every transaction whose COMMTX is
    in the first ``n_released`` files, applied in commit order. Independent
    of the generator's own bookkeeping: it reads only the emitted ops."""
    table = {r[KEY]: r for r in base}
    for t in sorted(
        (t for t in txns if t.committed and commit_file[t.txid] < n_released),
        key=lambda t: t.txid,  # txns are sequential: commit order = txid order
    ):
        for rtype, row in t.ops:
            if rtype in ("INSERT", "UPDAFT"):
                table[row[KEY]] = row
            elif rtype == "DELETE":
                table.pop(row[KEY], None)
    return [row_tuple(r) for r in table.values()]


# ---------------------------------------------------------------------------
# lag accounting
# ---------------------------------------------------------------------------
def txn_lags(
    commit_file: dict[int, int],
    created: dict[int, float],
    batches: list[tuple[int, float]],
) -> list[float]:
    """Per committed transaction: the pointer-commit time of the first batch
    whose end offset covers its COMMTX file, minus the transaction's creation
    time. ``created`` maps txid -> creation time; transactions absent from it
    are not measured. ``batches`` is ``[(end offset in files, pointer commit
    time)]``."""
    batches = sorted(batches)
    ends = [b[0] for b in batches]
    lags = []
    for txid, t in created.items():
        f = commit_file[txid]
        i = bisect.bisect_right(ends, f)
        if i == len(batches):
            raise ValueError(f"file {f} was never committed")
        lags.append(batches[i][1] - t)
    return lags


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return math.nan
    x = (len(v) - 1) * q / 100.0
    lo = math.floor(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def tail_percentile(n: int, wanted: float) -> float:
    """The highest percentile up to ``wanted`` that leaves at least ten of
    ``n`` samples beyond it; the median when no tail percentile does."""
    return max(50.0, min(wanted, 100.0 * (1 - 10 / n)))
