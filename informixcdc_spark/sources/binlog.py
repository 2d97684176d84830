"""Custom Spark data source for binary CDC capture files (S1/S2 parity).

The reference's stream source is a blocking byte pump over an SBLOB
channel (``ifx_lo_read``, ``ext/_informixcdcmodule.ec:2339-2341``) with a
golden-file replay mode that reads a recorded capture instead
(``mock_ifx_lo_read``, ``:176-199``). This module is the Spark-native
rendering of BOTH: a Python Data Source (`PySpark 4 datasource API
<https://spark.apache.org/docs/latest/api/python/tutorial/sql/python_data_source.html>`_)
that reads directories of recorded capture files — each file a
concatenation of framed records in the reference's exact wire format
(16-byte big-endian envelope, packet scheme 66; SURVEY.md §1.1) — as

- a batch DataFrame: ``spark.read.format("cdc-binlog").load(dir)``
- a micro-batch stream: ``spark.readStream.format("cdc-binlog")...`` with
  file-granular offsets (one capture file ≙ one server message batch, the
  ``max_records`` analog), exactly-once via the offset log.

Envelope decode happens per-partition on executors (one partition per
capture file) through the engine's one envelope parser
(``cdc/binary.py::parse_envelope``, which also defines the source schema
``BINLOG_DDL``) — at scale this parallelizes by file, the same unit the
reference's double buffer serializes on.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from informixcdc_spark.cdc.binary import BINLOG_DDL, parse_envelope, split_stream
from informixcdc_spark.cdc.model import RecordType


def _capture_files(path: str) -> list[str]:
    """Capture files in deterministic (name-sorted) arrival order."""
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".bin")
    )


def _decode_file(fname: str, file_idx: int = 0) -> Iterator[tuple]:
    """Envelope rows of one capture file, through the engine's one
    envelope parser. ``stream_pos`` = (file_idx << 32) | record ordinal
    — a total order over the capture, the LSN analog: control records
    that carry no seq (TABSCHEM) still get a position, which is what
    anchors schema epochs (see decode_envelope_df_evolving)."""
    with open(fname, "rb") as fh:
        buf = fh.read()
    # strict: a capture file is a complete unit — a torn tail record
    # means truncated storage and must fail loudly, not vanish
    for i, rec in enumerate(split_stream(buf, strict=True)):
        yield parse_envelope(rec, (file_idx << 32) | i)


class _FilePartition(InputPartition):
    def __init__(self, fname: str, file_idx: int = 0):
        self.fname = fname
        self.file_idx = file_idx


class _BinlogBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]

    def partitions(self) -> Sequence[InputPartition]:
        return [
            _FilePartition(f, i) for i, f in enumerate(_capture_files(self.path))
        ]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        return _decode_file(partition.fname, partition.file_idx)


class _BinlogStreamReader(DataSourceStreamReader):
    """File-granular micro-batch reader.

    Offset = number of capture files consumed; the offset log gives
    exactly-once delivery of each file (the engine-level analog of the
    reference's savepoint resume, R2–R4 — resumed streams skip files
    already committed to the checkpoint).
    """

    def __init__(self, options: dict):
        self.path = options["path"]

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def latestOffset(self) -> dict:
        return {"n_files": len(_capture_files(self.path))}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        files = _capture_files(self.path)
        return [
            _FilePartition(f, start["n_files"] + i)
            for i, f in enumerate(files[start["n_files"] : end["n_files"]])
        ]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        return _decode_file(partition.fname, partition.file_idx)

    def commit(self, end: dict) -> None:
        pass  # capture files are immutable; nothing to release


class CdcBinlogDataSource(DataSource):
    """``format("cdc-binlog")`` — batch + streaming reads of capture dirs."""

    @classmethod
    def name(cls) -> str:
        return "cdc-binlog"

    def schema(self) -> str:
        return BINLOG_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return _BinlogBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _BinlogStreamReader(self.options)


def register_binlog_source(spark) -> None:
    """Idempotently register the data source with a session."""
    spark.dataSource.register(CdcBinlogDataSource)


def write_capture_from_changelog(
    log_df, wire_cols, tabid: int, path: str, prefix: str = "part"
) -> int:
    """Distributed capture recorder (the S3 golden-file tap,
    ``write_testing_sblob`` ``ext/_informixcdcmodule.ec:201-217`` — there a
    debug build records the live byte stream; here every changelog
    partition encodes its records and writes one capture file). Returns
    the number of records written. Records are framed in seq order within
    each file; file order is partition order.

    Local-filesystem ``path`` works on local[*] and single-node tests; a
    cluster deployment points it at shared storage.
    """
    from informixcdc_spark.cdc.binary import encode_record, encode_row_image

    os.makedirs(path, exist_ok=True)
    col_names = [c.name for c in wire_cols]

    def _write(idx: int, rows) -> Iterator[int]:
        recs = []
        for r in rows:
            t = r["record_type"]
            if t in ("INSERT", "DELETE", "UPDBEF", "UPDAFT"):
                row = r["row"]
                img = encode_row_image(
                    wire_cols, {n: row[n] for n in col_names}
                )
                recs.append(
                    encode_record(
                        RecordType[t],
                        seq=r["seq_number"],
                        txid=int(r["transaction_id"]),
                        tabid=tabid,
                        flags=r["flags"] or 0,
                        row_image=img,
                    )
                )
            elif t == "BEGINTX":
                recs.append(
                    encode_record(
                        RecordType.BEGINTX,
                        seq=r["seq_number"],
                        txid=int(r["transaction_id"]),
                        start_time=r["start_time"] or 0,
                        user_id=r["user_id"] or 0,
                    )
                )
            elif t == "COMMTX":
                recs.append(
                    encode_record(
                        RecordType.COMMTX,
                        seq=r["seq_number"],
                        txid=int(r["transaction_id"]),
                        commit_time=r["commit_time"] or 0,
                    )
                )
            elif t in ("RBTX", "DISCARD"):
                recs.append(
                    encode_record(
                        RecordType[t],
                        seq=r["seq_number"],
                        txid=int(r["transaction_id"]),
                    )
                )
            elif t == "TRUNCATE":
                recs.append(
                    encode_record(
                        RecordType.TRUNCATE,
                        seq=r["seq_number"],
                        txid=int(r["transaction_id"]),
                        tabid=tabid,
                    )
                )
        if recs:
            with open(os.path.join(path, f"{prefix}-{idx:05d}.bin"), "wb") as fh:
                for rec in recs:
                    fh.write(rec)
        yield len(recs)

    return log_df.rdd.mapPartitionsWithIndex(_write).sum()
