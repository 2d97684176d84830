"""Change-record data model.

The reference's unit of data is a change record: a 16-byte envelope plus
a typed payload, one of 12 variants (tags defined at
``ext/_informixcdcmodule.ec:69-80``, dispatch at ``:1827-1892``). Our
logical model is the flat nullable-per-variant StructType below (the same
shape Debezium-style CDC streams use), with the decoded row image carried
as a typed struct instead of the reference's list of ``{name, value}``
dicts (``ext/_informixcdcmodule.ec:1140-1145``).
"""

from __future__ import annotations

from enum import IntEnum

from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class RecordType(IntEnum):
    """Record tags — values match ext/_informixcdcmodule.ec:69-80."""

    BEGINTX = 1
    COMMTX = 2
    RBTX = 3
    INSERT = 40
    DELETE = 41
    UPDBEF = 42
    UPDAFT = 43
    DISCARD = 62
    TRUNCATE = 119
    TABSCHEM = 200
    TIMEOUT = 201
    ERROR = 202


#: wire constants (ext/_informixcdcmodule.ec:56-63)
PACKET_SCHEME = 66
ENVELOPE_SZ = 16  # RECORD_HEADER_OFFSET
CHANGE_HEADER_SZ = 20  # IUD payload: row image starts here


def changelog_schema(row_struct: StructType | None = None) -> StructType:
    """Schema of a decoded change-log DataFrame.

    ``row`` holds the decoded row image for IUD records (None elsewhere);
    generic envelope fields mirror SURVEY.md §1.2's per-variant table.
    """
    fields = [
        StructField("seq_number", LongType(), False),
        StructField("record_type", StringType(), False),
        StructField("transaction_id", LongType(), True),
        StructField("tabid", IntegerType(), True),
        StructField("tabname", StringType(), True),
        StructField("flags", IntegerType(), True),
        StructField("start_time", LongType(), True),
        StructField("commit_time", LongType(), True),
        StructField("user_id", IntegerType(), True),
        # per-record replay markers (ext/_informixcdcmodule.ec:1459-1461,
        # 1527-1529,1585-1587): discard_candidate on BEGINTX,
        # discard_transaction on COMMTX/RBTX, NULL elsewhere. Populated by
        # the binary decoder (cdc/binary.py, every decode entry point
        # takes a last_seq_number) or by apply.with_discard_flags on an
        # already-decoded changelog; NULL when the producer knows no
        # watermark (e.g. the synthetic generator).
        StructField("discard_candidate", BooleanType(), True),
        StructField("discard_transaction", BooleanType(), True),
    ]
    if row_struct is not None:
        fields.append(StructField("row", row_struct, True))
    return StructType(fields)
