"""Epoch-tagged schema registry, persistable across stream restarts.

The reference rebuilds its column registry from the DDL text the server
sends in-stream (CDC_REC_TABSCHEM → temp-table DESCRIBE,
``ext/_informixcdcmodule.ec:1722-1804``) and the cache lives only as
long as the session — a reconnect re-reads announcements. Here each
announcement becomes an immutable (stream_pos, cols_desc) EPOCH, and
the epoch list persists through the same
:class:`~informixcdc_spark.streaming.statestore.StateStore` document
channel the materializer's pointer uses — so a RESTARTED stream decodes
rows from pre-restart epochs without ever re-reading their TABSCHEM
records (which the source's offset log has already consumed and will
never redeliver).

Epoch semantics (shared with the engine's one decoder,
:func:`informixcdc_spark.cdc.binary.decode_envelope_df_evolving`): a
row decodes with the schema whose announcement position is the greatest
one ≤ the row's ``stream_pos``. Supported transitions between epochs:
column ADD (older rows null-fill), column DROP (older rows' values for
the dropped column vanish from the latest projection), and re-TYPE
widening such as int→bigint (the row image decodes with the epoch's
wire type; the value surfaces as the latest logical type).

The registry is metadata-sized — one entry per DDL change — so
observing a batch collects only its TABSCHEM slivers, never data rows.
"""

from __future__ import annotations

import bisect

from informixcdc_spark.cdc.typemap import WireColumn, parse_ddl


class EpochRegistry:
    """Ordered (stream_pos, cols_desc) epochs for one captured table.

    With a ``store``, every newly observed epoch persists immediately
    (idempotent under at-least-once batch replay: re-observing a known
    position is a no-op), and a fresh instance over the same store
    resumes with all previously observed epochs loaded.
    """

    def __init__(self, tabid: int, store=None):
        self.tabid = tabid
        self.store = store
        self._positions: list[int] = []
        self._ddls: list[str] = []
        self._parsed: dict[int, list[WireColumn]] = {}
        if store is not None:
            doc = store.read_doc(self._doc_name())
            if doc:
                for pos, ddl in doc["epochs"]:
                    self._insert(int(pos), ddl)

    def _doc_name(self) -> str:
        return f"schema-{self.tabid}"

    def _insert(self, pos: int, ddl: str) -> bool:
        i = bisect.bisect_left(self._positions, pos)
        if i < len(self._positions) and self._positions[i] == pos:
            return False  # replayed announcement
        self._positions.insert(i, pos)
        self._ddls.insert(i, ddl)
        return True

    def observe(self, stream_pos: int, cols_desc: str) -> bool:
        """Record one TABSCHEM announcement. Returns True (and persists)
        iff the epoch is new."""
        if not self._insert(int(stream_pos), cols_desc):
            return False
        if self.store is not None:
            # full-list rewrite per observe is fine by the doc-channel
            # contract: docs are metadata-sized (one entry per DDL
            # change — a table alters orders of magnitude less often
            # than it commits)
            self.store.write_doc(
                self._doc_name(),
                {"epochs": [list(e) for e in zip(self._positions, self._ddls)]},
            )
        return True

    def observe_batch(self, envelope_df) -> int:
        """Pull this table's TABSCHEM announcements out of an envelope
        batch (the ``cdc-binlog`` source schema). Collects ONLY the
        announcement sliver — metadata-sized, one row per DDL change.
        Returns the number of new epochs."""
        from pyspark.sql import functions as F

        rows = (
            envelope_df.where(F.col("record_type") == "TABSCHEM")
            .where(F.col("tabid") == self.tabid)
            .select("stream_pos", "cols_desc")
            .collect()
        )
        return sum(self.observe(int(r.stream_pos), r.cols_desc) for r in rows)

    # -- lookups ------------------------------------------------------------
    def __len__(self) -> int:
        return len(self._positions)

    def epochs(self) -> list[tuple[int, list[WireColumn]]]:
        """[(stream_pos, parsed cols), ...] ascending — the ``schema_log``
        shape the engine's one decoder consumes
        (:func:`~informixcdc_spark.cdc.binary.decode_envelope_df_evolving`)."""
        return [(p, self._cols(i)) for i, p in enumerate(self._positions)]

    def _cols(self, i: int) -> list[WireColumn]:
        pos = self._positions[i]
        if pos not in self._parsed:
            self._parsed[pos] = parse_ddl(self._ddls[i])
        return self._parsed[pos]

    def cols_at(self, stream_pos: int) -> list[WireColumn]:
        """The schema in force at ``stream_pos`` (greatest announcement
        position ≤ it)."""
        i = bisect.bisect_right(self._positions, int(stream_pos)) - 1
        if i < 0:
            raise ValueError(
                f"stream_pos={stream_pos} precedes the first schema epoch"
            )
        return self._cols(i)

    def latest(self) -> list[WireColumn]:
        if not self._positions:
            raise ValueError("no schema epochs observed")
        return self._cols(len(self._positions) - 1)
