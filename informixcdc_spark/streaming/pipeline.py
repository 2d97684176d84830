"""Exactly-once streaming materialization of a CDC change log.

Maps the reference's execution loop (SURVEY.md §3.3) onto micro-batches:

- source poll        → ``readStream`` over the changelog directory (S1)
- record extraction  → already-typed changelog rows (P1–P5 happen in the
                       decode layer, :mod:`informixcdc_spark.cdc.binary`)
- stateful side      → per-batch transaction assembly with carried
  effects (T1–T6)      pending-event state; committed txns apply via
                       :func:`informixcdc_spark.cdc.apply.apply_changes`
- savepoints (S5)    → ONE idempotent versioned write per micro-batch —
                       amortizing the reference's 1–3 synchronous DML
                       statements per txn-boundary event
                       (``ext/_informixcdcmodule.ec:2260-2299``), its
                       biggest throughput cliff
- exactly-once       → batchId-keyed idempotency: a replayed micro-batch
                       (checkpoint recovery) is detected and skipped, the
                       watermark only advances (``:747``), and replayed
                       transactions are filtered by commit-seq (T5)

State layout under ``state_dir``: the target table is hash-bucketed by
key into ``n_buckets`` buckets; each micro-batch rewrites ONLY the
buckets its keys touch (``target/b{batch}/k={bucket}``), and an atomic
state pointer maps every bucket to the batch directory holding its
current rows. ``pending/v{n}`` holds events of still-open transactions
(the opntxns analog — O(open txns), rewritten whole). Snapshots are
versioned-then-pointed so a crash mid-write never tears the readable
state; a replayed batch rewrites the same paths before the pointer
moves, so recovery stays exactly-once.

The pointer-commit protocol itself lives behind
:class:`informixcdc_spark.streaming.statestore.StateStore`:
``PosixStateStore`` (atomic-rename ``state.json``, for local/NFS) and
``ManifestStateStore`` (rename-free versioned manifests, for object
stores with atomic PUT but no rename) are interchangeable here — the
reference sidesteps the problem by keeping this state in the server
(``sql/informixcdc.sql:7-38``), which has no cluster analog.

Bucket-scoping is the 100 TB property: per-batch write cost is
O(touched buckets), not O(table). The previous design rewrote the full
target snapshot every micro-batch — O(table) write amplification that a
large materialized table cannot sustain. Production deployments would
swap this for Delta/Iceberg MERGE; the layout keeps the same contract on
plain parquet.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from informixcdc_spark.cdc.apply import apply_changes
from informixcdc_spark.cdc.model import RecordType
from informixcdc_spark.sources.changelog import read_changelog_stream
from informixcdc_spark.streaming.statestore import PosixStateStore, StateStore

_TERMINATORS = [RecordType.COMMTX.name, RecordType.RBTX.name, RecordType.DISCARD.name]
_IUD_TYPES = [
    RecordType.INSERT.name,
    RecordType.DELETE.name,
    RecordType.UPDAFT.name,
    RecordType.UPDBEF.name,
]


class Materializer:
    """foreachBatch sink applying a changelog stream to a keyed table.

    The target is hash-bucketed on the key columns (``pmod(hash(keys),
    n_buckets)``); each batch rewrites only the buckets its committed
    keys land in, so write amplification is O(batch), not O(table).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: Sequence[str],
        n_buckets: int = 64,
        store: StateStore | None = None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        #: pointer-commit protocol (statestore.py); default keeps the
        #: local-filesystem behavior, ManifestStateStore is the
        #: object-store-safe drop-in
        self.store = store if store is not None else PosixStateStore(state_dir)

    # -- state pointer ------------------------------------------------------
    def read_state(self) -> dict:
        st = self.store.read_state()
        return st if st is not None else {
            "batch_id": -1,
            "last_committed_seq": 0,
            # bucket id (str) -> batch id of the dir holding its rows
            "buckets": {},
            "pending_version": -1,
        }

    def _write_state(self, state: dict) -> None:
        self.store.commit_state(state)

    # -- snapshots ----------------------------------------------------------
    def _bucket_dir(self, batch_id: int) -> str:
        return self.store.path("target", f"b{batch_id}")

    def _bucket_path(self, bucket: str, batch_id: int) -> str:
        return os.path.join(self._bucket_dir(batch_id), f"k={bucket}")

    def _pending_snap(self, version: int) -> str:
        return self.store.path("pending", f"v{version}")

    def _read_buckets(self, paths: list[str]) -> DataFrame | None:
        if not paths:
            return None
        # mergeSchema: buckets written before a mid-stream schema
        # evolution coexist with post-evolution buckets (added columns
        # read as null, same as unionByName(allowMissingColumns))
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def read_target(self) -> DataFrame | None:
        st = self.read_state()
        return self._read_buckets(
            [self._bucket_path(k, v) for k, v in st["buckets"].items()]
        )

    def read_pending(self) -> DataFrame | None:
        st = self.read_state()
        if st["pending_version"] < 0:
            return None
        # the pending snapshot's schema commits in the SAME pointer doc
        # that names it (process_batch), so reading with it is always
        # consistent — and skips the footer-inference job the
        # materializer would otherwise pay every micro-batch; pre-r11
        # state docs (no stored schema) fall back to inference
        reader = self.spark.read
        sj = st.get("pending_schema_json")
        if sj:
            reader = reader.schema(StructType.fromJson(json.loads(sj)))
        return reader.parquet(self._pending_snap(st["pending_version"]))

    def _bucket_expr(self, cols: Sequence) -> Column:
        return F.pmod(F.hash(*cols), F.lit(self.n_buckets))

    # -- schema-evolution alignment ------------------------------------------
    def _align_rows(self, df: DataFrame, row_t) -> DataFrame:
        """Project a materialized table onto the CURRENT epoch's row
        fields: added columns null-fill, dropped columns vanish, widened
        columns cast — the same transition set the decoder supports
        across schema epochs (cdc/binary.py decode_envelope_df_evolving)."""
        have = set(df.columns)
        return df.select(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in have
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in row_t.fields
            ]
        )

    def _union_pending(self, batch_df: DataFrame, pending: DataFrame) -> DataFrame:
        """Batch ∪ carried pending events. When a schema epoch changed
        between the batches, the pending rows' ``row`` struct is
        projected onto the batch's (latest) struct."""
        if pending.schema == batch_df.schema:
            return batch_df.unionByName(pending)
        merged = batch_df.unionByName(pending, allowMissingColumns=True)
        row_t = batch_df.schema["row"].dataType
        proj = F.when(
            F.col("row").isNotNull(),
            F.struct(
                *[
                    F.col(f"row.{f.name}").cast(f.dataType).alias(f.name)
                    for f in row_t.fields
                ]
            ),
        ).alias("row")
        return merged.select(
            *[
                proj if f.name == "row" else F.col(f.name)
                for f in batch_df.schema.fields
            ]
        )

    # -- the per-batch commit point ----------------------------------------
    def process_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        schema_epoch: int | None = None,
    ) -> None:
        """``schema_epoch`` (the caller's current schema-epoch count)
        arms epoch transitions: when it differs from the count recorded
        in the last committed state, EVERY live bucket rewrites this
        batch (the TRUNCATE treatment), so bucket snapshots stay
        schema-uniform and mergeSchema never has to reconcile
        conflicting (e.g. int-vs-bigint widened) types. The count
        commits WITH the pointer — a crash between the epoch registry's
        (idempotent, early) persist and this commit replays into the
        same mismatch and redoes the rewrite, never leaving mixed-schema
        buckets behind."""
        st = self.read_state()
        if batch_id <= st["batch_id"]:
            return  # replayed micro-batch after checkpoint recovery: skip
        force_full_rewrite = (
            schema_epoch is not None
            and schema_epoch != st.get("schema_epoch", 0)
        )

        # carried state: events of transactions still open after the last batch
        pending = self.read_pending()
        log = (
            self._union_pending(batch_df, pending)
            if pending is not None
            else batch_df
        )
        log = log.localCheckpoint(eager=True)  # cut lineage across batches

        last_seq = st["last_committed_seq"]

        # ONE metadata job for the whole batch: touched buckets (keys of
        # IUD events — a superset of committed; a still-open txn's bucket
        # rewrites a batch early, never incorrectly), truncate presence,
        # and the new commit watermark. These were three separate Spark
        # jobs (distinct+collect, take(1), agg) — per-batch fixed job
        # overhead dominates streaming steady state, so fuse them. The
        # collect_set is bounded by n_buckets ids, metadata-sized.
        key_in_row = [F.col(f"row.{k}") for k in self.key_cols]
        stats = log.agg(
            F.collect_set(
                F.when(
                    F.col("record_type").isin(_IUD_TYPES),
                    self._bucket_expr(key_in_row),
                )
            ).alias("_touched"),
            F.max(
                (F.col("record_type") == RecordType.TRUNCATE.name).cast("int")
            ).alias("_has_trunc"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("record_type") == RecordType.COMMTX.name,
                        F.col("seq_number"),
                    )
                ),
                F.lit(0),
            ).alias("_new_last"),
            # open-txn bookkeeping for the multi-table scheduler: txids
            # with IUD/TRUNCATE events for THIS table (incl. carried
            # pending) minus terminated — table-less BEGINTX records
            # deliberately don't count, so a foreign transaction never
            # marks this table as awaiting its commit. Bounded by
            # in-flight transactions, metadata-sized — the reference
            # bounds the same set server-side.
            F.collect_set(
                F.when(
                    F.col("record_type").isin(
                        _IUD_TYPES + [RecordType.TRUNCATE.name]
                    ),
                    F.col("transaction_id"),
                )
            ).alias("_txn_seen"),
            F.collect_set(
                F.when(
                    F.col("record_type").isin(_TERMINATORS),
                    F.col("transaction_id"),
                )
            ).alias("_txn_ended"),
        ).collect()[0]
        touched = {str(k) for k in stats["_touched"]}
        has_truncate = bool(stats["_has_trunc"])
        new_last = stats["_new_last"]
        open_txids = sorted(set(stats["_txn_seen"]) - set(stats["_txn_ended"]))
        if has_truncate or force_full_rewrite:
            touched |= set(st["buckets"])

        base = self._read_buckets(
            [
                self._bucket_path(k, v)
                for k, v in st["buckets"].items()
                if k in touched
            ]
        )
        if base is not None:
            row_t = batch_df.schema["row"].dataType
            if base.schema != StructType(list(row_t.fields)):
                base = self._align_rows(base, row_t)
        new_target = apply_changes(
            log,
            self.key_cols,
            last_committed_seq=last_seq,
            base=base,
            # single-table materialization: a committed TRUNCATE wipes
            # rows from earlier batches (the base) too
            truncate_wipes_base=True,
        )

        # new pending: IUD/TRUNCATE events of txns with no terminator
        # yet. BEGINTX rows are deliberately NOT carried: the net-effect
        # apply needs only IUD + COMMTX + TRUNCATE (cdc/apply.py), and
        # keeping table-less BEGINTX rows would let foreign open
        # transactions accumulate forever in the pending snapshot of a
        # table they never touch.
        ended = log.where(F.col("record_type").isin(_TERMINATORS)).select(
            F.col("transaction_id").alias("_e_txid")
        )
        new_pending = log.join(
            ended, log["transaction_id"] == ended["_e_txid"], "left_anti"
        ).where(
            F.col("record_type").isin(_IUD_TYPES + [RecordType.TRUNCATE.name])
        )

        # rewrite ONLY the touched buckets, one partitioned write job
        if touched:
            (
                new_target.withColumn("k", self._bucket_expr(self.key_cols))
                .repartition("k")
                .write.partitionBy("k")
                .mode("overwrite")
                .parquet(self._bucket_dir(batch_id))
            )
        # a touched bucket with zero surviving rows writes no k= dir —
        # it drops out of the pointer map (empty bucket)
        written = set()
        if touched:
            written = {
                d[2:]
                for d in self.store.listdir("target", f"b{batch_id}")
                if d.startswith("k=")
            }
        buckets = {k: v for k, v in st["buckets"].items() if k not in touched}
        buckets.update({k: batch_id for k in written})

        new_pending.write.mode("overwrite").parquet(self._pending_snap(batch_id))
        new_state = {
            "batch_id": batch_id,
            # watermark monotonicity (ec:747): never regress
            "last_committed_seq": max(last_seq, int(new_last)),
            "buckets": buckets,
            "pending_version": batch_id,
            # the snapshot's schema rides the pointer that names it:
            # read_pending skips footer inference, and a mid-stream
            # schema evolution stays consistent (both commit together)
            "pending_schema_json": new_pending.schema.json(),
            "open_txids": [int(t) for t in open_txids],
        }
        if schema_epoch is not None:
            new_state["schema_epoch"] = schema_epoch
        self._write_state(new_state)
        self._gc(new_state)

    # -- snapshot garbage collection -----------------------------------------
    #: pending versions retained behind the pointer (concurrent readers
    #: that grabbed the previous state.json can still finish their read)
    GC_KEEP_PENDING = 2

    def _gc(self, state: dict) -> None:
        """Reclaim snapshot storage no longer referenced by ``state``.

        Without this, storage grows O(total batches ever run) even though
        per-batch compute is O(touched buckets) — a long-running stream
        leaks its whole history. Runs strictly AFTER the atomic pointer
        swap and deletes only unreferenced paths, so a crash mid-GC never
        tears readable state (orphans are swept by the next batch's GC).
        Deletes: (a) ``target/b{n}`` dirs referenced by no bucket,
        (b) dead ``k=`` subdirs inside still-referenced dirs (a dir stays
        alive while ANY bucket points at it, but each bucket pins only
        its own subdir), (c) ``pending/v{n}`` older than the last
        ``GC_KEEP_PENDING`` versions. Leaves the state dir holding
        O(n_buckets) + O(GC_KEEP_PENDING) entries, independent of stream
        lifetime. Single-writer contract (one streaming query per state
        dir) — same assumption the pointer swap already makes. All IO
        goes through the store's list/delete surface (object-store LIST
        + DELETE, both safe without rename).
        """
        # bucket id -> owning batch dir; a dir lives iff some bucket maps to it
        live_by_dir: dict[str, set[str]] = {}
        for bucket, bid in state["buckets"].items():
            live_by_dir.setdefault(f"b{bid}", set()).add(f"k={bucket}")
        for d in self.store.listdir("target"):
            live_subdirs = live_by_dir.get(d)
            if live_subdirs is None:
                self.store.delete_tree("target", d)
                continue
            for sub in self.store.listdir("target", d):
                if sub.startswith("k=") and sub not in live_subdirs:
                    self.store.delete_tree("target", d, sub)

        floor = state["pending_version"] - (self.GC_KEEP_PENDING - 1)
        for d in self.store.listdir("pending"):
            try:
                version = int(d.lstrip("v"))
            except ValueError:
                continue
            if version < floor:
                self.store.delete_tree("pending", d)


class ViewMaterializer:
    """foreachBatch sink maintaining an AGGREGATE VIEW of the CDC stream
    incrementally (``cdc/ivm.py``) alongside the exactly-once table.

    Per micro-batch: the view delta is computed from the PRE-batch table
    (retraction images come from the still-current snapshot), written and
    pointed, and only then does the wrapped :class:`Materializer` advance
    the table. Both updates are idempotency-guarded by their own
    ``batch_id``, so checkpoint-recovery replay lands in whichever of the
    two windows the crash left unfinished and completes it exactly once:

    - crash before the view pointer swap → replay recomputes the view
      (table state untouched, so the retraction base is still pre-batch);
    - crash after the view swap, before/inside the table update → replay
      skips the view (its batch_id matches) and re-runs the table update,
      which skips or completes idempotently.

    Per-batch cost is the view delta (O(touched keys) + O(affected
    groups), see ``cdc/ivm.py``) plus the table update; the base read
    prunes to touched keys through the semi join. A committed TRUNCATE
    falls back to recompute-from-delta inside the IVM layer.
    """

    GC_KEEP_VIEWS = 2

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_cols: Sequence[str],
        group_cols: Sequence[str],
        measures: Sequence[tuple[str, str, str]],
        n_buckets: int = 64,
        store_cls: type[StateStore] = PosixStateStore,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.group_cols = list(group_cols)
        self.measures = list(measures)
        self.table = Materializer(
            spark,
            os.path.join(state_dir, "table"),
            key_cols,
            n_buckets,
            store=store_cls(os.path.join(state_dir, "table")),
        )
        #: the view's own pointer, committed through the same protocol
        self.view_store = store_cls(os.path.join(state_dir, "view"))

    def _view_snap(self, batch_id: int) -> str:
        return self.view_store.path(f"v{batch_id}")

    def read_view_state(self) -> dict:
        st = self.view_store.read_state()
        return st if st is not None else {"batch_id": -1}

    def read_view(self, finalized: bool = True) -> DataFrame | None:
        """The current maintained view; ``finalized=True`` renders
        user-facing measure columns."""
        from informixcdc_spark.cdc.ivm import finalize_view

        vst = self.read_view_state()
        if vst["batch_id"] < 0:
            return None
        # same contract as read_pending: the snapshot schema commits in
        # the pointer that names it, so the read skips footer inference
        reader = self.spark.read
        sj = vst.get("schema_json")
        if sj:
            reader = reader.schema(StructType.fromJson(json.loads(sj)))
        state = reader.parquet(self._view_snap(vst["batch_id"]))
        return finalize_view(state, self.measures) if finalized else state

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from informixcdc_spark.cdc.ivm import (
            aggregate_view,
            incremental_aggregate_view,
        )

        vst = self.read_view_state()
        if batch_id > vst["batch_id"]:
            st = self.table.read_state()
            pending = self.table.read_pending()
            log = (
                batch_df.unionByName(pending)
                if pending is not None
                else batch_df
            )
            log = log.localCheckpoint(eager=True)
            base = self.table.read_target()
            if base is None:
                base = log.select("row.*").limit(0)
            prev = self.read_view(finalized=False)
            if prev is None:
                prev = aggregate_view(base, self.group_cols, self.measures)
            new_view = incremental_aggregate_view(
                prev,
                log,
                base,
                key_cols=self.table.key_cols,
                group_cols=self.group_cols,
                measures=self.measures,
                last_committed_seq=st["last_committed_seq"],
            )
            # write from pre-state paths BEFORE the table advances (the
            # table's GC may delete the buckets this plan reads)
            new_view.write.mode("overwrite").parquet(self._view_snap(batch_id))
            self.view_store.commit_state(
                {"batch_id": batch_id, "schema_json": new_view.schema.json()}
            )

        self.table.process_batch(batch_df, batch_id)

        floor = batch_id - (self.GC_KEEP_VIEWS - 1)
        for d in self.view_store.listdir():
            if not d.startswith("v") or d.endswith(".json"):
                continue
            try:
                version = int(d[1:])
            except ValueError:
                continue
            if version < floor:
                self.view_store.delete_tree(d)


class MultiTableMaterializer:
    """Exactly-once materialization of EVERY captured table from ONE
    envelope stream — the reference's session shape: up to 64 tables'
    events interleaved in a single byte stream
    (``ext/_informixcdcmodule.ec:52``), each decoded with its own
    TABSCHEM-announced schema.

    Per micro-batch the envelope slice is localCheckpoint'ed ONCE (one
    source read feeds every table), then each table's events decode
    with that table's schema epochs through the engine's one decoder
    (:func:`informixcdc_spark.cdc.binary.decode_envelope_df_evolving`
    keeps table-less lifecycle records and drops other tables' rows —
    the same split contract as
    :func:`informixcdc_spark.cdc.apply.apply_changes_by_table`) and
    apply through the table's own bucket-scoped :class:`Materializer`
    under ``state_dir/<tabname>``.

    Exactly-once under crash/replay is PER TABLE: every sub-materializer
    carries its own batchId guard, so a crash that lands between two
    tables' commits replays the batch with already-committed tables
    skipping and the rest completing — heterogeneous schemas never
    share a pointer, so there is no cross-table torn state. A TRUNCATE
    is table-scoped by the decode split, exactly like the batch path.

    ``tables``: ``{tabname: (tabid, wire_cols, key_cols)}``. Each table
    has an :class:`~informixcdc_spark.cdc.registry.EpochRegistry`, and
    its rows decode with the schema in force at their stream position
    (constructor ``wire_cols`` = epoch 0).

    ``evolving=True`` arms per-table schema evolution: the registries
    persist through each table's own StateStore doc channel (so epochs
    survive a stream restart), every batch's TABSCHEM announcements are
    collected ONCE (one metadata-sized job, not one per table) and fed
    to the owning registry, and the batch that first sees a table's new
    epoch rewrites that table's buckets in the new shape — a mid-stream
    ALTER on one table needs no engine restart and never disturbs the
    other tables. The reference
    rebuilds its registry from the same in-stream announcements but
    loses it on disconnect (ext/_informixcdcmodule.ec:1722-1804).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        tables: dict[str, tuple[int, list, Sequence[str]]],
        n_buckets: int = 64,
        store_cls: type[StateStore] = PosixStateStore,
        evolving: bool = False,
    ):
        from informixcdc_spark.cdc.registry import EpochRegistry

        self.spark = spark
        self.tables = dict(tables)
        self.evolving = evolving
        self.mats = {
            tab: Materializer(
                spark,
                os.path.join(state_dir, tab),
                keys,
                n_buckets,
                store=store_cls(os.path.join(state_dir, tab)),
            )
            for tab, (_tabid, _cols, keys) in self.tables.items()
        }
        self._tab_by_id = {
            tabid: tab for tab, (tabid, _cols, _keys) in self.tables.items()
        }
        # without evolution a registry never observes: epoch 0 only
        self.registries = {
            tab: EpochRegistry(
                tabid, store=self.mats[tab].store if evolving else None
            )
            for tab, (tabid, _cols, _keys) in self.tables.items()
        }

    def _observe_announcements(self, env: DataFrame) -> None:
        """Feed this batch's TABSCHEM slivers to the owning registries.
        One driver collect for ALL tables — rows are one-per-DDL-change,
        metadata-sized. Idempotent under replay (known positions no-op);
        the rewrite decision compares epoch COUNTS against the count in
        each materializer's committed state, so persisting here (before
        any table's commit) is crash-safe."""
        rows = (
            env.where(F.col("record_type") == "TABSCHEM")
            .select("tabid", "stream_pos", "cols_desc")
            .collect()
        )
        for r in rows:
            tab = self._tab_by_id.get(int(r.tabid))
            if tab is None:
                continue  # not a captured table
            self.registries[tab].observe(int(r.stream_pos), r.cols_desc)

    def process_batch(self, envelope_df: DataFrame, batch_id: int) -> None:
        from informixcdc_spark.cdc.binary import (
            _EPOCH0_POS,
            decode_envelope_df_evolving,
        )

        env = envelope_df.localCheckpoint(eager=True)
        # ONE metadata job schedules the whole batch: which tables have
        # events, and which table-less lifecycle txids arrived. A table
        # runs its (several-job) materialization only when it has rows
        # this batch OR a lifecycle record for one of ITS open txns —
        # per-batch work scales with tables TOUCHED, not tables
        # registered (at the reference's 64-table cap, a 2-table batch
        # would otherwise pay 64 tables of fixed job overhead).
        sched = env.agg(
            F.collect_set("tabid").alias("_tabs"),
            F.collect_set(
                F.when(F.col("tabid").isNull(), F.col("transaction_id"))
            ).alias("_lifecycle_tx"),
            F.max(
                (F.col("record_type") == RecordType.TABSCHEM.name).cast("int")
            ).alias("_has_schema"),
        ).collect()[0]
        present = {int(t) for t in sched["_tabs"]}
        lifecycle_tx = {int(t) for t in sched["_lifecycle_tx"]}
        if self.evolving and sched["_has_schema"]:
            self._observe_announcements(env)
        for tab, (tabid, cols, _keys) in self.tables.items():
            if tabid not in present:
                tab_st = self.mats[tab].read_state()
                open_tx = tab_st.get("open_txids")
                if open_tx is None:
                    # state written before open-txn bookkeeping existed:
                    # quiescence unprovable — process unless truly idle
                    if tab_st["pending_version"] < 0:
                        continue
                elif not (set(open_tx) & lifecycle_tx):
                    continue  # nothing for this table — zero jobs spent
            # JVM-side pre-filter: only this table's rows (+ table-less
            # lifecycle records) cross the Arrow boundary — with 64
            # captured tables the alternative ships the WHOLE batch
            # through Python once per table. The decoder keeps its own
            # guard, so the filter is an optimization, not a correctness
            # dependency.
            sub = env.where(
                (F.col("tabid") == tabid) | F.col("tabid").isNull()
            )
            reg = self.registries[tab]
            typed = decode_envelope_df_evolving(
                sub, [(_EPOCH0_POS, cols)] + reg.epochs(), tabid, tab
            )
            # a changed epoch count rewrites the table once in the new
            # shape (bucket snapshots stay schema-uniform); the count
            # commits with the table's own pointer
            self.mats[tab].process_batch(typed, batch_id, schema_epoch=len(reg))

    def read_target(self, tab: str) -> DataFrame | None:
        return self.mats[tab].read_target()


class CdcEngine:
    """Public API mirroring the reference's ``InformixCdc`` surface
    (SURVEY.md §2.7): ``connect`` → ``enable`` → ``activate`` → stream.

    Constructor validation matches ``ext/_informixcdcmodule.ec:280-363``:
    ``1 <= id <= 32767``, ``timeout >= 0``, ``max_records > 0``.
    """

    #: class-level counter standing in for the server-allocated session id
    _next_session_id = 0

    def __init__(
        self,
        spark: SparkSession,
        dbservername: str = "spark",
        id: int = 1,
        timeout: int = 60,
        max_records: int = 100,
        syscdcdb: str = "syscdcv1",
        lo_buffer_sz: int = 64,
        use_savepoints: bool = True,
    ):
        if not 1 <= id <= 32767:
            raise ValueError("id must be between 1 and 32767")
        if timeout < 0:
            raise ValueError("timeout must be >= 0")
        if max_records <= 0:
            raise ValueError("max_records must be > 0")
        if lo_buffer_sz < 64:  # KiB, reference's MIN_LO_BUFFER_SZ (ec:51,333)
            raise ValueError("lo_buffer_sz must be >= 64 (KiB)")
        self.spark = spark
        self._dbservername = dbservername
        self.id = id
        self._timeout = timeout
        self._max_records = max_records
        self._syscdcdb = syscdcdb
        self.lo_buffer_sz = lo_buffer_sz
        self.use_savepoints = use_savepoints
        self.source_path: str | None = None
        self._session_id: int | None = None
        self._is_connected = False
        self._tables: dict[str, list[str] | None] = {}

    # -- read-only introspection attrs, mirroring the reference's getters
    # (ext/_informixcdcmodule.ec:365-438) ------------------------------
    @property
    def dbservername(self) -> str:
        return self._dbservername

    @property
    def timeout(self) -> int:
        return self._timeout

    @property
    def max_records(self) -> int:
        return self._max_records

    @property
    def syscdcdb(self) -> str:
        return self._syscdcdb

    @property
    def session_id(self) -> int | None:
        """None before connect; a positive handle after (the reference
        returns the server's SBLOB session handle from cdc_opensess)."""
        return self._session_id

    @property
    def is_connected(self) -> bool:
        return self._is_connected

    def connect(
        self,
        source_path: str | None = None,
        user: str | None = None,
        passwd: str | None = None,
    ) -> int:
        """Bind the change-log source (≙ CONNECT + cdc_opensess). Returns
        0 on success, mirroring the reference's SQLCODE-style return, and
        allocates ``session_id``.

        ``user``/``passwd`` are accepted for drop-in signature parity with
        the reference's ``connect(user=None, passwd=None)``
        (``ext/_informixcdcmodule.ec:1949-1957``) and ignored — there is
        no server to authenticate against; the change-log directory is
        the session's source. With no ``source_path`` the engine still
        connects (a later ``activate`` may supply one), matching a
        credentials-only reference call."""
        del user, passwd  # signature parity only (MIGRATION.md)
        if source_path is not None:
            self.source_path = source_path
        CdcEngine._next_session_id += 1
        self._session_id = CdcEngine._next_session_id
        self._is_connected = True
        return 0

    def enable(self, database: str, owner: str, table: str, columns: str) -> int:
        """Register a table capture with a column projection (≙
        cdc_startcapture; the CSV column list is pushdown — R1). Capped at
        64 tables like the reference (``ext/_informixcdcmodule.ec:52``)."""
        if len(self._tables) >= 64:
            return -1  # reference errors past its 64-table cap
        name = f"{database}:{owner}.{table}"
        self._tables[name] = [c.strip() for c in columns.split(",")] if columns else None
        return 0

    def projection(self, table_key: str):
        return self._tables.get(table_key)

    def activate(
        self,
        row_struct,
        seq_number: int = -1,
        materializer: Materializer | None = None,
    ) -> DataFrame:
        """Resolve the start LSN and return the streaming DataFrame
        (≙ cdc_activatesess). Rule table from ``ext/_informixcdcmodule
        .ec:2172-2194``: explicit ``seq_number >= 0`` wins; else resume
        from savepoint state (min open-txn LSN ≙ replay window; else
        last+1); else 0."""
        if not self.is_connected:
            from informixcdc_spark import CdcError

            raise CdcError("connect() first")
        start_seq = seq_number
        if start_seq < 0 and self.use_savepoints and materializer is not None:
            st = materializer.read_state()
            pending = materializer.read_pending()
            open_min = None
            if pending is not None:
                row = (
                    pending.where(F.col("record_type") == RecordType.BEGINTX.name)
                    .agg(F.min("seq_number"))
                    .collect()[0][0]
                )
                open_min = row
            if open_min is not None:
                start_seq = int(open_min)
            elif st["last_committed_seq"] > 0:
                start_seq = st["last_committed_seq"] + 1
            else:
                start_seq = 0
        stream = read_changelog_stream(self.spark, self.source_path, row_struct, 1)
        if start_seq > 0:
            stream = stream.where(F.col("seq_number") >= start_seq)
        return stream

    def materialize(
        self,
        row_struct,
        key_cols: Sequence[str],
        state_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        store_cls: type[StateStore] = PosixStateStore,
    ):
        """Start the exactly-once materialization query. ``store_cls``
        picks the pointer-commit protocol (``PosixStateStore`` for
        rename-capable filesystems, ``ManifestStateStore`` for object
        stores)."""
        mat = Materializer(
            self.spark, state_dir, key_cols, store=store_cls(state_dir)
        )
        stream = self.activate(row_struct, materializer=None)
        writer = (
            stream.writeStream.foreachBatch(mat.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start(), mat

    def materialize_view(
        self,
        row_struct,
        key_cols: Sequence[str],
        group_cols: Sequence[str],
        measures: Sequence[tuple[str, str, str]],
        state_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        store_cls: type[StateStore] = PosixStateStore,
    ):
        """Start the exactly-once aggregate-view query: the table AND the
        incrementally-maintained view (``cdc/ivm.py``) advance together
        per micro-batch."""
        vm = ViewMaterializer(
            self.spark,
            state_dir,
            key_cols,
            group_cols,
            measures,
            store_cls=store_cls,
        )
        stream = self.activate(row_struct, materializer=None)
        writer = (
            stream.writeStream.foreachBatch(vm.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start(), vm
