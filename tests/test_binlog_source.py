"""Binary capture data source: wire fidelity, partitioning, exactly-once
streaming restart (the S1/S2 source surface of SURVEY §2.1)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from informixcdc_spark.cdc.generator import orders_changelog
from informixcdc_spark.cdc.typemap import parse_ddl
from informixcdc_spark.queries.cdcq import _ORDERS_DDL, _ORDERS_TABID
from informixcdc_spark.sources.binlog import (
    register_binlog_source,
    write_capture_from_changelog,
)
from tests.conftest import examples, iterations  # noqa: E402


def _capture(spark, tmp_path, name="cap"):
    path = str(tmp_path / name)
    log = orders_changelog(spark, "/root/testdata/sf0.001")
    n = write_capture_from_changelog(
        log, parse_ddl(_ORDERS_DDL), _ORDERS_TABID, path
    )
    return path, log, n


def test_batch_read_roundtrips_envelope(spark, tmp_path):
    path, log, n_written = _capture(spark, tmp_path)
    register_binlog_source(spark)
    got = spark.read.format("cdc-binlog").option("path", path).load()
    assert got.count() == n_written == log.count()
    # every record's envelope fields survive the wire round trip
    want = log.select("seq_number", "record_type", "transaction_id").sort("seq_number")
    have = got.select("seq_number", "record_type", "transaction_id").sort("seq_number")
    assert want.collect() == have.collect()


def test_batch_read_parallelizes_by_file(spark, tmp_path):
    path, _, _ = _capture(spark, tmp_path)
    n_files = len([f for f in os.listdir(path) if f.endswith(".bin")])
    assert n_files > 1  # the recorder wrote one file per partition
    register_binlog_source(spark)
    got = spark.read.format("cdc-binlog").option("path", path).load()
    assert got.rdd.getNumPartitions() == n_files


def test_iud_records_carry_row_image(spark, tmp_path):
    path, _, _ = _capture(spark, tmp_path)
    register_binlog_source(spark)
    got = spark.read.format("cdc-binlog").option("path", path).load()
    iud = got.where(F.col("record_type").isin("INSERT", "DELETE", "UPDBEF", "UPDAFT"))
    assert iud.where(F.col("row_image").isNull()).count() == 0
    ctl = got.where(F.col("record_type").isin("BEGINTX", "COMMTX", "RBTX"))
    assert ctl.where(F.col("row_image").isNotNull()).count() == 0


def test_stream_restart_is_exactly_once(spark, tmp_path):
    """Files arriving across a checkpoint restart are each delivered
    exactly once — the R2–R4 resume semantics at the source layer."""
    path, log, total = _capture(spark, tmp_path)
    register_binlog_source(spark)
    files = sorted(f for f in os.listdir(path) if f.endswith(".bin"))
    assert len(files) >= 2
    # hide the tail files, stream the head, then restore and resume
    hidden = str(tmp_path / "hidden")
    os.makedirs(hidden)
    for f in files[1:]:
        os.rename(os.path.join(path, f), os.path.join(hidden, f))
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.format("cdc-binlog").option("path", path).load()
        q = (
            stream.groupBy("record_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .writeStream.format("memory")
            .queryName("binlog_restart_out")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.table("binlog_restart_out").agg(F.sum("n")).collect()[0][0]
    assert 0 < first < total
    for f in files[1:]:
        os.rename(os.path.join(hidden, f), os.path.join(path, f))
    run_once()  # resumes from the SAME checkpoint; complete-mode recount
    second = spark.table("binlog_restart_out").agg(F.sum("n")).collect()[0][0]
    assert second == total


def test_evolving_decode_requires_schema_announcement(spark, tmp_path):
    from informixcdc_spark.cdc.binary import decode_envelope_df_evolving
    import pytest as _pytest

    path, _, _ = _capture(spark, tmp_path)
    register_binlog_source(spark)
    raw = spark.read.format("cdc-binlog").option("path", path).load()
    with _pytest.raises(ValueError, match="schema_log is empty"):
        decode_envelope_df_evolving(raw, [], _ORDERS_TABID, "orders")


def test_stream_pos_totally_orders_capture(spark, tmp_path):
    # stream_pos is strictly increasing in (file order, record order) —
    # the LSN property that anchors schema epochs
    path, _, n = _capture(spark, tmp_path)
    register_binlog_source(spark)
    raw = spark.read.format("cdc-binlog").option("path", path).load()
    assert raw.select("stream_pos").distinct().count() == n


def test_materialize_through_stream_restart_mid_transaction(spark, tmp_path):
    """The c09 'binlog' arm's pytest twin: kill the availableNow run with
    a transaction still open mid-capture, resume from the same
    checkpoint, and require (a) the final table equals the batch apply of
    the full log, (b) the resumed run read ONLY the files that arrived
    after the kill — the seam between the source's offset commit and the
    materializer's pending-state carry."""
    from informixcdc_spark.cdc.apply import apply_changes
    from informixcdc_spark.cdc.binary import decode_envelope_df
    from informixcdc_spark.streaming.pipeline import Materializer

    log = orders_changelog(spark, "/root/testdata/sf0.001")
    wire = parse_ddl(_ORDERS_DDL)
    register_binlog_source(spark)
    cap = str(tmp_path / "cap")
    mid = log.agg((F.max("transaction_id") / 2).cast("long")).collect()[0][0]
    split = mid * 10 + 4  # inside txn `mid`: open across the restart
    head = log.where(F.col("seq_number") <= split)
    tail = log.where(F.col("seq_number") > split)
    write_capture_from_changelog(head, wire, _ORDERS_TABID, cap, prefix="a")

    mat = Materializer(spark, str(tmp_path / "state"), ["o_orderkey"])
    seen = []  # envelope rows per processed micro-batch

    def _apply(df, batch_id):
        df = df.localCheckpoint(eager=True)  # count + decode, one read
        seen.append(df.count())
        typed = decode_envelope_df(df, {_ORDERS_TABID: wire}, _ORDERS_TABID, "orders")
        mat.process_batch(typed, batch_id)

    def _run():
        q = (
            spark.readStream.format("cdc-binlog")
            .option("path", cap)
            .load()
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    n_head = sum(seen)
    assert n_head == head.count()
    # the split transaction is open: it sits in pending, not the target
    pending_tx = {
        r["transaction_id"]
        for r in mat.read_pending().select("transaction_id").distinct().collect()
    }
    assert mid in pending_tx

    write_capture_from_changelog(tail, wire, _ORDERS_TABID, cap, prefix="b")
    _run()
    # resumed run consumed exactly the tail records — nothing re-read
    assert sum(seen) - n_head == tail.count()

    want = {
        (r["o_orderkey"], r["o_totalprice"])
        for r in apply_changes(log, key_cols=["o_orderkey"]).collect()
    }
    got = {
        (r["o_orderkey"], r["o_totalprice"])
        for r in mat.read_target().collect()
    }
    assert got == want


def test_registry_epoch_lookup_and_replay_idempotence():
    """EpochRegistry: bisect lookup equals the linear-scan reference,
    replayed announcements are no-ops, and observation order does not
    matter (hypothesis over positions/order)."""
    from hypothesis import given, settings, strategies as st

    from informixcdc_spark.cdc.registry import EpochRegistry

    @settings(max_examples=examples(50), deadline=None, derandomize=True)
    @given(
        positions=st.lists(
            st.integers(min_value=0, max_value=1000), min_size=1, max_size=8, unique=True
        ),
        probe=st.integers(min_value=0, max_value=1100),
        order=st.randoms(use_true_random=False),
    )
    def prop(positions, probe, order):
        ddls = {p: f"a int, b_{p} int" for p in positions}
        shuffled = list(positions)
        order.shuffle(shuffled)
        reg = EpochRegistry(tabid=1)
        for p in shuffled:
            assert reg.observe(p, ddls[p]) is True
        for p in shuffled:  # at-least-once replay: all no-ops
            assert reg.observe(p, ddls[p]) is False
        assert len(reg) == len(positions)
        # linear reference for the in-force epoch
        at_or_before = [p for p in sorted(positions) if p <= probe]
        if not at_or_before:
            import pytest as _pytest

            with _pytest.raises(ValueError, match="precedes"):
                reg.cols_at(probe)
        else:
            want = at_or_before[-1]
            assert reg.cols_at(probe)[1].name == f"b_{want}"
        assert reg.latest()[1].name == f"b_{max(positions)}"

    prop()


def test_registry_persists_across_restart(tmp_path):
    from informixcdc_spark.cdc.registry import EpochRegistry
    from informixcdc_spark.streaming.statestore import (
        ManifestStateStore,
        PosixStateStore,
    )

    for cls, sub in ((PosixStateStore, "p"), (ManifestStateStore, "m")):
        store = cls(str(tmp_path / sub))
        reg = EpochRegistry(tabid=101, store=store)
        assert reg.observe(5, "a int") and reg.observe(40, "a int, b int")
        # a fresh instance over the same store resumes fully loaded
        reg2 = EpochRegistry(tabid=101, store=cls(str(tmp_path / sub)))
        assert len(reg2) == 2
        assert [c.name for c in reg2.cols_at(41)] == ["a", "b"]
        assert [c.name for c in reg2.cols_at(10)] == ["a"]
        # replay after restart is still a no-op (no duplicate epoch)
        assert reg2.observe(40, "a int, b int") is False


def test_stream_restart_decodes_pre_restart_epochs(spark, tmp_path):
    """Restart-after-evolution (judge task #5): run 1 consumes BOTH
    TABSCHEM announcements and persists them through the materializer's
    StateStore; the files arriving after the restart carry rows ONLY.
    The resumed stream must decode epoch-correct rows from the persisted
    registry — the source's offset log will never redeliver the consumed
    announcements."""
    import os as _os

    from informixcdc_spark.cdc.apply import apply_changes
    from informixcdc_spark.cdc.binary import (
        decode_envelope_df_evolving,
        encode_record,
    )
    from informixcdc_spark.cdc.model import RecordType
    from informixcdc_spark.cdc.registry import EpochRegistry
    from informixcdc_spark.queries.cdcq import (
        _margin_enriched,
        _ORDERS_DDL_V1,
        _ORDERS_DDL_V2,
    )
    from informixcdc_spark.streaming.pipeline import Materializer

    log = _margin_enriched(orders_changelog(spark, "/root/testdata/sf0.001"))
    register_binlog_source(spark)
    cap = str(tmp_path / "cap")
    _os.makedirs(cap)
    kmax = log.agg(F.max("transaction_id")).collect()[0][0]
    t1, t2 = kmax // 3, (2 * kmax) // 3
    v1, v2 = parse_ddl(_ORDERS_DDL_V1), parse_ddl(_ORDERS_DDL_V2)
    for fname, ddl in (("a-schema.bin", _ORDERS_DDL_V1), ("c-schema.bin", _ORDERS_DDL_V2)):
        with open(_os.path.join(cap, fname), "wb") as fh:
            fh.write(
                encode_record(RecordType.TABSCHEM, tabid=_ORDERS_TABID, cols_desc=ddl)
            )
    tx = F.col("transaction_id")
    write_capture_from_changelog(
        log.where(tx <= t1), v1, _ORDERS_TABID, cap, prefix="b"
    )
    write_capture_from_changelog(
        log.where(tx.between(t1 + 1, t2)), v2, _ORDERS_TABID, cap, prefix="d"
    )

    mat = Materializer(spark, str(tmp_path / "state"), ["o_orderkey"])
    observed_per_run = []

    def _make_apply(reg):
        def _apply(df, batch_id):
            df = df.localCheckpoint(eager=True)
            observed_per_run[-1] += reg.observe_batch(df)
            typed = decode_envelope_df_evolving(
                df, reg.epochs(), _ORDERS_TABID, "orders"
            )
            mat.process_batch(typed, batch_id)

        return _apply

    def _run():
        # a FRESH registry instance per run: run 2 must reload the
        # persisted epochs, not remember them in-process
        reg = EpochRegistry(_ORDERS_TABID, store=mat.store)
        observed_per_run.append(0)
        q = (
            spark.readStream.format("cdc-binlog")
            .option("path", cap)
            .load()
            .writeStream.foreachBatch(_make_apply(reg))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    assert observed_per_run[0] == 2  # both announcements consumed pre-restart
    # post-restart arrivals: epoch-2 rows ONLY, no TABSCHEM
    write_capture_from_changelog(
        log.where(tx > t2), v2, _ORDERS_TABID, cap, prefix="f"
    )
    _run()
    assert observed_per_run[1] == 0  # nothing re-announced, registry reloaded

    # equality with the batch evolving decode over the full capture
    raw = spark.read.format("cdc-binlog").option("path", cap).load()
    ref_reg = EpochRegistry(_ORDERS_TABID)
    ref_reg.observe_batch(raw)
    want_df = apply_changes(
        decode_envelope_df_evolving(raw, ref_reg.epochs(), _ORDERS_TABID, "orders"),
        key_cols=["o_orderkey"],
    )
    want = {
        (r["o_orderkey"], r["o_custkey"], r["o_orderpriority"])
        for r in want_df.collect()
    }
    got = {
        (r["o_orderkey"], r["o_custkey"], r["o_orderpriority"])
        for r in mat.read_target().collect()
    }
    assert got == want
    # epoch-1 rows really null-fill the added column; epoch-2 rows carry it
    assert any(k <= t1 and p is None for k, _, p in got)
    assert any(k > t2 and p is not None for k, _, p in got)


def _write_capture(path, recs):
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.bin"), "wb") as fh:
        fh.write(b"".join(recs))


def test_binlog_truncate_wipes_same_batch_rows(spark, tmp_path):
    """A committed TRUNCATE wipes rows committed earlier in the SAME
    micro-batch on the production path (cdc-binlog → decode_envelope_df
    → Materializer): the decoded TRUNCATE carries its table's
    tabid/tabname, which the truncate floor groups by."""
    from informixcdc_spark.cdc.binary import (
        decode_envelope_df,
        encode_record,
        encode_row_image,
    )
    from informixcdc_spark.cdc.model import RecordType
    from informixcdc_spark.streaming.pipeline import Materializer

    cols = parse_ddl("id bigint, val varchar(8)")

    def ins(seq, tx, k):
        return encode_record(
            RecordType.INSERT, seq=seq, txid=tx, tabid=1,
            row_image=encode_row_image(cols, {"id": k, "val": str(k)}),
        )

    cap = str(tmp_path / "cap")
    _write_capture(
        cap,
        [
            encode_record(RecordType.BEGINTX, seq=1, txid=1),
            ins(2, 1, 1),
            encode_record(RecordType.COMMTX, seq=3, txid=1),
            encode_record(RecordType.BEGINTX, seq=4, txid=2),
            encode_record(RecordType.TRUNCATE, seq=5, txid=2, tabid=1),
            ins(6, 2, 3),
            encode_record(RecordType.COMMTX, seq=7, txid=2),
        ],
    )
    register_binlog_source(spark)
    mat = Materializer(spark, str(tmp_path / "state"), ["id"], n_buckets=4)

    def _apply(df, batch_id):
        mat.process_batch(decode_envelope_df(df, {1: cols}, 1, "t"), batch_id)

    q = (
        spark.readStream.format("cdc-binlog")
        .option("path", cap)
        .load()
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {r["id"] for r in mat.read_target().collect()} == {3}


def test_stream_and_envelope_decoders_agree(spark, tmp_path):
    """One capture holding every record type decodes to identical rows
    through decode_stream_df (``record binary`` rows) and through
    decode_envelope_df (the cdc-binlog read): both go through the one
    envelope parser and the one row builder."""
    from informixcdc_spark.cdc.binary import (
        decode_envelope_df,
        decode_stream_df,
        encode_record,
        encode_row_image,
    )
    from informixcdc_spark.cdc.model import RecordType

    ddl = "id int, name varchar(20)"
    cols = parse_ddl(ddl)

    def iud(t, seq, tx, k, name, tabid=5):
        return encode_record(
            t, seq=seq, txid=tx, tabid=tabid, flags=seq,
            row_image=encode_row_image(cols, {"id": k, "name": name}),
        )

    recs = [
        encode_record(RecordType.TABSCHEM, tabid=5, flags=1, cols_desc=ddl),
        encode_record(RecordType.BEGINTX, seq=1, txid=1, start_time=100, user_id=7),
        iud(RecordType.INSERT, 2, 1, 1, "a"),
        iud(RecordType.UPDBEF, 3, 1, 1, "a"),
        iud(RecordType.UPDAFT, 4, 1, 1, None),
        iud(RecordType.DELETE, 5, 1, 1, None),
        encode_record(RecordType.COMMTX, seq=6, txid=1, commit_time=200),
        encode_record(RecordType.BEGINTX, seq=7, txid=2),
        iud(RecordType.INSERT, 8, 2, 2, "b"),
        encode_record(RecordType.RBTX, seq=9, txid=2),
        encode_record(RecordType.BEGINTX, seq=10, txid=3),
        encode_record(RecordType.DISCARD, seq=11, txid=3),
        encode_record(RecordType.BEGINTX, seq=12, txid=4),
        encode_record(RecordType.TRUNCATE, seq=13, txid=4, tabid=5),
        encode_record(RecordType.TIMEOUT, seq=14),
        iud(RecordType.INSERT, 15, 4, 9, "foreign", tabid=6),
        iud(RecordType.INSERT, 16, 4, 3, "c"),
        encode_record(RecordType.COMMTX, seq=17, txid=4, commit_time=300),
    ]
    cap = str(tmp_path / "cap")
    _write_capture(cap, recs)
    register_binlog_source(spark)
    records = spark.createDataFrame([(r,) for r in recs], "record binary")
    envelopes = spark.read.format("cdc-binlog").option("path", cap).load()

    stream = decode_stream_df(records, {5: cols}, 5, "t", last_seq_number=7)
    env = decode_envelope_df(envelopes, {5: cols}, 5, "t", last_seq_number=7)
    assert stream.schema == env.schema
    got = stream.orderBy("seq_number").collect()
    assert got == env.orderBy("seq_number").collect()

    by_seq = {r["seq_number"]: r for r in got}
    # TABSCHEM and the foreign table's INSERT are dropped, nothing else
    assert sorted(by_seq) == [s for s in range(1, 18) if s != 15]
    assert by_seq[13]["record_type"] == "TRUNCATE"
    assert (by_seq[13]["tabid"], by_seq[13]["tabname"]) == (5, "t")
    assert by_seq[1]["start_time"] == 100 and by_seq[1]["user_id"] == 7
    assert by_seq[1]["discard_candidate"] is True
    assert by_seq[6]["discard_transaction"] is True
    assert by_seq[12]["discard_candidate"] is False
    assert by_seq[4]["row"]["name"] is None and by_seq[4]["flags"] == 4
    assert by_seq[14]["tabid"] is None and by_seq[14]["row"] is None
