"""Tests of the benchmark itself, at fixture scale (about sf0.001).

Run from the repository root: ``python3 -m pytest perfbench -q``
"""

from __future__ import annotations

import os

import pytest

from perfbench import gen


@pytest.fixture(scope="module")
def spark():
    from perfbench import run

    run.configure_env()
    from informixcdc_spark.session import get_spark
    from informixcdc_spark.sources.binlog import register_binlog_source

    s = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    register_binlog_source(s)
    return s


def _materialize(spark, files, state_dir):
    """Batch-read a capture through the cdc-binlog source, decode it and
    commit it as one micro-batch."""
    from informixcdc_spark.streaming.pipeline import Materializer

    from perfbench.run import decode, write_files

    cap_dir = os.path.join(state_dir, "capture")
    write_files(cap_dir, files)
    mat = Materializer(spark, os.path.join(state_dir, "state"), [gen.KEY])
    env = spark.read.format("cdc-binlog").load(cap_dir)
    mat.process_batch(decode(env), 0)
    return mat


class _Result:
    def __init__(self):
        self.mismatches = []

    def mismatch(self, what):
        self.mismatches.append(what)


def _wrong(rows: list[tuple]) -> list[tuple]:
    """One price off by a cent."""
    k, cust, status, price, ts, prio = rows[0]
    return [(k, cust, status, price + 0.01, ts, prio)] + rows[1:]


def test_check_accepts_catchup_and_rejects_wrong_table(spark, tmp_path):
    from perfbench.run import check_table

    cap, rows = gen.catchup_capture(spark, 7, 1_500, 4, str(tmp_path / "gen"))
    mat = _materialize(spark, cap.files, str(tmp_path / "m"))
    expected = gen.closed_form(rows)

    ok = _Result()
    check_table(ok, mat, expected, "catchup")
    assert ok.mismatches == []

    for wrong in (_wrong(expected), expected[1:], expected + expected[:1]):
        bad = _Result()
        check_table(bad, mat, wrong, "catchup")
        assert len(bad.mismatches) == 1


def test_check_accepts_trickle_replay_and_rejects_wrong_table(spark, tmp_path):
    from perfbench.run import check_table

    tr = gen.trickle_stream(5, n_base=1_000, n_files=3, events_per_file=300, n_frozen=50)
    # every file but the last: its open transactions must not be applied
    released = len(tr.capture.files) - 1
    mat = _materialize(spark, tr.capture.files[:released], str(tmp_path / "m"))
    expected = gen.replay(tr.base, tr.txns, tr.capture.commit_file, released)

    ok = _Result()
    check_table(ok, mat, expected, "trickle")
    assert ok.mismatches == []

    everything = gen.replay(tr.base, tr.txns, tr.capture.commit_file, len(tr.capture.files))
    for wrong in (_wrong(expected), everything):
        bad = _Result()
        check_table(bad, mat, wrong, "trickle")
        assert len(bad.mismatches) == 1


def test_trickle_generator_identical_for_seed():
    a = gen.trickle_stream(3, n_base=500, n_files=4, events_per_file=200, n_frozen=20)
    b = gen.trickle_stream(3, n_base=500, n_files=4, events_per_file=200, n_frozen=20)
    c = gen.trickle_stream(4, n_base=500, n_files=4, events_per_file=200, n_frozen=20)
    assert a.capture.files == b.capture.files
    assert a.capture.fingerprint(seed=3) == b.capture.fingerprint(seed=3)
    assert a.capture.fingerprint(seed=3) != c.capture.fingerprint(seed=4)
    # the fingerprint covers the parameters, not just the bytes
    assert a.capture.fingerprint(seed=3, x=1) != a.capture.fingerprint(seed=3, x=2)


def test_trickle_stream_shape():
    tr = gen.trickle_stream(9, n_base=500, n_files=6, events_per_file=200, n_frozen=20)
    frozen = set(tr.frozen)
    touched = {row[gen.KEY] for t in tr.txns for _, row in t.ops}
    assert not frozen & touched
    assert len(tr.capture.files) == tr.n_base_files + 6
    assert tr.capture.records[tr.n_base_files : -1] == [200] * 5
    # a transaction (BEGINTX, ops, terminator) is shorter than a file, so it
    # ends within two files of where it starts
    assert max(len(t.ops) + 2 for t in tr.txns) < 200
    assert any(not t.committed for t in tr.txns)


def test_catchup_generator_identical_for_seed(spark, tmp_path):
    from informixcdc_spark.cdc.binary import decode_record, split_stream

    a, _ = gen.catchup_capture(spark, 2, 1_600, 4, str(tmp_path / "a"))
    b, _ = gen.catchup_capture(spark, 2, 1_600, 4, str(tmp_path / "b"))
    c, _ = gen.catchup_capture(spark, 3, 1_600, 4, str(tmp_path / "c"))
    assert a.files == b.files
    assert a.fingerprint(seed=2) == b.fingerprint(seed=2) != c.fingerprint(seed=3)
    # each cut falls inside a transaction, so it straddles the two files
    txids = [{decode_record(r)["transaction_id"] for r in split_stream(data)} for _, data in a.files]
    assert len(txids) == 4
    assert all(txids[i] & txids[i + 1] for i in range(3))


def test_lag_accounting_exact_on_synthetic_schedule():
    # txid -> file holding its COMMTX
    commit_file = {1: 0, 2: 0, 3: 1, 4: 2, 5: 3}
    # txid -> creation time; txn 5 is outside the measured window
    created = {1: 9.5, 2: 10.0, 3: 12.0, 4: 14.0}
    # (end offset in files, pointer-commit time): batch 2 takes files 1 and 2
    batches = [(3, 15.25), (1, 11.5), (4, 16.0)]
    lags = gen.txn_lags(commit_file, created, batches)
    assert sorted(lags) == [1.25, 1.5, 2.0, 3.25]

    with pytest.raises(ValueError):
        gen.txn_lags({1: 4}, {1: 1.0}, batches)


def test_percentiles():
    assert gen.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert gen.percentile([0.0, 10.0], 25) == 2.5
    assert gen.tail_percentile(1_000, 99) == 99
    assert gen.tail_percentile(500, 99) == 98
    assert gen.tail_percentile(15, 99) == 50
