"""End-to-end CDC benchmark: capture files -> ``cdc-binlog`` source ->
``decode_envelope_df`` -> ``Materializer.process_batch`` in ``foreachBatch``
(the composition of c09's binlog arm), checked against a reference table.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/METRICS.md for why each exists and which
end-to-end metric each layer metric should move):

- ``catchup``: the engine's orders changelog is present before the query
  starts; it drains with ``availableNow``, again and again for the run.
- ``trickle``: a base table is loaded during set-up, then an open-loop
  generator releases one small capture file per fixed interval.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` forces each
layer with an eager ``localCheckpoint`` on every other micro-batch, records
spans around the benchmark's calls into each layer, and prints the
per-layer metrics. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 1
when a committed table differs from its reference.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import ast  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")

#: sized so that a run of either benchmarked workload takes under a minute
#: on a 4-core host; see perfbench/METRICS.md for the measurements behind each
PARAMS = {
    "catchup": {"n_orders": 10_000, "n_files": 4},
    "trickle": {"n_base": 10_000, "events_per_file": 2_000, "interval_s": 5.5, "warm_files": 1},
}
#: timed trickle files at the least, whatever ``--seconds`` is: a traced run
#: traces every other batch, so each half has at least two batches
MIN_TIMED_FILES = 4
#: reader operations after the stream stops, in traced runs
READS_AFTER = 4
#: keys per lookup; reader operations 0, 5, 10, ... are the aggregate instead
LOOKUP_KEYS = 8
#: attempts per micro-batch before the query is allowed to fail
BATCH_ATTEMPTS = 3
#: a run that has not finished by then exits non-zero (limit: 180 s)
DEADLINE_S = 165
#: host steal (cpu-seconds over the run) above which a run is flagged
STEAL_FLAG_S = 0.5

def configure_env() -> None:
    """Make the run self-sufficient: Spark's Python workers import the
    engine through PYTHONPATH (without it every data-source and
    mapInPandas task fails with ModuleNotFoundError), one core per
    available CPU, a driver heap that fits a small host, and every
    scratch file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)


def median(xs):
    return statistics.median(xs) if xs else math.nan


class Bench:
    """One benchmark process: the Spark session, counters shared by the
    workloads, and the result."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        from informixcdc_spark.hostmeter import StealMeter
        from informixcdc_spark.session import get_spark

        from perfbench.probes import SparkCounters, Tracer

        self.steal = StealMeter()
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.params = PARAMS[workload]
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.spark = get_spark(
            app_name="informixcdc-perfbench",
            extra_conf={
                # the UI's REST API serves the traced run's job and shuffle counts
                "spark.ui.enabled": str(trace).lower(),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        from informixcdc_spark.sources.binlog import register_binlog_source

        register_binlog_source(self.spark)
        self.spark_ready = time.monotonic()
        self.tracer = Tracer()
        self.counters = SparkCounters(self.spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, int] = {}
        self.mismatches: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.notes: list[str] = []

    def fail(self, exc: BaseException) -> None:
        """Count a failed operation under its error class: the Spark error
        condition, or the root cause of a JVM exception."""
        name = type(exc).__name__
        cond = getattr(exc, "getCondition", None)
        jexc = getattr(exc, "java_exception", None)
        if callable(cond) and cond():
            name += f":{cond()}"
        elif jexc is not None:
            while jexc.getCause() is not None:
                jexc = jexc.getCause()
            name += f":{jexc.getClass().getName()}"
        self.failed += 1
        self.errors[name] = self.errors.get(name, 0) + 1

    def set_up(self, gen_done: float) -> None:
        """Set-up ends here: process start until the first timed release."""
        now = time.monotonic()
        self.e2e["setup_s"] = now - T_START
        self.notes.append(
            f"set-up: spark {self.spark_ready - T_START:.2f} s, inputs "
            f"{gen_done - self.spark_ready:.2f} s, engine warm-up {now - gen_done:.2f} s"
        )

    def attempt(self) -> None:
        self.attempted += 1

    def mismatch(self, what: str) -> None:
        self.mismatches.append(what)

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        shutil.rmtree(self.run_dir, ignore_errors=True)
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# the pipeline under test
# ---------------------------------------------------------------------------
class Pipeline:
    """One streaming query over a capture directory, materialized into a
    fresh state directory. Records the pointer-commit time of every batch
    by wrapping the state store's commit, and the bytes each batch wrote."""

    def __init__(self, b: Bench, cap_dir: str, name: str, traced=lambda bid: False):
        from informixcdc_spark.streaming.pipeline import Materializer

        from perfbench.gen import KEY

        self.b, self.cap_dir, self.traced = b, cap_dir, traced
        self.state_dir = os.path.join(b.run_dir, name, "state")
        self.ckpt = os.path.join(b.run_dir, name, "ckpt")
        self.mat = Materializer(b.spark, self.state_dir, [KEY])
        self.commits: dict[int, float] = {}
        self.write_bytes = 0
        self.traced_ids: set[int] = set()
        self.batch_stats: dict[int, dict] = {}
        #: the traced batch in progress; state-store calls outside one are not spans
        self._bid: int | None = None
        store = self.mat.store
        commit, read = store.commit_state, store.read_state

        def commit_state(state):
            with self._span("statestore.commit", state["batch_id"]):
                commit(state)
            self.commits[state["batch_id"]] = time.monotonic()

        def read_state():
            with self._span("statestore.read_state", self._bid):
                return read()

        store.commit_state, store.read_state = commit_state, read_state
        self.query = None

    def _span(self, name: str, bid: int):
        from contextlib import nullcontext

        if self._bid is None:
            return nullcontext()
        return self.b.tracer.span(name, bid)

    def start(self, available_now: bool) -> Pipeline:
        w = (
            self.b.spark.readStream.format("cdc-binlog")
            .option("path", self.cap_dir)
            .load()
            .writeStream.foreachBatch(self._batch)
            .option("checkpointLocation", self.ckpt)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        self.query = w.start()
        return self

    def _batch(self, df, bid: int) -> None:
        traced = self.b.trace and self.traced(bid)
        for attempt in range(BATCH_ATTEMPTS):
            self.b.attempt()
            try:
                if traced:
                    self._traced_batch(df, bid)
                else:
                    self.mat.process_batch(decode(df), bid)
                break
            except Exception as e:  # counted; the query fails after the last attempt
                self.b.fail(e)
                if attempt == BATCH_ATTEMPTS - 1:
                    raise
        from perfbench.probes import dir_bytes

        self.write_bytes += dir_bytes(self.mat.store.path("target", f"b{bid}")) + dir_bytes(
            self.mat.store.path("pending", f"v{bid}")
        )

    def _traced_batch(self, df, bid: int) -> None:
        from perfbench.probes import dir_bytes

        t, c, mat = self.b.tracer, self.b.counters, self.mat
        self.traced_ids.add(bid)
        self._bid = bid
        try:
            with t.span("batch", bid):
                with t.span("binlog.read", bid):
                    src = df.localCheckpoint(eager=True)
                with t.span("binary.decode", bid):
                    typed = decode(src).localCheckpoint(eager=True)
                with t.span("trace.probes", bid):
                    rows_out = typed.count()
                    jobs0 = c.max_job_id()
                    c.shuffle_bytes_since_last()
                with t.span("pipeline.process_batch", bid):
                    mat.process_batch(typed, bid)
                with t.span("trace.probes", bid):
                    jobs1 = c.max_job_id()
                    shuffle = c.shuffle_bytes_since_last()
                    self._bid = None  # the probes' own state reads are not spans
                    st = mat.read_state()
                    pending = mat.read_pending()
                    self.batch_stats[bid] = {
                        "binary.rows_out": rows_out,
                        "pipeline.jobs": jobs1 - jobs0,
                        "pipeline.shuffle_bytes": shuffle,
                        "pipeline.touched_buckets": sum(1 for v in st["buckets"].values() if v == bid),
                        "pipeline.open_txids": len(st.get("open_txids", [])),
                        "pipeline.bucket_bytes": dir_bytes(mat.store.path("target", f"b{bid}")),
                        "pipeline.pending_bytes": dir_bytes(mat.store.path("pending", f"v{bid}")),
                        "pipeline.pending_rows": pending.count() if pending is not None else 0,
                    }
        finally:
            self._bid = None

    def committed_files(self) -> int:
        p = self.query.lastProgress
        if not p:
            return 0
        return _n_files(p["sources"][0]["endOffset"])

    def wait_files(self, n: int, deadline: float) -> None:
        while self.committed_files() < n:
            if self.query.exception() is not None:
                raise RuntimeError(f"query failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError(f"{n} files not committed in time")
            time.sleep(0.01)

    def progress(self) -> list[dict]:
        return [p for p in self.query.recentProgress if p.get("numInputRows", 0) > 0]

    def batches(self) -> list[tuple[int, float]]:
        """[(end offset in files, pointer-commit time)] per data batch."""
        return [
            (_n_files(p["sources"][0]["endOffset"]), self.commits[p["batchId"]])
            for p in self.progress()
        ]

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()


def decode(df):
    """The typed decode stage: ``cdc-binlog`` envelopes -> orders changelog."""
    from informixcdc_spark.cdc.binary import decode_envelope_df
    from informixcdc_spark.cdc.generator import ORDERS_TABID

    from perfbench.gen import WIRE

    return decode_envelope_df(df, {ORDERS_TABID: WIRE}, ORDERS_TABID, "orders")


def _n_files(offset) -> int:
    if isinstance(offset, str):  # the Python source's offset dict, as repr
        offset = ast.literal_eval(offset)
    return int(offset["n_files"]) if offset else 0


def write_files(d: str, files) -> None:
    os.makedirs(d, exist_ok=True)
    for name, data in files:
        release(d, name, data)


def release(d: str, name: str, data: bytes) -> None:
    """Atomic arrival: the source lists only ``*.bin``."""
    tmp = os.path.join(d, name + ".part")
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, os.path.join(d, name))


# ---------------------------------------------------------------------------
# reads and checks
# ---------------------------------------------------------------------------
def _table_cols():
    from pyspark.sql import functions as F

    from perfbench.gen import COLS

    return [F.unix_micros(c).alias(c) if c == "o_orderdate" else F.col(c) for c in COLS]


def check_table(b: Bench, mat, expected: list[tuple], label: str) -> None:
    from perfbench.gen import table_digest

    df = mat.read_target()
    got = [] if df is None else [tuple(r) for r in df.select(*_table_cols()).collect()]
    g, e = table_digest(got), table_digest(expected)
    if g != e:
        b.mismatch(f"{label}: table (rows, hash) {g} != reference {e}")


class Reader:
    """Reader operations against ``Materializer.read_target()``: lookups of
    ``LOOKUP_KEYS`` keys, and every fifth operation, starting with the
    first, an aggregate over the whole key pool. Every result is checked
    for exact values."""

    def __init__(self, b: Bench, mat, expected: dict[int, tuple], pool: list[int]):
        self.b, self.mat, self.expected, self.pool = b, mat, expected, pool
        self.rng = random.Random(f"reader/{b.seed}")
        self.plan_ms: list[float] = []
        self.exec_ms: list[float] = []
        self.total_ms: list[float] = []
        self.n = 0
        pool_rows = [expected[k] for k in pool]
        self.agg_expected = (
            len(pool_rows),
            sum(r[1] for r in pool_rows),
            max(r[3] for r in pool_rows),
            min(r[4] for r in pool_rows),
        )

    def op(self) -> None:
        from pyspark.sql import functions as F

        from perfbench.gen import KEY

        i, self.n = self.n, self.n + 1
        agg = i % 5 == 0
        keys = self.pool if agg else self.rng.sample(self.pool, LOOKUP_KEYS)
        self.b.attempt()
        t0 = time.monotonic()
        try:
            df = self.mat.read_target().select(*_table_cols()).where(F.col(KEY).isin(keys))
            if agg:
                df = df.agg(
                    F.count(F.lit(1)),
                    F.sum("o_custkey"),
                    F.max("o_totalprice"),
                    F.min("o_orderdate"),
                )
            t1 = time.monotonic()
            rows = [tuple(r) for r in df.collect()]
            t2 = time.monotonic()
        except Exception as e:  # counted, not fatal
            self.b.fail(e)
            return
        self.plan_ms.append((t1 - t0) * 1e3)
        self.exec_ms.append((t2 - t1) * 1e3)
        self.total_ms.append((t2 - t0) * 1e3)
        want = [self.agg_expected] if agg else sorted(self.expected[k] for k in keys)
        if (rows if agg else sorted(rows)) != want:
            self.b.mismatch(f"reader op {i}: {rows} != {want}")

    def run(self, n: int) -> None:
        for _ in range(n):
            self.op()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def run_catchup(b: Bench) -> None:
    from perfbench import gen
    from perfbench.probes import tree_cpu_s

    p = b.params
    cap, rows = gen.catchup_capture(b.spark, b.seed, p["n_orders"], p["n_files"], b.run_dir)
    expected = gen.closed_form(rows)
    cap_dir = os.path.join(b.run_dir, "capture")
    b.capture_files = cap.files
    b.notes.append(f"fingerprint {cap.fingerprint(workload=b.workload, seed=b.seed, **p)}")
    if b.trace:
        _spark_free_rates(b, cap.files[len(cap.files) // 2][1], cap_dir)
    gen_done = time.monotonic()

    def drain(d: str, name: str, traced: bool) -> Pipeline:
        pipe = Pipeline(b, d, name, traced=lambda bid: traced)
        cpu0 = tree_cpu_s(os.getpid())
        pipe.t_start = time.monotonic()
        pipe.start(available_now=True)
        if not pipe.query.awaitTermination(150):
            raise TimeoutError("drain did not finish")
        if pipe.query.exception() is not None:
            raise RuntimeError(f"query failed: {pipe.query.exception()}")
        pipe.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        return pipe

    # warm-up: two untimed drains of the same capture (a cold drain takes
    # about four times as long as a warm one, and the second is still
    # faster than the first)
    for w in range(2):
        drain(cap_dir, f"warm{w}", False)
    b.set_up(gen_done)

    # drain again until the window is used (the median of two or more
    # drains); in a traced run every other drain is traced, so the untraced
    # ones measure the tracing overhead
    n_events = sum(cap.records)
    drains: list[Pipeline] = []
    t_end = time.monotonic() + b.seconds
    while time.monotonic() < t_end or len(drains) < 2:
        drains.append(drain(cap_dir, f"drain{len(drains)}", b.trace and len(drains) % 2 == 1))
    lags, rates = [], []
    for d in drains:
        # a backlog's transactions all exist when the drain starts
        created = dict.fromkeys(cap.commit_file, d.t_start)
        lags += gen.txn_lags(cap.commit_file, created, d.batches())
        rates.append(n_events / (max(d.commits.values()) - d.t_start))
        check_table(b, d.mat, expected, d.state_dir)
    by_key = {t[0]: t for t in expected}
    pool = random.Random(f"pool/{b.seed}").sample(sorted(by_key), 200)
    reader = Reader(b, drains[-1].mat, by_key, pool)
    if b.trace:
        reader.run(READS_AFTER)
    cpu_s = sum(d.cpu_s for d in drains)
    _summarize(b, drains, rates, lags, n_events * len(drains), cpu_s, reader)


def run_trickle(b: Bench) -> None:
    from perfbench import gen
    from perfbench.probes import tree_cpu_s

    p = b.params
    interval = p["interval_s"]
    n_timed = max(MIN_TIMED_FILES, math.ceil(b.seconds / interval))
    tr = gen.trickle_stream(b.seed, p["n_base"], p["warm_files"] + n_timed, p["events_per_file"])
    files, nb, nw = tr.capture.files, tr.n_base_files, p["warm_files"]
    b.capture_files = files
    b.notes.append(f"fingerprint {tr.capture.fingerprint(workload=b.workload, seed=b.seed, **p)}")
    base_by_key = {r[gen.KEY]: gen.row_tuple(r) for r in tr.base}
    gen_done = time.monotonic()

    # set-up: load the base, then warm up on small batches like the timed ones
    cap_dir = os.path.join(b.run_dir, "capture")
    write_files(cap_dir, files[:nb])
    pipe = Pipeline(b, cap_dir, "stream").start(available_now=False)
    deadline = time.monotonic() + 120
    pipe.wait_files(nb, deadline)
    for w in range(nw):
        release(cap_dir, *files[nb + w])
        pipe.wait_files(nb + w + 1, deadline)
    if b.trace:
        _spark_free_rates(b, files[nb][1], cap_dir)
    b.set_up(gen_done)

    # trace every other timed batch; the rest give the untraced comparison
    pipe.traced = lambda bid: bid % 2 == 1
    pipe.write_bytes = 0
    # the source produces each file's records evenly over the interval before
    # the file is cut and released; a transaction is created when its COMMTX
    # is produced
    t0 = time.monotonic()
    due = {nb + nw + i: t0 + i * interval for i in range(n_timed)}
    recs = tr.capture.records
    created = {
        txid: due[f] - interval * (1 - (tr.capture.commit_index[txid] + 1) / recs[f])
        for txid, f in tr.capture.commit_file.items()
        if f in due
    }
    late = []
    cpu0 = tree_cpu_s(os.getpid())
    for f, t in due.items():
        time.sleep(max(0.0, t - time.monotonic()))
        release(cap_dir, *files[f])
        late.append((time.monotonic() - t) * 1e3)
    pipe.wait_files(len(files), time.monotonic() + 120)
    cpu_s = tree_cpu_s(os.getpid()) - cpu0
    pipe.stop()
    batches = pipe.batches()
    lags = gen.txn_lags(tr.capture.commit_file, created, batches)
    n_events = sum(tr.capture.records[nb + nw :])
    rate = n_events / (max(pipe.commits.values()) - t0)
    expected = gen.replay(tr.base, tr.txns, tr.capture.commit_file, len(files))
    check_table(b, pipe.mat, expected, "final table")
    reader = Reader(b, pipe.mat, base_by_key, tr.frozen)
    if b.trace:
        reader.run(READS_AFTER)
    b.notes.append(f"generator ran at most {max(late):.1f} ms late")
    _summarize(b, [pipe], [rate], lags, n_events, cpu_s, reader, timed_after=nb + nw)


def _spark_free_rates(b: Bench, buf: bytes, cap_dir: str) -> None:
    """Spark-free single-core rates of the three codec steps over one
    capture file (framing, envelope decode, row-image decode), and the cost
    of the source's ``latestOffset`` over the capture directory (Spark's
    progress reports it in whole milliseconds, mostly 0)."""
    from informixcdc_spark.cdc.binary import decode_record, decode_row_image, split_stream
    from informixcdc_spark.cdc.model import CHANGE_HEADER_SZ, ENVELOPE_SZ
    from informixcdc_spark.sources.binlog import CdcBinlogDataSource

    from perfbench.gen import WIRE

    recs = list(split_stream(buf, strict=True))
    iud = [r for r in recs if decode_record(r)["record_type"] in ("INSERT", "DELETE", "UPDBEF", "UPDAFT")]
    off = ENVELOPE_SZ + CHANGE_HEADER_SZ

    def rate(fn, n):
        reps, t0 = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            dt = time.perf_counter() - t0
            if dt > 0.25:
                return n * reps / dt

    b.layer["binary.split_rec_per_s"] = rate(lambda: list(split_stream(buf, strict=True)), len(recs))
    b.layer["binary.decode_record_per_s"] = rate(lambda: [decode_record(r) for r in recs], len(recs))
    b.layer["binary.row_image_per_s"] = rate(
        lambda: [decode_row_image(WIRE, r, off) for r in iud], len(iud)
    )
    reader = CdcBinlogDataSource({"path": cap_dir}).streamReader(None)
    calls = []
    for _ in range(200):
        t0 = time.perf_counter()
        reader.latestOffset()
        calls.append((time.perf_counter() - t0) * 1e3)
    b.layer["binlog.latest_offset_ms"] = median(calls)


def _summarize(b, pipes, rates, lags, n_events, cpu_s, reader, timed_after: int = 0) -> None:
    from perfbench import gen
    from perfbench.probes import dir_bytes, dir_files, vm_hwm_mb

    n = len(lags)
    q_tail = gen.tail_percentile(n, 99.0)
    b.notes.append(f"lag samples {n} (committed transactions); tail percentile p{q_tail:g}")
    if reader.total_ms:
        b.notes.append(f"read samples {len(reader.total_ms)}")
    last = pipes[-1]
    trig = [pr["durationMs"]["triggerExecution"] for p in pipes for pr in p.progress()
            if _n_files(pr["sources"][0]["startOffset"]) >= timed_after]
    b.notes.append(f"timed batches' trigger ms {trig}")
    b.e2e.update(
        events_per_s=median(rates),
        lag_ms_p50=gen.percentile(lags, 50) * 1e3,
        lag_ms_p99=gen.percentile(lags, q_tail) * 1e3,
        cpu_ms_per_event=cpu_s * 1e3 / n_events,
        write_bytes_per_event=sum(p.write_bytes for p in pipes) / n_events,
        state_mb_end=dir_bytes(last.state_dir) / 2**20,
    )
    b.layer["host.peak_rss_mb"] = vm_hwm_mb() + vm_hwm_mb(b.jvm_pid())
    steal = b.steal.lap()
    b.layer["host.steal_s"] = steal
    if steal > STEAL_FLAG_S:
        b.notes.append(f"FLAG: host steal {steal} cpu-s during the run")
    b.layer["failed_op_share"] = b.failed / max(1, b.attempted)
    b.layer["statestore.files_end"] = dir_files(last.state_dir)
    if not b.trace:
        return
    b.layer["read.plan_ms"] = median(reader.plan_ms)
    b.layer["read.exec_ms"] = median(reader.exec_ms)
    b.layer["read.total_ms"] = median(reader.total_ms)

    # per-layer numbers: medians over the traced batches of the timed part;
    # stream phases from the untraced ones (tracing inflates addBatch)
    traced_prog, plain_prog, stats = [], [], []
    for pipe in pipes:
        for pr in pipe.progress():
            if _n_files(pr["sources"][0]["startOffset"]) < timed_after:
                continue
            if pr["batchId"] in pipe.traced_ids:
                traced_prog.append(pr)
                stats.append(pipe.batch_stats[pr["batchId"]])
            else:
                plain_prog.append(pr)

    def dur(prs, k):
        return [pr["durationMs"].get(k, 0) for pr in prs]

    # only timed batches are traced, so every span belongs to the timed part
    self_ms: dict[str, list[float]] = {}
    for i, s in b.tracer.self_times().items():
        self_ms.setdefault(b.tracer.spans[i].name, []).append(s * 1e3)
    sizes = [len(data) for _name, data in b.capture_files]
    b.layer.update({
        "binlog.read_ms": median(self_ms.get("binlog.read", [])),
        "binlog.records": median([pr["numInputRows"] for pr in traced_prog]),
        "binlog.bytes_in": median([
            sum(sizes[_n_files(pr["sources"][0]["startOffset"]) : _n_files(pr["sources"][0]["endOffset"])])
            for pr in traced_prog
        ]),
        "binary.decode_ms": median(self_ms.get("binary.decode", [])),
        "pipeline.batch_ms": median(self_ms.get("pipeline.process_batch", [])),
        "pipeline.table_rows": last.mat.read_target().count(),
        "statestore.read_state_ms": median(self_ms.get("statestore.read_state", [])),
        "statestore.commit_ms": median(self_ms.get("statestore.commit", [])),
        "stream.trigger_ms": median(dur(plain_prog, "triggerExecution")),
        "stream.add_batch_ms": median(dur(plain_prog, "addBatch")),
        "stream.wal_ms": median(dur(plain_prog, "walCommit")),
        "trace.overhead_share": median(dur(traced_prog, "triggerExecution"))
        / median(dur(plain_prog, "triggerExecution")) - 1,
    })
    for k in stats[0] if stats else ():
        b.layer[k] = median([s[k] for s in stats])
    # share of the traced triggers, less the tracing's own probes, that the
    # layer spans and the stream's own phases account for; the rest is
    # foreachBatch dispatch and glue
    layers = ("binlog.read", "binary.decode", "pipeline.process_batch",
              "statestore.read_state", "statestore.commit")
    covered = sum(sum(self_ms.get(k, [])) for k in layers) + sum(
        sum(dur(traced_prog, k))
        for k in ("latestOffset", "walCommit", "commitOffsets", "getBatch", "queryPlanning")
    )
    probes = sum(self_ms.get("trace.probes", []))
    b.layer["trace.coverage_share"] = covered / (sum(dur(traced_prog, "triggerExecution")) - probes)
    b.tracer.dump(os.path.join(WORK, f"trace-{b.workload}-{b.seed}.json"))


def _overrun(_sig, _frame):
    """First alarm: abort the run (the caller closes Spark and exits 3);
    second alarm: the close itself hung, so exit at once."""
    signal.signal(signal.SIGALRM, lambda *_: os._exit(5))
    signal.alarm(10)
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "informixcdc_spark")):
        print(f"engine package informixcdc_spark not found under {ROOT}", file=sys.stderr)
        return 2
    configure_env()
    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(DEADLINE_S)
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "catchup":
            run_catchup(b)
        else:
            run_trickle(b)
    except Exception:
        traceback.print_exc()
        b.close()
        return 3
    b.close()
    signal.alarm(0)
    return report(b)


def report(b: Bench) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if b.trace else spec["end_to_end"]
    values = b.layer if b.trace else b.e2e
    b.notes.append(f"run wall {time.monotonic() - T_START:.1f} s")
    for line in b.notes:
        print(line)
    for name in sorted(b.errors):
        print(f"error {name}: {b.errors[name]}")
    for m in b.mismatches[:20]:
        print(f"MISMATCH {m}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k in sorted(b.e2e) + sorted(b.layer):
        print(f"{k} = {b.e2e.get(k, b.layer.get(k))} {units.get(k, '')}")
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 4
    correct = not b.mismatches
    print(json.dumps({
        "correct": correct,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
