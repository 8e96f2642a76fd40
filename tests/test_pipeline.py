"""BatchPipeline semantic contracts — pytest mirror of the reference's unit
coverage (/root/reference/batch_processor_unit_test.go, SURVEY.md §5.1):
constructor validation, worker saturation, timeout promotion, empty fetch,
fetch errors, processor error resilience, panic paths, success finalization,
stop/drain. Event-driven (threading.Event), not sleep-sequenced.
"""

from __future__ import annotations

import threading
import time

import pytest

from go_batch_processor_spark.pipeline import (
    BatchPipeline,
    BatchTimeoutError,
    DEFAULT_PROCESSOR_TIMEOUT_MS,
    FnFinalizer,
    FnProcessor,
    FnSupplier,
)


class Recorder:
    """Collects finalizer outcomes with an event per call."""

    def __init__(self):
        self.calls: list[tuple[object, Exception | None]] = []
        self._lock = threading.Lock()
        self.called = threading.Event()

    def on_batch_processed(self, processed, error):
        with self._lock:
            self.calls.append((processed, error))
        self.called.set()

    def wait_calls(self, n, timeout=10.0):
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.calls) >= n:
                    return list(self.calls)
            time.sleep(0.01)
        raise AssertionError(f"finalizer got {len(self.calls)} calls, wanted {n}")


def one_shot_supplier(df):
    """Yields df once, then None forever."""
    served = threading.Event()

    def fetch():
        if served.is_set():
            return None
        served.set()
        return df

    return FnSupplier(fetch)


def tiny_df(spark, n=3):
    return spark.range(n)


# ---- constructor validation (reference :17-37) ---------------------------


def test_constructor_rejects_none_supplier(spark):
    with pytest.raises(ValueError, match="supplier"):
        BatchPipeline(1, None, FnProcessor(lambda b: b))


def test_constructor_rejects_none_processor(spark):
    with pytest.raises(ValueError, match="processor"):
        BatchPipeline(1, FnSupplier(lambda: None), None)


def test_constructor_rejects_bad_workers(spark):
    with pytest.raises(ValueError, match="max_workers"):
        BatchPipeline(0, FnSupplier(lambda: None), FnProcessor(lambda b: b))


def test_timeout_nonpositive_resets_to_default(spark):
    p = BatchPipeline(1, FnSupplier(lambda: None), FnProcessor(lambda b: b))
    p.with_processor_timeout_ms(-5)
    assert p._timeout_ms == DEFAULT_PROCESSOR_TIMEOUT_MS


# ---- success finalization (reference :216-234) ---------------------------


def test_success_path_finalizes_with_result(spark):
    rec = Recorder()
    df = tiny_df(spark)
    pipe = (
        BatchPipeline(1, one_shot_supplier(df), FnProcessor(lambda b: b.selectExpr("id * 2 as id")))
        .with_finalizer(rec)
        .with_no_batch_sleep_interval_ms(10)
    )
    pipe.try_process_batch()
    calls = rec.wait_calls(1)
    processed, err = calls[0]
    assert err is None
    assert processed is not None and processed.count() == 3


# ---- processor error resilience (reference :148-168) ---------------------


def test_processor_error_reaches_finalizer_and_pipeline_continues(spark):
    rec = Recorder()
    df = tiny_df(spark)
    fetched = []

    def fetch():
        if len(fetched) >= 2:
            return None
        fetched.append(1)
        return df

    def boom(batch):
        raise RuntimeError("processor exploded")

    pipe = BatchPipeline(2, FnSupplier(fetch), FnProcessor(boom)).with_finalizer(rec)
    pipe.try_process_batch()
    calls = rec.wait_calls(2)
    for processed, err in calls:
        assert processed is None
        assert isinstance(err, RuntimeError)


# ---- panic isolation (reference :170-214) --------------------------------


def test_panic_isolation_base_exception(spark):
    rec = Recorder()

    def panic(batch):
        raise SystemExit("worker panic")

    pipe = BatchPipeline(1, one_shot_supplier(tiny_df(spark)), FnProcessor(panic))
    pipe.with_finalizer(rec)
    pipe.try_process_batch()
    calls = rec.wait_calls(1)
    processed, err = calls[0]
    assert processed is None
    assert isinstance(err, RuntimeError) and "panic in worker" in str(err)
    assert isinstance(err.__cause__, SystemExit)


# ---- timeout promotion (reference :56-80) --------------------------------


def test_timeout_promoted_even_if_processor_succeeds_late(spark):
    rec = Recorder()
    release = threading.Event()

    def slow(batch):
        release.wait(5.0)  # returns successfully, but after the deadline
        return batch

    pipe = (
        BatchPipeline(1, one_shot_supplier(tiny_df(spark)), FnProcessor(slow))
        .with_finalizer(rec)
        .with_processor_timeout_ms(100)
    )
    pipe.try_process_batch()
    time.sleep(0.3)  # let the timer fire first
    release.set()
    calls = rec.wait_calls(1)
    processed, err = calls[0]
    # The late result rides along with the promoted timeout, as the
    # reference hands `processed` + ctx.Err() to the finalizer
    # (batch_processor.go:161-165).
    assert processed is not None
    assert isinstance(err, BatchTimeoutError)


# ---- empty fetch backoff (reference :82-99) ------------------------------


def test_empty_fetch_does_not_finalize_and_backs_off(spark):
    rec = Recorder()
    n_fetches = []

    pipe = (
        BatchPipeline(2, FnSupplier(lambda: n_fetches.append(1)), FnProcessor(lambda b: b))
        .with_finalizer(rec)
        .with_no_batch_sleep_interval_ms(10)
    )
    pipe.try_process_batch()
    # each free slot fetches once; an empty fetch backs off then CONTINUES
    # to the next slot (reference batch_processor.go:131-135), so both
    # slots fetched and nothing was finalized
    assert len(n_fetches) == 2
    assert rec.calls == []


# ---- fetch errors (reference :101-146) -----------------------------------


def test_fetch_error_drops_slot_and_continues(spark):
    rec = Recorder()
    df = tiny_df(spark)
    seq = ["err", "ok"]

    def fetch():
        if seq:
            step = seq.pop(0)
            if step == "err":
                raise IOError("source down")
            return df
        return None

    pipe = BatchPipeline(2, FnSupplier(fetch), FnProcessor(lambda b: b)).with_finalizer(rec)
    pipe.try_process_batch()
    calls = rec.wait_calls(1)
    assert calls[0][1] is None  # the ok batch still processed
    assert not seq


def test_fetch_retry_extension(spark):
    rec = Recorder()
    df = tiny_df(spark)
    attempts = []

    def fetch():
        attempts.append(1)
        if len(attempts) < 3:
            raise IOError("flaky")
        return df

    pipe = (
        BatchPipeline(1, FnSupplier(fetch), FnProcessor(lambda b: b))
        .with_finalizer(rec)
        .with_fetch_retry(retries=3, backoff_ms=1)
    )
    pipe.try_process_batch()
    rec.wait_calls(1)
    assert len(attempts) == 3


# ---- worker saturation (reference :39-54) --------------------------------


def test_worker_saturation_caps_concurrency(spark):
    rec = Recorder()
    df = tiny_df(spark)
    in_flight = []
    peak = []
    gate = threading.Event()
    lock = threading.Lock()

    def tracked(batch):
        with lock:
            in_flight.append(1)
            peak.append(len(in_flight))
        gate.wait(5.0)
        with lock:
            in_flight.pop()
        return batch

    pipe = BatchPipeline(2, FnSupplier(lambda: df), FnProcessor(tracked)).with_finalizer(rec)
    pipe.try_process_batch()  # fills both slots
    pipe.try_process_batch()  # no free slot -> no new dispatch
    time.sleep(0.2)
    assert pipe.current_workers == 2
    gate.set()
    rec.wait_calls(2)
    assert max(peak) <= 2


def test_saturated_scheduler_parks_instead_of_spinning(spark):
    """While every slot is busy the scheduler waits on the condition
    variable: one worker sleeping for a second leaves the driver process
    nearly idle (a polling scheduler burns a full core over the window)."""
    df = tiny_df(spark)
    started = threading.Event()

    def slow(batch):
        started.set()
        time.sleep(1.0)
        return batch

    pipe = BatchPipeline(1, FnSupplier(lambda: df), FnProcessor(slow))
    pipe.start()
    assert started.wait(10.0)
    cpu0 = time.process_time()
    time.sleep(0.8)
    cpu = time.process_time() - cpu0
    pipe.stop()
    assert pipe.current_workers == 0
    assert cpu < 0.3, cpu


def test_parked_scheduler_loses_no_wakeup_under_thread_churn(spark):
    """Stress for the park/wake protocol: more slots than cores, many
    one-millisecond batches and a tiny thread switch interval. A lost
    wake-up would strand the scheduler on a free pool; every batch must
    still finalize, the pool never exceeds its cap, and stop() ends the
    scheduler thread."""
    import sys

    df = tiny_df(spark)
    n, slots = 200, 8
    lock = threading.Lock()
    served, inflight, peak = [0], [0], [0]

    def fetch():
        with lock:
            if served[0] >= n:
                return None
            served[0] += 1
        return df

    def proc(batch):
        with lock:
            inflight[0] += 1
            peak[0] = max(peak[0], inflight[0])
        time.sleep(0.001)
        with lock:
            inflight[0] -= 1
        return batch

    rec = Recorder()
    pipe = (
        BatchPipeline(slots, FnSupplier(fetch), FnProcessor(proc))
        .with_finalizer(rec)
        .with_no_batch_sleep_interval_ms(10)
    )
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        pipe.start()
        calls = rec.wait_calls(n, timeout=60.0)
        pipe.stop()
    finally:
        sys.setswitchinterval(old)
    assert len(calls) == n and all(err is None for _, err in calls)
    assert peak[0] <= slots
    assert not pipe._scheduler.is_alive()


# ---- stop/drain (reference :236-268) -------------------------------------


def test_stop_drains_in_flight_and_blocks_new_batches(spark):
    rec = Recorder()
    df = tiny_df(spark)
    started = threading.Event()
    release = threading.Event()

    def slow(batch):
        started.set()
        release.wait(5.0)
        return batch

    pipe = BatchPipeline(1, FnSupplier(lambda: df), FnProcessor(slow)).with_finalizer(rec)
    pipe.start()
    assert started.wait(5.0)

    stopper = threading.Thread(target=pipe.stop)
    stopper.start()
    time.sleep(0.2)
    assert stopper.is_alive()  # stop() must wait for the in-flight batch
    release.set()
    stopper.join(timeout=10)
    assert not stopper.is_alive()
    # exactly the in-flight batch finalized; no new batch started after stop
    assert len(rec.wait_calls(1)) >= 1
    assert pipe.current_workers == 0
    n_after = len(rec.calls)
    time.sleep(0.3)
    assert len(rec.calls) == n_after


def test_foreachbatch_epoch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-delivering an epoch (as foreachBatch does after a failure) must
    not duplicate sink rows — the epoch-keyed overwrite layout absorbs it."""
    from pyspark.sql import functions as F

    from go_batch_processor_spark.catalog import load_table
    from go_batch_processor_spark.pipeline import ForeachBatchPipeline

    sink = str(tmp_path / "sink")
    pipe = ForeachBatchPipeline(
        spark,
        source=None,  # driving _handle_batch directly
        processor=lambda df: df.select("event_id", "user_id", "value"),
        sink_path=sink,
    )
    ev = load_table(spark, sf_dir, "events").limit(100)
    pipe._handle_batch(ev, epoch_id=0)
    n1 = spark.read.parquet(sink).count()
    pipe._handle_batch(ev, epoch_id=0)  # replay same epoch
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2 == 100
    pipe._handle_batch(ev, epoch_id=1)  # a genuinely new epoch appends
    assert spark.read.parquet(sink).count() == 200
    assert not pipe.errors


def test_observe_metrics_per_batch(spark, sf_dir):
    """DataFrame.observe: per-action row/value metrics without a second
    pass — the monitoring hook a production pipeline attaches per batch."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from go_batch_processor_spark.catalog import load_table

    obs = Observation("batch_metrics")
    ev = load_table(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    n = ev.count()
    assert obs.get["n_rows"] == n > 0
    assert obs.get["total_value"] > 0


def test_end_to_end_sliced_table_pipeline(spark, sf_dir):
    """Full-system run: a supplier serving the events table in 10 key-range
    slices, a real aggregation processor, a collecting finalizer, 4
    concurrent workers — every input row must be accounted exactly once."""
    from pyspark.sql import functions as F

    from go_batch_processor_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    n_total = ev.count()
    slices = list(range(10))
    lock = threading.Lock()

    def fetch():
        with lock:
            if not slices:
                return None
            i = slices.pop(0)
        return ev.filter(F.col("event_id") % 10 == i)

    def process(batch):
        return batch.agg(F.count(F.lit(1)).alias("n"))

    rec = Recorder()
    pipe = (
        BatchPipeline(4, FnSupplier(fetch), FnProcessor(process))
        .with_finalizer(rec)
        .with_no_batch_sleep_interval_ms(20)
    )
    pipe.start()
    calls = rec.wait_calls(10, timeout=60)
    pipe.stop()
    assert len(rec.calls) == 10
    assert all(err is None for _, err in rec.calls)
    assert sum(df.first().n for df, _ in rec.calls) == n_total


def test_restart_after_stop_is_noop(spark):
    pipe = BatchPipeline(1, FnSupplier(lambda: None), FnProcessor(lambda b: b))
    pipe.start()
    pipe.stop()
    pipe.start()  # guard: no new scheduler after stop
    assert pipe._stop_signal.is_set()
    time.sleep(0.1)
    assert pipe.current_workers == 0
