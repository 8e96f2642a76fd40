"""BatchPipeline: the reference's bounded-concurrency micro-batch pipeline
(R1-R11, SURVEY.md §2.1) re-expressed over Spark DataFrames.

Reference semantics reproduced (citations into /root/reference):
  R1  constructor validation + defaults        batch_processor.go:43-60
  R2  optional finalizer attach                batch_processor.go:63-66
  R3  empty-source backoff config              batch_processor.go:69-72
  R4  per-batch timeout config (<=0 -> default) batch_processor.go:74-83
  R5  Start(): scheduler loop + restart guard  batch_processor.go:99-113
  R6  fetch + admission control + dispatch     batch_processor.go:115-145
  R7  async batch execution + timeout promote  batch_processor.go:147-167
  R8  panic isolation -> error to finalizer    batch_processor.go:169-180
  R9  finalize on success/error/timeout/crash  batch_processor.go:182-186
  R10 worker accounting                        batch_processor.go:188-194
  R11 graceful stop (drain, no cancellation)   batch_processor.go:86-97

Deliberate deltas (SURVEY.md §7.4 — improvements, documented not copied):
  - worker counter incremented synchronously at dispatch, eliminating the
    reference's 50 ms anti-overprovision sleep (race workaround at :142-143);
  - drain uses a condition variable, not a 10 ms busy-wait poll (:89-96);
  - the scheduler parks on the same condition variable while every slot
    is busy instead of re-entering try_process_batch in a tight loop; a
    worker's exit or stop() wakes it, so a saturated pipeline costs no
    driver CPU;
  - fetch errors support configurable retry/backoff, finishing the
    reference's TODO at :128 (default: drop-and-continue, same as reference);
  - the timeout actively cancels the in-flight Spark job group
    (cancelJobGroup) — strictly stronger than the reference's cooperative
    context signal (:157-164); the timeout is still *promoted* to the batch
    error even when the processor returns success after the deadline,
    matching the assertion at batch_processor_unit_test.go:56-80.
"""

from __future__ import annotations

import logging
import threading
import uuid
from collections.abc import Callable
from typing import Optional, Protocol, runtime_checkable

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

# Mirrors the reference defaults (batch_processor.go:30,56).
DEFAULT_PROCESSOR_TIMEOUT_MS = 2_147_483_647
DEFAULT_NO_BATCH_SLEEP_MS = 1_000


class BatchTimeoutError(TimeoutError):
    """Raised/reported when a batch exceeds the processor timeout."""


@runtime_checkable
class Supplier(Protocol):
    """Pull source (reference Supplier, batch_processor.go:16-18).

    Returns the next batch as a DataFrame, or None when no data is currently
    available (the reference's empty slice -> backoff path). Raising signals
    a fetch error (dropped or retried per pipeline config).
    """

    def fetch_next_batch(self) -> Optional[DataFrame]: ...


@runtime_checkable
class Processor(Protocol):
    """Transform stage (reference Processor, batch_processor.go:21-23):
    black-box table-in/table-out over one batch."""

    def process_batch(self, batch: DataFrame) -> DataFrame: ...


@runtime_checkable
class Finalizer(Protocol):
    """Commit/callback stage (reference Finalizer, batch_processor.go:26-28).
    Called on every outcome path with (result_or_None, error_or_None)."""

    def on_batch_processed(
        self, processed: Optional[DataFrame], error: Optional[Exception]
    ) -> None: ...


class FnSupplier:
    def __init__(self, fn: Callable[[], Optional[DataFrame]]):
        self._fn = fn

    def fetch_next_batch(self) -> Optional[DataFrame]:
        return self._fn()


class FnProcessor:
    def __init__(self, fn: Callable[[DataFrame], DataFrame]):
        self._fn = fn

    def process_batch(self, batch: DataFrame) -> DataFrame:
        return self._fn(batch)


class FnFinalizer:
    def __init__(self, fn: Callable[[Optional[DataFrame], Optional[Exception]], None]):
        self._fn = fn

    def on_batch_processed(self, processed, error) -> None:
        self._fn(processed, error)


class BatchPipeline:
    """Concurrent poll -> process -> finalize pipeline over Spark batches."""

    def __init__(self, max_workers: int, supplier: Supplier, processor: Processor):
        # R1: nil-checks panic in the reference (batch_processor.go:44-50)
        # -> ValueError here.
        if supplier is None:
            raise ValueError("supplier must not be None")
        if processor is None:
            raise ValueError("processor must not be None")
        if max_workers < 1:
            raise ValueError("max_workers must be >= 1")
        self._max_workers = max_workers
        self._supplier = supplier
        self._processor = processor
        self._finalizer: Optional[Finalizer] = None
        self._timeout_ms = DEFAULT_PROCESSOR_TIMEOUT_MS
        self._no_batch_sleep_ms = DEFAULT_NO_BATCH_SLEEP_MS
        self._fetch_retries = 0
        self._fetch_retry_backoff_ms = 0

        self._stop_signal = threading.Event()
        self._started = False
        self._scheduler: Optional[threading.Thread] = None
        self._lock = threading.Lock()
        self._cv = threading.Condition(self._lock)
        self._current_workers = 0

    # ---- fluent config (R2-R4) -------------------------------------------

    def with_finalizer(self, finalizer: Finalizer) -> "BatchPipeline":
        self._finalizer = finalizer
        return self

    def with_no_batch_sleep_interval_ms(self, millis: int) -> "BatchPipeline":
        self._no_batch_sleep_ms = millis
        return self

    def with_processor_timeout_ms(self, millis: int) -> "BatchPipeline":
        # R4: non-positive resets to default (batch_processor.go:74-83).
        self._timeout_ms = millis if millis > 0 else DEFAULT_PROCESSOR_TIMEOUT_MS
        return self

    def with_fetch_retry(self, retries: int, backoff_ms: int = 0) -> "BatchPipeline":
        """Extension finishing the reference's TODO (batch_processor.go:128):
        retry a failing fetch before dropping the scheduling slot."""
        self._fetch_retries = max(retries, 0)
        self._fetch_retry_backoff_ms = max(backoff_ms, 0)
        return self

    # ---- lifecycle (R5, R11) ---------------------------------------------

    def start(self) -> "BatchPipeline":
        # R5 guard: restart-after-stop is a no-op (batch_processor.go:100-102).
        if self._stop_signal.is_set() or self._started:
            return self
        self._started = True
        self._scheduler = threading.Thread(
            target=self._scheduler_loop, name="batch-pipeline-scheduler", daemon=True
        )
        self._scheduler.start()
        return self

    def stop(self) -> None:
        # R11: set stop flag, drain in-flight batches (never cancel them).
        self._stop_signal.set()
        with self._cv:
            self._cv.notify_all()  # wake a scheduler parked on a full pool
            while self._current_workers > 0:
                self._cv.wait(timeout=0.5)
        if self._scheduler is not None:
            self._scheduler.join(timeout=10)

    # ---- scheduling (R6, R10) --------------------------------------------

    def _scheduler_loop(self) -> None:
        while not self._stop_signal.is_set():
            with self._cv:
                while (
                    self._current_workers >= self._max_workers
                    and not self._stop_signal.is_set()
                ):
                    self._cv.wait()
            self.try_process_batch()

    def try_process_batch(self) -> None:
        """Fill all free worker slots once (the reference's de-facto sync
        API — every unit test drives it directly, SURVEY.md §3.2)."""
        with self._lock:
            free = self._max_workers - self._current_workers
        for _ in range(free):
            if self._stop_signal.is_set():
                return
            batch = self._fetch_with_retry()
            if batch is _FETCH_ERROR:
                continue  # R6: drop the slot, keep scheduling
            if batch is None:
                # R6 backoff: empty source -> interruptible sleep, then keep
                # filling the remaining slots in the same pass (the reference
                # `continue`s after its sleep, batch_processor.go:131-135).
                self._stop_signal.wait(self._no_batch_sleep_ms / 1000.0)
                continue
            if self._stop_signal.is_set():
                # R6: stop re-checked between fetch and dispatch
                # (batch_processor.go:137-140).
                return
            self._dispatch(batch)

    def _fetch_with_retry(self):
        for attempt in range(self._fetch_retries + 1):
            try:
                return self._supplier.fetch_next_batch()
            except Exception as exc:  # noqa: BLE001 — error channel, not flow
                log.warning("fetch_next_batch failed (attempt %d): %s", attempt + 1, exc)
                if attempt < self._fetch_retries:
                    self._stop_signal.wait(self._fetch_retry_backoff_ms / 1000.0)
        return _FETCH_ERROR

    def _dispatch(self, batch: DataFrame) -> None:
        # R10 delta: the counter moves synchronously here, so admission
        # control is exact and the reference's 50 ms registration sleep
        # (batch_processor.go:142-143) is unnecessary.
        with self._lock:
            self._current_workers += 1
        threading.Thread(
            target=self._process_batch_async, args=(batch,), daemon=True
        ).start()

    # ---- worker (R7-R9) ---------------------------------------------------

    def _process_batch_async(self, batch: DataFrame) -> None:
        timed_out = threading.Event()
        group = f"batch-pipeline-{uuid.uuid4().hex[:12]}"
        sc = batch.sparkSession.sparkContext

        def _cancel() -> None:
            timed_out.set()
            try:
                sc.cancelJobGroup(group)
            except Exception:  # pragma: no cover — cancellation best-effort
                log.exception("cancelJobGroup failed")

        # No timer thread per batch unless a timeout was configured: the
        # default (~24.8 days) never fires in practice.
        timer = None
        if self._timeout_ms != DEFAULT_PROCESSOR_TIMEOUT_MS:
            timer = threading.Timer(self._timeout_ms / 1000.0, _cancel)
            timer.daemon = True
        result: Optional[DataFrame] = None
        error: Optional[Exception] = None
        try:
            sc.setJobGroup(group, "BatchPipeline batch", interruptOnCancel=True)
            if timer is not None:
                timer.start()
            try:
                result = self._processor.process_batch(batch)
            except Exception as exc:  # processor error -> error channel
                error = exc
            except BaseException as exc:  # R8: panic isolation
                error = RuntimeError("panic in worker")
                error.__cause__ = exc
            # R7 timeout promotion (batch_processor.go:162-164): report the
            # timeout even if the processor returned success after deadline.
            # The late result is passed ALONGSIDE the error, exactly as the
            # reference hands `processed` to the finalizer with ctx.Err()
            # (batch_processor.go:161-165) — the finalizer decides whether a
            # late success is usable.
            if timed_out.is_set() and error is None:
                error = BatchTimeoutError(
                    f"batch processing exceeded {self._timeout_ms} ms"
                )
            self._finalize_if_configured(result, error)
        finally:
            if timer is not None:
                timer.cancel()
            with self._cv:
                self._current_workers -= 1
                self._cv.notify_all()

    def _finalize_if_configured(
        self, processed: Optional[DataFrame], error: Optional[Exception]
    ) -> None:
        # R9: invoked on success, error, timeout, and panic paths alike.
        if self._finalizer is None:
            return
        try:
            self._finalizer.on_batch_processed(processed, error)
        except Exception:  # pragma: no cover — finalizer failures are logged
            log.exception("finalizer raised")

    # ---- introspection ----------------------------------------------------

    @property
    def current_workers(self) -> int:
        with self._lock:
            return self._current_workers


class _FetchErrorSentinel:
    __slots__ = ()


_FETCH_ERROR = _FetchErrorSentinel()
