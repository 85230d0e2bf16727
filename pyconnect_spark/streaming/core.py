"""Connector lifecycle + status machine.

Parity with the reference's `BaseConnector`
(/root/reference/src/pyconnect/core.py:75-269):

- the NOT_YET_RUNNING → RUNNING → STOPPED / CRASHED status machine,
- user hooks `on_startup` / `on_shutdown` / `on_crash_during_run` (a hook
  returning a Status overwrites the current one; returning RUNNING from
  the crash hook resumes the run),
- exceptions captured into ``status_info`` and re-raised after
  ``on_shutdown`` (core.py:171-184).

The run loop itself is Spark's ``MicroBatchExecution``: instead of a
single-threaded ``while is_running: _run_once()`` poll loop
(core.py:155-161), ``run()`` starts the connector's one StreamingQuery and
awaits its termination. This class is the only place that builds and
awaits that query; a subclass supplies its read and its write. Offset
persistence/recovery (the reference's offset topic and consumer-commit
machinery, R10/R11/R14) is the streaming checkpoint — a
strictly stronger mechanism (per-batch WAL vs commit-on-close).

Semantic delta, documented deliberately: the reference forbids restarting
a connector instance (core.py:146-149); Spark queries restart from the
checkpoint by design, which is what the crash-resume hook exploits.
"""

from __future__ import annotations

import enum
import logging
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

log = logging.getLogger(__name__)


class Status(enum.Enum):
    """Reference parity: core.py Status enum."""

    NOT_YET_RUNNING = "NOT_YET_RUNNING"
    RUNNING = "RUNNING"
    STOPPED = "STOPPED"
    CRASHED = "CRASHED"


class PyConnectError(Exception):
    """Framework-level failure (reference: PyConnectException)."""


class BaseConnector:
    """Shared lifecycle for sources and sinks.

    Subclasses implement :meth:`read_stream` and :meth:`_write` (which
    only starts the configured writer); hooks mirror the reference's
    callback protocol. ``stop_at_end`` drains what is available and stops
    (``trigger(availableNow=True)``); without it the query runs until
    :meth:`stop`.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        checkpoint_location: Optional[str],
        stop_at_end: bool = True,
        max_crash_restarts: int = 0,
    ):
        if not checkpoint_location:
            raise ValueError("checkpoint_location is required")
        self.spark = spark
        self.checkpoint_location = checkpoint_location
        self.stop_at_end = stop_at_end
        self.status: Status = Status.NOT_YET_RUNNING
        self.status_info: Optional[BaseException] = None
        self.max_crash_restarts = max_crash_restarts
        self._query: Optional[StreamingQuery] = None

    # ---- user hooks (reference: core.py:247-296) ----
    def on_startup(self) -> Optional[Status]:  # noqa: D401
        """Called once before the query starts."""
        return None

    def on_shutdown(self) -> Optional[Status]:
        """Called once after the query terminates (any status)."""
        return None

    def on_crash_during_run(self) -> Optional[Status]:
        """Called when the query crashes; return Status.RUNNING to resume
        from the checkpoint (reference: core.py:258-269), at most
        ``max_crash_restarts`` times. Past that the connector is CRASHED
        and ``run()`` raises from the last error."""
        return None

    # ---- to implement ----
    def read_stream(self) -> DataFrame:
        """The record stream."""
        raise NotImplementedError

    def transform(self, df: DataFrame) -> DataFrame:
        """Reshape records between the read and the write."""
        return df

    def _write(self, writer: DataStreamWriter) -> StreamingQuery:
        """Start ``writer`` (checkpoint and trigger already set)."""
        raise NotImplementedError

    def _start_query(self) -> StreamingQuery:
        writer = self.transform(self.read_stream()).writeStream.option(
            "checkpointLocation", self.checkpoint_location
        )
        if self.stop_at_end:
            writer = writer.trigger(availableNow=True)
        return self._write(writer)

    # ---- lifecycle ----
    def _apply_hook(self, hook) -> None:
        """Reference parity (_safe_call_and_set_status, core.py:59-72):
        a hook's returned Status overwrites the current one; a hook
        exception crashes the connector."""
        try:
            new_status = hook()
        except BaseException as e:  # noqa: BLE001
            self.status = Status.CRASHED
            self.status_info = e
            raise
        if isinstance(new_status, Status):
            self.status = new_status

    def run(self) -> None:
        """Start the query and drive it to termination, applying the
        status machine. At-least-once is inherited from the checkpoint:
        offsets commit only after a micro-batch (incl. any foreachBatch
        flush) completes."""
        if self.status is not Status.NOT_YET_RUNNING:
            # Reference raises here (core.py:146-149); we allow checkpoint
            # restarts but keep the guard for same-instance reuse.
            raise PyConnectError(f"connector already ran (status={self.status})")
        self._apply_hook(self.on_startup)
        self.status = Status.RUNNING
        restarts = 0
        try:
            while True:
                try:
                    self._query = self._start_query()
                    self._query.awaitTermination()
                    if self.status is Status.RUNNING:
                        self.status = Status.STOPPED
                    break
                except BaseException as e:  # noqa: BLE001
                    self.status = Status.CRASHED
                    self.status_info = e
                    log.warning("connector crashed: %s", e)
                    self._apply_hook(self.on_crash_during_run)
                    if self.status is Status.RUNNING:
                        if restarts < self.max_crash_restarts:
                            restarts += 1
                            continue
                        # Out of restarts: the last error stands.
                        self.status = Status.CRASHED
                    break
        finally:
            self._apply_hook(self.on_shutdown)
        if self.status is Status.CRASHED and self.status_info is not None:
            raise PyConnectError("connector crashed") from self.status_info

    def stop(self) -> None:
        if self._query is not None and self._query.isActive:
            self._query.stop()
        if self.status is Status.RUNNING:
            self.status = Status.STOPPED
