"""Stateful streaming operators on the Spark 4 ``transformWithState``
API (``transformWithStateInPandas`` + ``StatefulProcessor``) — the
successor to ``applyInPandasWithState`` with first-class TIMERS, TTL
state, and multiple named state variables per key.

Two operators the older API cannot express as cleanly:

- :func:`sessionize_with_timers` — event-time session windows whose
  CLOSE is emitted by a registered timer when the watermark passes
  ``last_event + gap``: no per-batch timeout bookkeeping, and the
  emission is exactly-once per session by construction.
- :func:`dedup_first_seen_ttl` — keyed first-seen filter over a
  TTL'd ValueState: duplicate suppression whose state is BOUNDED by
  retention, the property that makes streaming dedup viable at
  100 TB/day (an unbounded seen-set eventually evicts or OOMs; TTL
  state makes the retention contract explicit and enforced by the
  state store, not by operator code).

Reference parity: the reference has no streaming surface
(``SURVEY.md §2.8``); these extend the engine's Structured Streaming
family (``streaming/events.py``) to the current stateful API.

Both operators ship by value so checkpoint/executor processes never
need this package on ``sys.path``.

PROTOBUF RUNTIME: the transformWithState state-server protocol speaks
protobuf (``pyspark/sql/streaming/proto/StateMessage_pb2``) and the
``protobuf`` package is not baked into every runtime (absent in this
repo's verification container). Since round 12 the gate no longer
raises there: :func:`require_transform_with_state` installs the
engine's wire-exact pure-Python shim
(``streaming/protoshim.py`` — varint/length-delimited codec +
FileDescriptorProto parser + dynamic message classes for exactly the
protocol's proto3 subset) on the driver, and each processor's
``__setstate__`` installs it inside the Python workers, so both
operators execute through a REAL JVM state-server round trip
everywhere (``tests/test_stateful_tws.py`` end-to-end tests). With
real protobuf installed the shim is inert. The
``applyInPandasWithState`` spellings in ``streaming/events.py``
(sessionization, incremental dedup, heavy hitters, ...) remain the
dependency-free stateful path.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

def _protoshim_source() -> tuple[str, str]:
    """(module_name, source_text) of the protoshim, captured at import
    time on the driver. The worker-side installer below ships the shim
    as SOURCE, not as a pickled function: binding
    ``install_protobuf_shim`` itself by value would drag the shim's
    module globals — including the descriptor POOL, populated with
    dynamic message classes whose ``__module__`` is
    ``pyspark...StateMessage_pb2`` — into the processor pickle, and
    cloudpickle then references those classes by module path, forcing an
    ``import StateMessage_pb2`` DURING unpickle, before any installer
    can run (the exact crash this round's A/B of the fix exposed).
    A source string has no pickle graph to walk."""
    import inspect

    from xarray_dataaccessor_spark.streaming import protoshim as _m

    try:
        return _m.__name__, inspect.getsource(_m)
    except (OSError, TypeError):  # pragma: no cover - zipapp deployment
        return _m.__name__, ""


_PROTOSHIM_NAME, _PROTOSHIM_SRC = _protoshim_source()


def _worker_install_protoshim(
    _name: str = _PROTOSHIM_NAME, _src: str = _PROTOSHIM_SRC
) -> None:
    """Install the protobuf shim inside a Python worker. Prefers a real
    import (local mode: workers inherit the driver's sys.path, and one
    canonical module keeps the descriptor pool a per-process singleton);
    falls back to exec'ing the captured source under the canonical
    module name, so executors without this package on sys.path — the
    deployment the module docstring promises — still get the shim.
    Defaults are plain strings bound at class-definition time, so the
    pickled processor carries the shim BY VALUE with no imports and no
    object-graph capture. No-op when real protobuf exists
    (install_protobuf_shim checks)."""
    import importlib
    import sys
    import types

    mod = sys.modules.get(_name)
    if mod is None:
        try:
            mod = importlib.import_module(_name)
        except ImportError:
            if not _src:  # pragma: no cover - zipapp w/o package on path
                raise
            mod = types.ModuleType(_name)
            exec(compile(_src, _name, "exec"), mod.__dict__)
            sys.modules[_name] = mod
    mod.install_protobuf_shim()


def _ship_by_value() -> None:
    import xarray_dataaccessor_spark.streaming.protoshim as _shim
    import xarray_dataaccessor_spark.streaming.stateful as _self
    from xarray_dataaccessor_spark.session import ship_by_value

    # the shim must reconstruct inside Python workers too (they run the
    # state-server client); it is stdlib-only, so by-value is exact
    ship_by_value(_self, _shim)


def require_transform_with_state() -> None:
    """Ensure the transformWithState protobuf protocol can run — with
    the real ``protobuf`` package when present, else by installing the
    engine's wire-exact pure-Python shim
    (:func:`streaming.protoshim.install_protobuf_shim`; round 12 —
    the gate used to raise unconditionally without protobuf).

    Checked eagerly at operator-build time: without a working runtime
    the failure is a JVM-side 'driver worker exited unexpectedly
    (crashed)' at stream start, with the real ImportError buried in a
    nested cause chain."""
    from xarray_dataaccessor_spark.streaming.protoshim import (
        install_protobuf_shim,
    )

    try:
        install_protobuf_shim()
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:  # pragma: no cover - the shim covers a missing protobuf
        raise NotImplementedError(
            "transformWithStateInPandas requires a protobuf runtime "
            "(the stateful-processor state server speaks protobuf) and "
            "neither the 'protobuf' package nor the engine's protoshim "
            "could be set up. Install protobuf>=4, or use the "
            "applyInPandasWithState operators in streaming/events.py "
            "(session_counts, stream_incremental_dedup) which need no "
            "extra dependency."
        ) from e


def _duration_ms(s: str) -> int:
    unit_ms = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }
    n, unit = s.split()
    return int(n) * unit_ms[unit.rstrip("s")]


class _SessionTimerProcessor(StatefulProcessor):
    """Per-user session accumulator. State: one ValueState row
    ``(start_us, last_us, n_events, total_amount)``. Each input batch
    merges into the state and re-arms a single event-time timer at
    ``last_us/1000 + gap_ms``; the session row is emitted ONLY from
    ``handleExpiredTimer`` when the watermark crosses that point, then
    the state clears — so a session that keeps receiving events keeps
    sliding its own close-out forward, and a quiet key emits exactly
    once and holds no state afterwards."""

    def __init__(self, gap_ms: int):
        self.gap_ms = gap_ms

    def __setstate__(self, state, _install=_worker_install_protoshim):
        # Runs in the Python WORKER during UDF unpickle — before the
        # state-server client sends its first protobuf message — so the
        # protoshim is installed exactly where the protocol runs.
        # ``_install`` is bound at class-definition time and carries the
        # shim as SOURCE TEXT (see :func:`_worker_install_protoshim`),
        # never via a runtime ``from xarray_dataaccessor_spark...``
        # import, which would fail on executors without this package on
        # sys.path. No-op when real protobuf exists.
        _install()
        self.__dict__.update(state)


    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.state = handle.getValueState(
            "session",
            "start_us long, last_us long, n_events long, total_amount double",
        )

    def handleInputRows(
        self, key, rows, timerValues: TimerValues
    ) -> Iterator:
        start_us = last_us = None
        n = 0
        amt = 0.0
        for pdf in rows:
            ts = pdf["event_time"].astype("datetime64[us]").astype("int64")
            if len(ts) == 0:
                continue
            mn, mx = int(ts.min()), int(ts.max())
            start_us = mn if start_us is None else min(start_us, mn)
            last_us = mx if last_us is None else max(last_us, mx)
            n += len(ts)
            amt += float(pdf["amount"].sum()) if "amount" in pdf else 0.0
        if n == 0:
            return iter(())
        out = []
        prev = self.state.get()
        if prev is not None:
            old_expiry = prev[1] // 1000 + self.gap_ms
            self.handle.deleteTimer(old_expiry)
            if start_us > prev[1] + self.gap_ms * 1000:
                # the batch opens PAST the previous session's gap: the
                # old session is closed by arrival (its timer may not
                # have fired yet — the watermark only advances at batch
                # end), emit it now and start fresh. Found the first
                # time the protocol executed end-to-end (r12): the
                # unconditional merge glued sessions separated by more
                # than the gap into one.
                out.append(self._session_row(key, prev))
            else:
                start_us = min(start_us, prev[0])
                last_us = max(last_us, prev[1])
                n += prev[2]
                amt += prev[3]
        self.state.update((start_us, last_us, n, amt))
        self.handle.registerTimer(last_us // 1000 + self.gap_ms)
        return iter(out)

    @staticmethod
    def _session_row(key, s):
        import pandas as pd

        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(s[0], unit="us")],
                "session_end": [pd.Timestamp(s[1], unit="us")],
                "n_events": [s[2]],
                "total_amount": [s[3]],
            }
        )

    def handleExpiredTimer(
        self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator:
        s = self.state.get()
        if s is None:  # stale timer for an already-closed session
            return iter(())
        self.state.clear()
        return iter([self._session_row(key, s)])

    def close(self) -> None:
        pass


def sessionize_with_timers(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Event-time sessionization with timer-driven close-out: rows
    ``(user_id, event_time timestamp, amount double)`` in; one row per
    CLOSED session out. A session closes when the watermark passes its
    last event + ``gap`` — the timer fires once, emits, clears state.

    Scale: state per key is one fixed-width row + one timer; RocksDB
    state store handles the key fan-out; the watermark bounds both the
    timer backlog and late-data buffering exactly as in the built-in
    ``session_window`` — but with operator-controlled emission (the
    built-in can only emit aggregates, not custom close-out logic).

    Requires a RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass = ...RocksDBStateStoreProvider``)
    and the protobuf protocol (see module gate)."""
    require_transform_with_state()
    _ship_by_value()
    gap_ms = _duration_ms(gap)
    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, total_amount double"
    )
    return (
        stream.withWatermark("event_time", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            _SessionTimerProcessor(gap_ms),
            out_schema,
            outputMode="append",
            timeMode="eventtime",
            # no eventTimeColumnName: a timer-emitted session closes
            # BECAUSE the watermark passed last_event + gap, so every
            # candidate event-time column (session_end included) is by
            # construction older than the watermark at emission and
            # Spark's output validation rejects it
            # (EMITTING_ROWS_OLDER_THAN_WATERMARK_NOT_ALLOWED — found
            # the first time the protocol actually executed, r12).
            # Downstream watermark-dependent ops must set their own.
        )
    )


class _FirstSeenTTLProcessor(StatefulProcessor):
    """Keyed first-seen filter: ValueState holds one marker row with a
    TTL; the first row for a key within the retention window passes,
    later ones drop. When the TTL lapses the state store evicts the
    marker and the key is eligible again — retention enforced by the
    store, not by operator bookkeeping."""

    def __init__(self, ttl_ms: int | None):
        self.ttl_ms = ttl_ms

    def __setstate__(self, state, _install=_worker_install_protoshim):
        # Same source-text binding rationale as _SessionTimerProcessor:
        # the installer travels inside the pickled class, so workers
        # need neither this package on sys.path nor real protobuf.
        _install()
        self.__dict__.update(state)


    def init(self, handle: StatefulProcessorHandle) -> None:
        self.seen = handle.getValueState(
            "seen", "first_us long", ttlDurationMs=self.ttl_ms
        )

    def handleInputRows(
        self, key, rows, timerValues: TimerValues
    ) -> Iterator:
        first = None
        for pdf in rows:
            if first is None and len(pdf):
                first = pdf.iloc[:1]
        if first is None:
            return iter(())
        if self.seen.exists():
            return iter(())
        self.seen.update(
            (timerValues.getCurrentProcessingTimeInMs() * 1000,)
        )
        return iter([first])

    def close(self) -> None:
        pass


def dedup_first_seen_ttl(
    stream: DataFrame,
    key_col: str = "fingerprint",
    ttl: str | None = "7 days",
    payload_schema: str = "fingerprint string, doc_id long, text string",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: emit each ``key_col``
    value's first row; suppress re-occurrences for ``ttl`` (None =
    forever, unbounded — the honest spelling of the tradeoff). The
    state per key is a single long with store-enforced TTL, so 10^10
    fingerprints at 7-day retention is a few hundred GB across the
    cluster's RocksDB stores instead of an ever-growing set.

    The batch twin is ``operators/dedup.py::exact_dedup`` (same
    first-wins contract); ``streaming/events.py::stream_dedup_exact``
    is the dropDuplicates spelling without retention."""
    require_transform_with_state()
    _ship_by_value()
    ttl_ms = _duration_ms(ttl) if ttl else None
    return stream.groupBy(key_col).transformWithStateInPandas(
        _FirstSeenTTLProcessor(ttl_ms),
        payload_schema,
        outputMode="append",
        timeMode="processingtime" if ttl_ms else "none",
    )


def drain_available_now(query, bound_s: float = 120.0, poll_s: float = 0.25) -> None:
    """Await an ``availableNow`` run of a ``timeMode="processingtime"``
    operator until the source is drained, then stop it.

    With processing-time TTL/timers the operator answers "another batch
    may expire more state" after EVERY micro-batch, so an availableNow
    query never terminates on its own: it drains the data, then keeps
    scheduling empty "no new data but cleaning up state" batches until
    something external stops it (measured: each bare
    ``awaitTermination(bound)`` call burned its full bound — 2×180 s in
    the TTL end-to-end test alone). Drainage is observable in the
    progress stream: availableNow pins the offsets present at
    ``start()``, so a completed batch with ``numInputRows == 0`` after
    data has been seen (or two consecutive empty batches when the
    source was empty) proves nothing is left to read. TTL eviction is
    enforced by the state store on access, not by those idle cleanup
    batches, so stopping there changes no result.

    Raises :class:`TimeoutError` (named, per the repo's streaming-await
    discipline) instead of hanging if the source does not drain within
    ``bound_s``."""
    import time as _time

    deadline = _time.monotonic() + bound_s
    saw_rows = False
    empty_seen = 0
    last_batch = None
    while _time.monotonic() < deadline:
        if query.awaitTermination(poll_s):
            return  # self-terminated (timeMode without the TTL loop)
        p = query.lastProgress
        if not p or p.get("batchId") == last_batch:
            continue
        last_batch = p.get("batchId")
        if p.get("numInputRows", 0) > 0:
            saw_rows, empty_seen = True, 0
        else:
            empty_seen += 1
        if (saw_rows and empty_seen >= 1) or empty_seen >= 2:
            query.stop()
            return
    query.stop()
    raise TimeoutError(
        f"availableNow source did not drain within {bound_s}s — "
        "environment overload or a wedged source, NOT the expected "
        "processing-time cleanup loop (that loop reports empty batches, "
        "which this helper detects and stops)"
    )
