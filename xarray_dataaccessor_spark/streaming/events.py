"""Structured Streaming over the events table (extension surface — the
reference has NO streaming: SURVEY §2.8; its only "event" notion is the
static export interval, to_gssha.py:34-37).

Patterns provided:

- file-source ``readStream`` with an explicit schema (nanosecond int64
  timestamps converted exactly like the batch loader),
- watermarked tumbling/sliding/session-window aggregation (late-data
  bound),
- ``applyInPandasWithState`` custom stateful operators: per-user running
  aggregates, in-flight MinHash LSH near-dup pairing (hot-bucket
  saturation matching the batch cap semantics), labeled exact dedup
  with first-seen attribution,
- ``dropDuplicatesWithinWatermark`` exact dedup, stream-stream interval
  joins, file-source grid ingest with per-timestep spatial collapse,
- ``availableNow`` trigger + memory sink for deterministic batch-parity
  testing: the same rows a batch groupBy produces, computed by the
  streaming engine.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from typing import Iterable, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table.

    The stream schema is sniffed from the parquet footer via a batch read
    (file streams require an explicit schema). Two on-disk spellings of
    ``ts`` are handled exactly like the batch loader (sources/tables.py):
    TIMESTAMP(NANOS) surfaces as int64 (``nanosAsLong``) and is truncated
    to microseconds with integer division; TIMESTAMP(MICROS) with
    ``isAdjustedToUTC=false`` surfaces as TIMESTAMP_NTZ and passes
    through unchanged (naive wall-clock — DuckDB's semantics)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file streams take a directory; select the single events file by glob
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in schema).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks require TIMESTAMP; the UTC session makes the cast
        # wall-clock preserving, so window starts still match the naive
        # DuckDB oracle
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregate: counts + exact value sum per
    (window, event_type). The watermark bounds state for late data; with
    an availableNow replay it does not drop anything."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n", "sum_value")
    )


def start_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
):
    """Start (without awaiting) an availableNow run into a memory sink;
    returns ``(query, sink_name)`` for :func:`finish_available_now`.

    Splitting start from await lets INDEPENDENT streaming queries in one
    slot overlap (guide §2.6: actions are only sequential because the
    driver awaits them sequentially). Per-query conf is safe under the
    split: ``DataStreamWriter.start`` constructs the ``StreamExecution``,
    which clones the SparkSession and freezes its conf for the query's
    lifetime — so the session values (shuffle partitions = state-store
    partition count; Arrow batch size) can be restored as soon as
    ``start`` returns, before the query is awaited.
    """
    spark = stream_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", _checkpoint_dir(name))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return q, name


def _checkpoint_dir(name: str) -> str:
    """The checkpoint directory of the availableNow query sinking into
    ``name`` (unique: the sink name carries a random id)."""
    return os.path.join(tempfile.gettempdir(), f"xda_ckpt_{name}")


#: Bound on any single availableNow drain (seconds). Generous for every
#: bench/test workload (the slowest slot's full lifecycle is <10 s warm);
#: exists so a wedged stream raises a NAMED error instead of hanging the
#: whole slot/bench (r12 ADVICE #3 discipline, extended to the split
#: start/finish path per VERDICT r13 #6).
AVAILABLE_NOW_TIMEOUT_SEC = 600.0


def finish_available_now(
    spark, handle, timeout_sec: float = AVAILABLE_NOW_TIMEOUT_SEC
) -> DataFrame:
    """Await a :func:`start_available_now` handle; return the sink table.

    ``awaitTermination(timeout)`` returns False on expiry — the query is
    then stopped and a ``TimeoutError`` names the hang (environment
    overload or a stuck source), instead of a bare await wedging the
    driver forever. A query that FAILED raises its own
    ``StreamingQueryException`` from inside ``awaitTermination``.

    Once the query has terminated (or been stopped) its checkpoint
    directory is removed: the memory-sink table does not read it."""
    q, name = handle
    try:
        if not q.awaitTermination(timeout_sec):
            try:
                q.stop()
            finally:
                raise TimeoutError(
                    f"availableNow query '{name}' did not finish within "
                    f"{timeout_sec:.0f}s — environment overload or source "
                    "hang, NOT a result mismatch"
                )
    finally:
        shutil.rmtree(_checkpoint_dir(name), ignore_errors=True)
    return spark.table(name)


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan over all currently-available input
    (availableNow trigger), land it in a memory sink, return the result
    as a batch DataFrame.

    ``shuffle_partitions`` bounds the state-store partition count for the
    run (each stateful partition maintains its own store + snapshot
    files; for a dimension-sized key space a handful of partitions beats
    the session default). The session value is restored before returning.
    """
    spark = stream_df.sparkSession
    return finish_available_now(
        spark,
        start_available_now(stream_df, output_mode, shuffle_partitions),
    )


def stream_dedup_exact(
    stream: DataFrame,
    fingerprint_col: str = "props",
    time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """In-flight exact deduplication — the streaming twin of the batch
    ``dedup.exact_duplicates`` family for a training-data ingest
    pipeline: drop records whose content fingerprint (64-bit xxhash of
    the payload column, never the raw payload) was already seen within
    the watermark horizon. ``dropDuplicatesWithinWatermark`` keys the
    state store on the fingerprint and evicts entries older than the
    watermark, so state is bounded by (unique keys per horizon), not by
    the stream's lifetime — the property that makes this viable on an
    unbounded 100 TB/day feed. Emits the survivors unchanged plus the
    fingerprint."""
    fp = F.xxhash64(F.col(fingerprint_col)).alias("__fp")
    return (
        stream.withColumn("__fp", fp)
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .withColumnRenamed("__fp", "fingerprint")
    )


def user_running_stats(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count / value sum / last-seen timestamp maintained in
    explicit group state across micro-batches. This is the pattern for
    operators the built-in windowed aggs can't express (per-key running
    session logic, custom eviction)."""
    out_schema = "user_id bigint, n_events bigint, sum_micro bigint, last_ts timestamp"
    state_schema = "n bigint, s bigint, last bigint"

    def update(
        key: Tuple[int],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        n, s, last = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # integer micro-units keep the running sum exact & portable
            s += int((pdf["value"] * 1_000_000).round().astype("int64").sum())
            # Arrow hands timestamps over as datetime64[ns] (legacy) or
            # datetime64[us] (pandas 2 / NTZ); normalize to microseconds.
            raw = int(pdf["ts"].astype("int64").max())
            last = max(last, raw if "[us" in str(pdf["ts"].dtype) else raw // 1000)
        state.update((n, s, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_micro": [s],
                "last_ts": [pd.Timestamp(last, unit="us")],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SESSION-window aggregate: dynamic-length windows that
    merge events closer than ``gap`` (merge on diff <= gap, verified
    against the engine; window end = last event + gap). The native
    streaming counterpart of batch sessionization
    (``operators/sessionize.py``) — state per open session, closed and
    emitted once the watermark passes the session end."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: pair each left event with
    the right-stream events of the same key whose timestamp falls in
    ``(left_ts, left_ts + within]`` — the attribution/enrichment shape
    (click -> purchase within the hour).

    The time-range predicate is what makes unbounded state safe: with
    both sides watermarked, the engine derives how long a buffered row
    can still find a match and evicts it after ``watermark + within`` —
    state is bounded by the rate x horizon product, not stream lifetime.
    At 100 TB/day the join is a keyed shuffle of both streams; the same
    plan runs unchanged on a Kafka source."""
    lt, rt = F.col("l_ts"), F.col("r_ts")
    lw = left.select(
        F.col(key).alias("l_key"), F.col(left_ts).alias("l_ts"), F.col("value").alias("l_value")
    ).withWatermark("l_ts", watermark)
    rw = right.select(
        F.col(key).alias("r_key"), F.col(right_ts).alias("r_ts"), F.col("value").alias("r_value")
    ).withWatermark("r_ts", watermark)
    return lw.join(
        rw,
        (F.col("l_key") == F.col("r_key"))
        & (rt > lt)
        & (rt <= lt + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("l_key").alias(key), "l_ts", "r_ts", "l_value", "r_value"
    )


def _duration_micros(s: str) -> int:
    """Parse a watermark-style duration ('2 hours', '90 seconds') to
    microseconds."""
    n, unit = s.strip().split()
    mult = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }[unit.rstrip("s").lower()]
    return int(n) * mult


def stream_neardup_minhash(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    watermark: str = "2 hours",
    num_perm: int = 16,
    rows_per_band: int = 2,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """In-flight MinHash+LSH near-duplicate detection — the streaming
    twin of the batch ``dedup.lsh_candidate_pairs``: emit a candidate
    pair as soon as a document shares an LSH band bucket with an earlier
    document no more than the watermark horizon older.

    Shape: the whole shingle→minhash→band pipeline runs MAP-SIDE per row
    (``dedup.minhash_band_structs`` — bit-identical to the batch band
    keys), the stream is keyed on ``(band, bucket)``, and an
    ``applyInPandasWithState`` operator holds the bucket's recent
    ``(doc_id, ts)`` members. The pair horizon is enforced exactly
    per-pair (``ts_new - ts_old <= horizon``); state is pruned against
    the watermark (an entry older than ``watermark - horizon`` can never
    pair again) and evicted wholesale by event-time timeout, so state is
    bounded by bucket occupancy per horizon — never stream lifetime.

    At 100 TB/day this is the standard streaming-dedup layout: the state
    store shards on the band-bucket key, hot buckets are the skew to
    watch — a bucket with thousands of members within one horizon is a
    degenerate signature band (boilerplate), and pairing against all of
    them is quadratic. ``max_bucket`` caps the member list: once a
    bucket exceeds the cap it is marked SATURATED in state — pairs from
    the saturating micro-batch are suppressed and the bucket never emits
    again (state collapses to the flag, so no growth either). This
    matches the batch twin's ``lsh_candidate_pairs(max_bucket=...)``
    bucket-drop semantics as closely as streaming allows: pairs already
    emitted in EARLIER micro-batches (before the bucket crossed the cap)
    cannot be retracted — exact stream/batch parity on hot buckets holds
    only when the bucket saturates within one micro-batch.
    Pairs are emitted once per shared band; distinct/cluster resolution
    happens downstream exactly as in the batch pipeline."""
    from xarray_dataaccessor_spark.operators.dedup import minhash_band_structs

    horizon_us = _duration_micros(watermark)
    rows = (
        stream.withColumn(
            "__bb", minhash_band_structs(text_col, k, num_perm, rows_per_band)
        )
        .filter(F.col("__bb").isNotNull())
        .select(id_col, time_col, F.explode("__bb").alias("bb"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(time_col).alias("ts"),
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )
        .withWatermark("ts", watermark)
    )

    out_schema = "id_a bigint, id_b bigint, band int, bucket string"
    state_schema = "ids array<bigint>, tss array<bigint>, sat boolean"

    def update(
        key: Tuple[int, str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        ids, tss, sat = (
            (list(state.get[0]), list(state.get[1]), bool(state.get[2]))
            if state.exists
            else ([], [], False)
        )
        if sat:
            # saturated bucket: never pairs again; hold the flag until
            # the watermark passes the horizon, then let timeout evict
            for _ in pdfs:
                pass
            state.update(([], [], True))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + horizon_us // 1000 + 1000)
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            # event-time order within the micro-batch (ties on id) so
            # "earlier doc" is well-defined regardless of arrival order
            raw = batch["ts"].astype("int64")
            if "[us" not in str(batch["ts"].dtype):
                raw = raw // 1000
            batch = batch.assign(__us=raw).sort_values(["__us", "doc_id"])
        out_a, out_b = [], []
        for doc, t in zip(batch["doc_id"], batch["__us"] if len(batch) else []):
            doc, t = int(doc), int(t)
            if max_bucket is not None and len(ids) >= max_bucket:
                # crossing the cap saturates the bucket: suppress this
                # whole invocation's pairs (batch-twin drop semantics)
                # and collapse state to the flag — bounded state, no
                # quadratic blow-up
                sat = True
                break
            for i, tt in zip(ids, tss):
                if i != doc and t - tt <= horizon_us:
                    out_a.append(min(i, doc))
                    out_b.append(max(i, doc))
            ids.append(doc)
            tss.append(t)
        if sat:
            state.update(([], [], True))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + horizon_us // 1000 + 1000)
            return
        # watermark prune: future rows have ts >= wm, so entries older
        # than wm - horizon can never satisfy the pair horizon again
        wm_us = state.getCurrentWatermarkMs() * 1000
        if wm_us > 0:
            kept = [(i, tt) for i, tt in zip(ids, tss) if tt >= wm_us - horizon_us]
            ids = [i for i, _ in kept]
            tss = [tt for _, tt in kept]
        if ids:
            state.update((ids, tss, False))
            # evict the whole bucket once nothing in it can pair again
            timeout_ms = max(tss) // 1000 + horizon_us // 1000 + 1000
            state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1000))
        else:
            state.remove()
        if out_a:
            yield pd.DataFrame(
                {
                    "id_a": out_a,
                    "id_b": out_b,
                    "band": [key[0]] * len(out_a),
                    "bucket": [key[1]] * len(out_a),
                }
            )

    return rows.groupBy("band", "bucket").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def grid_stream(spark: SparkSession, landed_dir: str) -> DataFrame:
    """File-source stream over a landed grid dataset (the
    ``ingest.land_grid_parquet`` layout): new granule files appearing
    under the directory become micro-batches — the streaming twin of the
    catalog's batch read, for continuously-arriving reanalysis/forecast
    cycles. Schema sniffed from a batch read (file streams require one);
    partition columns (year=/month=) surface exactly as in batch."""
    schema = spark.read.parquet(landed_dir).schema
    return spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 8
    ).parquet(landed_dir)


def stream_collapse_spatial(
    stream: DataFrame,
    how: str = "mean",
    watermark: str = "2 hours",
    time_col: str = "time",
) -> DataFrame:
    """Streaming A3 (the reference's per-timestep spatial collapse,
    ``to_gssha.py:552-571``, fed continuously): watermarked aggregation
    keyed on the timestep — each grid timestep's spatial mean/min/max/sum
    finalizes once the watermark passes it, so a GSSHA/HMET export can
    trail a live ingest. Decomposable aggs only (the batch ``median``
    path needs all values; at scale stream percentile needs a sketch).
    State is O(open timesteps), bounded by the watermark horizon.
    Append-mode sinks only see a timestep once the watermark passes it —
    timesteps inside the trailing horizon stay open (use update/complete
    sinks, or accept the trailing lag, for live exports)."""
    if how in ("median", "med", "q1", "q3"):
        raise ValueError(
            f"spatial collapse {how!r} is not decomposable for streaming; "
            "use mean/min/max/sum/count or a batch pass"
        )
    from xarray_dataaccessor_spark.operators.aggregate import spatial_agg_expr

    value_cols = [
        c for c in stream.columns
        if c not in (time_col, "y", "x", "year", "month")
    ]
    aggs = [spatial_agg_expr(how, v).alias(v) for v in value_cols]
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(time_col)
        .agg(*aggs)
    )


def stream_dedup_labeled(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    watermark: str = "2 hours",
    normalize: bool = True,
) -> DataFrame:
    """In-flight LABELED exact deduplication — the audit-trail sibling
    of :func:`stream_dedup_exact` (which silently drops): every arriving
    document is emitted with an ``is_duplicate`` verdict and the
    first-seen document id, matching the batch ``dedup.dedup_exact``
    keep-first policy. Use this when the pipeline needs the dedup
    DECISIONS (provenance, cluster accounting) rather than just the
    survivors.

    Shape: the fingerprint (60-bit portable hash of the normalized
    text, identical to ``text.fingerprint``) is computed MAP-SIDE; the
    stream keys on it and an ``applyInPandasWithState`` operator holds
    ``(first_id, last_seen_us)`` per fingerprint. Within a micro-batch,
    rows process in event-time order (ties on id) so "first" is
    well-defined regardless of arrival order. State is one tiny tuple
    per distinct fingerprint per horizon, evicted by event-time timeout
    once the watermark passes ``last_seen + horizon`` — bounded by
    stream rate x horizon, never stream lifetime. This is the standard
    streaming-ingest dedup layout: the state store shards on the
    fingerprint, the common case (unique doc) is one state lookup."""
    from xarray_dataaccessor_spark.functions.hashing import portable_hash64

    horizon_us = _duration_micros(watermark)
    if normalize:
        fp_src = F.lower(F.regexp_replace(F.col(text_col), "\\s+", " "))
    else:  # raw-text fingerprints: the build_dedup_state convention
        fp_src = F.col(text_col)
    normalized = fp_src
    rows = stream.select(
        F.col(id_col).alias("doc_id"),
        F.col(time_col).alias("ts"),
        portable_hash64(normalized).alias("fp_num"),
    ).withWatermark("ts", watermark)

    out_schema = (
        "doc_id bigint, ts timestamp, fp_num bigint, "
        "is_duplicate boolean, first_doc_id bigint"
    )
    state_schema = "first_id bigint, last_us bigint"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        first_id, last_us = (
            (int(state.get[0]), int(state.get[1])) if state.exists else (None, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            raw = batch["ts"].astype("int64")
            if "[us" not in str(batch["ts"].dtype):
                raw = raw // 1000
            batch = batch.assign(__us=raw).sort_values(["__us", "doc_id"])
        ids, tss, dups, firsts = [], [], [], []
        for doc, ts, us in zip(batch["doc_id"], batch["ts"], batch["__us"] if len(batch) else []):
            doc, us = int(doc), int(us)
            if first_id is None:
                first_id = doc
                dup = False
            else:
                dup = True
            last_us = max(last_us, us)
            ids.append(doc)
            tss.append(ts)
            dups.append(dup)
            firsts.append(first_id)
        if first_id is not None:
            state.update((first_id, last_us))
            timeout_ms = last_us // 1000 + horizon_us // 1000 + 1000
            state.setTimeoutTimestamp(
                max(timeout_ms, state.getCurrentWatermarkMs() + 1000)
            )
        if ids:
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "ts": tss,
                    "fp_num": [key[0]] * len(ids),
                    "is_duplicate": dups,
                    "first_doc_id": firsts,
                }
            )

    return rows.groupBy("fp_num").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_incremental_dedup(
    stream: DataFrame,
    fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``dedup.incremental_dedup``'s exact half: an
    unbounded feed of new documents classified against the LANDED
    corpus's persisted fingerprint state (``build_dedup_state``) while
    also deduping within the stream itself.

    Per arriving document: ``corpus_dup`` (raw-text fingerprint already
    present in the corpus state; ``dup_of`` = the smallest matching
    corpus id), ``stream_dup`` (first seen earlier in the stream within
    the watermark horizon; ``dup_of`` = the first-seen stream id), else
    ``unique``. Near-dup streaming stays with
    :func:`stream_neardup_minhash` — the MinHash band join is a
    different state layout.

    Shape: the in-stream verdict is the labeled stateful dedup (one
    tiny state tuple per fingerprint per horizon); the corpus check is
    a STREAM-STATIC equi-join on the 60-bit fingerprint — Spark
    re-resolves the static side per micro-batch, so a nightly
    state-rebuild is picked up without restarting the query, and at
    100 TB the static side is the id+fp table, not the corpus text.
    Contract (pinned by the batch-parity test): when corpus ids sort
    below stream ids, the verdicts equal ``incremental_dedup``'s
    exact-dup decisions on the same batch."""
    labeled = stream_dedup_labeled(
        stream, text_col=text_col, id_col=id_col, time_col=time_col,
        watermark=watermark, normalize=False,
    )
    corpus = fingerprints.groupBy("fp").agg(
        F.min(id_col).alias("__corpus_of")
    ).withColumnRenamed("fp", "fp_num")
    joined = labeled.join(F.broadcast(corpus), "fp_num", "left")
    return joined.select(
        "doc_id",
        "ts",
        "fp_num",
        F.when(F.col("__corpus_of").isNotNull(), F.lit("corpus_dup"))
        .when(F.col("is_duplicate"), F.lit("stream_dup"))
        .otherwise(F.lit("unique"))
        .alias("status"),
        F.coalesce(
            F.col("__corpus_of"),
            F.when(F.col("is_duplicate"), F.col("first_doc_id")),
        ).alias("dup_of"),
    )


def stream_heavy_hitters(
    stream: DataFrame,
    item_col: str = "event_type",
    k: int = 8,
    n_shards: int = 4,
    shard_col: str | None = None,
) -> DataFrame:
    """Streaming heavy hitters: per-shard Misra-Gries summaries
    maintained in explicit group state — the classic bounded-memory
    answer to "which items dominate an unbounded feed" (top event
    types, hot keys, trending domains).

    Sharding makes it scale-correct AND recall-correct: items route to
    a shard by hash, so an item's ENTIRE stream lands in one shard and
    that shard's Misra-Gries bound applies to the item's true count —
    state is ``n_shards x k`` counters total, independent of stream
    length. Each trigger emits every shard's current summary
    ``(shard, item, est_count, n_items, n_decrements)``; the global
    top-k is a batch query over the union of shard summaries.

    Guarantees (weighted Misra-Gries): for every emitted item,
    ``true_count - n_decrements <= est_count <= true_count`` within its
    shard, and any item with shard frequency > shard_n / (k+1) is
    GUARANTEED present. Arrival order may shift estimates within those
    bounds (inherent to every summary sketch); the bounds themselves
    are order-free, which is what the parity test pins.

    Determinism contract: within each Arrow batch, items apply in
    ``(-weight, item)`` order — so when a group's whole stream arrives
    as ONE batch (availableNow over a single file with a large
    ``arrow.maxRecordsPerBatch``), the summary is a pure function of
    the group's item MULTISET, independent of row order, and the whole
    sketch decision sequence replays exactly in SQL (the
    ``streaming_user_stats`` slot's 'hh' oracle variant steps through
    it with a recursive CTE).

    ``shard_col``: route by an existing int column instead of
    ``pmod(xxhash64(item), n_shards)`` — lets callers use an
    engine-portable hash when the routing itself must replay in SQL."""
    out_schema = (
        "shard int, item string, est_count bigint, n_items bigint, "
        "n_decrements bigint"
    )
    state_schema = (
        "items array<string>, counts array<bigint>, n bigint, dec bigint"
    )

    def update(
        key: Tuple[int],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            items, counts, n, dec = state.get
            sketch = dict(zip(items, counts))
        else:
            sketch, n, dec = {}, 0, 0
        for pdf in pdfs:
            vc = pdf["__item"].value_counts()
            n += int(vc.sum())
            # deterministic application order (see docstring): heaviest
            # first, ties by item — order-free given the batch multiset
            for item, w in sorted(vc.items(), key=lambda kv: (-kv[1], kv[0])):
                w = int(w)
                if item in sketch:
                    sketch[item] += w
                elif len(sketch) < k:
                    sketch[item] = w
                else:
                    m = min(sketch.values())
                    d = min(m, w)
                    dec += d
                    sketch = {
                        i: c - d for i, c in sketch.items() if c - d > 0
                    }
                    if w - d > 0:
                        sketch[item] = w - d
        state.update(
            (list(sketch.keys()), list(sketch.values()), n, dec)
        )
        out = sorted(sketch.items(), key=lambda kv: (-kv[1], kv[0]))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(out),
                "item": [i for i, _ in out],
                "est_count": [c for _, c in out],
                "n_items": [n] * len(out),
                "n_decrements": [dec] * len(out),
            }
        )

    shard = (
        F.col(shard_col).cast("int")
        if shard_col
        else F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards)).cast("int")
    )
    return (
        stream.select(shard.alias("__shard"), F.col(item_col).alias("__item"))
        .groupBy("__shard")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_bloom_contamination(
    stream: DataFrame,
    bloom_words: list[int],
    k_grams: int = 3,
    k_hashes: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming decontamination gate — the stream twin of the
    ``'bloom'`` rows of ``sampling.contamination_report``: every
    arriving document's DISTINCT word k-gram shingles probe a PRE-BUILT
    eval-set Bloom filter (``operators/sketch.bloom_build``) inlined as
    literal words. The whole gate is ONE map-side projection — per-row
    array ops, no aggregation, no state store, no watermark, no join —
    so it runs in any output mode at scan-bound throughput. (Rebuilding
    the filter nightly means restarting the query with new literals;
    the stream-static join in ``stream_corpus_dedup`` is the
    alternative when the reference set must hot-swap.)

    Emits ``(id[, ts], n_shingles, n_hits, contaminated)`` per document
    — same counts as the batch report's distinct-shingle semantics
    (same single-space tokenization and k-gram window; distinct by
    shingle string where the batch path dedupes by 32-bit hash,
    identical short of a hash collision). False positives can only
    overstate contamination — safe for a removal gate."""
    from xarray_dataaccessor_spark.operators.dedup import _word_kgrams
    from xarray_dataaccessor_spark.operators.sketch import (
        bloom_contains_sql,
        bloom_keys,
    )

    shingles = F.array_distinct(
        F.filter(
            _word_kgrams(F.split(F.col(text_col), " "), k_grams),
            lambda sh: F.length(sh) > 0,
        )
    )
    def keyed(s):
        h1, h2 = bloom_keys(s)
        return F.struct(h1.alias("h1"), h2.alias("h2"))

    probe = bloom_contains_sql("k.h1", "k.h2", bloom_words, k=k_hashes)
    keep = [c for c in (id_col, "ts") if c in stream.columns]
    return (
        stream.select(*keep, shingles.alias("__sh"))
        .select(
            *keep,
            F.size("__sh").cast("long").alias("n_shingles"),
            F.transform("__sh", keyed).alias("__k"),
        )
        .withColumn(
            "n_hits",
            F.expr(f"size(filter(__k, k -> {probe}))").cast("long"),
        )
        .drop("__k")
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def stream_bottomk_quantiles(
    stream: DataFrame,
    value_col: str = "value",
    key_cols: Tuple[str, ...] = ("user_id", "ts"),
    group_col: str = "event_type",
    k: int = 64,
    probs: Tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Streaming quantile monitoring via the mergeable bottom-k-by-hash
    sample (:func:`operators.sketch.bottomk_sample`'s streaming twin):
    per group, state is the ≤ k rows with the smallest portable md5 key
    hashes seen so far, and every trigger emits the group's current
    sample quantiles — bounded state (k triples per group) over an
    unbounded feed, where the windowed-aggregation slots would need
    every value.

    The MIN-k merge law does all the work: merging each micro-batch's
    rows into the state and re-taking the bottom k IS the batch
    operator on the stream prefix — so after an ``availableNow`` drain
    the final emission equals :func:`~.sketch.bottomk_quantiles` over
    the same rows EXACTLY (sample set, ``h_k``, and interpolated
    quantiles; pinned by test_streaming_bottomk.py). Arrival order
    cannot matter by construction — the sample is a pure function of
    the key-hash SET, the property the batch twin's coordination note
    relies on.

    Emits ``(group, k_used, h_k, q<p>..., n_seen)`` per trigger in
    update mode; ``n_seen`` (total rows absorbed) distinguishes
    successive emissions and is the "largest n wins" final-emission
    key, mirroring the heavy-hitters harness."""
    import hashlib

    import numpy as np

    qcols = [f"q{str(p).replace('0.', '')}" for p in probs]
    out_schema = (
        f"{group_col} string, k_used bigint, h_k bigint, "
        + ", ".join(f"{c} double" for c in qcols)
        + ", n_seen bigint"
    )
    state_schema = (
        "hs array<bigint>, ties array<string>, vs array<double>, n bigint"
    )
    pk = tuple(float(p) for p in probs)

    def update(
        key: Tuple[str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            hs, ties, vs, n = state.get
            trip = list(zip(hs, ties, vs))
        else:
            trip, n = [], 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            n += len(pdf)
            tie = pdf["__tie"].tolist()
            v = pdf["__v"].tolist()
            # portable md5 prefix hash — bit-identical to Spark's
            # conv(substring(md5(s), 1, 8), 16, 10) in the batch twin
            hh = [
                int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
                for t in tie
            ]
            trip.extend(zip(hh, tie, v))
            trip.sort(key=lambda x: (x[0], x[1]))
            trip = trip[:k]
        state.update((
            [t[0] for t in trip], [t[1] for t in trip],
            [float(t[2]) for t in trip], n,
        ))
        vals = np.asarray([t[2] for t in trip], dtype=np.float64)
        qs = [
            round(float(np.percentile(vals, p * 100.0, method="linear")), 6)
            for p in pk
        ]
        yield pd.DataFrame({
            group_col: [key[0]],
            "k_used": [len(trip)],
            "h_k": [max((t[0] for t in trip), default=0)],
            **{c: [q] for c, q in zip(qcols, qs)},
            "n_seen": [n],
        })

    tie = F.concat_ws("-", *[F.col(c).cast("string") for c in key_cols])
    return (
        stream.select(
            F.col(group_col),
            tie.alias("__tie"),
            F.col(value_col).cast("double").alias("__v"),
        )
        .groupBy(group_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
