"""Structured Streaming twins of the batch event-time queries (M5).

Each builder takes a *streaming* DataFrame of events (same schema as the
batch table) and applies identical event-time logic to its batch twin in
``operators/events_windows.py``. DuckDB cannot oracle a stream, so
correctness comes from the twin: replaying the events parquet through
the stream with ``trigger(availableNow=True)`` must reproduce the batch
result (tests/test_streaming.py).

Watermarks bound state: aggregation state for windows older than
(max event time − delay) is dropped, and late rows beyond the watermark
are discarded — that is the knob that keeps state finite on an unbounded
100 TB/day stream. ``foreachBatch`` is the sink adapter for parquet/
upsert targets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant
from hadoop_cs4225_spark.session import apply_runtime_confs
from hadoop_cs4225_spark.sources.tables import load_events


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet (file-source replay).

    The file source needs an explicit schema; reuse the batch loader's
    (including the ns→µs timestamp conversion — the raw file stores
    TIMESTAMP(NANOS) which arrives as a long under nanosAsLong).
    """
    apply_runtime_confs(spark)
    batch = load_events(spark, sf_dir)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file stream source requires a directory; glob-filter down to
    # the events file inside the sf_dir.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        # Integer division (see sources/tables.py): `/1000` promotes the
        # ~1.7e18 long to double whose ulp (256ns) shifts ~1.5% of rows.
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP (LTZ) [EVENT_TIME_IS_NOT_ON_
        # TIMESTAMP_TYPE]. Session tz is pinned to UTC (session.py), so
        # the NTZ->LTZ cast is value-identical and the batch twins (which
        # keep NTZ) render the same wall-clock strings.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    # Align column order/types with the batch twin.
    return stream.select(*[F.col(f.name) for f in batch.schema.fields])


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of ``events_tumbling_counts``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_avg_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of ``events_sliding_avg``."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            quant(F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6).alias(
                "avg_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "n_events",
            "avg_value",
        )
    )


def session_windows_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming twin of ``events_session_windows`` (stateful merge)."""
    return (
        events.where(F.col("user_id") <= 50)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming exactly-once dedup on event_id within the watermark.

    Uses ``dropDuplicatesWithinWatermark``: state is one entry per
    event_id seen within the watermark delay and is EVICTED as the
    watermark passes. Plain ``dropDuplicates(["event_id"])`` would keep
    key state forever even under a watermark (eviction only applies
    when the event-time column is part of the dedup key) — the classic
    unbounded-state leak on an infinite stream; refuse it at scale.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def enrich_join_stream(spark: SparkSession, events: DataFrame) -> DataFrame:
    """Stream-STATIC join: enrich the event stream with a small static
    dimension (event_type -> category/weight).

    The static side is planned once and broadcast to every micro-batch
    — no state store at all (contrast with ``interval_join_stream``):
    the canonical shape for dimension enrichment at any scale. The dim
    here is an inline VALUES relation; in production it is a Parquet/
    Delta dim table re-read per batch.
    """
    dim = F.broadcast(
        spark.sql(
            "SELECT * FROM VALUES "
            "('click', 'engagement', 1.0D), ('view', 'engagement', 0.5D), "
            "('purchase', 'revenue', 10.0D), ('signup', 'growth', 5.0D), "
            "('error', 'health', 0.0D) AS dim(event_type, category, weight)"
        )
    )
    return (
        events.join(dim, "event_type")
        .withWatermark("ts", "1 hour")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted_value"
            ),
        )
    )


def interval_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream INTERVAL JOIN: errors within 5 minutes after a
    click, per user — the streaming twin of ``events_range_join``
    (joins_advanced.py), same filters and output columns.

    Both sides carry a watermark and the join condition bounds event
    time in BOTH directions, so the state store can expire rows: a
    click is held at most watermark + 5 minutes, an error at most the
    watermark. An unbounded condition would grow state forever — Spark
    rejects it in append mode, and so should any 100 TB design review.
    The shuffle is keyed on user_id on both sides (co-partitioned
    stateful join), exactly like the batch plan.
    """
    clicks = (
        events.where((F.col("event_type") == "click") & (F.col("user_id") <= 50))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    errors = (
        events.where((F.col("event_type") == "error") & (F.col("user_id") <= 50))
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    return clicks.join(
        errors,
        (F.col("user_id") == F.col("e_user"))
        & (F.col("e_ts") > F.col("c_ts"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select(
        "click_id",
        "error_id",
        "user_id",
        (
            F.unix_timestamp(F.col("e_ts").cast("timestamp"))
            - F.unix_timestamp(F.col("c_ts").cast("timestamp"))
        ).alias("secs_between"),
    )


def user_activity_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``.

    Per-user running activity state (event count + value sum) kept in
    the state store across micro-batches, emitting the updated totals
    for every user seen in a batch. The pattern behind custom
    sessionization/feature accumulation when ``session_window`` /
    built-in aggs can't express the state transition. Arrow-batched:
    state values are plain tuples, rows never cross Py4J row-by-row.

    Not oracle-able (stateful streaming has no SQL twin) — equivalence
    with the batch groupBy is asserted in tests/test_streaming.py.
    """
    import pandas as pd  # local import keeps the module importable sans Arrow

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("v", DoubleType())]
    )

    def update(key, pdf_iter, state: GroupState):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [v]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def sessionize_batch(
    ts_sorted: list[int], open_session: tuple[int, int, int] | None, gap_us: int
) -> list[list[int]]:
    """Pure session-merge transition used by :func:`user_sessions_tws`.

    Takes a sorted list of event times (µs), the carried-over open
    session ``(start, last_event, n)`` or None, and returns the merged
    ``[start, last_event, n]`` triples. Same ``[start, last+gap)`` rule
    as ``session_window``: an event exactly at ``last+gap`` starts a new
    session. Unit-testable without a state store (the streaming runtime
    for transformWithState needs protobuf, absent in some containers).
    """
    sessions: list[list[int]] = [list(open_session)] if open_session else []
    for t in ts_sorted:
        if sessions and t - sessions[-1][1] < gap_us:
            sessions[-1][1] = max(sessions[-1][1], t)
            sessions[-1][2] += 1
        else:
            sessions.append([t, t, 1])
    return sessions


def user_sessions_tws(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization via ``transformWithStateInPandas`` — the Spark 4.x
    arbitrary-state API (StatefulProcessor) succeeding
    ``applyInPandasWithState``.

    Semantics mirror the batch ``events_session_windows`` query: per
    user, events merge into one session while consecutive gaps are
    < ``gap_minutes``; the session window is
    ``[first_event, last_event + gap)``. State = the still-open trailing
    session (start, last-event, count) as a ValueState row, merged with
    the next micro-batch's events; every batch re-emits its affected
    sessions in update mode (the memory-sink harness replays bounded
    input as ONE batch, so the final emission equals the batch result —
    asserted in tests/test_streaming.py).

    Requires the RocksDB state-store provider (transformWithState's
    backing store); the test sets
    ``spark.sql.streaming.stateStore.providerClass``.

    Not oracle-able (no SQL twin of a stateful stream); scale posture:
    one shuffle keyed on user_id, Arrow-batched state transitions,
    state bounded at one open session per user.
    """
    import pandas as pd  # local import keeps the module importable sans Arrow
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", StringType()),
            StructField("session_end", StringType()),
            StructField("n_events", LongType()),
        ]
    )

    def _fmt(us: int) -> str:
        return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S")

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._open = handle.getValueState(
                "open_session", "start BIGINT, last BIGINT, n BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            ts: list[int] = []
            for pdf in rows:
                ts.extend(
                    pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
                )
            ts.sort()
            prev = tuple(self._open.get()) if self._open.exists() else None
            sessions = sessionize_batch(ts, prev, gap_us)
            if not sessions:
                return
            self._open.update(tuple(sessions[-1]))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(sessions),
                    "session_start": [_fmt(s[0]) for s in sessions],
                    "session_end": [_fmt(s[1] + gap_us) for s in sessions],
                    "n_events": [s[2] for s in sessions],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.where(F.col("user_id") <= 50)
        .select("user_id", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Replay a bounded stream to a memory sink (test/smoke harness)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, name)


def _await_bounded(q, name: str, timeout_s: int = 120) -> None:
    """Wait for an availableNow replay; a timeout means the sink is only
    partially populated — fail loudly rather than let an equivalence
    test compare against incomplete results."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"stream {name!r} still active after {timeout_s}s; sink incomplete"
        )


def _run_foreach_batch(
    df: DataFrame, fn, checkpoint: str, sink: str, output_mode: str = "append"
) -> None:
    """Start ``fn`` as a checkpointed ``foreachBatch`` sink over every
    file available now and wait until the stream has drained. The
    checkpoint carries offsets, so a restarted query resumes
    exactly-once per batch id."""
    q = (
        df.writeStream.foreachBatch(fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, f"foreachBatch->{sink}")


def run_foreach_batch_parquet(
    df: DataFrame, path: str, checkpoint: str, output_mode: str = "update"
) -> None:
    """Production sink adapter: ``foreachBatch`` appending each
    micro-batch to parquet.

    ``foreachBatch`` hands every micro-batch to ordinary batch-writer
    code — the idiom for sinks Structured Streaming lacks natively
    (upserts, JDBC, dual writes).
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(path)

    _run_foreach_batch(df, write_batch, checkpoint, path, output_mode)


def _snapshot_versions(root: str, below: int | None = None) -> list[int]:
    """Committed snapshot versions (``v<N>`` dirs) under ``root``,
    optionally only those strictly below a batch id — the sink-side
    source of truth for versioned foreachBatch MERGE sinks (never track
    the previous version in process memory: restart replay and
    crash-written snapshots both break that, see
    :func:`_maintain_snapshots`)."""
    import os

    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith("v") and d[1:].isdigit():
            v = int(d[1:])
            if below is None or v < below:
                out.append(v)
    return out


def _guard_incarnation(root: str, batch_id: int) -> None:
    """Refuse to merge when the sink holds a snapshot NEWER than the
    executing batch id: that means a fresh checkpoint was pointed at a
    retained sink (batch ids restarted), and merging would overwrite
    early versions while the final read returns the previous
    incarnation's stale max — silent wrong results either way. (A
    crash-replay of the latest batch legitimately sees v{batch_id}
    itself, never anything newer, so this never fires on real replay.)
    """
    newer = [v for v in _snapshot_versions(root) if v > batch_id]
    if newer:
        raise RuntimeError(
            f"versioned sink {root} already holds v{max(newer)}, newer than "
            f"executing batch {batch_id}: fresh checkpoint over a retained "
            "sink. Clear the sink directory or reuse its original checkpoint."
        )


def _prune_snapshots(root: str, batch_id: int) -> None:
    """Delete snapshots <= batch_id - 2 after v{batch_id} commits.

    Only the latest not-yet-checkpoint-committed batch can ever replay,
    and its merge reads max(v < batch_id) = v{batch_id-1} — so keeping
    the current and previous snapshot is sufficient for crash safety,
    and disk stays O(2 snapshots) instead of O(batches)."""
    import os
    import shutil

    for v in _snapshot_versions(root):
        if v <= batch_id - 2:
            shutil.rmtree(os.path.join(root, f"v{v}"), ignore_errors=True)


def _append(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Append merge: the batch's rows are new and prior rows never
    change (immutable documents or vectors, document-local rows)."""
    return batch if prev is None else prev.unionByName(batch)


def _add_by_key(keys: list[str], cols: list[str]):
    """Add-by-key merge for decomposable counts. The batch frame
    carries ``keys`` and a delta ``d_<col>`` per column; a full-outer
    join on the keys adds the deltas, and keys the batch does not touch
    pass through unchanged. Every snapshot is unique per key, so this
    equals re-aggregating the union of snapshot and batch (a NULL
    delta or total counts as 0)."""

    def merge(prev: DataFrame | None, delta: DataFrame) -> DataFrame:
        if prev is None:
            return delta.select(
                *keys, *[F.col(f"d_{c}").alias(c) for c in cols]
            )
        return prev.join(delta, keys, "full").select(
            *keys,
            *[
                (
                    F.coalesce(c, F.lit(0)) + F.coalesce(f"d_{c}", F.lit(0))
                ).alias(c)
                for c in cols
            ],
        )

    return merge


def _keep_first(keys: list[str]):
    """Keep-first-by-key merge for signature indexes. The batch frame
    carries ``(doc_id, *keys)`` rows; within the batch the min doc_id
    keeps each key. Across batches an existing key keeps its doc_id and
    absorbs all the batch's arrivals, and an unseen key appends with
    its first arrival not counted as a duplicate. The snapshot is
    ``(*keys, doc_id, n_dups_absorbed)``."""

    def merge(prev: DataFrame | None, rows: DataFrame) -> DataFrame:
        batch = rows.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_arrivals"),
            F.min("doc_id").alias("first_doc"),
        )
        if prev is None:
            return batch.select(
                *keys,
                F.col("first_doc").alias("doc_id"),
                (F.col("n_arrivals") - 1).alias("n_dups_absorbed"),
            )
        return prev.join(batch, keys, "full").select(
            *keys,
            F.coalesce("doc_id", "first_doc").alias("doc_id"),
            (
                F.coalesce("n_dups_absorbed", F.lit(0))
                + F.coalesce("n_arrivals", F.lit(0))
                - F.when(F.col("doc_id").isNull(), 1).otherwise(0)
            ).alias("n_dups_absorbed"),
        )

    return merge


def _maintain_snapshots(
    spark: SparkSession,
    src: str,
    root: str,
    checkpoint: str,
    merges: dict,
    frames,
    partition_by: str | None = None,
) -> dict[str, DataFrame]:
    """Maintain a versioned index snapshot under ``root`` from a stream
    of parquet files in ``src``, one file per micro-batch.

    ``merges`` maps each part name to its merge, and ``frames`` turns a
    micro-batch into the per-batch rows of every part, by name.
    ``merge(prev, rows)`` folds a part's rows into the previous
    snapshot's part (``prev`` is None before the first commit). A part
    is written to ``v{batch_id}/<name>``; the name ``""`` is the
    snapshot directory itself. ``partition_by`` writes every part
    ``partitionBy`` that column. A ``ts`` column is cast to TIMESTAMP
    (session tz is UTC, so the NTZ->LTZ cast is value-identical).

    Each batch commits a NEW snapshot ``v{batch_id}`` and never
    overwrites one a running plan still reads (commit-then-swap, the
    isolation Delta/Iceberg formalize). The previous snapshot is the
    LATEST version strictly below the batch id, discovered from the
    sink itself — never from in-process state. That covers two
    failures: (a) a restart replays the uncommitted batch N in a fresh
    process, where an in-memory "last version" would start at -1 and
    the replay would overwrite vN with only its own rows; (b) a crashed
    run that already wrote vN before the checkpoint commit would, read
    as max(all versions), merge vN into itself and double-count.
    max(v < batch_id) is correct in both, so a replay rewrites vN
    idempotently from v(N-1).

    Every batch rewrites the full snapshot, so a batch costs O(index),
    not O(batch): fine while the index rewrites in seconds. At 100 TB
    the rewrite becomes a MERGE into a table bucketed on the merge
    key, so a batch touches only its buckets; the merge functions
    state exactly what that MERGE does.

    Returns the latest committed parts by name. With no committed
    snapshot (e.g. a drained source over an empty root) it returns the
    first-batch merge of an empty batch, so both paths share one
    schema.
    """
    import os

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if "ts" in stream.columns:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _guard_incarnation(root, batch_id)
        read = batch_df.sparkSession.read.parquet
        prior = _snapshot_versions(root, below=batch_id)
        prev = os.path.join(root, f"v{max(prior)}") if prior else None
        out = os.path.join(root, f"v{batch_id}")
        rows = frames(batch_df)
        for name, merge in merges.items():
            new = merge(
                read(os.path.join(prev, name)) if prev else None, rows[name]
            )
            writer = new.write
            if partition_by:
                writer = new.repartition(partition_by).write.partitionBy(partition_by)
            writer.mode("overwrite").parquet(os.path.join(out, name))
        _prune_snapshots(root, batch_id)

    _run_foreach_batch(stream, merge_batch, checkpoint, root)
    versions = _snapshot_versions(root)
    if versions:
        vdir = os.path.join(root, f"v{max(versions)}")
        return {name: spark.read.parquet(os.path.join(vdir, name)) for name in merges}
    rows = frames(spark.createDataFrame([], stream.schema))
    return {name: merge(None, rows[name]) for name, merge in merges.items()}


def run_incremental_corpus_dedup(
    spark: SparkSession, docs_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental corpus-level near-dup dedup: each micro-batch of new
    documents is MinHash-signed with the shared
    :func:`operators.dedup.signature_frame` and admitted to a
    persistent signature index only if its signature is unseen — the
    streaming ingest shape of a training-corpus pipeline (the batch
    dedup queries re-scan the whole corpus; an ingest feed cannot).

    One part, keep-first-by-key on ``mh0..mh3``. Returns the index
    ``(mh0..mh3, doc_id, n_dups_absorbed)``: doc_id is the first
    document that introduced the signature, n_dups_absorbed counts the
    later arrivals it suppressed (within-batch and cross-batch).
    """
    from hadoop_cs4225_spark.operators.dedup import signature_frame

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        return {"": signature_frame(batch_df)}

    merges = {"": _keep_first(["mh0", "mh1", "mh2", "mh3"])}
    return _maintain_snapshots(
        spark, docs_chunks, index_root, checkpoint, merges, frames
    )[""]


def run_incremental_simhash_dedup(
    spark: SparkSession, docs_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental SimHash fingerprint-index maintenance — the SimHash
    twin of :func:`run_incremental_corpus_dedup`: each micro-batch of
    new documents is fingerprinted with the shared
    :func:`operators.dedup.simhash60_frame` (the batch band join's
    definition).

    One part, keep-first-by-key on the 60-bit fingerprint ``f``. The
    batch band join consumes this ``(doc_id, f)`` schema, so ingest
    keeps the near-dup surface current without re-fingerprinting the
    corpus. Returns the index ``(f, doc_id, n_dups_absorbed)``.
    """
    from hadoop_cs4225_spark.operators.dedup import simhash60_frame

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        return {"": simhash60_frame(batch_df)}

    merges = {"": _keep_first(["f"])}
    return _maintain_snapshots(
        spark, docs_chunks, index_root, checkpoint, merges, frames
    )[""]


def run_incremental_shingle_postings(
    spark: SparkSession, docs_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental maintenance of the shingle-postings inverted index —
    the streaming twin of :func:`operators.dedup.ensure_shingle_postings`,
    shingling each micro-batch with the shared
    :func:`operators.dedup._shingle_sets`. Two parts:

    - ``postings/``: one ``(doc_id, s, len)`` row per (doc, distinct
      shingle); append.
    - ``df/``: shingle → document frequency; add-by-key on ``s``.

    The PPJoin rank ``rn`` of the batch layout is derived (row_number
    over (df, s) per doc), and any df change re-ranks whole documents,
    so consumers recompute it at read time. Returns ``(doc_id, s, df,
    len)``, from which one partitioned window reproduces the batch
    layout (pinned in tests).
    """
    from hadoop_cs4225_spark.operators.dedup import _shingle_sets

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        posts = _shingle_sets(batch_df).select(
            "doc_id",
            F.size("sh").cast("long").alias("len"),
            F.explode("sh").alias("s"),
        ).select("doc_id", "s", "len")
        # postings are (doc, s)-unique, so a row count per s is the
        # number of batch docs containing s
        dfc = posts.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d_df"))
        return {"postings": posts, "df": dfc}

    merges = {"postings": _append, "df": _add_by_key(["s"], ["df"])}
    snap = _maintain_snapshots(
        spark, docs_chunks, index_root, checkpoint, merges, frames
    )
    return snap["postings"].join(snap["df"], "s").select("doc_id", "s", "df", "len")


def run_incremental_token_counts(
    spark: SparkSession, docs_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental maintenance of the token-count index — the streaming
    twin of :func:`operators.text_analysis.ensure_token_counts` /
    ``ensure_token_df``, tokenizing each micro-batch with the shared
    :func:`operators.text_analysis._toks`. Two parts:

    - ``tf/``: one ``(doc_id, source, word, tf)`` row per (doc,
      distinct word); each source row is one immutable document, so
      append.
    - ``vocab/``: ``word -> (df, cf)``; add-by-key on ``word``.

    Returns the joined ``(doc_id, source, word, tf, df, cf)`` frame;
    the batch layouts are its two projections (pinned in
    tests/test_streaming.py).
    """
    from hadoop_cs4225_spark.operators.text_analysis import _toks

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        tf = (
            batch_df.select(
                "doc_id", "source", F.explode(_toks()).alias("word")
            )
            .groupBy("doc_id", "source", "word")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        # tf rows are (doc, word)-unique, so the row count per word is
        # the batch's df contribution
        vocab = tf.groupBy("word").agg(
            F.count(F.lit(1)).cast("long").alias("d_df"),
            F.sum("tf").cast("long").alias("d_cf"),
        )
        return {"tf": tf, "vocab": vocab}

    merges = {"tf": _append, "vocab": _add_by_key(["word"], ["df", "cf"])}
    snap = _maintain_snapshots(
        spark, docs_chunks, index_root, checkpoint, merges, frames
    )
    return snap["tf"].join(snap["vocab"], "word").select(
        "doc_id", "source", "word", "tf", "df", "cf"
    )


def run_incremental_winnow_fps(
    spark: SparkSession, docs_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental maintenance of the winnowing fingerprint postings —
    the streaming twin of :func:`operators.dedup.ensure_winnow_fp_index`.
    One part, ``fps/``: the ``(doc_id, n_sel, fp)`` rows of the shared
    :func:`operators.dedup._winnow_fp_rows`, which are document-local
    (window minima over the doc's own shingle hashes), so append.
    """
    from hadoop_cs4225_spark.operators.dedup import _winnow_fp_rows

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        return {"fps": _winnow_fp_rows(batch_df)}

    return _maintain_snapshots(
        spark, docs_chunks, index_root, checkpoint, {"fps": _append}, frames
    )["fps"]


def run_incremental_ivf_assign(
    spark: SparkSession, emb_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental IVF index maintenance — the ANN twin of the dedup
    index maintainers. Each micro-batch of new vectors is assigned to
    its nearest frozen coarse centroid with the shared
    :func:`operators.similarity._ivf_assign_col` (the batch index's and
    the DuckDB oracles' argmax). Two parts:

    - ``postings/``: one ``(centroid_id, vec_id, label)`` row per
      vector; vectors are immutable, so append.
    - ``lists/``: per-centroid list size ``n_list``; add-by-key on
      ``centroid_id``. It drives the list-balance audit
      (``ann_index_balance_audit``) without a full index scan.

    Returns the index ``(centroid_id, vec_id, label, n_list)``.
    """
    from hadoop_cs4225_spark.operators.similarity import _ivf_assign_col

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        posts = batch_df.select(
            _ivf_assign_col("embedding").alias("centroid_id"),
            "vec_id",
            "label",
        )
        sizes = posts.groupBy("centroid_id").agg(
            F.count(F.lit(1)).cast("long").alias("d_n_list")
        )
        return {"postings": posts, "lists": sizes}

    merges = {
        "postings": _append,
        "lists": _add_by_key(["centroid_id"], ["n_list"]),
    }
    snap = _maintain_snapshots(
        spark, emb_chunks, index_root, checkpoint, merges, frames
    )
    return snap["postings"].join(snap["lists"], "centroid_id").select(
        "centroid_id", "vec_id", "label", "n_list"
    )


def run_incremental_pq_codes(
    spark: SparkSession, emb_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental maintenance of the physical IVF-PQ index — the
    streaming twin of :func:`operators.pq.ensure_ivf_pq_index`. Each
    micro-batch of new vectors gets its coarse assignment
    (``similarity._ivf_assign_col``) and its ``N_SUB`` PQ codes
    (``pq._code_col``), the batch build's frozen-codebook expressions.

    One part, ``codes/``; rows are vector-local, so append. It is
    written ``partitionBy(centroid_id)`` like the batch layout, so a
    probe keeps its dynamic-partition-pruned one-directory scan.
    Returns ``(vec_id, label, embedding, c0..c{N_SUB-1}, centroid_id)``.
    """
    from hadoop_cs4225_spark.operators.pq import N_SUB, _code_col
    from hadoop_cs4225_spark.operators.similarity import _ivf_assign_col

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        # centroid_id last: a partitionBy column reads back last, so the
        # read-back and the empty result share one column order
        codes = batch_df.select(
            "vec_id",
            "label",
            "embedding",
            *[_code_col("embedding", m).alias(f"c{m}") for m in range(N_SUB)],
            _ivf_assign_col("embedding").alias("centroid_id"),
        )
        return {"codes": codes}

    return _maintain_snapshots(
        spark,
        emb_chunks,
        index_root,
        checkpoint,
        {"codes": _append},
        frames,
        partition_by="centroid_id",
    )["codes"]


def run_incremental_byte_shingles(
    spark: SparkSession, docs_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental maintenance of the byte-shingle layouts — the
    streaming twin of :func:`operators.multimodal_ops.
    ensure_byte_shingle_sets` / ``ensure_byte_minhash_sigs``, using the
    shared :func:`_byte_shingle_sets` and :func:`_byte_sigs_from_sets`.
    Two parts, both document-local (the set is the doc's own distinct
    windows, the signature a fold over it), so append: ``sets/`` and
    ``sigs/``. Like every maintainer, each batch still rewrites both
    parts in full (see :func:`_maintain_snapshots`). Returns the
    ``sets`` part; ``sigs`` sits next to it and is pinned equal to
    ``_byte_sigs_from_sets(sets)`` in tests."""
    from hadoop_cs4225_spark.operators.multimodal_ops import (
        _byte_shingle_sets,
        _byte_sigs_from_sets,
    )

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        sets = _byte_shingle_sets(batch_df)
        return {"sets": sets, "sigs": _byte_sigs_from_sets(sets)}

    merges = {"sets": _append, "sigs": _append}
    return _maintain_snapshots(
        spark, docs_chunks, index_root, checkpoint, merges, frames
    )["sets"]


def run_incremental_ngram5_postings(
    spark: SparkSession, docs_chunks: str, index_root: str, checkpoint: str
) -> DataFrame:
    """Incremental maintenance of the 5-gram postings index — the
    streaming twin of :func:`operators.text_analysis.
    ensure_ngram5_postings`, using the shared
    :func:`operators.text_analysis._ngram5_rows`. Two parts:
    ``posts/`` rows ``(doc_id, source, sh)`` are document-local, so
    append; ``df/`` is add-by-key on ``sh``. Returns the joined
    ``(doc_id, source, sh, df)`` frame matching the batch layout."""
    from hadoop_cs4225_spark.operators.text_analysis import _ngram5_rows

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        posts = _ngram5_rows(batch_df)
        dfc = posts.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("d_df"))
        return {"posts": posts, "df": dfc}

    merges = {"posts": _append, "df": _add_by_key(["sh"], ["df"])}
    snap = _maintain_snapshots(
        spark, docs_chunks, index_root, checkpoint, merges, frames
    )
    return snap["posts"].join(snap["df"], "sh").select("doc_id", "source", "sh", "df")


def run_incremental_daily_rollup(
    spark: SparkSession, chunks_path: str, out_root: str, checkpoint: str
) -> DataFrame:
    """Incrementally-maintained daily rollup — the streaming version of
    ``events_daily_rollup``: each micro-batch's (day, event_type)
    partial COUNT/SUM merges into the running rollup. One part,
    add-by-key on ``(day, event_type)``. State lives in the sink (the
    rollup itself), not the stream, so no watermark is needed for
    correctness. Returns ``(day, event_type, n_events, total_value)``.
    """

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        delta = batch_df.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("d_n_events"),
            F.sum("value").alias("d_total_value"),
        )
        return {"": delta}

    merges = {"": _add_by_key(["day", "event_type"], ["n_events", "total_value"])}
    return _maintain_snapshots(
        spark, chunks_path, out_root, checkpoint, merges, frames
    )[""]


def cusum_fold(s_scaled: int, devs: list[int]) -> int:
    """Pure one-sided-CUSUM transition: fold ``S = max(0, S + dev)``
    over ordered scaled deviations, starting from carried state.
    Chunk-composable by construction (fold(fold(s, a), b) ==
    fold(s, a+b)) — the property that makes the streaming operator's
    per-micro-batch application equal the batch closed form
    (operators/algo_ops.events_daily_cusum); unit-tested without a
    state store, the ``sessionize_batch`` discipline.
    """
    for d in devs:
        s_scaled = max(0, s_scaled + d)
    return s_scaled


def event_type_cusum_stateful(daily: DataFrame) -> DataFrame:
    """Streaming CUSUM monitor via ``applyInPandasWithState``: carries
    each event type's alarm statistic across micro-batches of (day,
    cnt, k_scaled) rows, emitting the updated S after every batch.
    The streaming twin of the batch ``events_daily_cusum`` — same
    integer-scaled transition, same closed-form result when the full
    day sequence has been replayed in order.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("s_scaled", LongType()),
            StructField("n_days", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("s", LongType()), StructField("n", LongType())]
    )

    def update(key, pdf_iter, state: GroupState):
        s, n = state.get if state.exists else (0, 0)
        chunks = [pdf for pdf in pdf_iter]
        if chunks:
            pdf = pd.concat(chunks).sort_values("day")
            devs = (
                pdf["cnt"].astype("int64") * 1_000_000
                - pdf["k_scaled"].astype("int64")
            ).tolist()
            s = cusum_fold(int(s), devs)
            n += len(pdf)
        state.update((int(s), int(n)))
        yield pd.DataFrame(
            {"event_type": [key[0]], "s_scaled": [int(s)], "n_days": [int(n)]}
        )

    return (
        daily.select("event_type", "day", "cnt", "k_scaled")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _countsketch_partial(df: DataFrame) -> DataFrame:
    """Per-batch Count-Sketch cell increments from raw events.

    The sketch is LINEAR in its input (every cell is a signed sum of
    per-key increments), so the per-event partial — each event adds
    sign(user, d) at bucket(user, d) — merges into the running cells by
    plain addition, and the result equals the batch sketch built from
    the final per-user counts (``user_freq_countsketch_audit``'s
    construction). Same d/w/seed geometry as the batch operator, shared
    via the sketches-module constants."""
    from hadoop_cs4225_spark.functions.hashing import hash60_seeded
    from hadoop_cs4225_spark.operators.sketches import (
        _CSK_D,
        _CSK_SEED0,
        _CSK_W,
    )

    parts = []
    for d in range(1, _CSK_D + 1):
        h = hash60_seeded(F.col("user_id").cast("string"), _CSK_SEED0 + d)
        parts.append(
            df.select(
                F.lit(d).alias("d"),
                (h % _CSK_W).alias("bucket"),
                (1 - 2 * F.shiftright(h, 8).bitwiseAND(F.lit(1))).alias(
                    "sign"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("d", "bucket").agg(
        F.sum("sign").cast("long").alias("cell")
    )


def run_incremental_countsketch(
    spark: SparkSession, chunks_path: str, out_root: str, checkpoint: str
) -> DataFrame:
    """Incrementally-maintained Count-Sketch — the streaming face of
    ``user_freq_countsketch_audit``: each micro-batch's signed cell
    increments (:func:`_countsketch_partial`) merge into the running
    d x w cell table. One part, add-by-key on ``(d, bucket)``. State is
    768 BIGINT cells however large the stream, the merge is addition
    (commutative and associative, so replay order never matters), and
    the maintained sketch answers frequency queries at any moment
    without reprocessing history. Returns ``(d, bucket, cell)``.
    """

    def frames(batch_df: DataFrame) -> dict[str, DataFrame]:
        cells = _countsketch_partial(batch_df)
        return {"": cells.withColumnRenamed("cell", "d_cell")}

    merges = {"": _add_by_key(["d", "bucket"], ["cell"])}
    return _maintain_snapshots(
        spark, chunks_path, out_root, checkpoint, merges, frames
    )[""]
