"""Streaming twins must reproduce their batch-equivalent results when the
bounded events table is replayed as a stream (SURVEY.md §7 M5: the
batch query is the oracle; DuckDB cannot check a stream)."""

from __future__ import annotations

import pytest

from hadoop_cs4225_spark import registry
from hadoop_cs4225_spark.sources.tables import load_events
from hadoop_cs4225_spark.streaming import streams
from tests.conftest import SF_SMOKE

registry.load_all()


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_tumbling_stream_matches_batch(spark):
    ev = streams.read_events_stream(spark, SF_SMOKE)
    assert ev.isStreaming
    streams.run_to_memory(
        streams.tumbling_counts_stream(ev), "t_tumbling", "complete"
    )
    got = _rows(spark.sql("SELECT * FROM t_tumbling"))
    want = _rows(registry.QUERIES["events_tumbling_counts"](spark, SF_SMOKE))
    assert got == want


def test_session_stream_matches_batch(spark):
    ev = streams.read_events_stream(spark, SF_SMOKE)
    streams.run_to_memory(
        streams.session_windows_stream(ev), "t_sessions", "complete"
    )
    got = _rows(spark.sql("SELECT * FROM t_sessions"))
    want = _rows(registry.QUERIES["events_session_windows"](spark, SF_SMOKE))
    assert got == want


def test_sliding_stream_matches_batch(spark):
    ev = streams.read_events_stream(spark, SF_SMOKE)
    streams.run_to_memory(streams.sliding_avg_stream(ev), "t_sliding", "complete")
    got = _rows(spark.sql("SELECT * FROM t_sliding"))
    want = _rows(registry.QUERIES["events_sliding_avg"](spark, SF_SMOKE))
    assert got == want


def test_foreach_batch_parquet_sink(spark, tmp_path):
    ev = streams.read_events_stream(spark, SF_SMOKE)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    streams.run_foreach_batch_parquet(
        streams.dedup_stream(ev), out, ckpt, output_mode="append"
    )
    back = spark.read.parquet(out)
    n_expected = load_events(spark, SF_SMOKE).select("event_id").distinct().count()
    assert back.count() == n_expected
    assert "batch_id" in back.columns


def test_stateful_operator_matches_batch_totals(spark):
    """applyInPandasWithState running totals == batch groupBy after a
    full bounded replay (single batch ⇒ one final update per user)."""
    from pyspark.sql import functions as F

    ev = streams.read_events_stream(spark, SF_SMOKE)
    streams.run_to_memory(streams.user_activity_stateful(ev), "t_state", "update")
    got = {
        r.user_id: (r.n_events, round(r.total_value, 2))
        for r in spark.sql("SELECT * FROM t_state").collect()
    }
    batch = (
        load_events(spark, SF_SMOKE)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("v"),
        )
    )
    want = {r.user_id: (r.n, r.v) for r in batch.collect()}
    assert got == want


def test_append_mode_emits_only_watermark_closed_windows(spark):
    """Append mode + watermark: only windows the final watermark has
    passed are emitted — the late-data-drop contract. Every emitted row
    must match its batch twin, and the withheld rows must be exactly the
    windows within the watermark horizon of max event time."""
    ev = streams.read_events_stream(spark, SF_SMOKE)
    streams.run_to_memory(
        streams.tumbling_counts_stream(ev, watermark="2 hours"),
        "t_append",
        "append",
    )
    got = _rows(spark.sql("SELECT * FROM t_append"))
    batch = _rows(registry.QUERIES["events_tumbling_counts"](spark, SF_SMOKE))
    assert set(got) <= set(batch)
    withheld = set(batch) - set(got)
    assert withheld, "some trailing windows must be withheld by the watermark"
    # All withheld windows sit within 2h+1-window of the max event time.
    from hadoop_cs4225_spark.sources.tables import load_events
    import datetime as dt

    max_ts = load_events(spark, SF_SMOKE).agg({"ts": "max"}).first()[0]
    horizon = max_ts - dt.timedelta(hours=3)
    for row in withheld:
        w_start = dt.datetime.strptime(row[0], "%Y-%m-%d %H:%M:%S")
        assert w_start >= horizon, (row, max_ts)


def test_dedup_stream_counts(spark):
    ev = streams.read_events_stream(spark, SF_SMOKE)
    streams.run_to_memory(streams.dedup_stream(ev), "t_dedup", "append")
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM t_dedup").first()
    batch = load_events(spark, SF_SMOKE)
    assert got.n == got.d == batch.select("event_id").distinct().count()


import importlib.util

import pytest


@pytest.mark.skipif(
    importlib.util.find_spec("google") is None
    or importlib.util.find_spec("google.protobuf") is None,
    reason="transformWithStateInPandas needs protobuf for its state "
    "protocol (PySpark ships StateMessage_pb2); not installed in this "
    "container and installs are out of scope. The operator itself is "
    "implemented and this test runs wherever protobuf exists.",
)
def test_transform_with_state_sessions_match_batch(spark):
    """transformWithStateInPandas sessionization == batch session_window
    result after a bounded single-batch replay."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = streams.read_events_stream(spark, SF_SMOKE)
        streams.run_to_memory(streams.user_sessions_tws(ev), "t_tws", "update")
        got = _rows(spark.sql("SELECT * FROM t_tws"))
        want = _rows(registry.QUERIES["events_session_windows"](spark, SF_SMOKE))
        assert got == want
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_sessionize_batch_transition_logic(spark):
    """The TWS processor's pure state transition, against the batch
    session_window result computed per-user — verifies the merge rule
    (strict [start, last+gap) boundary, open-session carry-over) without
    needing the protobuf-backed streaming runtime."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.streaming.streams import sessionize_batch

    gap_us = 30 * 60 * 1_000_000
    ev = (
        load_events(spark, SF_SMOKE)
        .where(F.col("user_id") <= 50)
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
        .collect()
    )
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append(r.us)
    got = []
    for uid, ts in per_user.items():
        # replay in two chunks to exercise the open-session carry-over
        ts.sort()
        half = len(ts) // 2
        first = sessionize_batch(ts[:half], None, gap_us)
        carried = tuple(first[-1]) if first else None
        closed = [s for s in first[:-1]]
        rest = sessionize_batch(ts[half:], carried, gap_us)
        for s in closed + rest:
            got.append((uid, s[0], s[1] + gap_us, s[2]))
    batch = registry.QUERIES["events_session_windows"](spark, SF_SMOKE).collect()
    import datetime as dt

    def us(sstr):
        return int(
            dt.datetime.strptime(sstr, "%Y-%m-%d %H:%M:%S")
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1_000_000
        )

    # batch formats whole seconds; truncate µs on our side the same way
    got_trunc = sorted(
        (u, s // 1_000_000, e // 1_000_000, n) for u, s, e, n in got
    )
    want = sorted(
        (r.user_id, us(r.session_start) // 1_000_000, us(r.session_end) // 1_000_000, r.n_events)
        for r in batch
    )
    assert got_trunc == want


def test_interval_join_stream_matches_batch(spark):
    """Stream-stream interval join replays to exactly the batch
    events_range_join result (append mode; availableNow drains the
    whole file, watermark passes end-of-input so all pairs emit)."""
    ev = streams.read_events_stream(spark, SF_SMOKE)
    streams.run_to_memory(streams.interval_join_stream(ev), "t_ivjoin", "append")
    got = _rows(spark.sql("SELECT * FROM t_ivjoin"))
    want = _rows(registry.QUERIES["events_range_join"](spark, SF_SMOKE))
    assert sorted(got) == sorted(want)


def test_enrich_join_stream_matches_batch(spark):
    """Stream-static broadcast enrichment replays to the same per-
    category totals as the equivalent batch join+agg."""
    from pyspark.sql import functions as F

    ev = streams.read_events_stream(spark, SF_SMOKE)
    streams.run_to_memory(
        streams.enrich_join_stream(spark, ev), "t_enrich", "complete"
    )
    got = _rows(spark.sql("SELECT * FROM t_enrich"))
    dim = spark.sql(
        "SELECT * FROM VALUES "
        "('click', 'engagement', 1.0D), ('view', 'engagement', 0.5D), "
        "('purchase', 'revenue', 10.0D), ('signup', 'growth', 5.0D), "
        "('error', 'health', 0.0D) AS dim(event_type, category, weight)"
    )
    batch = (
        load_events(spark, SF_SMOKE)
        .join(dim, "event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted_value"
            ),
        )
    )
    assert sorted(got) == sorted(_rows(batch))


def test_incremental_rollup_matches_batch(spark, tmp_path):
    """3 micro-batches through the foreachBatch MERGE sink must produce
    exactly the full-batch daily rollup (decomposable-aggregate merge),
    with one versioned snapshot per batch (commit-then-swap)."""
    import os

    from pyspark.sql import functions as F

    ev = load_events(spark, SF_SMOKE)
    chunks = str(tmp_path / "chunks")
    # 3-file copy -> maxFilesPerTrigger=1 yields 3 micro-batches.
    ev.repartition(3).write.parquet(chunks)
    out_root = str(tmp_path / "rollup")
    got = streams.run_incremental_daily_rollup(
        spark, chunks, out_root, str(tmp_path / "ckpt")
    )
    want = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    g = {
        (str(r["day"]), r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in got.collect()
    }
    w = {
        (str(r["day"]), r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in want.collect()
    }
    assert g == w
    # Pruning keeps only the current + previous snapshot (older ones are
    # checkpoint-committed and can never replay): 3 batches -> v1, v2.
    versions = sorted(d for d in os.listdir(out_root) if d.startswith("v"))
    assert versions == ["v1", "v2"], versions


def test_incremental_rollup_restart_and_rerun(spark, tmp_path):
    """The versioned MERGE sink must survive process restarts: (a) a
    rerun with the same checkpoint and no new files returns the latest
    committed snapshot unchanged (a fresh process must not fall back to
    'no previous version'); (b) new files arriving after the restart
    merge ON TOP of the existing snapshots — prior batches'
    contributions survive because the previous version is discovered
    from the sink directory, not from in-process state."""
    import os

    from pyspark.sql import functions as F

    ev = load_events(spark, SF_SMOKE)
    first = ev.where(F.col("user_id") % 2 == 0)
    second = ev.where(F.col("user_id") % 2 == 1)
    chunks = str(tmp_path / "chunks")
    out_root = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    first.repartition(2).write.parquet(chunks)
    streams.run_incremental_daily_rollup(spark, chunks, out_root, ckpt)

    def snap(df):
        return {
            (str(r["day"]), r["event_type"]): (
                r["n_events"],
                round(r["total_value"], 6),
            )
            for r in df.collect()
        }

    got1 = snap(
        streams.run_incremental_daily_rollup(spark, chunks, out_root, ckpt)
    )  # rerun, no new data: must not crash, must equal first run
    want1 = snap(
        first.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    assert got1 == want1
    # New files after the "restart" — merged on top of committed state.
    second.repartition(1).write.mode("append").parquet(chunks)
    got2 = snap(
        streams.run_incremental_daily_rollup(spark, chunks, out_root, ckpt)
    )
    want2 = snap(
        ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    assert got2 == want2
    assert any(d.startswith("v") for d in os.listdir(out_root))


def test_incremental_corpus_dedup_matches_batch(spark, tmp_path):
    """Streaming signature-index maintenance must converge to exactly
    the full-batch dedup state: same signature set, same absorbed-dup
    totals, keeper doc present in each signature's batch-side group.
    A rerun over a drained source must not change the index."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import signature_frame
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    idx = streams.run_incremental_corpus_dedup(spark, chunks, index_root, ckpt)

    want = (
        signature_frame(docs)
        .groupBy("mh0", "mh1", "mh2", "mh3")
        .agg(
            F.count(F.lit(1)).alias("n_arrivals"),
            F.collect_set("doc_id").alias("group_docs"),
        )
    )
    got = {
        (r["mh0"], r["mh1"], r["mh2"], r["mh3"]): (r["doc_id"], r["n_dups_absorbed"])
        for r in idx.collect()
    }
    exp = {
        (r["mh0"], r["mh1"], r["mh2"], r["mh3"]): (
            set(r["group_docs"]),
            r["n_arrivals"] - 1,
        )
        for r in want.collect()
    }
    assert set(got) == set(exp)
    for sig, (doc_id, absorbed) in got.items():
        group_docs, want_absorbed = exp[sig]
        assert doc_id in group_docs, (sig, doc_id)
        assert absorbed == want_absorbed, (sig, absorbed, want_absorbed)

    # Drained-source rerun: same checkpoint, no new files -> unchanged.
    idx2 = streams.run_incremental_corpus_dedup(spark, chunks, index_root, ckpt)
    got2 = {
        (r["mh0"], r["mh1"], r["mh2"], r["mh3"]): (r["doc_id"], r["n_dups_absorbed"])
        for r in idx2.collect()
    }
    assert got2 == got


def test_incremental_corpus_dedup_absorbs_after_restart(spark, tmp_path):
    """New document files arriving AFTER a restart must merge on top of
    the committed index: signatures already present absorb the late
    arrivals (n_dups_absorbed grows, keeper unchanged), unseen ones
    append — and the final index equals the one-shot ground truth.
    Splitting low/high doc_ids keeps first-arrival == global-min keeper
    so the incremental and batch keepers are comparable exactly."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import signature_frame
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") < 250)
    second = docs.where(F.col("doc_id") >= 250)
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    # One file per phase: maxFilesPerTrigger=1 makes every FILE a
    # micro-batch, and first-arrival keeper semantics only reduce to
    # global-min when the low-id docs all arrive in one batch.
    first.repartition(1).write.parquet(chunks)
    streams.run_incremental_corpus_dedup(spark, chunks, index_root, ckpt)

    # "Restart": a fresh invocation (new foreachBatch closure, no shared
    # in-process state) over newly-arrived files.
    second.repartition(1).write.mode("append").parquet(chunks)
    idx = streams.run_incremental_corpus_dedup(spark, chunks, index_root, ckpt)

    want = (
        signature_frame(docs)
        .groupBy("mh0", "mh1", "mh2", "mh3")
        .agg(
            F.min("doc_id").alias("doc_id"),
            (F.count(F.lit(1)) - 1).alias("n_dups_absorbed"),
        )
    )
    got = sorted(tuple(r) for r in idx.collect())
    exp = sorted(tuple(r) for r in want.collect())
    assert got == exp


def test_versioned_sink_rejects_fresh_checkpoint_over_retained_sink(
    spark, tmp_path
):
    """Pointing a FRESH checkpoint at a sink that retains a previous
    incarnation's snapshots must fail loudly: batch ids restart at 0,
    so merging would ignore the retained history and the final read
    would return the stale old max — both silently wrong."""
    import pytest
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    chunks = str(tmp_path / "chunks")
    docs.repartition(2).write.parquet(chunks)
    index_root = str(tmp_path / "index")
    streams.run_incremental_corpus_dedup(
        spark, chunks, index_root, str(tmp_path / "ckpt1")
    )
    # new data + a NEW checkpoint against the retained index
    docs.limit(50).write.mode("append").parquet(chunks)
    with pytest.raises(Exception, match="retained sink"):
        streams.run_incremental_corpus_dedup(
            spark, chunks, index_root, str(tmp_path / "ckpt2")
        )


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Restarting a foreachBatch sink from the SAME checkpoint must not
    reprocess already-committed batches: the offset log makes replay
    exactly-once per batch id. A second availableNow run over unchanged
    input appends nothing."""
    ev = streams.read_events_stream(spark, SF_SMOKE)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    streams.run_foreach_batch_parquet(
        streams.dedup_stream(ev), out, ckpt, output_mode="append"
    )
    n_first = spark.read.parquet(out).count()
    # Same checkpoint, same source: the restarted query finds every
    # offset already committed and writes zero new rows.
    ev2 = streams.read_events_stream(spark, SF_SMOKE)
    streams.run_foreach_batch_parquet(
        streams.dedup_stream(ev2), out, ckpt, output_mode="append"
    )
    n_second = spark.read.parquet(out).count()
    assert n_second == n_first, (n_first, n_second)


def test_incremental_corpus_dedup_index_growth_is_bounded_by_new_docs(
    spark, tmp_path
):
    """Footprint contract (the absorption tests cover correctness): the
    signature index's ROW COUNT must grow O(new distinct signatures)
    per batch — a duplicate-only batch adds ZERO rows (it only bumps
    absorbed counts), and a fresh batch adds at most one row per new
    doc. A growth bug (e.g. the merge appending instead of absorbing)
    would double the index on re-ingest and is invisible to the
    equality-with-batch tests when each doc is ingested once."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import signature_frame
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") < 200)
    fresh = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    first.repartition(1).write.parquet(chunks)
    idx1 = streams.run_incremental_corpus_dedup(spark, chunks, index_root, ckpt)
    n1, absorbed1 = idx1.agg(
        F.count(F.lit(1)), F.sum("n_dups_absorbed")
    ).first()

    # Batch 2: the SAME texts under new doc_ids — pure duplicates.
    n_dup_docs = 150
    dups = first.where(F.col("doc_id") < n_dup_docs).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    dups.repartition(1).write.mode("append").parquet(chunks)
    idx2 = streams.run_incremental_corpus_dedup(spark, chunks, index_root, ckpt)
    n2, absorbed2 = idx2.agg(
        F.count(F.lit(1)), F.sum("n_dups_absorbed")
    ).first()
    assert n2 == n1, "duplicate-only batch must add zero index rows"
    assert absorbed2 == absorbed1 + n_dup_docs

    # Batch 3: genuinely new documents — growth == their new distinct
    # signatures (and never more than the batch's doc count).
    fresh.repartition(1).write.mode("append").parquet(chunks)
    idx3 = streams.run_incremental_corpus_dedup(spark, chunks, index_root, ckpt)
    n3 = idx3.count()
    seen_sigs = idx2.select("mh0", "mh1", "mh2", "mh3")
    new_sigs = (
        signature_frame(fresh)
        .select("mh0", "mh1", "mh2", "mh3")
        .distinct()
        .join(seen_sigs, ["mh0", "mh1", "mh2", "mh3"], "left_anti")
        .count()
    )
    assert n3 == n2 + new_sigs
    assert n3 - n2 <= fresh.count()


def test_python_datasource_stream_matches_batch(spark, tmp_path):
    """readStream over the custom Python data source (Spark 4
    SimpleDataSourceStreamReader) must replay to exactly the batch
    reader's rows: offsets are deterministic row cursors, so
    stream == batch by construction — this pins the offset algebra
    (initialOffset/read/readBetweenOffsets) actually honors it."""
    from hadoop_cs4225_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    opts = {"rows": "350", "partitions": "4", "batch": "100"}
    stream = spark.readStream.format("synthetic_scores").options(**opts).load()
    assert stream.isStreaming
    # PythonMicroBatchStream does not support Trigger.AvailableNow
    # (Spark falls back to ONE batch) — drive with processAllAvailable,
    # which loops micro-batches until the offset stops advancing.
    q = (
        stream.writeStream.format("memory")
        .queryName("t_pyds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM t_pyds").collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.format("synthetic_scores")
        .options(**opts)
        .load()
        .collect()
    )
    assert got == want and len(got) == 350


def test_stateful_cusum_matches_batch_closed_form(spark, tmp_path):
    """applyInPandasWithState CUSUM after a full ordered replay equals
    the batch prefix-sum/running-min closed form's final-day value."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark import registry

    registry.load_all()
    # materialize the daily (event_type, day, cnt, k_scaled) frame
    ev = load_events(spark, SF_SMOKE)
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    k = daily.groupBy("event_type").agg(
        F.floor(F.sum("cnt") * 1000000.0 / F.count(F.lit(1)) + 0.5)
        .cast("long")
        .alias("k_scaled")
    )
    src = str(tmp_path / "daily")
    daily.join(k, "event_type").write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    streams.run_to_memory(
        streams.event_type_cusum_stateful(stream), "t_cusum", "update"
    )
    got = {
        r.event_type: r.s_scaled
        for r in spark.sql("SELECT * FROM t_cusum").collect()
    }
    batch = registry.QUERIES["events_daily_cusum"](spark, SF_SMOKE).toPandas()
    last = batch.sort_values("day").groupby("event_type").tail(1)
    want = {
        r["event_type"]: round(r["cusum_excess"] * 1_000_000)
        for _, r in last.iterrows()
    }
    assert got == want


def test_cusum_fold_is_chunk_composable():
    """Folding the day sequence in arbitrary chunk splits equals one
    fold — the property that makes per-micro-batch state application
    equal the batch closed form."""
    import itertools

    devs = [5, -3, -9, 4, 4, -1, 7, -20, 2, 2]
    whole = streams.cusum_fold(0, devs)
    for cut1, cut2 in itertools.combinations(range(len(devs) + 1), 2):
        s = streams.cusum_fold(0, devs[:cut1])
        s = streams.cusum_fold(s, devs[cut1:cut2])
        s = streams.cusum_fold(s, devs[cut2:])
        assert s == whole


def test_incremental_countsketch_matches_batch(spark, tmp_path):
    """Sketch linearity under the merge sink: 3 micro-batches of signed
    cell increments merged additively must equal the batch sketch built
    over the full event set in one pass — AND the per-user estimates
    read from the maintained cells must match the batch audit's
    construction (median-of-3 as sum - max - min)."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.functions.hashing import hash60_seeded
    from hadoop_cs4225_spark.operators.sketches import (
        _CSK_D,
        _CSK_SEED0,
        _CSK_W,
    )

    ev = load_events(spark, SF_SMOKE)
    chunks = str(tmp_path / "chunks")
    ev.repartition(3).write.parquet(chunks)
    got = streams.run_incremental_countsketch(
        spark, chunks, str(tmp_path / "csk"), str(tmp_path / "ckpt")
    )
    want = streams._countsketch_partial(ev)
    g = {(r["d"], r["bucket"]): r["cell"] for r in got.collect()}
    w = {(r["d"], r["bucket"]): r["cell"] for r in want.collect()}
    assert g == w
    assert len(g) <= _CSK_D * _CSK_W
    # point-estimate check for the heaviest user off the MAINTAINED
    # cells: median-of-3 signed reads brackets the exact count
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("xc"))
    top = exact.orderBy(F.desc("xc"), "user_id").limit(1).collect()[0]
    ests = []
    for d in range(1, _CSK_D + 1):
        h = (
            ev.sparkSession.range(1)
            .select(
                hash60_seeded(
                    F.lit(str(top["user_id"])), _CSK_SEED0 + d
                ).alias("h")
            )
            .collect()[0]["h"]
        )
        bucket, sign = h % _CSK_W, 1 - 2 * ((h >> 8) & 1)
        ests.append(sign * g.get((d, bucket), 0))
    med = sum(ests) - max(ests) - min(ests)
    # unbiased two-sided estimator: within the all-collisions bound
    assert abs(med - top["xc"]) <= sum(abs(e) for e in ests)


def test_incremental_countsketch_restart_and_rerun(spark, tmp_path):
    """Restart discipline for the sketch sink: a drained rerun returns
    the committed cells unchanged; post-restart arrivals merge ON TOP
    (addition over the sink-discovered previous version), landing on
    the full-data sketch."""
    from pyspark.sql import functions as F

    ev = load_events(spark, SF_SMOKE)
    first = ev.where(F.col("user_id") % 2 == 0)
    second = ev.where(F.col("user_id") % 2 == 1)
    chunks = str(tmp_path / "chunks")
    out_root = str(tmp_path / "csk")
    ckpt = str(tmp_path / "ckpt")
    first.repartition(2).write.parquet(chunks)
    streams.run_incremental_countsketch(spark, chunks, out_root, ckpt)

    def snap(df):
        return {(r["d"], r["bucket"]): r["cell"] for r in df.collect()}

    got1 = snap(
        streams.run_incremental_countsketch(spark, chunks, out_root, ckpt)
    )
    assert got1 == snap(streams._countsketch_partial(first))
    second.repartition(1).write.mode("append").parquet(chunks)
    got2 = snap(
        streams.run_incremental_countsketch(spark, chunks, out_root, ckpt)
    )
    assert got2 == snap(streams._countsketch_partial(ev))


def test_incremental_simhash_dedup_matches_batch(spark, tmp_path):
    """VERDICT r11 task 7: streaming SimHash fingerprint-index
    maintenance must converge to exactly the full-batch state — same
    fingerprint set, same absorbed totals, keeper inside each
    fingerprint's group — and a drained-source rerun must not change
    the index (batch-equivalence, the MinHash twin's pin)."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import simhash60_frame
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    idx = streams.run_incremental_simhash_dedup(spark, chunks, index_root, ckpt)

    want = (
        simhash60_frame(docs)
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).alias("n_arrivals"),
            F.collect_set("doc_id").alias("group_docs"),
        )
    )
    got = {r["f"]: (r["doc_id"], r["n_dups_absorbed"]) for r in idx.collect()}
    exp = {
        r["f"]: (set(r["group_docs"]), r["n_arrivals"] - 1)
        for r in want.collect()
    }
    assert set(got) == set(exp)
    for f, (doc_id, absorbed) in got.items():
        group_docs, want_absorbed = exp[f]
        assert doc_id in group_docs, (f, doc_id)
        assert absorbed == want_absorbed, (f, absorbed, want_absorbed)

    idx2 = streams.run_incremental_simhash_dedup(spark, chunks, index_root, ckpt)
    got2 = {r["f"]: (r["doc_id"], r["n_dups_absorbed"]) for r in idx2.collect()}
    assert got2 == got


def test_incremental_simhash_index_growth_is_bounded_by_new_docs(
    spark, tmp_path
):
    """Footprint contract for the SimHash index: per-batch row growth
    is O(new distinct fingerprints) — a duplicate-only batch adds ZERO
    rows (absorbed counts bump instead), a fresh batch adds at most one
    row per new doc (per-batch cost ∝ batch, VERDICT r11 task 7)."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import simhash60_frame
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") < 200)
    fresh = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    first.repartition(1).write.parquet(chunks)
    idx1 = streams.run_incremental_simhash_dedup(spark, chunks, index_root, ckpt)
    n1, absorbed1 = idx1.agg(
        F.count(F.lit(1)), F.sum("n_dups_absorbed")
    ).first()

    n_dup_docs = 150
    dups = first.where(F.col("doc_id") < n_dup_docs).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    dups.repartition(1).write.mode("append").parquet(chunks)
    idx2 = streams.run_incremental_simhash_dedup(spark, chunks, index_root, ckpt)
    n2, absorbed2 = idx2.agg(
        F.count(F.lit(1)), F.sum("n_dups_absorbed")
    ).first()
    assert n2 == n1, "duplicate-only batch must add zero index rows"
    assert absorbed2 == absorbed1 + n_dup_docs

    fresh.repartition(1).write.mode("append").parquet(chunks)
    idx3 = streams.run_incremental_simhash_dedup(spark, chunks, index_root, ckpt)
    n3 = idx3.count()
    seen = idx2.select("f")
    new_fps = (
        simhash60_frame(fresh)
        .select("f")
        .distinct()
        .join(seen, ["f"], "left_anti")
        .count()
    )
    assert n3 == n2 + new_fps
    assert n3 - n2 <= fresh.count()


def test_incremental_simhash_index_feeds_batch_band_join(spark, tmp_path):
    """The maintained (doc_id, f) index must be CONSUMABLE by the batch
    band join: banding the index's fingerprints yields the same
    candidate pairs as banding freshly-computed fingerprints — the
    'index IS the band join's input' claim, checked end to end."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import simhash60_frame
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    chunks = str(tmp_path / "chunks")
    docs.repartition(2).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    idx = streams.run_incremental_simhash_dedup(spark, chunks, index_root, ckpt)
    # unique-fingerprint docs: index rows with nothing absorbed carry
    # exactly the batch fingerprint of their keeper doc
    fresh = simhash60_frame(docs)
    joined = idx.join(fresh.withColumnRenamed("f", "f_batch"), "doc_id")
    assert joined.where(F.col("f") != F.col("f_batch")).count() == 0


def test_incremental_shingle_postings_matches_batch(spark, tmp_path):
    """VERDICT r12 task 5: streaming shingle-postings maintenance must
    converge to exactly the batch layout's state — same (doc_id, s,
    df, len) rows, and re-deriving the PPJoin rank with one partitioned
    window reproduces the written batch layout byte-for-byte; a
    drained-source rerun must not change the index."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import (
        ensure_shingle_postings,
        shingle_postings_stats_frame,
    )
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    got = streams.run_incremental_shingle_postings(
        spark, chunks, index_root, ckpt
    )
    ensure_shingle_postings(spark, SF_SMOKE)
    want = shingle_postings_stats_frame(spark, SF_SMOKE)
    assert _rows(got) == _rows(want.select("doc_id", "s", "df", "len"))
    # rn is DERIVED (row_number over (df, s) per doc): one window over
    # the maintained frame reproduces the batch layout exactly
    wr = Window.partitionBy("doc_id").orderBy("df", "s")
    ranked = got.select(
        "doc_id", "s", "df", "len", F.row_number().over(wr).alias("rn")
    )
    assert _rows(ranked) == _rows(want)
    got2 = streams.run_incremental_shingle_postings(
        spark, chunks, index_root, ckpt
    )
    assert _rows(got2) == _rows(got)


def test_incremental_shingle_postings_growth_is_o_batch(spark, tmp_path):
    """Footprint + touched-shingle contract: a new batch appends
    exactly its own (doc, shingle) rows to the postings (prior rows
    never rewritten in content), and the df recount touches ONLY the
    batch's shingles — df rows for untouched shingles pass through
    unchanged (per-batch cost ∝ batch, VERDICT r12 task 5)."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import _shingle_sets
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") < 200)
    second = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    first.repartition(1).write.parquet(chunks)
    idx1 = streams.run_incremental_shingle_postings(
        spark, chunks, index_root, ckpt
    )
    n1 = idx1.count()
    df1 = {r["s"]: r["df"] for r in idx1.select("s", "df").distinct().collect()}

    second.repartition(1).write.mode("append").parquet(chunks)
    idx2 = streams.run_incremental_shingle_postings(
        spark, chunks, index_root, ckpt
    )
    n2 = idx2.count()
    batch_rows = (
        _shingle_sets(second).select(F.explode("sh").alias("s")).count()
    )
    assert n2 == n1 + batch_rows, "postings must grow by the batch's rows"
    touched = {
        r["s"]
        for r in _shingle_sets(second)
        .select(F.explode("sh").alias("s"))
        .distinct()
        .collect()
    }
    df2 = {r["s"]: r["df"] for r in idx2.select("s", "df").distinct().collect()}
    for s, df in df1.items():
        if s not in touched:
            assert df2[s] == df, (s, df, df2[s])
        else:
            assert df2[s] > df, (s, df, df2[s])


def test_incremental_ivf_assign_matches_batch(spark, tmp_path):
    """r13: streaming IVF maintenance must converge to exactly the
    batch assignment — same (centroid_id, vec_id, label) postings,
    same per-centroid list sizes — and a drained-source rerun must not
    change the index (the twin family's batch-equivalence pin)."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.similarity import _ivf_assign_col
    from hadoop_cs4225_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    chunks = str(tmp_path / "chunks")
    emb.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    idx = streams.run_incremental_ivf_assign(spark, chunks, index_root, ckpt)

    want = emb.select(
        _ivf_assign_col("embedding").alias("centroid_id"),
        "vec_id",
        "label",
    )
    got_posts = {
        (r.centroid_id, r.vec_id, r.label) for r in idx.collect()
    }
    exp_posts = {
        (r.centroid_id, r.vec_id, r.label) for r in want.collect()
    }
    assert got_posts == exp_posts
    got_sizes = {
        r.centroid_id: r.n_list
        for r in idx.select("centroid_id", "n_list").distinct().collect()
    }
    exp_sizes = {
        r.centroid_id: r.n
        for r in want.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got_sizes == exp_sizes

    idx2 = streams.run_incremental_ivf_assign(spark, chunks, index_root, ckpt)
    assert {
        (r.centroid_id, r.vec_id, r.label, r.n_list) for r in idx2.collect()
    } == {(r.centroid_id, r.vec_id, r.label, r.n_list) for r in idx.collect()}


def test_incremental_ivf_assign_growth_is_o_batch(spark, tmp_path):
    """Footprint contract: postings grow by exactly the batch's rows
    (append algebra — vectors are immutable) and the second snapshot's
    size merge only bumps the touched centroids."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    first = emb.where(F.col("vec_id") < 200)
    second = emb.where(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 260)
    )
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("overwrite").parquet(chunks)
    idx1 = streams.run_incremental_ivf_assign(spark, chunks, index_root, ckpt)
    n1 = idx1.count()
    assert n1 == first.count()
    second.coalesce(1).write.mode("append").parquet(chunks)
    idx2 = streams.run_incremental_ivf_assign(spark, chunks, index_root, ckpt)
    n2 = idx2.count()
    assert n2 == n1 + second.count()
    total = sum(
        r.n_list
        for r in idx2.select("centroid_id", "n_list").distinct().collect()
    )
    assert total == n2


def test_incremental_token_counts_matches_batch(spark, tmp_path):
    """r13 follow-through: streaming token-index maintenance must
    converge to exactly the batch layouts' state — the tf projection
    equals ``token_counts_frame`` and the vocab projection equals
    ``token_df_frame``; a drained-source rerun must not change the
    index."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.text_analysis import (
        token_counts_frame,
        token_df_frame,
    )
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    got = streams.run_incremental_token_counts(
        spark, chunks, index_root, ckpt
    )
    want_tf = token_counts_frame(spark, SF_SMOKE)
    assert _rows(got.select("doc_id", "source", "word", "tf")) == _rows(
        want_tf
    )
    want_vocab = token_df_frame(spark, SF_SMOKE)
    assert _rows(got.select("word", "df", "cf").distinct()) == _rows(
        want_vocab
    )
    got2 = streams.run_incremental_token_counts(
        spark, chunks, index_root, ckpt
    )
    assert _rows(got2) == _rows(got)


def test_incremental_token_counts_growth_is_o_batch(spark, tmp_path):
    """Footprint + touched-word contract: a new batch appends exactly
    its own (doc, word) rows to the tf part (prior rows never rewritten
    in content), and the vocab recount touches ONLY the batch's words —
    df/cf for untouched words pass through unchanged (per-batch cost
    ∝ batch)."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.text_analysis import _toks
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    first = docs.where(F.col("doc_id") < 200)
    second = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    first.repartition(1).write.parquet(chunks)
    idx1 = streams.run_incremental_token_counts(
        spark, chunks, index_root, ckpt
    )
    n1 = idx1.count()
    vocab1 = {
        r["word"]: (r["df"], r["cf"])
        for r in idx1.select("word", "df", "cf").distinct().collect()
    }

    second.repartition(1).write.mode("append").parquet(chunks)
    idx2 = streams.run_incremental_token_counts(
        spark, chunks, index_root, ckpt
    )
    n2 = idx2.count()
    batch_rows = (
        second.select("doc_id", F.explode(_toks()).alias("word"))
        .select("doc_id", "word")
        .distinct()
        .count()
    )
    assert n2 == n1 + batch_rows, "tf part must grow by the batch's rows"
    touched = {
        r["word"]
        for r in second.select(F.explode(_toks()).alias("word"))
        .distinct()
        .collect()
    }
    vocab2 = {
        r["word"]: (r["df"], r["cf"])
        for r in idx2.select("word", "df", "cf").distinct().collect()
    }
    for w, (df, cf) in vocab1.items():
        if w not in touched:
            assert vocab2[w] == (df, cf), (w, vocab1[w], vocab2[w])
        else:
            assert vocab2[w][0] > df and vocab2[w][1] > cf, (w,)


def test_incremental_winnow_fps_matches_batch(spark, tmp_path):
    """The winnow twin must converge to exactly the batch index's rows
    (same (doc_id, n_sel, fp) set — document-local state, so chunking
    order cannot matter), and a drained-source rerun must not change
    the index."""
    from hadoop_cs4225_spark.operators.dedup import winnow_fp_frame
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    got = streams.run_incremental_winnow_fps(spark, chunks, index_root, ckpt)
    want = winnow_fp_frame(spark, SF_SMOKE)
    assert _rows(got) == _rows(want)
    got2 = streams.run_incremental_winnow_fps(spark, chunks, index_root, ckpt)
    assert _rows(got2) == _rows(got)


def test_incremental_winnow_fps_growth_is_o_batch(spark, tmp_path):
    """Append contract: a new batch adds exactly its own docs' rows
    (document-local algebra — prior docs' rows pass through
    unchanged)."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.operators.dedup import _winnow_fp_rows
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") < 200)
    second = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    first.repartition(1).write.parquet(chunks)
    idx1 = streams.run_incremental_winnow_fps(spark, chunks, index_root, ckpt)
    rows1 = _rows(idx1)

    second.repartition(1).write.mode("append").parquet(chunks)
    idx2 = streams.run_incremental_winnow_fps(spark, chunks, index_root, ckpt)
    rows2 = _rows(idx2)
    batch_rows = _rows(_winnow_fp_rows(second))
    assert len(rows2) == len(rows1) + len(batch_rows)
    assert sorted(rows2) == sorted(rows1 + batch_rows)


def test_incremental_pq_codes_matches_batch(spark, tmp_path):
    """The PQ-codes twin must converge to exactly the batch IVF-PQ
    layout's rows — same (vec_id, label, centroid_id, c0..cN, embedding)
    set — and a drained-source rerun must not change the index."""
    from hadoop_cs4225_spark.operators.pq import N_SUB, ensure_ivf_pq_index
    from hadoop_cs4225_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    chunks = str(tmp_path / "chunks")
    emb.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    got = streams.run_incremental_pq_codes(spark, chunks, index_root, ckpt)
    want = spark.read.parquet(ensure_ivf_pq_index(spark, SF_SMOKE))
    cols = ["vec_id", "label", "centroid_id"] + [
        f"c{m}" for m in range(N_SUB)
    ]

    def key_rows(df):
        return sorted(
            (tuple(r[c] for c in cols), tuple(r["embedding"]))
            for r in df.collect()
        )

    assert key_rows(got) == key_rows(want)
    got2 = streams.run_incremental_pq_codes(spark, chunks, index_root, ckpt)
    assert key_rows(got2) == key_rows(got)


def test_incremental_pq_codes_growth_and_partition_layout(spark, tmp_path):
    """Append contract + physical layout: a new batch adds exactly its
    own vectors' rows (vector-local algebra), and every snapshot is
    written partitionBy(centroid_id) — the probe-prunable directory
    layout of the batch index."""
    import os

    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    first = emb.where(F.col("vec_id") < 100)
    second = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    first.repartition(1).write.parquet(chunks)
    idx1 = streams.run_incremental_pq_codes(spark, chunks, index_root, ckpt)
    n1 = idx1.count()

    second.repartition(1).write.mode("append").parquet(chunks)
    idx2 = streams.run_incremental_pq_codes(spark, chunks, index_root, ckpt)
    assert idx2.count() == n1 + second.count()
    ids1 = {r.vec_id for r in idx1.select("vec_id").collect()}
    ids2 = {r.vec_id for r in idx2.select("vec_id").collect()}
    assert ids2 - ids1 == {r.vec_id for r in second.select("vec_id").collect()}
    latest = max(
        int(v[1:])
        for v in os.listdir(index_root)
        if v.startswith("v")
    )
    codes_dir = os.path.join(index_root, f"v{latest}", "codes")
    part_dirs = [
        d for d in os.listdir(codes_dir) if d.startswith("centroid_id=")
    ]
    assert part_dirs, "snapshot must be partitioned by centroid_id"


#: Each versioned-snapshot maintainer and the table its chunks come from.
_MAINTAINER_SOURCES = {
    "corpus_dedup": "documents",
    "simhash_dedup": "documents",
    "shingle_postings": "documents",
    "token_counts": "documents",
    "winnow_fps": "documents",
    "byte_shingles": "documents",
    "ngram5_postings": "documents",
    "ivf_assign": "embeddings",
    "pq_codes": "embeddings",
    "daily_rollup": "events",
    "countsketch": "events",
}


@pytest.mark.parametrize("name", list(_MAINTAINER_SOURCES))
def test_incremental_empty_result_has_snapshot_schema(spark, tmp_path, name):
    """With no committed snapshot (a drained source over an empty index
    root) a maintainer returns an empty frame with exactly the schema —
    names, types, order — it returns after committing a batch."""
    from hadoop_cs4225_spark.sources.tables import load_table

    table = _MAINTAINER_SOURCES[name]
    src = (
        load_events(spark, SF_SMOKE)
        if table == "events"
        else load_table(spark, SF_SMOKE, table)
    )
    chunks, ckpt = str(tmp_path / "chunks"), str(tmp_path / "ckpt")
    src.limit(100).coalesce(1).write.parquet(chunks)
    run = getattr(streams, f"run_incremental_{name}")
    after_batch = run(spark, chunks, str(tmp_path / "index"), ckpt)
    drained = run(spark, chunks, str(tmp_path / "empty_index"), ckpt)

    def shape(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]

    assert drained.count() == 0
    assert shape(drained) == shape(after_batch)
