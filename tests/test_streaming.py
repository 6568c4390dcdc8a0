"""Streaming shapes driven end-to-end with the file source + memory sink;
the tumbling aggregate must agree with its oracle-checked batch twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mysql2psql_spark.queries import QUERIES
from mysql2psql_spark.sources import load_table
from mysql2psql_spark.streaming.events import (
    EVENTS_SCHEMA,
    read_event_stream,
    sessionized_stream,
    tumbling_counts_stream,
    windowed_dedup_stream,
)
from tests.conftest import SF_DIR


@pytest.fixture()
def events_parquet(spark, tmp_path):
    # re-write events with micros timestamps (streaming file source can't
    # read the nanos parquet directly, same as the batch path)
    out = str(tmp_path / "events")
    load_table(spark, SF_DIR, "events").write.parquet(out)
    return out


def _run_stream(spark, df, name):
    q = df.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _run_stream_append(spark, df, name):
    q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_matches_batch(spark, events_parquet):
    stream = tumbling_counts_stream(read_event_stream(spark, events_parquet))
    got = {
        (r.bucket_start, r.event_type): r.n_events
        for r in _run_stream(spark, stream, "tumbling_out").collect()
    }
    want = {
        (r.bucket_start, r.event_type): r.n_events
        for r in QUERIES["stream_tumbling_window"](spark, SF_DIR).collect()
    }
    assert got == want


def test_sessionize_stream_runs(spark, events_parquet):
    stream = sessionized_stream(read_event_stream(spark, events_parquet))
    out = _run_stream(spark, stream, "session_out")
    assert out.count() > 0
    # session count per user can't exceed event count
    ev = load_table(spark, SF_DIR, "events")
    per_user = dict(ev.groupBy("user_id").count().collect())
    for r in out.groupBy("user_id").count().collect():
        assert r["count"] <= per_user[r.user_id]


def test_windowed_dedup_stream(spark, events_parquet):
    stream = windowed_dedup_stream(read_event_stream(spark, events_parquet))
    out = _run_stream_append(spark, stream, "dedup_out")
    n_keys = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # dedup within watermark keeps at least one row per key, and no more
    # rows than the input
    assert n_keys <= out.count() <= load_table(spark, SF_DIR, "events").count()
    assert out.select("user_id", "event_type").distinct().count() == n_keys


def test_stateful_running_totals(spark, events_parquet):
    from mysql2psql_spark.streaming.events import user_running_totals_stream

    stream = user_running_totals_stream(read_event_stream(spark, events_parquet))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("totals_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM totals_out")
    # last emitted row per user (single micro-batch replay -> exactly one)
    got = {
        r.user_id: (r.n_events, r.total_value) for r in out.collect()
    }
    want = {
        r.user_id: (r.n, round(r.total, 6))
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


def test_sliding_stream_matches_batch(spark, events_parquet):
    from mysql2psql_spark.streaming.events import sliding_counts_stream

    stream = sliding_counts_stream(read_event_stream(spark, events_parquet))
    got = {
        r.win_start: r.n_events
        for r in _run_stream(spark, stream, "sliding_out").collect()
    }
    want = {
        r.win_start: r.n_events
        for r in QUERIES["stream_sliding_window"](spark, SF_DIR).collect()
    }
    assert got == want


def test_watermark_drops_late_rows_across_batches(spark, tmp_path):
    """Two real micro-batches: batch 1 advances the watermark far ahead;
    batch 2 delivers an event older than watermark - delay, which the
    windowed aggregate must drop (this is the state-bound guarantee that
    lets the operator run forever)."""
    from pyspark.sql import Row

    src = str(tmp_path / "late_src")
    out_dir = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")

    def write_batch(rows, part):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    from datetime import datetime

    on_time = [
        Row(event_id=1, ts=datetime(2024, 1, 1, 12, 0), user_id=1, event_type="a", value=1.0, props="{}"),
        Row(event_id=2, ts=datetime(2024, 1, 1, 13, 0), user_id=1, event_type="a", value=1.0, props="{}"),
    ]
    write_batch(on_time, 0)

    stream = tumbling_counts_stream(read_event_stream(spark, src), watermark="10 minutes")
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # late event: 12:02 is ~58 min older than the 13:00 max ts seen,
        # far beyond the 10-minute watermark -> must be dropped
        late = [
            Row(event_id=3, ts=datetime(2024, 1, 1, 12, 2), user_id=1, event_type="a", value=9.0, props="{}"),
            Row(event_id=4, ts=datetime(2024, 1, 1, 13, 30), user_id=1, event_type="a", value=1.0, props="{}"),
        ]
        write_batch(late, 1)
        q.processAllAvailable()
        # one more batch advances the watermark so closed windows emit
        write_batch(
            [Row(event_id=5, ts=datetime(2024, 1, 1, 15, 0), user_id=1, event_type="a", value=1.0, props="{}")],
            2,
        )
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.bucket_start: (r.n_events, r.sum_value)
        for r in spark.read.parquet(out_dir).collect()
    }
    noon = int(datetime(2024, 1, 1, 12, 0).timestamp())
    # the 12:00 window closed in batch 1; the late 12:02 event (value 9.0)
    # must NOT be counted in it
    assert got[noon] == (1, 1.0), got


def test_attribution_join_stream_matches_batch(spark, events_parquet):
    from mysql2psql_spark.streaming.events import attribution_join_stream

    ev = read_event_stream(spark, events_parquet)
    stream = attribution_join_stream(
        ev.filter(F.col("event_type") == "purchase"),
        read_event_stream(spark, events_parquet).filter(F.col("event_type") == "click"),
    )
    got = {
        (r.purchase_id, r.click_id, r.lag_seconds)
        for r in _run_stream_append(spark, stream, "attr_join").collect()
    }
    want = {
        (r.purchase_id, r.click_id, r.lag_seconds)
        for r in QUERIES["stream_attribution_join"](spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0


@pytest.fixture()
def documents_two_batches(spark, tmp_path):
    """Two parquet files in one stream dir: file 0 = corpus docs (doc_id
    % 10 < 8), file 1 = the new batch, which contains exact-dup content.
    maxFilesPerTrigger=1 makes each file its own micro-batch."""
    out = str(tmp_path / "docs")
    d = load_table(spark, SF_DIR, "documents")
    d.filter(F.col("doc_id") % 10 < 8).coalesce(1).write.parquet(out)
    d.filter(F.col("doc_id") % 10 >= 8).coalesce(1).write.mode("append").parquet(out)
    return out


def test_content_dedup_stream_drops_cross_batch_dups(spark, documents_two_batches):
    from mysql2psql_spark.streaming.docs import DOCUMENTS_SCHEMA, content_dedup_stream

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(documents_two_batches)
    )
    out = _run_stream_append(spark, content_dedup_stream(stream), "content_dedup_out")
    got_fps = [r.fp for r in out.collect()]
    want_distinct = (
        load_table(spark, SF_DIR, "documents")
        .select(F.md5("text").alias("fp"))
        .distinct()
        .count()
    )
    # exactly one survivor per distinct content, across micro-batches
    assert len(got_fps) == len(set(got_fps)) == want_distinct


def test_incremental_dedup_stream_matches_batch_gate(spark, documents_two_batches):
    from mysql2psql_spark.streaming.docs import (
        DOCUMENTS_SCHEMA,
        incremental_dedup_stream,
    )

    corpus_fps = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(documents_two_batches)
    )
    out = _run_stream_append(
        spark, incremental_dedup_stream(stream, corpus_fps), "inc_dedup_out"
    )
    # restrict to the new-batch rows: the stream dir also replays the
    # corpus file, whose rows all flag as corpus members by construction
    got = {r.doc_id: r.dup_of_corpus for r in out.collect() if r.doc_id % 10 >= 8}
    want = {
        r.doc_id: r.dup_of_corpus
        for r in QUERIES["dedup_incremental"](spark, SF_DIR).collect()
    }
    assert got == want
    assert len(got) > 0
    # at sf0.001 the exact-dup pairs happen to fall entirely inside the
    # corpus split, so the flag distribution is all-False here; the
    # cross-corpus hit path itself is pinned by the batch twin's oracle
    # (dedup_incremental) that `want` comes from


def test_foreach_batch_cdc_sink_exactly_once(spark, tmp_path):
    """The foreachBatch CDC sink must (1) produce the SAME current state
    as the oracled batch twin m4_cdc_apply after streaming the events in
    micro-batches, and (2) be idempotent under batch RETRY — re-running a
    batch with its original batch_id must not change the compacted
    state. That pair of properties is the exactly-once contract. The
    sink carries the shared lineage guard (r16, ADVICE), so the retry
    presents the SAME lineage token (the marker protocol keeps
    same-lineage replays legal) and a foreign lineage is refused."""
    import pytest

    from mysql2psql_spark.streaming.events import (
        cdc_foreach_batch_sink,
        compact_cdc_log,
    )

    # split events into two files so the file source makes >= 2 batches
    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(f"{src}/p0")
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(f"{src}/p1")

    out = str(tmp_path / "cdc_log")
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{src}/p0").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    q = stream.writeStream.foreachBatch(
        cdc_foreach_batch_sink(out, lineage="ckpt-cdc")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def state():
        rows = compact_cdc_log(spark, out).collect()
        return {r["user_id"]: (r["last_event_type"], r["cur_value"], r["last_ts"]) for r in rows}

    got = state()
    want = {
        r["user_id"]: (r["last_event_type"], r["cur_value"], r["last_ts"])
        for r in QUERIES["m4_cdc_apply"](spark, SF_DIR).collect()
    }
    assert got == want

    # simulate an at-least-once RETRY of batch 0: re-deliver exactly what
    # the stream wrote as batch 0 (collect first — we overwrite the path
    # we'd otherwise be lazily reading from)
    b0 = spark.read.parquet(f"{out}/batch=0")
    retry_df = spark.createDataFrame(b0.collect(), b0.schema)
    cdc_foreach_batch_sink(out, lineage="ckpt-cdc")(retry_df, 0)
    assert state() == want

    # the shared guard: a FOREIGN lineage over the marked changelog is
    # refused instead of silently shadowing batch=0
    with pytest.raises(RuntimeError, match="belongs to lineage 'ckpt-cdc'"):
        cdc_foreach_batch_sink(out, lineage="ckpt-other")(retry_df, 0)


def test_jsonl_landing_zone_stream_matches_parquet_path(spark, tmp_path):
    """JSONL shards arriving in a landing dir must drive the same
    content-dedup gate as the parquet stream: write the documents table
    as two JSONL shards (micro-batch each), stream them through
    content_dedup_stream, and require one survivor per distinct content
    — identical to the batch distinct."""
    from mysql2psql_spark.sources.jsonl import write_jsonl
    from mysql2psql_spark.streaming.docs import (
        content_dedup_stream,
        read_document_stream_jsonl,
    )

    land = str(tmp_path / "landing")
    d = load_table(spark, SF_DIR, "documents")
    write_jsonl(d.filter(F.col("doc_id") % 10 < 8), land, num_files=1)
    # append the second shard without clobbering the first
    d.filter(F.col("doc_id") % 10 >= 8).coalesce(1).write.mode("append").json(land)

    stream = read_document_stream_jsonl(spark, land)
    out = _run_stream_append(spark, content_dedup_stream(stream), "jsonl_land_out")
    got_fps = [r.fp for r in out.collect()]
    want_distinct = d.select(F.md5("text").alias("fp")).distinct().count()
    assert len(got_fps) == len(set(got_fps)) == want_distinct


def test_continuous_agg_sink_matches_batch_and_is_idempotent(spark, tmp_path):
    """The continuous-aggregate sink must (1) converge to the SAME
    per-user aggregate as one batch pass over all events after streaming
    them in micro-batches, and (2) be idempotent under batch RETRY —
    re-applying a batch with its original batch_id must leave the
    current version's state unchanged (it only rewrites that version
    from the same previous version)."""
    from mysql2psql_spark.streaming.events import (
        continuous_agg_sink,
        read_continuous_agg,
    )

    src = str(tmp_path / "src")
    ev = load_table(spark, SF_DIR, "events")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(f"{src}/p0")
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(f"{src}/p1")

    out = str(tmp_path / "cagg")
    stream = (
        spark.readStream.schema(spark.read.parquet(f"{src}/p0").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/p*")
    )
    sink = continuous_agg_sink(out)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def state():
        return {
            r.user_id: (r.n_events, r.total_value)
            for r in read_continuous_agg(spark, out).collect()
        }

    got = state()
    want = {
        r.user_id: (r.n_events, r.total_value)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert got == want

    # at-least-once RETRY of the FINAL batch, re-delivering the rows it
    # ACTUALLY saw: file->batch order is not guaranteed, so identify
    # batch 0's input by comparing version=0 against each file's partial
    import os

    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(out) if d.startswith("version=")
    )
    last = versions[-1]
    v0 = {
        r.user_id: r.n_events
        for r in spark.read.parquet(f"{out}/version={versions[0]}").collect()
    }
    halves = [ev.filter(F.col("event_id") % 2 == i) for i in (0, 1)]
    p0_agg = {
        r.user_id: r.n
        for r in halves[0].groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    last_input = halves[1] if v0 == p0_agg else halves[0]
    sink(last_input, last)
    assert state() == want


def test_read_continuous_agg_empty_and_torn_versions(spark, tmp_path):
    """Before any commit: an empty frame with the view schema. A torn
    version directory (no _SUCCESS) must be invisible to readers."""
    import os

    from mysql2psql_spark.streaming.docs import DOCUMENTS_SCHEMA  # noqa: F401
    from mysql2psql_spark.streaming.events import (
        continuous_agg_sink,
        read_continuous_agg,
    )

    out = str(tmp_path / "cagg2")
    empty = read_continuous_agg(spark, out)
    assert empty.count() == 0
    assert set(empty.columns) == {"user_id", "n_events", "total_value"}

    sink = continuous_agg_sink(out)
    batch = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], "user_id BIGINT, value DOUBLE"
    )
    sink(batch, 0)
    good = {
        r.user_id: (r.n_events, r.total_value)
        for r in read_continuous_agg(spark, out).collect()
    }
    assert good == {1: (2, 15.0), 2: (1, 7.0)}

    # torn write: version dir exists but has no _SUCCESS — reader skips it
    torn = os.path.join(out, "version=5")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "w") as f:
        f.write("not parquet")
    still = {
        r.user_id: (r.n_events, r.total_value)
        for r in read_continuous_agg(spark, out).collect()
    }
    assert still == good


def test_near_dup_gate_stream_matches_batch_twin(spark, tmp_path):
    """The foreachBatch NEAR-dup gate (streaming/docs.py::
    near_dup_gate_foreach_batch) must produce, across micro-batches,
    exactly the oracle-checked batch twin's answer
    (dedup_minhash_incremental): the gate is stateless per trigger
    (corpus-vs-batch only), so the union over any batch partitioning of
    the new docs equals the one-shot batch gate."""
    from mysql2psql_spark.queries.dedup_q import dedup_minhash_incremental
    from mysql2psql_spark.streaming.docs import (
        DOCUMENTS_SCHEMA,
        near_dup_gate_foreach_batch,
    )
    from mysql2psql_spark.operators.text import shingle_hash_table

    d = load_table(spark, SF_DIR, "documents")
    new = d.filter(F.col("doc_id") % 10 >= 8)
    # two micro-batches: split the new docs by parity into two files
    stream_dir = str(tmp_path / "arrivals")
    new.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(stream_dir)
    new.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        stream_dir
    )
    corpus_sh = shingle_hash_table(d.filter(F.col("doc_id") % 10 < 8))
    out_dir = str(tmp_path / "gate_out")
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    from mysql2psql_spark.operators.materialize import CacheHandle

    # Per-trigger cache-release pin (ADVICE r12): the gate must not
    # accumulate one persisted batch-side frame per trigger for the
    # stream's lifetime. Count persisted RDDs before/after: the only
    # growth allowed is the ONE shared corpus-side frame the gate
    # registers on the caller's handle.
    sc = spark.sparkContext
    cached_before = len(sc._jsc.getPersistentRDDs())
    with CacheHandle() as gate_caches:
        q = stream.writeStream.foreachBatch(
            near_dup_gate_foreach_batch(corpus_sh, out_dir, caches=gate_caches)
        ).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(sc._jsc.getPersistentRDDs()) <= cached_before + 1
    got = {
        (r.doc_new, r.doc_corpus): r.jaccard
        for r in spark.read.parquet(f"{out_dir}/batch=*").collect()
    }
    want = {
        (r.doc_new, r.doc_corpus): r.jaccard
        for r in dedup_minhash_incremental(spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0


def test_drift_gate_stream_matches_batch_query(spark, tmp_path):
    """The foreachBatch PSI drift gate (streaming/events.py::
    drift_counts_foreach_batch) must produce, compacted across a real
    two-trigger readStream, EXACTLY profile_drift_psi's frame over the
    same rows: counts are associative given the frozen bounds, so any
    micro-batch partitioning sums to the one-shot batch counts."""
    import pandas as pd

    from mysql2psql_spark.operators.drift import drift_bounds
    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.queries.events_q import profile_drift_psi
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.events import (
        drift_counts_foreach_batch,
        read_drift_summary,
    )

    e = load_table(spark, SF_DIR, "events")
    # two micro-batches by event_id parity — together they are the table
    stream_dir = str(tmp_path / "arrivals")
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(stream_dir)
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        stream_dir
    )
    ep = epoch_of(e)
    bounds = drift_bounds(e.select(ep("ts").alias("et"), "event_type", "value"))
    out_dir = str(tmp_path / "drift_out")
    arrival_schema = spark.read.parquet(stream_dir).schema
    stream = (
        spark.readStream.schema(arrival_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = stream.writeStream.foreachBatch(
        drift_counts_foreach_batch(bounds, out_dir)
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # two versioned partials landed (one per trigger)
    import glob

    assert len(glob.glob(f"{out_dir}/batch=*")) == 2
    got = read_drift_summary(spark, out_dir).toPandas()
    want = profile_drift_psi(spark, SF_DIR).toPandas()
    key = ["dim", "bucket"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert len(g) > 0


def test_drift_gate_replayed_batch_is_idempotent(spark, tmp_path):
    """Structured Streaming guarantees at-least-once foreachBatch
    invocation: re-invoking the drift gate with the SAME (batch, id)
    must overwrite its own versioned partial, leaving the compacted
    summary unchanged (the cdc_foreach_batch_sink replay discipline)."""
    import pandas as pd

    from mysql2psql_spark.operators.drift import drift_bounds
    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.events import (
        drift_counts_foreach_batch,
        read_drift_summary,
    )

    e = load_table(spark, SF_DIR, "events")
    ep = epoch_of(e)
    bounds = drift_bounds(e.select(ep("ts").alias("et"), "event_type", "value"))
    out_dir = str(tmp_path / "drift_replay")
    gate = drift_counts_foreach_batch(bounds, out_dir)
    b0 = e.filter(F.col("event_id") % 2 == 0)
    b1 = e.filter(F.col("event_id") % 2 == 1)
    gate(b0, 0)
    gate(b1, 1)
    first = read_drift_summary(spark, out_dir).toPandas()
    gate(b1, 1)  # the replayed trigger
    second = read_drift_summary(spark, out_dir).toPandas()
    key = ["dim", "bucket"]
    f = first.sort_values(key).reset_index(drop=True)
    s = second.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(f, s, check_exact=True)


def test_drift_gate_refuses_fresh_lineage_over_stale_out_dir(spark, tmp_path):
    """The batch_id-versioned overwrite is idempotent only within ONE
    checkpoint lineage. A query restarted with a new/cleared checkpoint
    restarts ids at 0; writing that batch 0 over an out_dir still
    holding later partials would silently shadow them and corrupt every
    future summary — the gate must refuse it loudly. A batch-0 replay
    over an out_dir holding ONLY batch=0 stays legal (same-lineage
    retry of the first trigger)."""
    import pytest

    from mysql2psql_spark.operators.drift import drift_bounds
    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.events import drift_counts_foreach_batch

    e = load_table(spark, SF_DIR, "events")
    ep = epoch_of(e)
    bounds = drift_bounds(e.select(ep("ts").alias("et"), "event_type", "value"))
    out_dir = str(tmp_path / "drift_stale")
    gate = drift_counts_foreach_batch(bounds, out_dir)
    b0 = e.filter(F.col("event_id") % 2 == 0)
    b1 = e.filter(F.col("event_id") % 2 == 1)
    gate(b0, 0)
    gate(b0, 0)  # batch-0 retry within the lineage: legal
    gate(b1, 1)
    fresh_gate = drift_counts_foreach_batch(bounds, out_dir)
    with pytest.raises(RuntimeError, match="checkpoint was cleared"):
        fresh_gate(b0, 0)  # new lineage over stale partials: refused


def test_drift_gate_lineage_marker_refuses_foreign_batch0(spark, tmp_path):
    """The lineage-marker protocol (r15, ADVICE): the batch>0 heuristic
    cannot see a foreign out_dir that holds ONLY batch=0 — a fresh
    lineage would silently overwrite another lineage's first partial
    with data from a potentially different source/bounds. With an
    explicit lineage token the gate records {out_dir}/_LINEAGE on first
    write and refuses ANY batch whose token mismatches, while a
    same-lineage batch-0 replay stays legal. Unmarked pre-existing
    partials are refused at batch 0 as unknown provenance."""
    import pytest

    from mysql2psql_spark.operators.drift import drift_bounds
    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.events import drift_counts_foreach_batch

    e = load_table(spark, SF_DIR, "events")
    ep = epoch_of(e)
    bounds = drift_bounds(e.select(ep("ts").alias("et"), "event_type", "value"))
    b0 = e.filter(F.col("event_id") % 2 == 0)
    b1 = e.filter(F.col("event_id") % 2 == 1)

    out_dir = str(tmp_path / "drift_marked")
    gate_a = drift_counts_foreach_batch(bounds, out_dir, lineage="ckpt-A")
    gate_a(b0, 0)
    gate_a(b0, 0)  # same-lineage batch-0 replay: legal
    # out_dir holds ONLY batch=0 — the exact case the heuristic misses
    gate_b = drift_counts_foreach_batch(bounds, out_dir, lineage="ckpt-B")
    with pytest.raises(RuntimeError, match="belongs to lineage 'ckpt-A'"):
        gate_b(b0, 0)
    # a mismatched lineage resuming at batch>0 is refused too
    with pytest.raises(RuntimeError, match="belongs to lineage 'ckpt-A'"):
        gate_b(b1, 1)
    # the marked dir keeps serving its own lineage
    gate_a(b1, 1)

    # unmarked partials (legacy gate) + a lineage-aware gate at batch 0:
    # refused as unknown provenance rather than silently adopted
    legacy_dir = str(tmp_path / "drift_legacy")
    drift_counts_foreach_batch(bounds, legacy_dir)(b0, 0)
    gate_c = drift_counts_foreach_batch(bounds, legacy_dir, lineage="ckpt-C")
    with pytest.raises(RuntimeError, match="unknown provenance"):
        gate_c(b0, 0)


def test_drift_summary_readable_mid_stream_one_period(spark, tmp_path):
    """A stream arriving in time order produces only period-0 counts
    until it crosses the frozen midpoint; a summary read at that point
    must return a partial profile (NULL share_b / psi_term, share_a
    populated) rather than an ANSI division-by-zero error (ADVICE r13)."""
    from mysql2psql_spark.operators.drift import drift_bounds
    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.events import (
        drift_counts_foreach_batch,
        read_drift_summary,
    )

    e = load_table(spark, SF_DIR, "events")
    ep = epoch_of(e)
    ev = e.select(ep("ts").alias("et"), "event_type", "value")
    bounds = drift_bounds(ev)  # frozen over the FULL window
    b = bounds.first()
    mid = (b["mn"] + b["mx"]) / 2
    out_dir = str(tmp_path / "drift_mid")
    gate = drift_counts_foreach_batch(bounds, out_dir)
    # the first trigger: only rows from before the midpoint (time order)
    gate(e.filter(ep("ts") <= F.lit(mid)), 0)
    rows = read_drift_summary(spark, out_dir).collect()
    assert rows, "mid-stream summary must be readable"
    assert all(r["share_a"] is not None for r in rows)
    assert all(r["share_b"] is None for r in rows)
    assert all(r["psi_term"] is None for r in rows)
    assert all(r["n_b"] == 0 for r in rows)


def test_ks_gate_stream_matches_batch_query(spark, tmp_path):
    """The KS gate (streaming/events.py::ks_counts_foreach_batch) must
    produce, compacted across a real two-trigger readStream, EXACTLY
    events_ks_drift's frame over the same rows: (key, value, period)
    counts are associative given frozen bounds, so any micro-batch
    partitioning sums to the one-shot counts and the shared ks_tail is
    deterministic in the summed counts."""
    import pandas as pd

    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.queries.events_q import events_ks_drift
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.events import (
        ks_counts_foreach_batch,
        read_ks_summary,
    )

    e = load_table(spark, SF_DIR, "events")
    stream_dir = str(tmp_path / "ks_arrivals")
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(stream_dir)
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        stream_dir
    )
    ep = epoch_of(e)
    bounds = e.select(ep("ts").alias("et")).agg(
        F.min("et").alias("mn"), F.max("et").alias("mx")
    )
    out_dir = str(tmp_path / "ks_out")
    arrival_schema = spark.read.parquet(stream_dir).schema
    stream = (
        spark.readStream.schema(arrival_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = stream.writeStream.foreachBatch(
        ks_counts_foreach_batch(bounds, out_dir, lineage="ckpt-stream-ks")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import glob

    assert len(glob.glob(f"{out_dir}/batch=*")) == 2
    got = read_ks_summary(spark, out_dir).toPandas()
    want = events_ks_drift(spark, SF_DIR).toPandas()
    key = ["event_type"]
    g = got.sort_values(key).reset_index(drop=True)[sorted(got.columns)]
    w = want.sort_values(key).reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=True)
    assert len(g) > 0


def test_ks_gate_replay_idempotent_and_lineage_guarded(spark, tmp_path):
    """The KS gate inherits the versioned-partial discipline through the
    SHARED guard: a replayed (batch, id) overwrites its own partial
    (summary unchanged), a foreign lineage is refused on the marker even
    over an out_dir holding only batch=0, and a one-period mid-stream
    read yields the defined ks_num = 0 partial."""
    import pandas as pd
    import pytest

    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.events import (
        ks_counts_foreach_batch,
        read_ks_summary,
    )

    e = load_table(spark, SF_DIR, "events")
    ep = epoch_of(e)
    bounds = e.select(ep("ts").alias("et")).agg(
        F.min("et").alias("mn"), F.max("et").alias("mx")
    )
    out_dir = str(tmp_path / "ks_replay")
    gate = ks_counts_foreach_batch(bounds, out_dir, lineage="ckpt-K")
    b = bounds.first()
    mid_cut = (b["mn"] + b["mx"]) / 2
    # a TIME-ordered stream: the first trigger holds only period-a rows,
    # so the mid-stream read sees an empty b-side -> ks_num = 0 per key
    # (the defined partial), never a division error
    b0 = e.filter(ep("ts") <= F.lit(mid_cut))
    b1 = e.filter(ep("ts") > F.lit(mid_cut))
    gate(b0, 0)
    mid = read_ks_summary(spark, out_dir).toPandas()
    assert (mid.ks_num == 0).all() and (mid.n_b == 0).all() and (mid.n_a > 0).all()
    gate(b1, 1)
    first = read_ks_summary(spark, out_dir).toPandas()
    gate(b1, 1)  # the replayed trigger
    second = read_ks_summary(spark, out_dir).toPandas()
    key = ["event_type"]
    pd.testing.assert_frame_equal(
        first.sort_values(key).reset_index(drop=True),
        second.sort_values(key).reset_index(drop=True),
        check_exact=True,
    )
    foreign = ks_counts_foreach_batch(bounds, out_dir, lineage="ckpt-L")
    with pytest.raises(RuntimeError, match="belongs to lineage 'ckpt-K'"):
        foreign(b0, 0)


def test_guard_marker_written_before_partial_allows_crash_replay(spark, tmp_path):
    """Marker-BEFORE-partial ordering (r16, ADVICE): a crash between the
    marker write and the partial write leaves {out_dir}/_LINEAGE naming
    the lineage with zero partials. The legitimate same-lineage batch-0
    replay must then be ALLOWED (the old marker-after-partial order left
    batch 0 unmarked and refused the replay as 'unknown provenance'),
    while a foreign lineage is still refused on the marker; a
    marker-only dir fails LOUDLY at summary-read time, never silently."""
    import pytest

    from mysql2psql_spark.operators.drift import drift_bounds
    from mysql2psql_spark.operators.timeutil import epoch_of
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.events import (
        drift_counts_foreach_batch,
        read_drift_summary,
    )

    e = load_table(spark, SF_DIR, "events")
    ep = epoch_of(e)
    bounds = drift_bounds(e.select(ep("ts").alias("et"), "event_type", "value"))
    b0 = e.filter(F.col("event_id") % 2 == 0)

    # simulate the crashed first trigger: marker present, zero partials
    out_dir = tmp_path / "drift_crashed"
    out_dir.mkdir()
    (out_dir / "_LINEAGE").write_text("ckpt-R")

    # a marker with no partials fails loudly at read time
    with pytest.raises(Exception):
        read_drift_summary(spark, str(out_dir)).collect()

    # foreign lineage: refused on the marker even with zero partials
    with pytest.raises(RuntimeError, match="belongs to lineage 'ckpt-R'"):
        drift_counts_foreach_batch(bounds, str(out_dir), lineage="ckpt-S")(b0, 0)

    # same-lineage batch-0 replay: allowed, and the summary then reads
    drift_counts_foreach_batch(bounds, str(out_dir), lineage="ckpt-R")(b0, 0)
    assert read_drift_summary(spark, str(out_dir)).count() > 0


def test_langid_gate_stream_matches_batch_and_guarded(spark, tmp_path):
    """The streaming language-ID gate (streaming/docs.py::
    langid_counts_foreach_batch) must produce, compacted across a real
    two-trigger readStream, EXACTLY the one-shot batch classification
    aggregated by lang_pred: classification is per-document pure given
    the FROZEN broadcast profile table, so per-batch counts are
    associative over any micro-batch partitioning. Also pins replayed-
    trigger idempotence and foreign-lineage refusal via the shared
    versioned-partial guard."""
    import pandas as pd

    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.operators.text import (
        char_ngram_table,
        langid_classify,
        langid_profiles,
    )
    from mysql2psql_spark.sources import load_table
    from mysql2psql_spark.streaming.docs import (
        langid_counts_foreach_batch,
        read_langid_summary,
    )

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "lang", "text")
    grams_full = char_ngram_table(d, extra_cols=("lang",))
    profiles = langid_profiles(grams_full, k=10)
    langs = d.select("lang").distinct()

    # two parquet files -> two triggers
    src = str(tmp_path / "docs_src")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    out_dir = str(tmp_path / "langid_out")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with CacheHandle() as caches:
        gate = langid_counts_foreach_batch(
            profiles, langs, out_dir, lineage="ckpt-langid", k=10, caches=caches
        )
        q = stream.writeStream.foreachBatch(gate).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        import glob

        assert len(glob.glob(f"{out_dir}/batch=*")) == 2
        got = read_langid_summary(spark, out_dir).toPandas()
        want = (
            langid_classify(
                grams_full.select("doc_id", "gram"), profiles, k=10, langs=langs
            )
            .groupBy("lang_pred")
            .agg(F.count("*").cast("bigint").alias("n_docs"))
            .toPandas()
        )
        key = ["lang_pred"]
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
            check_dtype=False,
            check_exact=True,
        )
        assert got.n_docs.sum() == d.count()

        # replayed trigger: same-lineage batch-0 re-delivery keeps the
        # summary unchanged (idempotent overwrite under the marker)
        b0 = d.filter(F.col("doc_id") % 2 == 0)
        gate(b0, 0)
        again = read_langid_summary(spark, out_dir).toPandas()
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            again.sort_values(key).reset_index(drop=True),
            check_exact=True,
        )

        # foreign lineage: refused on the marker (its persisted profile
        # frames are registered on the same handle — a handle-less gate
        # is itself refused, pinned below)
        foreign = langid_counts_foreach_batch(
            profiles, langs, out_dir, lineage="ckpt-other", k=10, caches=caches
        )
        with pytest.raises(RuntimeError, match="belongs to lineage 'ckpt-langid'"):
            foreign(b0, 0)

    # r17 ADVICE: constructing the gate without a CacheHandle would leak
    # session-lifetime executor cache — refused loudly at construction.
    with pytest.raises(ValueError, match="requires a CacheHandle"):
        langid_counts_foreach_batch(profiles, langs, out_dir, lineage="x", k=10)


def test_quality_gate_stream_matches_batch_and_guarded(spark, tmp_path):
    """The streaming quality gate (streaming/docs.py::
    quality_counts_foreach_batch) must produce, compacted across a real
    two-trigger readStream, EXACTLY the one-shot batch scoring
    aggregated by bucket — count AND score mass: scoring is
    per-document pure given the FROZEN (tf, tot, dfreq) tables, so
    per-batch (count, sum) partials are associative over any
    micro-batch partitioning. Also pins replayed-trigger idempotence,
    foreign-lineage refusal, and the handle-required rule."""
    import glob

    import pandas as pd

    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.operators.text import (
        quality_signals_frozen,
        quality_stats_tables,
    )
    from mysql2psql_spark.streaming.docs import (
        quality_counts_foreach_batch,
        read_quality_summary,
    )

    d = load_table(spark, SF_DIR, "documents")
    tf, tot, dfreq = quality_stats_tables(d)

    # two parquet files -> two triggers
    src = str(tmp_path / "docs_src")
    d.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    d.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    out_dir = str(tmp_path / "quality_out")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with CacheHandle() as caches:
        gate = quality_counts_foreach_batch(
            tf, tot, dfreq, out_dir, lineage="ckpt-quality", caches=caches
        )
        q = stream.writeStream.foreachBatch(gate).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert len(glob.glob(f"{out_dir}/batch=*")) == 2
        got = read_quality_summary(spark, out_dir).toPandas()
        f_tf, f_tot, f_dfreq = caches.frames[:3]
        want = (
            quality_signals_frozen(d, f_tf, f_tot, f_dfreq)
            .groupBy("bucket")
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("score_micro").cast("bigint").alias("sum_score_micro"),
            )
            .toPandas()
        )
        key = ["bucket"]
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
            check_dtype=False,
            check_exact=True,
        )
        assert got.n_docs.sum() == d.count()

        # replayed trigger: same-lineage batch-0 re-delivery keeps the
        # summary unchanged (idempotent overwrite under the marker)
        b0 = d.filter(F.col("doc_id") % 2 == 0)
        gate(b0, 0)
        again = read_quality_summary(spark, out_dir).toPandas()
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            again.sort_values(key).reset_index(drop=True),
            check_exact=True,
        )

        # foreign lineage: refused on the marker
        foreign = quality_counts_foreach_batch(
            tf, tot, dfreq, out_dir, lineage="ckpt-other", caches=caches
        )
        with pytest.raises(RuntimeError, match="belongs to lineage 'ckpt-quality'"):
            foreign(b0, 0)

    # handle-less construction would leak session-lifetime executor
    # cache — refused loudly at construction (the langid-gate rule).
    with pytest.raises(ValueError, match="requires a CacheHandle"):
        quality_counts_foreach_batch(tf, tot, dfreq, out_dir, lineage="x")


def test_quality_gate_out_of_corpus_fallbacks(spark, tmp_path):
    """Documents arriving with tokens/shingles the frozen tables have
    never seen must score deterministically under the documented
    fallbacks (tf=1 -> maximal surprisal, df=1 -> not duplicated), not
    error or skew: the gate classifies them; nothing is dropped."""
    from mysql2psql_spark.operators.materialize import CacheHandle
    from mysql2psql_spark.operators.text import quality_stats_tables
    from mysql2psql_spark.streaming.docs import (
        quality_counts_foreach_batch,
        read_quality_summary,
    )

    d = load_table(spark, SF_DIR, "documents")
    tf, tot, dfreq = quality_stats_tables(d)
    alien = spark.createDataFrame(
        [
            (900001, "zzqx glorp wibble frumious bandersnatch " * 5, "xx", "probe", 1),
            (900002, "zzqx zzqx zzqx zzqx zzqx zzqx zzqx zzqx zzqx zzqx", "xx", "probe", 1),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    out_dir = str(tmp_path / "quality_alien")
    with CacheHandle() as caches:
        gate = quality_counts_foreach_batch(
            tf, tot, dfreq, out_dir, lineage="ckpt-alien", caches=caches
        )
        gate(alien, 0)
        got = read_quality_summary(spark, out_dir).toPandas()
        assert got.n_docs.sum() == 2  # both alien docs classified


# --- streamed-equals-batch audit (streaming/audit.py) ---------------------


def _audit_queries() -> dict:
    """name -> (query function, oracle SQL) for the six audit rows;
    stream_quality_summary is not registered, so it is named here."""
    from mysql2psql_spark.queries import ORACLE
    from mysql2psql_spark.queries.text_q import (
        _ORACLE_STREAM_QUALITY,
        stream_quality_summary,
    )

    out = {
        n: (QUERIES[n], ORACLE[n])
        for n in (
            "stream_near_dup_gate",
            "stream_drift_summary",
            "stream_cdc_apply_summary",
            "stream_ks_summary",
            "stream_langid_summary",
        )
    }
    out["stream_quality_summary"] = (stream_quality_summary, _ORACLE_STREAM_QUALITY)
    return out


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    """Every SF_DIR table with its schema kept and no rows."""
    import os

    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("sf_empty")
    for f in sorted(os.listdir(SF_DIR)):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF_DIR, f))
            pq.write_table(t.slice(0, 0), str(out / f))
    return str(out)


@pytest.mark.parametrize(
    "name,tables",
    [(n, "empty") for n in _audit_queries()]
    + [
        (n, "sf")
        for n in ("stream_ks_summary", "stream_langid_summary", "stream_quality_summary")
    ],
)
def test_stream_audit_matches_oracle(spark, empty_sf_dir, name, tables):
    """DuckDB differential for the audit rows: all six on empty tables,
    where every figure must read 0 (never NULL), and the three audits no
    other test covers at SF_DIR."""
    import duckdb
    import pandas as pd

    fn, oracle = _audit_queries()[name]
    sf_dir = empty_sf_dir if tables == "empty" else SF_DIR
    got = fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    try:
        for t in ("documents", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        want = con.execute(oracle).df()
    finally:
        con.close()
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True),
        want[cols].reset_index(drop=True),
        check_dtype=False,
        check_exact=True,
    )
    row = got.iloc[0]
    assert row.only_stream == row.only_batch == row.value_mismatches == 0
    if tables == "sf":
        assert row.stream_rows == row.batch_rows > 0


def test_stream_batch_audit_detects_loss_and_mismatch(spark, tmp_path):
    """The helper's row must light up on a lost partial and on a changed
    value, must raise what the twin raises, and must leave no thread
    behind."""
    import threading

    from mysql2psql_spark.streaming.audit import stream_batch_audit

    src = spark.createDataFrame(
        [(i, i * 10) for i in range(6)], "k bigint, v bigint"
    )

    def gate(drop=None):
        def make(out_dir, _lineage):
            def apply(batch_df, batch_id):
                if batch_id != drop:
                    batch_df.write.mode("overwrite").parquet(
                        f"{out_dir}/batch={batch_id}"
                    )

            return apply

        return make

    def audit(make_gate, twin):
        return stream_batch_audit(
            spark,
            "audit_test",
            str(tmp_path / "audit"),
            src,
            "k",
            make_gate=make_gate,
            read=lambda d: spark.read.schema("k bigint, v bigint").parquet(
                f"{d}/batch=*"
            ),
            twin=twin,
            keys=["k"],
            vals=["v"],
        ).collect()[0]

    threads = threading.active_count()
    ok = audit(gate(), lambda: src)
    assert (ok.stream_rows, ok.batch_rows) == (6, 6)
    assert ok.only_stream == ok.only_batch == ok.value_mismatches == 0
    assert threading.active_count() == threads

    lost = audit(gate(drop=1), lambda: src)  # odd k never written
    assert (lost.only_batch, lost.only_stream, lost.stream_rows) == (3, 0, 3)

    changed = audit(
        gate(), lambda: src.withColumn("v", F.when(F.col("k") == 2, -1).otherwise(F.col("v")))
    )
    assert changed.value_mismatches == 1
    assert changed.only_stream == changed.only_batch == 0

    def broken():
        raise RuntimeError("twin failed")

    with pytest.raises(RuntimeError, match="twin failed"):
        audit(gate(), broken)
    assert threading.active_count() == threads
