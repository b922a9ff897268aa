"""Structured Streaming: the availableNow drain of each streaming
operator must reproduce its batch twin's answer on the same events."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from covsonar_spark.streaming.pipeline import (run_to_memory,
                                               session_counts_native,
                                               sessionize_stateful,
                                               stream_events, windowed_counts)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    from covsonar_spark.registry import _events
    ev = _events(spark, SF_DIR)
    return ev.withColumn("event_time", F.timestamp_micros(F.col("ts_us"))).cache()


def test_windowed_counts_match_batch(spark, batch_events):
    st = windowed_counts(stream_events(spark, SF_DIR))
    run_to_memory(st, "win_counts", output_mode="complete")
    got = {(r["window_start"], r["event_type"]): r["n"]
           for r in spark.table("win_counts").collect()}
    want = {(r["ws"], r["event_type"]): r["n"] for r in
            batch_events.groupBy(
                F.window("event_time", "1 hour")["start"].alias("ws"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_native_sessions_match_batch_sessionize(spark, batch_events):
    st = session_counts_native(stream_events(spark, SF_DIR))
    run_to_memory(st, "sess_native", output_mode="complete")
    got = {(r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
           for r in spark.table("sess_native").collect()}
    # batch twin: lag/running-sum gap sessionizer (registry events_sessionize)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("ts_us").asc(), F.col("event_id").asc())
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    boundary = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    want = {(r["user_id"], r["s"]): (r["e"], r["n"]) for r in
            batch_events.withColumn("sid", F.sum(boundary).over(w))
            .groupBy("user_id", "sid")
            .agg(F.min("ts_us").alias("s"), F.max("ts_us").alias("e"),
                 F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_streaming_genome_ingest(spark, tmp_path, covsonar):
    """FASTA manifests landing in a watch dir drain through the full
    add pipeline; a second drain is idempotent for known files."""
    from covsonar_spark.functions.genetics import harmonize, parse_gff3, read_fasta_one
    from covsonar_spark.store import SonarStore
    from covsonar_spark.streaming.pipeline import stream_add_genomes

    REF = covsonar.root
    _, _, ref = read_fasta_one(f"{REF}/lib/ref.fna")
    ref = harmonize(ref)
    cds = parse_gff3(f"{REF}/lib/ref.gff3", ref)
    store = SonarStore(spark, str(tmp_path / "db"), ref, cds)
    watch = tmp_path / "landing"
    watch.mkdir()
    (watch / "batch1.manifest").write_text(f"{REF}/test/test.fasta\n".strip())
    ckpt = str(tmp_path / "ckpt")
    q = stream_add_genomes(store, str(watch), ckpt)
    q.awaitTermination(120)
    assert store.table("genomes").count() == 3
    # new file arrives; previous one is checkpointed as processed
    (watch / "batch2.manifest").write_text(f"{REF}/test/test2.fasta")
    q2 = stream_add_genomes(store, str(watch), ckpt)
    q2.awaitTermination(120)
    assert store.table("genomes").count() == 4
    assert store.table("profiles").count() == 4


def test_stateful_sessionizer_closed_sessions(spark, batch_events):
    """applyInPandasWithState emits every session except each user's
    open tail (closed only on timeout) — compare against batch."""
    st = sessionize_stateful(stream_events(spark, SF_DIR))
    run_to_memory(st, "sess_state", output_mode="append")
    got = {(r["user_id"], r["session_start_us"]): (r["session_end_us"], r["n_events"])
           for r in spark.table("sess_state").collect()}
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.col("ts_us").asc(), F.col("event_id").asc())
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    boundary = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = (batch_events.withColumn("sid", F.sum(boundary).over(w))
            .groupBy("user_id", "sid")
            .agg(F.min("ts_us").alias("s"), F.max("ts_us").alias("e"),
                 F.count(F.lit(1)).alias("n")))
    last = sess.groupBy("user_id").agg(F.max("s").alias("last_s"))
    closed_want = {(r["user_id"], r["s"]): (r["e"], r["n"]) for r in
                   sess.join(last, "user_id")
                   .where(F.col("s") < F.col("last_s")).collect()}
    assert got == closed_want
    # nothing emitted that batch doesn't know about
    all_want = {(r["user_id"], r["s"]) for r in sess.collect()}
    assert set(got) <= all_want


def test_streaming_lsh_dedup_matches_one_shot(spark, tmp_path):
    """Documents streamed file-by-file through StreamingLshDedup flag
    exactly the pairs a one-shot LSH over the full corpus flags — the
    exactly-once emission invariant, driven through a REAL stream
    (maxFilesPerTrigger=1, so every parquet file is its own
    micro-batch against the persistent band store)."""
    from covsonar_spark.streaming.dedup import StreamingLshDedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    landing = tmp_path / "docs_landing"
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1) \
            .write.parquet(str(landing / f"chunk{i}"))
    files = [str(p) for p in sorted(landing.glob("chunk*/part-*.parquet"))]
    flat = tmp_path / "flat"
    flat.mkdir()
    for i, p in enumerate(files):
        os.rename(p, flat / f"{i}.parquet")

    ded = StreamingLshDedup(spark, str(tmp_path / "state"),
                            k=3, num_hashes=8, band_rows=2, threshold=0.4)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(flat)))
    q = ded.attach(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    got = {(r["id_a"], r["id_b"], r["est_jaccard"])
           for r in ded.pairs().collect()}

    one_shot = StreamingLshDedup(spark, str(tmp_path / "state_oneshot"),
                                 k=3, num_hashes=8, band_rows=2, threshold=0.4)
    want = {(r["id_a"], r["id_b"], r["est_jaccard"])
            for r in one_shot.process_batch(docs).collect()}
    assert got == want and len(got) > 0


def test_stream_stream_attribution_matches_batch(spark, batch_events):
    """Stream-stream time-bounded join (purchase ⋈ clicks within 30 min
    per user) drained with availableNow must equal the identical
    inequality join on the batch frames."""
    from covsonar_spark.streaming.pipeline import attribution_join_stream

    st = attribution_join_stream(stream_events(spark, SF_DIR))
    run_to_memory(st, "attrib", output_mode="append")
    got = {(r["event_id"], r["click_id"])
           for r in spark.table("attrib").collect()}

    c = batch_events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts_us").alias("click_ts_us"))
    p = batch_events.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us")
    want = {(r["event_id"], r["click_id"]) for r in p.join(
        c, (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts_us") >= F.col("ts_us") - 1800 * 1_000_000)
        & (F.col("click_ts_us") <= F.col("ts_us"))).collect()}
    assert got == want and len(got) > 0


def test_streaming_join_view_real_stream(spark, tmp_path):
    """Drive StreamingJoinView through a REAL rate-limited stream
    (maxFilesPerTrigger): the maintained view equals the one-shot
    join, and a replayed batch id does not duplicate rows."""
    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    # three fact files for maxFilesPerTrigger=1
    src = tmp_path / "facts"
    for i in range(3):
        o.where(F.col("o_orderkey") % 3 == i).write.mode("overwrite") \
         .parquet(str(src / f"chunk{i}"))
    stream = (spark.readStream.schema(o.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "chunk*")))
    sjv = StreamingJoinView(spark, str(tmp_path / "state"), c, ["c_custkey"])
    q = sjv.attach(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in sjv.view().collect())
    want = sorted(tuple(r) for r in o.join(c, ["c_custkey"])
                  .select(sjv.view().columns).collect())
    assert got == want
    # replay one batch id: overwrite semantics keep the view identical
    sjv.process_batch(o.where(F.col("o_orderkey") % 3 == 0), batch_id=0)
    again = sorted(tuple(r) for r in sjv.view().collect())
    assert again == got


def test_streaming_join_view_replay_after_dim_wave(spark, tmp_path):
    """The double-count trap: a fact batch replayed AFTER a dimension
    wave must re-join the dimension generation it saw originally —
    otherwise the replayed batch re-emits the dA x dB rows the wave
    already wrote."""
    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    b0 = c.where(F.col("c_custkey") % 2 == 0)
    db = c.where(F.col("c_custkey") % 2 == 1)
    d0 = o.where(F.col("o_orderkey") % 2 == 0)
    d1 = o.where(F.col("o_orderkey") % 2 == 1)

    sjv = StreamingJoinView(spark, str(tmp_path / "state"), b0, ["c_custkey"])
    sjv.process_batch(d0, batch_id=0)
    sjv.update_dim(db, "late")
    sjv.process_batch(d0, batch_id=0)          # at-least-once replay
    sjv.update_dim(db, "late")                 # replayed dim wave too
    sjv.process_batch(d1, batch_id=1)          # new batch sees gen 1

    got = sorted(tuple(r) for r in sjv.view().collect())
    want = sorted(tuple(r) for r in o.join(c, ["c_custkey"])
                  .select(sjv.view().columns).collect())
    assert got == want and len(got) == len(set(got))


def test_streaming_join_view_dim_replay_after_new_fact(spark, tmp_path):
    """The OTHER double-count trap (round-2 advice): a dim wave
    replayed after newer fact batches were processed must not re-join
    those batches — they were pinned to the post-wave generation and
    already carry the ΔA ⋈ ΔB rows."""
    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    b0 = c.where(F.col("c_custkey") % 2 == 0)
    db = c.where(F.col("c_custkey") % 2 == 1)
    d0 = o.where(F.col("o_orderkey") % 2 == 0)
    d1 = o.where(F.col("o_orderkey") % 2 == 1)

    sjv = StreamingJoinView(spark, str(tmp_path / "state"), b0, ["c_custkey"])
    sjv.process_batch(d0, batch_id=0)          # pinned gen 0
    sjv.update_dim(db, "late")                 # wave -> gen 1
    sjv.process_batch(d1, batch_id=1)          # pinned gen 1 (joins db)
    sjv.update_dim(db, "late")                 # REPLAYED wave after batch 1
    got = sorted(tuple(r) for r in sjv.view().collect())
    want = sorted(tuple(r) for r in o.join(c, ["c_custkey"])
                  .select(sjv.view().columns).collect())
    assert got == want and len(got) == len(set(got))


def test_streaming_join_view_dim_wave_before_any_fact(spark, tmp_path):
    """A dimension wave arriving before the first fact batch must not
    crash and must still count for later fact batches."""
    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    b0 = c.where(F.col("c_custkey") % 2 == 0)
    db = c.where(F.col("c_custkey") % 2 == 1)

    sjv = StreamingJoinView(spark, str(tmp_path / "state"), b0, ["c_custkey"])
    sjv.update_dim(db, "early")                # no fact yet: no crash
    sjv.process_batch(o, batch_id=0)
    got = sorted(tuple(r) for r in sjv.view().collect())
    want = sorted(tuple(r) for r in o.join(c, ["c_custkey"])
                  .select(sjv.view().columns).collect())
    assert got == want


def test_streaming_join_view_heals_interrupted_dim_swap(spark, tmp_path):
    """Simulate a crash in the middle of a dim-generation swap (the
    committed gen renamed aside to its _trash alias, the staged tmp dir
    still present): the next call must restore the committed
    generation, and a replayed wave must still converge to the exact
    one-shot join — no lost generation, no double count."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    b0 = c.where(F.col("c_custkey") % 2 == 0)
    db = c.where(F.col("c_custkey") % 2 == 1)
    d0 = o.where(F.col("o_orderkey") % 2 == 0)
    d1 = o.where(F.col("o_orderkey") % 2 == 1)

    state = str(tmp_path / "state")
    sjv = StreamingJoinView(spark, state, b0, ["c_custkey"])
    sjv.process_batch(d0, batch_id=0)          # pinned gen 0
    sjv.update_dim(db, "late")                 # wave -> gen 1 committed
    sjv.process_batch(d1, batch_id=1)          # pinned gen 1

    # hand-craft the crash window: gen=1 renamed aside, staged tmp left
    dim_path = os.path.join(state, "dim")
    gen1 = os.path.join(dim_path, "gen=1")
    os.rename(gen1, os.path.join(dim_path, "_trash_gen1"))
    tmp_dir = os.path.join(dim_path, "_tmp_late")
    db.write.mode("overwrite").parquet(tmp_dir)
    open(os.path.join(tmp_dir, "_tag_late"), "w").close()

    sjv2 = StreamingJoinView(spark, state, b0, ["c_custkey"])
    sjv2.update_dim(db, "late")                # replay heals + rewrites
    assert os.path.isdir(gen1)
    assert not any(e.startswith("_trash_gen") for e in os.listdir(dim_path))

    got = sorted(tuple(r) for r in sjv2.view().collect())
    want = sorted(tuple(r) for r in o.join(c, ["c_custkey"])
                  .select(sjv2.view().columns).collect())
    assert got == want and len(got) == len(set(got))

    # second crash shape: committed gen aside with NO staged tmp — a
    # plain process_batch must also heal before reading dims
    os.rename(gen1, os.path.join(dim_path, "_trash_gen1"))
    shutil.rmtree(tmp_dir, ignore_errors=True)
    sjv3 = StreamingJoinView(spark, state, b0, ["c_custkey"])
    sjv3.process_batch(d0, batch_id=0)         # replay of batch 0
    assert os.path.isdir(gen1)
    got = sorted(tuple(r) for r in sjv3.view().collect())
    assert got == want


def test_dim_swap_drains_inflight_batches(spark, tmp_path):
    """ADVICE r9: update_dim's swap used to unpersist dim frames (and
    rewrite generation dirs) while a running process_batch job could
    still be consuming them.  The swap must now DRAIN in-flight batches
    first: with a batch marked in flight, update_dim blocks; when the
    batch drains, it completes and the view is exact."""
    import threading
    import time as _time

    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    b0 = c.where(F.col("c_custkey") % 2 == 0)
    db = c.where(F.col("c_custkey") % 2 == 1)

    sjv = StreamingJoinView(spark, str(tmp_path / "state"), b0,
                            ["c_custkey"])
    sjv.process_batch(o.where(F.col("o_orderkey") % 2 == 0), batch_id=0)

    # pin an artificial in-flight batch, exactly what process_batch
    # holds between its locked dim acquisition and its finally-release
    with sjv._idle:
        sjv._inflight += 1
    done = threading.Event()

    def wave():
        sjv.update_dim(db, "late")
        done.set()

    t = threading.Thread(target=wave, daemon=True)
    t.start()
    assert not done.wait(timeout=1.2)       # swap waits for the drain
    with sjv._idle:                          # batch drains
        sjv._inflight -= 1
        sjv._idle.notify_all()
    assert done.wait(timeout=30.0)           # swap proceeds to completion
    t.join(timeout=30.0)

    sjv.process_batch(o.where(F.col("o_orderkey") % 2 == 1), batch_id=1)
    got = sorted(tuple(r) for r in sjv.view().collect())
    want = sorted(tuple(r) for r in o.join(c, ["c_custkey"])
                  .select(sjv.view().columns).collect())
    assert got == want


def test_dim_wave_joins_batch_that_was_in_flight(spark, tmp_path):
    """update_dim's ΔV = A_old ⋈ ΔB must include a batch that was still
    in flight (pinned to the old generation) when the wave started: its
    fact dir lands only after the wave began, so the fact log has to be
    listed after the drain.  Listing it up front left the batch out of
    ΔV for good — a permanent undercount of batch-1 ⋈ ΔB."""
    import os
    import threading

    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    b0 = c.where(F.col("c_custkey") % 2 == 0)
    db = c.where(F.col("c_custkey") % 2 == 1)
    d0 = o.where(F.col("o_orderkey") % 2 == 0)
    d1 = o.where(F.col("o_orderkey") % 2 == 1)

    state = str(tmp_path / "state")
    sjv = StreamingJoinView(spark, state, b0, ["c_custkey"])
    sjv.process_batch(d0, batch_id=0)

    # batch 1 is in flight on gen 0: exactly what process_batch holds
    # between its locked dim acquisition and its finally-release
    with sjv._idle:
        sjv._inflight += 1
    done = threading.Event()
    t = threading.Thread(target=lambda: (sjv.update_dim(db, "late"),
                                         done.set()), daemon=True)
    t.start()
    assert not done.wait(timeout=1.2)       # the wave waits for the drain
    # the in-flight batch's two sink writes land, then it drains
    d1.join(b0, ["c_custkey"]).write.parquet(
        os.path.join(state, "view", "batch=1_g0"))
    d1.write.parquet(os.path.join(state, "fact", "batch=1"))
    with sjv._idle:
        sjv._inflight -= 1
        sjv._idle.notify_all()
    assert done.wait(timeout=60.0)
    t.join(timeout=30.0)

    got = sorted(tuple(r) for r in sjv.view().collect())
    want = sorted(tuple(r) for r in o.join(c, ["c_custkey"])
                  .select(sjv.view().columns).collect())
    assert got == want


def test_failed_dim_swap_writes_no_delta_view(spark, tmp_path):
    """A wave whose generation never swaps in must not leave a
    ``batch=dim_<tag>`` ΔV behind: the view would hold A_old ⋈ ΔB rows
    for a dimension delta no later batch joins."""
    import os

    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    state = str(tmp_path / "state")
    sjv = StreamingJoinView(spark, state,
                            c.where(F.col("c_custkey") % 2 == 0),
                            ["c_custkey"])
    sjv.process_batch(o, batch_id=0)

    def boom():
        raise RuntimeError("injected swap failure")

    sjv._drain_inflight = boom
    with pytest.raises(RuntimeError, match="injected"):
        sjv.update_dim(c.where(F.col("c_custkey") % 2 == 1), "late")
    assert not os.path.exists(os.path.join(state, "view", "batch=dim_late"))
    assert sjv._current_gen() == 0


def test_view_log_compaction(spark, tmp_path):
    """StreamingJoinView.compact() folds the per-batch delta dirs into
    one segment: the view is value-identical before/after, replayed
    ids that were folded do not double-count (their pin lives in the
    manifest), a dim wave AFTER a compaction still joins exactly the
    not-yet-covered batches, and both crash leftovers (unpublished
    segment, undeleted consumed dir) are invisible."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    b0 = c.where(F.col("c_custkey") % 2 == 0)
    db = c.where(F.col("c_custkey") % 2 == 1)
    d0 = o.where(F.col("o_orderkey") % 3 == 0)
    d1 = o.where(F.col("o_orderkey") % 3 == 1)
    d2 = o.where(F.col("o_orderkey") % 3 == 2)

    state = str(tmp_path / "state")
    sjv = StreamingJoinView(spark, state, b0, ["c_custkey"])
    sjv.process_batch(d0, batch_id=0)
    sjv.process_batch(d1, batch_id=1)
    want_half = sorted(tuple(r) for r in sjv.view().collect())

    folded = sjv.compact()
    assert folded == 2
    view_dir = os.path.join(state, "view")
    assert [e for e in os.listdir(view_dir)
            if e.startswith("batch=")] == []
    assert sorted(tuple(r) for r in sjv.view().collect()) == want_half

    # replay of a folded id: no batch dir re-created, no double count
    sjv.process_batch(d0, batch_id=0)
    assert [e for e in os.listdir(view_dir)
            if e.startswith("batch=")] == []
    assert sorted(tuple(r) for r in sjv.view().collect()) == want_half

    # dim wave after the compaction joins the folded batches exactly
    # once (pins come from the manifest), then another fact batch and
    # a second compaction fold everything into one fresh segment
    sjv.update_dim(db, "late")
    sjv.process_batch(d2, batch_id=2)
    want_full = sorted(tuple(r) for r in o.join(c, ["c_custkey"])
                       .select(sjv.view().columns).collect())
    assert sorted(tuple(r) for r in sjv.view().collect()) == want_full
    assert sjv.compact() > 0
    segs = [e for e in os.listdir(view_dir) if e.startswith("compact=")]
    assert len(segs) == 1
    assert sorted(tuple(r) for r in sjv.view().collect()) == want_full

    # crash leftovers: an unpublished segment dir and an undeleted
    # consumed batch dir are both invisible to reads...
    shutil.copytree(os.path.join(view_dir, segs[0]),
                    os.path.join(view_dir, "compact=99"))
    shutil.copytree(os.path.join(view_dir, segs[0]),
                    os.path.join(view_dir, "batch=0_g0"))
    assert sorted(tuple(r) for r in sjv.view().collect()) == want_full
    # ...and the next compact() heals them away
    sjv.compact()
    left = set(os.listdir(view_dir))
    assert "compact=99" not in left and "batch=0_g0" not in left
    assert sorted(tuple(r) for r in sjv.view().collect()) == want_full

    # a fresh handle (new process) sees the same state
    sjv2 = StreamingJoinView(spark, state, b0, ["c_custkey"])
    assert sorted(tuple(r) for r in sjv2.view().collect()) == want_full


def test_view_compaction_edge_cases(spark, tmp_path):
    """Review-found edges: a dim-wave tag shaped like g<digits> must
    not be mis-parsed as a generation suffix; a restarted handle's
    auto batch ids resume past folded ids instead of colliding; and a
    corrupt manifest raises instead of silently orphaning segments."""
    import json as _json
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from covsonar_spark.streaming.ivm import StreamingJoinView

    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"))
    c = spark.read.parquet(f"{sf}/customer.parquet").select(
        "c_custkey", "c_name")
    b0 = c.where(F.col("c_custkey") % 2 == 0)
    db = c.where(F.col("c_custkey") % 2 == 1)
    d0 = o.where(F.col("o_orderkey") % 3 == 0)
    d1 = o.where(F.col("o_orderkey") % 3 == 1)

    state = str(tmp_path / "state")
    sjv = StreamingJoinView(spark, state, b0, ["c_custkey"])
    sjv.process_batch(d0)                      # auto id 0
    sjv.update_dim(db, "g5")                   # tag LOOKS like _g5
    want0 = sorted(tuple(r) for r in d0.join(c, ["c_custkey"])
                   .select(sjv.view().columns).collect())
    assert sorted(tuple(r) for r in sjv.view().collect()) == want0
    assert sjv.compact() == 2                  # batch 0 + the wave dir
    assert sorted(tuple(r) for r in sjv.view().collect()) == want0
    # a later wave whose dir name shares the truncated prefix is NOT
    # swallowed by the consumed map
    sjv.update_dim(c.limit(0), "g7")           # empty wave, new gen
    assert sorted(tuple(r) for r in sjv.view().collect()) == want0

    # restarted handle: auto ids resume past the folded batch 0
    sjv2 = StreamingJoinView(spark, state, b0, ["c_custkey"])
    sjv2.process_batch(d1)                     # must NOT reuse id 0
    want01 = sorted(tuple(r)
                    for r in d0.unionByName(d1).join(c, ["c_custkey"])
                    .select(sjv2.view().columns).collect())
    assert sorted(tuple(r) for r in sjv2.view().collect()) == want01
    assert os.path.isdir(os.path.join(state, "fact", "batch=1"))

    # a manifest that exists but does not parse must SURFACE
    with open(os.path.join(state, "view", "_compact.json"), "w") as fh:
        fh.write("{torn")
    with _pytest.raises(RuntimeError, match="corrupt view-compaction"):
        sjv2.view()
