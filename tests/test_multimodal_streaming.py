"""Multimodal binary processing (Arrow plumbing real, codecs stubbed)
and the Structured-Streaming extension."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from schema_drift_detector_spark.operators.multimodal import (
    MAGIC,
    decode_media,
    extract_byte_features,
    resize_media,
    sample_frames,
    synth_media,
)
from schema_drift_detector_spark.sources.synth import SynthConfig, synth_asset_catalog, synth_documents
from schema_drift_detector_spark.streaming.epochs import stream_validate, windowed_event_counts

CFG = SynthConfig(n_docs=1_600, n_partitions=8, n_assets=2_000)


@pytest.fixture(scope="module")
def media(spark):
    return synth_media(spark, CFG, n=200).cache()


def test_media_blobs_deterministic(spark, media):
    rows = {r.media_ref: r for r in media.collect()}
    assert len(rows) == 200
    r = rows["asset-00000007"]
    assert bytes(r.content[:4]) == MAGIC
    again = {x.media_ref: x for x in synth_media(spark, CFG, n=200).collect()}
    assert bytes(again["asset-00000007"].content) == bytes(r.content)


def test_byte_features(spark, media):
    feats = {r.media_ref: r for r in extract_byte_features(media).collect()}
    assert len(feats) == 200
    r = feats["asset-00000003"]
    assert r.size_bytes > 10
    assert len(r.byte_histogram) == 16
    assert sum(r.byte_histogram) == r.size_bytes
    assert 0.0 < r.entropy <= 4.0  # 16 bins → max 4 bits


def test_decode_roundtrip(spark, media):
    dec = {r.media_ref: r for r in decode_media(media).collect()}
    meta = {r.media_ref: r for r in media.collect()}
    for ref, d in list(dec.items())[:20]:
        assert d.decoder == "sdxm"
        assert d.width == meta[ref].width
        assert d.height == meta[ref].height
        assert d.n_frames == meta[ref].n_frames
        assert 0 <= d.mean_byte <= 255


def test_decode_strict_raises_on_foreign_blob(spark):
    foreign = spark.createDataFrame(
        [("x-1", bytearray(b"JPEGnotreally"))], "media_ref string, content binary"
    )
    with pytest.raises(Exception) as ei:
        decode_media(foreign, strict=True).collect()
    assert "NotImplementedError" in str(ei.value) or "stubbed" in str(ei.value)


def test_resize_media(spark):
    media = synth_media(spark, SynthConfig(), n=40).cache()
    small = resize_media(media, factor=2)
    dec = {r.media_ref: r for r in decode_media(small).collect()}
    orig = {r.media_ref: r for r in media.collect()}
    for ref, d in dec.items():
        assert d.decoder == "sdxm"
        assert d.width == max(1, orig[ref].width // 2)
        assert d.height == max(1, orig[ref].height // 2)


def test_frame_sampling(spark, media):
    frames = sample_frames(media, every_n=2)
    rows = frames.collect()
    assert len(rows) > 0
    meta = {r.media_ref: r for r in media.collect()}
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r.media_ref, []).append(r.frame_index)
    for ref, idxs in by_ref.items():
        assert sorted(idxs) == list(range(0, meta[ref].n_frames, 2))
    # images (1 frame) contribute exactly frame 0
    img = [r for r in meta.values() if r.kind == "image"][0]
    assert by_ref[img.media_ref] == [0]


def test_windowed_event_counts_batch_parity(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    agg = windowed_event_counts(ev, window="1 day", watermark="2 days")
    rows = agg.collect()
    assert len(rows) > 0
    total = sum(r.n_events for r in rows)
    assert total == ev.count()


def test_stream_validate_matches_batch(spark, tmp_path_factory):
    """foreachBatch over a file stream produces the same per-partition
    verdicts as the batch engine on the same data."""
    base = str(tmp_path_factory.mktemp("stream"))
    docs = synth_documents(spark, CFG, epoch=0)
    docs.write.mode("overwrite").parquet(f"{base}/in")
    catalog = synth_asset_catalog(spark, CFG).cache()

    from schema_drift_detector_spark.plans.run import baseline_kind_counts

    kinds = baseline_kind_counts(docs).cache()
    stream = spark.readStream.schema(
        spark.read.parquet(f"{base}/in").schema
    ).parquet(f"{base}/in")
    q = stream_validate(stream, catalog, f"{base}/out", baseline_kinds=kinds)
    q.awaitTermination(120)

    sv = {
        (r.constraint, r.partition_id): r.passed
        for r in spark.read.parquet(f"{base}/out/verdicts").collect()
    }
    from schema_drift_detector_spark.operators.constraints import (
        check_categorical_drift,
        check_referential_integrity,
        check_uniqueness,
    )

    uq_v, _ = check_uniqueness(docs, "batch")
    ri_v, _ = check_referential_integrity(docs, catalog, "batch")
    cd_v = check_categorical_drift(kinds, baseline_kind_counts(docs), "batch", 0)
    bv = {
        (r.constraint, r.partition_id): r.passed
        for r in uq_v.unionByName(ri_v).unionByName(cd_v).collect()
    }
    assert sv == bv
    assert not sv[("uniqueness", 2)] and not sv[("referential_integrity", 3)]
    # identical kind mix vs itself → categorical drift passes everywhere
    assert all(p for (c, _), p in sv.items() if c == "categorical_drift")
    assert sum(1 for (c, _) in sv if c == "categorical_drift") == 8


def test_stream_dedup_exact_bounded_state(spark, tmp_path_factory):
    """Watermarked streaming dedup keeps exactly one row per content
    fingerprint within the horizon — parity with the batch survivor
    count on the same data."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.streaming.epochs import stream_dedup_exact

    base = str(tmp_path_factory.mktemp("sdedup"))
    # 300 rows over 100 distinct texts (id % 100), event-time from id
    src = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.format_string("text body %d", F.pmod(F.col("id"), F.lit(100))).alias("text"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double"))).alias("ingest_ts"),
    )
    src.write.mode("overwrite").parquet(f"{base}/in")

    stream = spark.readStream.schema(
        spark.read.parquet(f"{base}/in").schema
    ).parquet(f"{base}/in")
    q = (
        stream_dedup_exact(stream, ts_col="ingest_ts", content_col="text")
        .writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/_ckpt")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(f"{base}/out")
    assert got.count() == 100
    assert got.select("text").distinct().count() == 100


def test_stateful_running_profiles(spark, tmp_path_factory):
    """applyInPandasWithState accumulates across micro-batches: two
    input files processed one per batch must end at the same totals as
    a single batch over everything."""
    from schema_drift_detector_spark.streaming.stateful import running_partition_profiles

    base = str(tmp_path_factory.mktemp("stateful"))
    cfg = SynthConfig(n_docs=800, n_partitions=4, n_assets=1_000)
    docs = synth_documents(spark, cfg, epoch=0).cache()
    docs.filter("doc_id < 'doc-000000000400'").coalesce(1).write.parquet(f"{base}/in/a")
    docs.filter("doc_id >= 'doc-000000000400'").coalesce(1).write.parquet(f"{base}/in/b")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/in/*")
    )
    q = (
        running_partition_profiles(stream)
        .writeStream.format("memory")
        .queryName("running_prof")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last emitted row per partition = lifetime totals
    rows = spark.sql(
        "SELECT * FROM running_prof"
    ).collect()
    last = {}
    for r in rows:  # memory sink appends in batch order
        last[r.partition_id] = r
    import pyspark.sql.functions as F

    expected = {
        r.partition_id: r
        for r in docs.select("partition_id", "doc_id", F.explode_outer("spans").alias("s"))
        .groupBy("partition_id")
        .agg(
            F.count("s").alias("ns"),
            F.max("s.offset").alias("om"),
        )
        .collect()
    }
    n_docs_per_part = {
        r.partition_id: r.c
        for r in docs.groupBy("partition_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    # text_null_ratio must use the SAME definition as the batch profiler
    # (nulls among TEXT spans / text spans) so lifetime-vs-baseline
    # comparisons are apples-to-apples
    from schema_drift_detector_spark.operators.profile import profile_spans

    batch_prof = {
        r.partition_id: r
        for r in profile_spans(docs, group_cols=["partition_id"]).collect()
    }
    for p, r in last.items():
        assert r.n_docs == n_docs_per_part[p]
        assert r.n_spans == expected[p].ns
        assert r.offset_max == expected[p].om
        assert abs(r.text_null_ratio - batch_prof[p].text_null_ratio) < 1e-9


def test_stream_dedup_state_survives_restart(spark, tmp_path_factory):
    """Checkpoint recovery of the dedup state: stop after the first two
    micro-batches, add a third file with duplicates of already-seen
    (live) content, restart against the SAME checkpoint — the restored
    state must still drop them, and the combined output must equal a
    one-shot run over all three files."""
    import os

    import pyspark.sql.functions as F

    from schema_drift_detector_spark.streaming.epochs import stream_dedup_exact

    base = str(tmp_path_factory.mktemp("sdedup_restart"))
    schema = "doc_id string, text string, ingest_ts timestamp"

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, "doc_id string, text string, mins int")
        df.select(
            "doc_id", "text",
            F.timestamp_seconds((F.col("mins") + 1440) * 60).alias("ingest_ts"),
        ).coalesce(1).write.parquet(f"{base}/in/{name}")
        for root, _, files in os.walk(f"{base}/in/{name}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (mtime, mtime))

    # generous 60-min watermark: every key stays live across the run
    write_file("a", [("A", "ta", 0), ("B", "tb", 5)], 1_000_000)
    write_file("b", [("C", "tc", 10), ("A2", "ta", 12)], 1_000_100)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/in/*")
        )
        q = (
            stream_dedup_exact(
                stream, ts_col="ingest_ts", content_col="text", watermark="60 minutes"
            )
            .writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/_ckpt")
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        assert q.awaitTermination(120)

    run_once()  # processes a, b; keeps A, B, C; drops A2
    first = {r.doc_id for r in spark.read.parquet(f"{base}/out").collect()}
    assert first == {"A", "B", "C"}

    # new file: duplicates of state the restart must REMEMBER + one new
    write_file("c", [("B2", "tb", 20), ("C2", "tc", 22), ("D", "td", 25)], 1_000_200)
    run_once()  # restart from checkpoint: only file c is new
    final = {r.doc_id for r in spark.read.parquet(f"{base}/out").collect()}
    assert final == {"A", "B", "C", "D"}, final


def test_drop_duplicates_within_watermark_pinned_semantics(spark, tmp_path_factory):
    """Pins the UNDOCUMENTED Spark internals the certified
    stream_dedup_watermark oracle relies on, so a
    Spark upgrade that changes them fails HERE with a named assumption
    instead of a confusing oracle hash mismatch (ADVICE r4). Pinned on
    Spark 4.1 dropDuplicatesWithinWatermark:
      (1) a row is late iff ts < watermark at the START of its batch;
      (2) expired-but-unevicted state still MATCHES during the batch;
      (3) eviction happens at batch END using that batch's
          start-of-batch watermark -> later re-admission is possible.
    Timeline mirrors the certified entry's fixture (delay 10 min)."""
    import os

    import pyspark.sql.functions as F

    base = str(tmp_path_factory.mktemp("ddww_pin"))
    batches = [
        [("A", "ta", 0), ("B", "tb", 5), ("C", "tc", 30)],
        [("A2", "ta", 21), ("C2", "tc", 31), ("L", "tb", 12), ("D", "td", 35)],
        [("C3", "tc", 36), ("A3", "ta", 45), ("E", "te", 26)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id string, text string, mins int")
        df.select(
            "doc_id",
            "text",
            F.timestamp_seconds((F.col("mins") + 1440) * 60).alias("ingest_ts"),
        ).coalesce(1).write.mode("overwrite").parquet(f"{base}/src/b{i}")
        t = 1_000_000 + 100 * i
        for root, _, files in os.walk(f"{base}/src/b{i}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))
    stream = (
        spark.readStream.schema("doc_id string, text string, ingest_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/src/b*")
    )
    dd = (
        stream.withWatermark("ingest_ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["text"])
    )
    q = (
        dd.writeStream.format("parquet")
        .option("path", f"{base}/out")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    assert q.awaitTermination(120)
    kept = {r.doc_id for r in spark.read.parquet(f"{base}/out").collect()}
    assert "A2" not in kept, (
        "assumption (2) broke: expired-but-unevicted state no longer "
        "matches duplicates during the batch (A ts=0 expired at wm=20 "
        "but must still block A2 in batch 1)"
    )
    assert "L" not in kept, (
        "assumption (1) broke: lateness is no longer ts < start-of-batch "
        "watermark (L ts=12 < wm=20 must be dropped as late)"
    )
    assert "A3" in kept, (
        "assumption (3) broke: state is no longer evicted at batch END "
        "with the start-of-batch watermark (A evicted after batch 1, so "
        "A3 in batch 2 must be re-admitted)"
    )
    assert kept == {"A", "B", "C", "D", "A3", "E"}, (
        f"pinned dropDuplicatesWithinWatermark timeline changed: {kept} "
        "- update the stream_dedup_watermark oracle to the new semantics"
    )


def test_stream_ingest_dedup_unbounded_lookback_and_restart(spark, tmp_path_factory):
    """foreachBatch + persisted fingerprint index: duplicates of ANY
    earlier micro-batch are rejected regardless of event-time distance
    (no watermark horizon), and a RESTARTED query keeps rejecting them
    because the state is the parquet index, not the state store."""
    import os

    import pyspark.sql.functions as F

    from schema_drift_detector_spark.streaming.epochs import stream_ingest_dedup

    base = str(tmp_path_factory.mktemp("singest"))

    def write_file(name, rows, mtime):
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        d = f"{base}/src/{name}"
        df.coalesce(1).write.mode("overwrite").parquet(d)
        for root, _, files in os.walk(d):
            for fn in files:
                os.utime(os.path.join(root, fn), (mtime, mtime))

    def run_once():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{base}/src/*")
        )
        q = stream_ingest_dedup(
            stream, f"{base}/idx", f"{base}/out", checkpoint_dir=f"{base}/ckpt"
        )
        assert q.awaitTermination(180)

    write_file("a", [(1, "alpha"), (2, "beta")], 1_000_000)
    write_file("b", [(10, "alpha"), (11, "gamma")], 1_000_100)
    run_once()
    kept = {(r.doc_id, r.batch_id) for r in spark.read.parquet(f"{base}/out").collect()}
    assert kept == {(1, 0), (2, 0), (11, 1)}  # 10 dups batch-0 'alpha'

    # restart with a new file duplicating BOTH prior batches' content
    write_file("c", [(20, "beta"), (21, "gamma"), (22, "delta")], 1_000_200)
    run_once()
    kept2 = {(r.doc_id, r.batch_id) for r in spark.read.parquet(f"{base}/out").collect()}
    assert kept2 == {(1, 0), (2, 0), (11, 1), (22, 2)}


def test_session_event_counts_batch_semantics(spark):
    """Gaps-and-islands semantics of session_event_counts, including
    the pinned boundary convention: an event exactly `gap` after the
    previous one JOINS the session."""
    from datetime import datetime

    from schema_drift_detector_spark.streaming.epochs import session_event_counts

    rows = [
        # type a: 3 events inside one session (incl. exactly-1h step),
        # then a 4th after a >1h quiet period -> 2 sessions
        ("a", datetime(2024, 1, 1, 0, 0, 0), 1.0),
        ("a", datetime(2024, 1, 1, 1, 0, 0), 2.0),
        ("a", datetime(2024, 1, 1, 1, 30, 0), 3.0),
        ("a", datetime(2024, 1, 1, 3, 0, 1), 9.0),
        # type b: isolated single-event session
        ("b", datetime(2024, 1, 1, 5, 0, 0), 7.0),
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = {
        (r.event_type, str(r.win.start)): (r.n_events, r.min_value, r.max_value)
        for r in session_event_counts(ev, gap="1 hour").collect()
    }
    assert got[("a", "2024-01-01 00:00:00")] == (3, 1.0, 3.0)
    assert got[("a", "2024-01-01 03:00:01")] == (1, 9.0, 9.0)
    assert got[("b", "2024-01-01 05:00:00")] == (1, 7.0, 7.0)
    assert len(got) == 3
    # value_col seam: a frame without a 'value' column works once the
    # stat column is named (round-7 advisor finding — the signature
    # looked generic but hardcoded F.min/max('value'))
    ev2 = ev.withColumnRenamed("value", "amount")
    got2 = {
        (r.event_type, str(r.win.start)): (r.n_events, r.min_value, r.max_value)
        for r in session_event_counts(ev2, gap="1 hour", value_col="amount").collect()
    }
    assert got2 == got


def test_stream_left_outer_join_flush_horizon_pinned(spark, tmp_path_factory):
    """Left-outer time-bounded stream-stream join, per-horizon flush
    semantics pinned empirically (Spark 4.1):

      - matched pairs emit when both rows have arrived (like inner);
      - an unmatched left row emits its null-pad iff the FINAL global
        watermark (min over both sides of max-event-time-seen − delay)
        passes the END of its match window STRICTLY:
        left_ts + within < watermark — a window end EXACTLY equal to
        the watermark is still held back;
      - rows beyond the horizon never flush on a finite stream.

    Arrival order is forced via explicit file mtimes (the file stream
    source processes oldest-mtime first), making the watermark
    trajectory deterministic."""
    import glob
    import os
    import shutil
    from datetime import datetime, timezone

    from schema_drift_detector_spark.streaming.epochs import stream_time_bounded_join

    base = str(tmp_path_factory.mktemp("ssj_outer"))
    T = lambda s: datetime.fromtimestamp(1700000000 + s, tz=timezone.utc).replace(
        tzinfo=None
    )
    # final watermark will be min(20000, 20000) - 2000 = 18000
    l_batches = [
        [(1, "u", T(1000)),   # unmatched, window end 4600 < 18000 -> null-pad
         (2, "u", T(5000)),   # matched by right 102
         (4, "u", T(14400))], # BOUNDARY: window end 18000 == wm -> held back
        [(3, "u", T(17000)),  # window end 20600 > wm -> held back
         (9, "u", T(20000))], # left clock row, held back
    ]
    r_batches = [[(102, "u", T(5100))], [(109, "x", T(20000))]]  # clock row

    def write_side(side, batches):
        d = f"{base}/{side}"
        os.makedirs(d, exist_ok=True)
        for k, rows in enumerate(batches):
            tmp = f"{base}/tmp_{side}_{k}"
            spark.createDataFrame(
                rows, "id long, user string, ts timestamp"
            ).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = f"{d}/b{k}.parquet"
            shutil.move(part, dst)
            os.utime(dst, (1_000_000 + 100 * k,) * 2)
            shutil.rmtree(tmp)
        return d

    ld = write_side("L", l_batches)
    rd = write_side("R", r_batches)
    read = lambda d: (
        spark.readStream.schema("id long, user string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ls = read(ld).withColumnsRenamed({"id": "l_id", "ts": "l_ts"})
    rs = read(rd).withColumnsRenamed({"id": "r_id", "ts": "r_ts", "user": "r_user"})
    j = stream_time_bounded_join(
        ls, rs, "user", "r_user", "l_ts", "r_ts",
        within="1 hour", watermark="2000 seconds", how="left_outer",
    )
    out = f"{base}/out"
    q = (
        j.select("l_id", "r_id")
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda bdf, bid: bdf.write.mode("overwrite").parquet(f"{out}/batch_id={bid}")
        )
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted((r.l_id, r.r_id) for r in spark.read.parquet(out).collect())
    assert got == [(1, None), (2, 102)]

    with pytest.raises(ValueError, match="left_outer"):
        stream_time_bounded_join(
            ls, rs, "user", "r_user", "l_ts", "r_ts",
            within="1 hour", watermark="1 hour", how="full_outer",
        )
