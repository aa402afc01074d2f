"""Kill/resume equivalence (BASELINE.md resumability gate) + storage
layout pruning."""

from __future__ import annotations

import json

import pytest

from gmql_spark import datagen
from gmql_spark.checkpoint import run_pipeline
from gmql_spark.operators.rollup import rollup
from gmql_spark.sources.catalog import read_transcripts, write_transcripts


def _read_all(spark, out_dir, tier):
    df = spark.read.parquet(f"{out_dir}/rollup_{tier}")
    return (
        df.drop("bucket")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )


def test_kill_resume_equivalence(spark, tmp_path):
    raw = datagen.transcripts_spark(spark, n_conv=60)
    a, b = str(tmp_path / "oneshot"), str(tmp_path / "resumed")

    run_pipeline(spark, raw, a, tiers=("1m", "1h"), n_buckets=4)

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, raw, b, tiers=("1m", "1h"), n_buckets=4, fail_after=2)
    stats = run_pipeline(spark, raw, b, tiers=("1m", "1h"), n_buckets=4)
    assert stats == {"ran": 2, "skipped": 2, "buckets": 4}

    import pandas as pd

    for tier in ("1m", "1h"):
        pd.testing.assert_frame_equal(
            _read_all(spark, a, tier), _read_all(spark, b, tier), check_dtype=False
        )

    # manifest carries metrics + lineage fields
    entries = [
        json.loads(line) for line in open(f"{b}/_manifest.jsonl") if line.strip()
    ]
    assert len(entries) == 4 and all(
        e["rows_in"] > 0 and e["watermark"] and "1m" in e["tiers"] for e in entries
    )


def test_pipeline_from_path_prunes_and_matches_dataframe_run(spark, tmp_path):
    """run_pipeline(raw_path=...) must (a) produce the same tiers as the
    DataFrame path, (b) partition-prune each bucket job, (c) refuse to
    resume with a different n_buckets, (d) refuse a bucket count smaller
    than the table layout."""
    raw = datagen.transcripts_spark(spark, n_conv=60)
    fact = str(tmp_path / "fact")
    write_transcripts(raw, fact, n_buckets=4)

    a, b = str(tmp_path / "via_df"), str(tmp_path / "via_path")
    run_pipeline(spark, raw, a, tiers=("1m",), n_buckets=4)
    run_pipeline(spark, None, b, tiers=("1m",), n_buckets=4, raw_path=fact)

    import pandas as pd

    pd.testing.assert_frame_equal(
        _read_all(spark, a, "1m"), _read_all(spark, b, "1m"), check_dtype=False
    )

    # (b) the per-bucket read partition-prunes (the claim in the module
    # docstring — previously false on the DataFrame path)
    pruned = read_transcripts(spark, fact, buckets=[2])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "conv_bucket" in plan

    # (c) n_buckets mismatch on resume is refused, not silently mixed
    with pytest.raises(ValueError, match="n_buckets"):
        run_pipeline(spark, None, b, tiers=("1m",), n_buckets=8, raw_path=fact)
    # (d) bucket count below the table layout is refused
    with pytest.raises(ValueError, match="conv_bucket up to"):
        run_pipeline(spark, None, str(tmp_path / "fresh"), tiers=("1m",),
                     n_buckets=2, raw_path=fact)


def test_bucketed_layout_prunes_and_roundtrips(spark, tmp_path):
    raw = datagen.transcripts_spark(spark, n_conv=50)
    path = str(tmp_path / "fact")
    write_transcripts(raw, path, n_buckets=4)

    back = read_transcripts(spark, path)
    assert back.count() == raw.count()
    # pruned read plans a PartitionFilters scan, not a full-scan + filter
    pruned = read_transcripts(spark, path, buckets=[1])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "conv_bucket" in plan
    assert 0 < pruned.count() < back.count()

    # rollup over the bucketed table still matches the direct rollup
    import pandas as pd

    r1 = (
        rollup(back, "1h")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    r2 = (
        rollup(raw, "1h")
        .toPandas()
        .sort_values(["conv_id", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(r1, r2[r1.columns], check_dtype=False)


def _streams(spark, out_dir, tier):
    pdf = spark.read.parquet(f"{out_dir}/gorilla_{tier}").drop("bucket").toPandas()
    return sorted(
        (r.conv_id, r.n_points, r.ts_min_us, r.ts_max_us, bytes(r.ts_bytes), bytes(r.val_bytes))
        for r in pdf.itertuples(index=False)
    )


def test_compressed_pipeline_equals_one_shot_rollup_and_streams_decode(spark, tmp_path):
    """run_pipeline(raw_path, compress=True) over 1m/1h/1d equals a
    one-shot rollup_all_tiers bit for bit, and every Gorilla stream
    decodes to its tier's (window_start, turn_count) points."""
    from gmql_spark.compression.gorilla import decode_timestamps, decode_values
    from gmql_spark.operators.rollup import rollup_all_tiers
    from tests.conftest import assert_pdf_equal

    raw = datagen.transcripts_spark(spark, n_conv=40)
    fact, out = str(tmp_path / "fact"), str(tmp_path / "out")
    write_transcripts(raw, fact, n_buckets=2)
    tiers = ("1m", "1h", "1d")
    run_pipeline(spark, None, out, tiers=tiers, n_buckets=2, raw_path=fact, compress=True)

    ref = rollup_all_tiers(raw, tiers)
    for tier in tiers:
        got = spark.read.parquet(f"{out}/rollup_{tier}").drop("bucket").toPandas()
        assert_pdf_equal(got, ref[tier].toPandas(), sort_by=["conv_id", "window_start"])

        points = {}
        for r in got.sort_values("window_start").itertuples(index=False):
            points.setdefault(r.conv_id, []).append(
                (r.window_start.value // 1000, float(r.turn_count))
            )
        streams = _streams(spark, out, tier)
        assert len(streams) == len(points)
        for conv, n, _lo, _hi, ts_b, val_b in streams:
            decoded = list(
                zip(decode_timestamps(ts_b, n).tolist(), decode_values(val_b, n).tolist())
            )
            assert decoded == points[conv], f"gorilla_{tier} stream of {conv}"


def test_manifest_rows_in_and_watermark_match_each_bucket(spark, tmp_path):
    """rows_in/watermark of every manifest entry are the bucket's
    count(*) and max(ts) — 0 and null on buckets with no conversation."""
    from pyspark.sql import functions as F

    raw = datagen.transcripts_spark(spark, n_conv=3)
    fact, out = str(tmp_path / "fact"), str(tmp_path / "out")
    write_transcripts(raw, fact, n_buckets=8)
    run_pipeline(spark, None, out, tiers=("1m", "1h"), n_buckets=8, raw_path=fact)

    entries = {
        e["bucket"]: e
        for e in (json.loads(line) for line in open(f"{out}/_manifest.jsonl") if line.strip())
    }
    assert sorted(entries) == list(range(8))
    empty = 0
    for b, e in entries.items():
        want = (
            read_transcripts(spark, fact, buckets=[b])
            .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("wm"))
            .collect()[0]
        )
        assert e["rows_in"] == want.n, b
        assert e["watermark"] == json.loads(json.dumps(want.wm, default=str)), b
        empty += want.n == 0
        if want.n == 0:
            assert e["watermark"] is None
            assert all(t["rows_out"] == 0 for t in e["tiers"].values())
    assert 0 < empty < 8


def test_failed_tier_chain_leaves_bucket_undone_and_rerun_matches(spark, tmp_path, monkeypatch):
    """One failing tier chain re-raises from run_pipeline, appends no
    manifest entry for its bucket, and a rerun redoes that bucket to the
    same files as a one-shot run."""
    import gmql_spark.compression.gorilla as gorilla

    raw = datagen.transcripts_spark(spark, n_conv=40)
    fact = str(tmp_path / "fact")
    write_transcripts(raw, fact, n_buckets=2)
    oneshot, resumed = str(tmp_path / "oneshot"), str(tmp_path / "resumed")
    tiers = ("1m", "1h")
    run_pipeline(spark, None, oneshot, tiers=tiers, n_buckets=2, raw_path=fact, compress=True)

    real = gorilla.compress_series

    def failing(series, **kw):
        if any("rollup_1h/bucket=1" in f for f in series.inputFiles()):
            raise OSError("injected gorilla failure")
        return real(series, **kw)

    monkeypatch.setattr(gorilla, "compress_series", failing)
    with pytest.raises(OSError, match="injected gorilla failure"):
        run_pipeline(spark, None, resumed, tiers=tiers, n_buckets=2, raw_path=fact, compress=True)
    done = [json.loads(line)["bucket"] for line in open(f"{resumed}/_manifest.jsonl")]
    assert done == [0]

    monkeypatch.setattr(gorilla, "compress_series", real)
    stats = run_pipeline(spark, None, resumed, tiers=tiers, n_buckets=2, raw_path=fact, compress=True)
    assert stats == {"ran": 1, "skipped": 1, "buckets": 2}
    import pandas as pd

    for tier in tiers:
        pd.testing.assert_frame_equal(
            _read_all(spark, oneshot, tier), _read_all(spark, resumed, tier), check_dtype=False
        )
        assert _streams(spark, oneshot, tier) == _streams(spark, resumed, tier)


def test_tier_jobs_run_in_the_callers_job_group(spark, tmp_path):
    """Every job of a run, including those the concurrent tier chains
    submit, belongs to the caller's job group, so cancelJobGroup stops a
    rebuild."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    raw = datagen.transcripts_spark(spark, n_conv=20)
    fact = str(tmp_path / "fact")
    write_transcripts(raw, fact, n_buckets=2)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("checkpoint-caller", "tier rebuild")
    try:
        run_pipeline(spark, None, str(tmp_path / "out"), n_buckets=2, raw_path=fact, compress=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    # 2 buckets x 3 tiers, each at least a tier write and a Gorilla write
    assert len(tracker.getJobIdsForGroup("checkpoint-caller")) >= 12
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
