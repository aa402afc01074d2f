"""Workload ``tier_build``: the retention tiers of seeded transcripts,
kept fresh by an incremental ingest step and rebuilt by the resumable
batch job that ``run_pipeline.py`` runs.

Setup writes all turns as the bucketed fact table through
``sources.catalog.write_transcripts``, and appends the turns before a
seeded time cut to a second fact table with
``incremental.append_transcripts``. The timed round is then:

1. the ingest step: ``incremental.append_transcripts`` of the turns from
   the cut on (cut by timestamp, so each conversation's turns arrive in
   order), then ``incremental.refresh_tiers`` of the dates it touched;
2. one full ``checkpoint.run_pipeline(raw_path=..., compress=True)`` of
   the first fact table into a fresh output dir. Further rebuilds follow
   while they fit in the run length.

Checking (not timed): the tiers of every rebuild, and the refreshed
dates of the incremental tiers, equal row for row and bit for bit a
one-shot ``operators.rollup.rollup_all_tiers`` of all turns; the first
rebuild's Gorilla streams decode to its tier points, later rebuilds'
streams equal those bytes.
"""

from __future__ import annotations

import os
import time
from statistics import median

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

from common import Outcome, Run, cpu_ticks, dir_bytes, steal_share, unstolen

N_CONV = 800
N_TURNS = 18_000  # whole conversations up to this many turns, so every seed's table is the same size
N_BUCKETS = 1
STEP_SHARE = (0.10, 0.20)  # seeded share of turns appended by the timed ingest step
TIERS = ("1m", "1h", "1d")
KEYS = ("conv_id", "window_start")


def tier_writes(plan: str) -> str | None:
    """Inner layer of one SQL execution inside ``run_pipeline`` or
    ``refresh_tiers``: the Gorilla pass writes ``gorilla_<tier>``, the
    rollup writes ``rollup_<tier>``; anything else (the per-bucket meta
    aggregate, the refresh's watermark) stays with the caller."""
    if "gorilla_" in plan:
        return "compression.gorilla"
    if "InsertIntoHadoopFsRelationCommand" in plan and "rollup_" in plan:
        return "operators.rollup"
    return None


def _read_dir(path: str) -> pd.DataFrame:
    """All parquet files under ``path`` (partition dirs ignored) — read
    with pyarrow, so checking runs no Spark job."""
    return pads.dataset(path, format="parquet", partitioning=None).to_table().to_pandas()


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).value // 1000
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    if isinstance(v, (list, np.ndarray)):  # a map as pyarrow returns it
        return tuple(sorted(tuple(x) for x in v))
    if isinstance(v, (float, np.floating)):
        return None if v != v else float(v)
    if isinstance(v, (np.integer, np.bool_)):
        return int(v)
    return v


def canonical_rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    """Rows of ``cols`` as comparable tuples, sorted. Timestamps become
    epoch microseconds, maps sorted item tuples, NaN and null both None."""
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, x) for x in r[:2]))


def tier_cols(pdf: pd.DataFrame) -> list[str]:
    return list(KEYS) + sorted(c for c in pdf.columns if c not in KEYS and c != "window_date")


def _check_gorilla(packed: pd.DataFrame, tier_rows: list[tuple], cols: list[str]) -> str | None:
    """Decode every stream and compare it with the tier's
    (window_start, turn_count) points of the same conversation."""
    from gmql_spark.compression.gorilla import decode_timestamps, decode_values

    i_ts, i_n = cols.index("window_start"), cols.index("turn_count")
    points: dict[str, list] = {}
    for r in tier_rows:
        points.setdefault(r[0], []).append((r[i_ts], float(r[i_n])))
    if len(packed) != len(points):
        return f"{len(packed)} streams for {len(points)} conversations"
    for row in packed.itertuples(index=False):
        want = points.get(row.conv_id)
        n = int(row.n_points)
        if want is None or len(want) != n:
            return f"stream {row.conv_id}: {n} points, tier has {len(want or [])}"
        ts = decode_timestamps(row.ts_bytes, n).tolist()
        vals = decode_values(row.val_bytes, n).tolist()
        if list(zip(ts, vals)) != want:
            return f"stream {row.conv_id} decodes to other points than the tier"
    return None


def _packed_rows(out_dir: str, tier: str) -> list[tuple]:
    df = _read_dir(f"{out_dir}/gorilla_{tier}")
    return sorted(
        zip(df.conv_id, df.n_points, df.ts_min_us, df.ts_max_us, df.ts_bytes, df.val_bytes)
    )


def inputs(seed: int) -> tuple[pd.DataFrame, pd.Timestamp]:
    """Seeded transcripts (whole conversations up to ``N_TURNS`` turns)
    and the timestamp from which the timed step appends."""
    from gmql_spark import datagen

    pdf = datagen.gen_transcripts(n_conv=N_CONV, seed=seed)
    conv_turns = pdf.groupby("conv_id", sort=True).size()
    keep = conv_turns.index[conv_turns.cumsum() <= N_TURNS]
    pdf = pdf[pdf.conv_id.isin(keep)].reset_index(drop=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    return pdf, pdf.ts.quantile(1.0 - rng.uniform(*STEP_SHARE)).ceil("s")


def run(ctx: Run) -> Outcome:
    from gmql_spark import datagen
    from gmql_spark.checkpoint import run_pipeline
    from gmql_spark.incremental import append_transcripts, refresh_tiers
    from gmql_spark.operators.rollup import rollup_all_tiers
    from gmql_spark.sources.catalog import write_transcripts

    spark, tr = ctx.spark, ctx.tracer
    base = os.path.join(ctx.work, "tier_build")
    fact = os.path.join(base, "fact")
    inc_fact, inc_tiers = os.path.join(base, "ingest", "fact"), os.path.join(base, "ingest", "tiers")

    # input generation (not timed)
    pdf, cut = inputs(ctx.seed)
    n_turns, n_step = len(pdf), int((pdf.ts >= cut).sum())
    schema = datagen.transcripts_spark(spark, n_conv=1, seed=ctx.seed).schema
    raw = spark.createDataFrame(pdf, schema=schema)
    bulk = spark.createDataFrame(pdf[pdf.ts < cut], schema=schema)
    step = spark.createDataFrame(pdf[pdf.ts >= cut], schema=schema)

    # staging through the program: the bucketed fact table, and the bulk
    # append of the ingest fact table (untraced)
    s0, j0 = time.perf_counter(), cpu_ticks()
    with tr.span("sources.catalog", "catalog.write_transcripts"):
        write_transcripts(raw, fact, n_buckets=N_BUCKETS)
    s1 = time.perf_counter()
    append_transcripts(spark, bulk, inc_fact, n_buckets=N_BUCKETS)
    s2 = time.perf_counter()
    staging = unstolen(s2 - s0, j0, cpu_ticks())

    # ---- timed: the ingest step, then rebuilds while they fit the run length
    ops: dict[str, float] = {}
    problems: list[str] = []
    dates: list = []
    steal: dict[str, float] = {}  # share of each op's CPU time stolen by other guests
    loop_t0, k0 = time.perf_counter(), cpu_ticks()
    tr.op = "step"
    try:
        with tr.span("incremental.append_transcripts", "incremental.append_transcripts"):
            dates = append_transcripts(spark, step, inc_fact, n_buckets=N_BUCKETS)
        ops["append"] = time.perf_counter() - loop_t0
        t0 = time.perf_counter()
        with tr.span("incremental.refresh_tiers", "incremental.refresh_tiers", classify=tier_writes):
            refresh_tiers(spark, inc_fact, inc_tiers, dates)
        ops["refresh"] = time.perf_counter() - t0
        k1 = cpu_ticks()
        steal["step"] = steal_share(k0, k1)
        ops["freshness_unstolen"] = unstolen(ops["append"] + ops["refresh"], k0, k1)
    except Exception as ex:  # counted as a failed op
        problems.append(f"ingest step: {type(ex).__name__}: {str(ex)[:200]}")

    rebuilds: list[tuple[float, str | None]] = []  # (wall, error)
    unstolen_walls: list[float] = []
    out_dirs = []
    while True:
        out_dir = os.path.join(base, f"out_{len(rebuilds)}")
        tr.op = f"rebuild{len(rebuilds)}"
        t0, k0 = time.perf_counter(), cpu_ticks()
        try:
            with tr.span("checkpoint", "checkpoint.run_pipeline", classify=tier_writes):
                run_pipeline(spark, None, out_dir, n_buckets=N_BUCKETS, raw_path=fact, compress=True)
            rebuilds.append((time.perf_counter() - t0, None))
            k1 = cpu_ticks()
            steal[f"rebuild{len(rebuilds) - 1}"] = steal_share(k0, k1)
            unstolen_walls.append(unstolen(rebuilds[-1][0], k0, k1))
        except Exception as ex:  # counted as a failed op
            rebuilds.append((0.0, f"{type(ex).__name__}: {str(ex)[:200]}"))
        out_dirs.append(out_dir)
        walls = [w for w, e in rebuilds if e is None] or [time.perf_counter() - loop_t0]
        if time.perf_counter() - loop_t0 + median(walls) > ctx.seconds:
            break
    tr.op = None

    # ---- checking (not timed)
    check_t0 = time.perf_counter()
    ref = rollup_all_tiers(raw, cache_gaps=True)
    ref_pdf, ref_rows, ref_cols = {}, {}, {}
    for tier in TIERS:
        ref_pdf[tier] = ref[tier].toPandas()
        ref_cols[tier] = tier_cols(ref_pdf[tier])
        ref_rows[tier] = canonical_rows(ref_pdf[tier], ref_cols[tier])

    failed = sum(1 for k in ("append", "refresh") if k not in ops)
    if "refresh" in ops:
        days = {pd.Timestamp(d) for d in dates}
        for tier in TIERS:
            want = ref_pdf[tier][ref_pdf[tier].window_start.dt.floor("D").isin(days)]
            got = _read_dir(f"{inc_tiers}/rollup_{tier}")
            if canonical_rows(got, ref_cols[tier]) != canonical_rows(want, ref_cols[tier]):
                failed += 1
                problems.append(f"refreshed tier {tier} differs from the one-shot rollup on the step's dates")
                break

    tier_bytes = gorilla_bytes = 0
    first_packed = None
    for (_wall, err), out_dir in zip(rebuilds, out_dirs):
        bad = err
        for tier in TIERS:
            if bad:
                break
            if canonical_rows(_read_dir(f"{out_dir}/rollup_{tier}"), ref_cols[tier]) != ref_rows[tier]:
                bad = f"tier {tier} differs from the one-shot rollup"
            elif first_packed is None:
                bad = _check_gorilla(_read_dir(f"{out_dir}/gorilla_{tier}"), ref_rows[tier], ref_cols[tier])
            elif _packed_rows(out_dir, tier) != first_packed[tier]:
                bad = f"gorilla_{tier} streams differ from the verified streams of the first rebuild"
        if bad:
            failed += 1
            problems.append(f"{os.path.basename(out_dir)}: {bad}")
        elif first_packed is None:
            first_packed = {tier: _packed_rows(out_dir, tier) for tier in TIERS}
            tier_bytes = dir_bytes(out_dir, "rollup_")
            gorilla_bytes = dir_bytes(out_dir, "gorilla_")
    n_points = sum(len(ref_rows[t]) for t in TIERS)
    check_s = time.perf_counter() - check_t0

    walls = [w for w, e in rebuilds if e is None]
    rebuild_p50 = median(walls) if walls else float("nan")
    freshness = ops.get("append", float("nan")) + ops.get("refresh", float("nan"))
    attempted = 2 + len(rebuilds)
    named = {
        "turns_per_s": n_turns / (median(unstolen_walls) if unstolen_walls else float("nan")),
        "freshness_s": ops.get("freshness_unstolen", float("nan")),
        "turns_per_s_wall": n_turns / rebuild_p50,
        "freshness_s_wall": freshness,
        "rebuild_s": rebuild_p50,
        "append_s": ops.get("append", float("nan")),
        "refresh_s": ops.get("refresh", float("nan")),
        "ingest_turns_per_s": n_step / freshness,
        "bytes_per_turn": (tier_bytes + gorilla_bytes) / n_turns,
        "error_rate": failed / attempted,
    }

    ctx.say(f"input: {n_turns} turns, {N_BUCKETS} bucket(s); the step appends {n_step} turns "
            f"from {cut} ({len(dates)} dates)")
    ctx.say(f"turns_per_s = {named['turns_per_s']:.1f} turns/s (turns / median of {len(walls)} unstolen "
            f"rebuild wall(s): {', '.join(f'{w:.3f}' for w in unstolen_walls)} s); "
            f"turns_per_s_wall = {named['turns_per_s_wall']:.1f} turns/s (rebuild walls "
            f"{', '.join(f'{w:.3f}' for w in walls)} s)")
    ctx.say(f"freshness_s = {named['freshness_s']:.4f} s unstolen; freshness_s_wall = {freshness:.4f} s "
            f"(append {named['append_s']:.3f} s + refresh {named['refresh_s']:.3f} s; "
            f"{named['ingest_turns_per_s']:.1f} appended turns/s)")
    ctx.say("CPU time stolen by other guests during ops: " + ", ".join(f"{k} {v:.1%}" for k, v in steal.items()))
    ctx.say(f"bytes_per_turn = {named['bytes_per_turn']:.2f} B/turn (rebuild tiers {tier_bytes} B "
            f"+ gorilla {gorilla_bytes} B)")
    ctx.say(f"error_rate = {named['error_rate']:.4f} ratio ({failed} of {attempted} ops failed)")
    ctx.say(f"setup parts: fact write {s1 - s0:.3f} s, bulk append {s2 - s1:.3f} s; "
            f"checking took {check_s:.1f} s (in no metric)")
    for p in problems:
        ctx.say(f"CHECK FAILED: {p}")

    return Outcome(
        setup_s=staging,
        items_per_s=named["turns_per_s"],
        named=named,
        attempted=attempted,
        failed=failed,
        correct=not problems,
        detail={
            "turns": n_turns,
            "step_turns": n_step,
            "ops_s": ops,
            "staging_wall_s": s2 - s0,
            "steal": steal,
            "rebuild_s": walls,
            "rebuild_unstolen_s": unstolen_walls,
            "gorilla_bytes_per_point": gorilla_bytes / n_points,
            "n_ops": len(rebuilds),
            # layers called once per run: values are per call, not per rebuild
            "divisors": dict.fromkeys(
                ("sources.catalog", "incremental.append_transcripts", "incremental.refresh_tiers"), 1
            ),
        },
    )


def ratios(rows: dict[str, dict[str, float]], detail: dict) -> dict[str, float]:
    """Per-op layer rows -> the workload's layer ratios."""
    jobs = sum(rows.get(k, {}).get("jobs", 0.0)
               for k in ("checkpoint", "operators.rollup", "compression.gorilla"))
    return {
        "checkpoint.jobs_per_bucket": jobs / N_BUCKETS,
        "compression.gorilla.bytes_per_point": detail["gorilla_bytes_per_point"],
        "incremental.refresh_rows_read_per_row_appended": (
            rows.get("incremental.refresh_tiers", {}).get("scan_rows", 0.0) / detail["step_turns"]
        ),
    }
