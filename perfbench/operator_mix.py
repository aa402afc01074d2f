"""Workload ``operator_mix``: one closed-loop client running board
queries from ``bench.BENCH_QUERIES`` over fixed tables.

The board is the first query of each operator module in
``bench.BENCH_QUERIES`` order (``LAYER`` maps every board query to the
module of the operator it calls), leaving out the module ``tier_build``
already measures (``operators.rollup``), so each module the board
reaches is measured once per round. The tables are generated from
``BOARD_SEED`` (fixed, like the repository's own test tables); the run's
seed sets the query order of each round.

Correctness: ``verify_board.py`` runs every board query, compares its
result with the DuckDB oracle of ``__spark_entry__.oracle_sql()`` as
``tools/check_entry.py`` does, and records an order-insensitive digest
of each verified result in ``board_digests.json``. A run materializes
every column of each query through the ``noop`` sink with the digest
riding the same pass (``DataFrame.observe``), and the digest must equal
the recorded one. There is no warm-up round: the first timed round is
the first time the session runs each query (see README.md).
"""

from __future__ import annotations

import json
import os
import time
from statistics import median

import numpy as np

from common import Outcome, Run, cpu_ticks, steal_share, tail, unstolen

BOARD_SEED = 42
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "board_digests.json")

# query -> module of the operator it calls (queries that call no
# gmql_spark operator map to None and are not on the board)
LAYER = {
    "rollup_windows": "operators.window_agg",
    "rollup_1h_cascade": "operators.window_agg",
    "merge_global_1h": "operators.window_agg",
    "latency_percentiles": "operators.rollup",
    "gapfill": "operators.gapfill",
    "topk_per_user": "operators.order",
    "difference": "operators.difference",
    "asof_join": "operators.join",
    "ring_join": "operators.join",
    "nearest_beyond": "operators.join",
    "cover_accumulation": "operators.cover",
    "cover_jaccard": "operators.cover",
    "percentile_digest_ok": "functions.tdigest",
    "map_intervals": "operators.map_agg",
    "dedup_exact": None,
    "cosine_topk": "operators.similarity",
    "ann_topk": "operators.similarity",
    "ivf_trained": "operators.similarity",
    "nearest_k": "operators.join",
    "interval_intersect": "operators.join",
    "realtime_rollup": "realtime",
    "latency_histogram": "functions.sketches",
    "range_stitch": "realtime",
    "stream_rollup": "streaming",
}
MEASURED_BY_TIER_BUILD = {"operators.rollup"}


def board() -> list[str]:
    """First query of each module, in ``bench.BENCH_QUERIES`` order."""
    from bench import BENCH_QUERIES

    seen, out = set(MEASURED_BY_TIER_BUILD), []
    for name in BENCH_QUERIES:
        layer = LAYER[name]
        if layer is not None and layer not in seen:
            seen.add(layer)
            out.append(name)
    return out


def _digest_cols(df):
    """Row count plus two order-insensitive hash folds of every row."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.array_sort(F.map_entries(f.name)) if isinstance(f.dataType, T.MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("low32_sum"),
        F.bit_xor(h).alias("xor"),
    ]


def run_query(spark, tr, name: str, sf_dir: str, tag: str, collect: bool = False):
    """Build + materialize one board query; returns (construct_s, total_s,
    digest, collected frame or None)."""
    import __spark_entry__ as entry
    from pyspark.sql import Observation

    layer = LAYER[name]
    obs = Observation(f"{name}-{tag}")
    t0 = time.perf_counter()
    with tr.span(layer, name, "construct"):
        df = entry.queries()[name](spark, sf_dir)
    t1 = time.perf_counter()
    out = df.observe(obs, *_digest_cols(df))
    with tr.span(layer, name, "action") as span:
        if collect:
            pdf = out.toPandas()
        else:
            out.write.format("noop").mode("overwrite").save()
            pdf = None
    t2 = time.perf_counter()
    digest = obs.get
    if span is not None:
        span["rows_out"] = digest["rows"]
    return t1 - t0, t2 - t0, digest, pdf


def run(ctx: Run) -> Outcome:
    from boardgen import write_board_tables

    spark, tr = ctx.spark, ctx.tracer
    sf_dir = os.path.join(ctx.work, "board")
    sizes = write_board_tables(sf_dir, BOARD_SEED)
    with open(DIGESTS) as f:
        recorded = json.load(f)
    names = board()
    rng = np.random.Generator(np.random.PCG64(ctx.seed))
    problems: list[str] = []
    if recorded["board_seed"] != BOARD_SEED or recorded["tables"] != sizes:
        problems.append(f"{DIGESTS} was recorded for other tables; rerun verify_board.py")
    expected = recorded["digests"]

    # ---- timed rounds: the seed shuffles each round's order; a new
    # round starts only if it is expected to finish inside the run length
    lat: list[float] = []
    construct: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in names}
    attempted = failed = 0
    rounds: list[float] = []
    steal: list[float] = []  # share of each round's CPU time stolen by other guests
    rounds_unstolen: list[float] = []
    loop_t0 = time.perf_counter()
    while True:
        r_t0, k0 = time.perf_counter(), cpu_ticks()
        for name in rng.permutation(names).tolist():
            attempted += 1
            tr.op = f"round{len(rounds)}:{name}"
            try:
                c_s, total, digest, _ = run_query(spark, tr, name, sf_dir, f"r{len(rounds)}")
            except Exception as ex:
                failed += 1
                problems.append(f"round {len(rounds)} {name}: {type(ex).__name__}: {str(ex)[:200]}")
                continue
            finally:
                tr.op = None
            if digest != expected.get(name):
                failed += 1
                problems.append(f"round {len(rounds)} {name}: result digest differs from the verified one")
                continue
            lat.append(total)
            construct.append(c_s)
            per_query[name].append(total)
        rounds.append(time.perf_counter() - r_t0)
        k1 = cpu_ticks()
        steal.append(steal_share(k0, k1))
        rounds_unstolen.append(unstolen(rounds[-1], k0, k1))
        if time.perf_counter() - loop_t0 + median(rounds) > ctx.seconds:
            break

    busy = sum(lat)
    q_p50 = median(lat) if lat else float("nan")
    q_tail, tail_label = tail(lat)
    qps = len(lat) / sum(rounds_unstolen)

    ctx.say(f"input: events {sizes['events']}, documents {sizes['documents']}, "
            f"embeddings {sizes['embeddings']} rows; board of {len(names)} queries "
            f"(first per module of bench.BENCH_QUERIES), {len(rounds)} timed round(s)")
    ctx.say(f"query_p50_s = {q_p50:.4f} s (median of {len(lat)} queries)")
    ctx.say(f"query_tail_s = {tail_label if q_tail is None else f'{q_tail:.4f} s ({tail_label})'}")
    ctx.say(f"queries_per_s = {qps:.4f} 1/s ({len(lat)} correct queries / {sum(rounds_unstolen):.3f} s "
            f"unstolen wall of {len(rounds)} round(s)); queries_per_s_wall = {len(lat) / sum(rounds):.4f} 1/s "
            f"({sum(rounds):.3f} s)")
    ctx.say("CPU time stolen by other guests during rounds: " + ", ".join(f"{x:.1%}" for x in steal))
    ctx.say(f"construct share = {sum(construct) / busy:.3f} of query time" if busy else "construct share = n/a")
    ctx.say(f"error_rate = {failed / attempted:.4f} ratio ({failed} of {attempted} queries failed)")
    for n in names:
        ctx.say(f"  {n:22s} {LAYER[n]:22s} " + " ".join(f"{x:.3f}" for x in per_query[n]))
    for p in problems:
        ctx.say(f"CHECK FAILED: {p}")

    return Outcome(
        setup_s=0.0,
        items_per_s=qps,
        named={
            "queries_per_s": qps,
            "queries_per_s_wall": len(lat) / sum(rounds),
            "query_p50_s": q_p50,
            "round_s": median(rounds),
            "error_rate": failed / attempted,
        },
        attempted=attempted,
        failed=failed,
        correct=not problems,
        detail={
            "board": names,
            "query_s": per_query,
            "rounds_s": rounds,
            "rounds_unstolen_s": rounds_unstolen,
            "steal": steal,
            "n_ops": len(rounds),
            "divisors": {},
        },
    )


def ratios(rows: dict[str, dict[str, float]], detail: dict) -> dict[str, float]:
    """Per-round layer rows -> the workload's layer ratios (each module's
    query runs once per round)."""
    sim = rows.get("operators.similarity", {})
    rt = rows.get("realtime", {})
    return {
        "realtime.raw_rows_per_read": rt.get("scan_rows", 0.0),
        "operators.similarity.shuffle_rows_per_output_row": (
            sim.get("shuffle_records", 0.0) / sim["rows_out"] if sim.get("rows_out") else 0.0
        ),
    }
