"""Benchmark of the gmql_spark engine, end to end and layer by layer.

    python3 perfbench/run.py --workload tier_build --seed 1 --seconds 30 --trace 0

Run from the root of a source tree. Workloads:

- ``tier_build``: the retention tiers kept fresh by an incremental
  append + refresh step, and rebuilt by the resumable batch job
  (``checkpoint.run_pipeline`` with Gorilla streams);
- ``operator_mix``: the board queries of ``bench.BENCH_QUERIES``, one per
  operator module, over seeded tables.

One process, one Spark session on ``local[<cores of this process>]``,
one op in flight (a closed loop with a single client). The seed drives
every generated input and the query order. Every op's output is checked;
checking time is kept out of every metric.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` spans are recorded around each call
into a layer and the metrics are per layer (per timed op), from Spark's
status stores. The lines before it give every metric by its workload's
own name, the box context (load average, CPU steal,
``bench._calibration``) and,
for a traced run, the per-layer table and the tracing overhead against
the last untraced run of the same workload and seed. Full results (and
spans) are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tier_build", "operator_mix")
PROGRAM_FILES = ("gmql_spark/__init__.py", "bench.py", "__spark_entry__.py", "tools/check_entry.py")

# the end-to-end metrics every workload reports, and what items_per_s means there
WORKLOAD_E2E = {"tier_build": "turns_per_s of a rebuild", "operator_mix": "queries_per_s"}
E2E_UNITS = {"items_per_s": "1/s", "setup_s": "s"}
LAYERS = (
    "session",
    "sources.catalog",
    "checkpoint",
    "operators.rollup",
    "compression.gorilla",
    "incremental.append_transcripts",
    "incremental.refresh_tiers",
    "realtime",
    "streaming",
    "operators.window_agg",
    "operators.gapfill",
    "operators.order",
    "operators.difference",
    "operators.join",
    "operators.map_agg",
    "operators.cover",
    "operators.similarity",
    "functions.tdigest",
    "functions.sketches",
)
BOARD_LAYERS = LAYERS[LAYERS.index("realtime"):]
LAYER_UNITS = {
    "busy_s": "s",
    "jobs": "count",
    "shuffle_bytes": "B",
    "construct_s": "s",
    "construct_jobs": "count",
    "exchanges": "count",
    "python_s": "s",
}
# metrics per layer beyond busy_s/jobs/shuffle_bytes: the ones that are
# non-zero for that layer and an optimisation of it is most likely to move
LAYER_EXTRAS = {
    "checkpoint": ("exchanges",),
    "operators.rollup": ("exchanges",),
    "compression.gorilla": ("exchanges", "python_s"),
    "incremental.append_transcripts": ("exchanges",),
    "incremental.refresh_tiers": ("exchanges",),
    **{layer: ("construct_s", "construct_jobs", "exchanges") for layer in BOARD_LAYERS},
    "operators.difference": ("construct_s", "construct_jobs"),
    "operators.similarity": ("construct_s", "construct_jobs", "exchanges", "python_s"),
    "functions.tdigest": ("construct_s", "construct_jobs", "exchanges", "python_s"),
}
RATIOS = {
    "checkpoint.jobs_per_bucket": "count",
    "compression.gorilla.bytes_per_point": "B",
    "incremental.refresh_rows_read_per_row_appended": "ratio",
    "realtime.raw_rows_per_read": "count",
    "operators.similarity.shuffle_rows_per_output_row": "ratio",
}


def per_op(table: dict, divisors: dict, n_ops: int) -> dict:
    """Layer totals per timed op; setup layers per call (``divisors``)."""
    return {
        layer: {m: v / (divisors.get(layer) or (1 if layer == "session" else n_ops)) for m, v in row.items()}
        for layer, row in table.items()
    }


def per_layer_metrics(rows: dict, ratios: dict) -> dict:
    """Every declared per-layer metric; a layer the workload does not call
    reads 0."""
    out = {}
    for layer in LAYERS:
        row = rows.get(layer, {})
        for metric in ("busy_s", "jobs", "shuffle_bytes", *LAYER_EXTRAS.get(layer, ())):
            out[f"{layer}.{metric}"] = {"value": row.get(metric, 0.0), "unit": LAYER_UNITS[metric]}
    for name, unit in RATIOS.items():
        out[name] = {"value": ratios.get(name, 0.0), "unit": unit}
    return out


def setup_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["GMQL_SPARK_DRIVER_MEM"] = "2g"
    # both JVMs (spark-submit's launcher and Spark's): temp files in the
    # work dir, no hsperfdata under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import gmql_spark and the benchmark's modules too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources missing under {ROOT}: {', '.join(missing)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    setup_env(work)

    import bench
    from common import Run, cpu_ticks, start_spark, steal_share, stop_spark, timed, unstolen
    from tracing import Tracer

    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    run_t0 = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))
    t0, k0 = time.perf_counter(), cpu_ticks()
    with tracer.span("session", "session.get_spark"):
        spark = start_spark(work, cores)
    # bench._calibration (a fixed 16M-row hash-and-reduce) once per run:
    # its wall is the box context, and it warms the session (JVM, code
    # generation, scheduler) as an untimed warm-up op, which more than
    # pays for itself in the workload
    calibration, _ = timed(bench._calibration, spark)
    session_s = time.perf_counter() - t0
    session_unstolen = unstolen(session_s, k0, cpu_ticks())
    tracer.bind(spark)
    ctx = Run(spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds, work=work)
    workload = importlib.import_module(args.workload)
    try:
        outcome = workload.run(ctx)
        collect_s, _ = timed(tracer.collect)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    load_end, steal = os.getloadavg(), steal_share(ticks_start, cpu_ticks())

    setup_s = session_unstolen + outcome.setup_s
    outcome.named["setup_s_wall"] = session_s + outcome.detail.get("staging_wall_s", 0.0)
    e2e = {"items_per_s": outcome.items_per_s, "setup_s": setup_s}
    lines = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} master=local[{cores}]",
        *ctx.human,
        f"setup_s = {setup_s:.4f} s unstolen (session start and warm-up {session_unstolen:.3f} s, staging "
        f"{outcome.setup_s:.3f} s); setup_s_wall = {outcome.named['setup_s_wall']:.4f} s",
        f"items_per_s = {outcome.items_per_s:.4f} 1/s (the workload's {WORKLOAD_E2E[args.workload]})",
        f"box: loadavg start {load_start[0]:.2f}/{load_start[1]:.2f}/{load_start[2]:.2f}, "
        f"end {load_end[0]:.2f}/{load_end[1]:.2f}/{load_end[2]:.2f}; CPU time stolen by other guests "
        f"{steal:.1%}; "
        f"bench._calibration {calibration:.3f} s (cold, first op of the session); run wall {time.perf_counter() - run_t0:.1f} s",
    ]

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "e2e": e2e,
        "named": outcome.named,
        "detail": outcome.detail,
        "session_s": session_s,
        "box": {"loadavg_start": load_start, "loadavg_end": load_end, "steal": steal, "calibration_s": calibration},
    }
    if args.trace:
        table = tracer.layer_table()
        rows = per_op(table, outcome.detail["divisors"], outcome.detail["n_ops"])
        metrics = per_layer_metrics(rows, workload.ratios(rows, outcome.detail))
        lines.append(f"per-layer totals over {outcome.detail['n_ops']} timed op(s) "
                     f"(busy_s is self time; JSON values are per op; read in {collect_s:.1f} s):")
        for layer, row in sorted(table.items()):
            lines.append("  " + layer + ": " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(row.items())))
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            base = {**base["e2e"], **base["named"]}
            lines.append("tracing overhead (traced - untraced, same seed): " + ", ".join(
                f"{k} {v - base[k]:+.4f} ({(v - base[k]) / base[k]:+.1%})"
                for k, v in {**e2e, **outcome.named}.items() if base.get(k)
            ))
        else:
            lines.append(f"tracing overhead: no untraced run of seed {args.seed} on record to compare")
        record["layers"] = table
        record["spans"] = tracer.dump()
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    result = {
        "correct": outcome.correct and outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }
    record.update(result, lines=lines)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for line in lines:
        print("# " + line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
