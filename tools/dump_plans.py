"""Dump .explain('formatted') for selected declared queries into
plans/<round>/<name>_<tag>.txt (the before/after plan artifacts). Two
pseudo-names cover surfaces that are not declared queries:

- ``transcript_rollup_1m``: the transcript 1m tier rollup plan;
- ``run_pipeline_bucket``: every SQL execution of a one-bucket
  ``checkpoint.run_pipeline(compress=True)`` over 1m/1h/1d, each with
  its exchange/join/job counts, read from the SQL status store.

Usage: python tools/dump_plans.py <tag> [sf_dir] [query ...]
  tag: e.g. "before" / "after" (suffix of the artifact files)
  query: declared query names and/or pseudo-names (default: the
  DEFAULT_QUERIES and both pseudo-names)
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    "gapfill",
    "latency_percentiles",
    "cosine_topk",
    "ann_topk",
    "ivf_trained",
    "percentile_digest_ok",
    "range_stitch",
    "cover_accumulation",
    "cover_jaccard",
    "stream_rollup",
]
ROUND = "r09"


def transcript_rollup_1m(spark) -> str:
    from gmql_spark.datagen import ROLES, TOOL_NAMES, transcripts_spark
    from gmql_spark.operators.rollup import rollup, with_gap_seconds

    raw = transcripts_spark(spark, n_conv=50)
    raw_g = with_gap_seconds(raw).select(
        "conv_id", "ts", "role", "tool", "gap_us", "gap_s"
    )
    m1 = rollup(raw_g, "1m", with_gaps=False, role_values=list(ROLES),
                tool_values=list(TOOL_NAMES))
    return m1._sc._jvm.PythonSQLUtils.explainString(
        m1._jdf.queryExecution(), "formatted"
    )


def run_pipeline_bucket(spark) -> str:
    """Final (AQE) plans of every SQL execution one bucket of
    ``run_pipeline`` launches, sorted by the path each one writes."""
    from gmql_spark.checkpoint import run_pipeline
    from gmql_spark.datagen import transcripts_spark
    from gmql_spark.sources.catalog import write_transcripts

    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    with tempfile.TemporaryDirectory() as tmp:
        write_transcripts(transcripts_spark(spark, n_conv=50), f"{tmp}/fact", n_buckets=1)
        bus.waitUntilEmpty()
        seen = {int(e.executionId()) for e in conv.asJava(store.executionsList())}
        run_pipeline(spark, None, f"{tmp}/out", n_buckets=1, raw_path=f"{tmp}/fact",
                     compress=True)
        bus.waitUntilEmpty()
        runs = []
        for e in conv.asJava(store.executionsList()):
            eid = int(e.executionId())
            if eid in seen:
                continue
            plan = e.physicalPlanDescription().replace(tmp, "<tmp>")
            names = [n.name() for n in conv.asJava(store.planGraph(eid).allNodes())]
            m = re.search(r"InsertIntoHadoopFsRelationCommand\nInput: .*\n"
                          r"Arguments: file:<tmp>/out/(\w+)/", plan)
            runs.append((
                m.group(1) if m else "(no write)",
                names.count("Exchange"),
                sum("Join" in n for n in names),
                len(conv.asJava(e.jobs())),
                plan,
            ))
    runs.sort(key=lambda r: r[0])
    head = [f"{len(runs)} SQL executions, {sum(r[3] for r in runs)} jobs, "
            f"{sum(r[1] for r in runs)} Exchange, {sum(r[2] for r in runs)} Join"]
    head += [f"  {w}: {x} Exchange, {j} Join, {n} job(s)" for w, x, j, n, _ in runs]
    body = [f"\n===== {w} =====\n{plan}" for w, _x, _j, _n, plan in runs]
    return "\n".join(head + body)


PSEUDO = {
    "transcript_rollup_1m": transcript_rollup_1m,
    "run_pipeline_bucket": run_pipeline_bucket,
}


def main() -> int:
    tag = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    names = sys.argv[3:] or DEFAULT_QUERIES + list(PSEUDO)

    import __spark_entry__ as entrymod
    from gmql_spark.session import get_spark

    spark = get_spark(8, app_name=f"dump-plans-{tag}", shuffle_partitions=16)
    out_dir = os.path.join(REPO, "plans", ROUND)
    os.makedirs(out_dir, exist_ok=True)
    qs = entrymod.queries()
    for name in names:
        if name in PSEUDO:
            plan = PSEUDO[name](spark)
        else:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{tag}.txt ({plan.count('Exchange')} Exchange)",
              file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
