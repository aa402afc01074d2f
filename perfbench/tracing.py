"""Spans around the benchmark's calls into ``gmql_spark``, plus the Spark
work each span caused, read from Spark's own status stores.

A span is opened by the benchmark around one call into a layer (a
``gmql_spark`` module). It records name, layer, phase (``construct`` for
building a DataFrame, ``action`` for running it, ``call`` for a function
that does both), start, end, parent span and op id, and runs the call
under its own Spark job group. Nothing is read from Spark while a span
is open: after the timed loop, ``collect`` maps every Spark job to the
innermost span by job group (or, for jobs that run on other threads
such as a streaming query's micro-batches, by submission time) and reads
per-job stage metrics from the application status store and per-query
plan metrics from the SQL status store. No extra Spark job runs.

A disabled tracer opens no spans and touches no job group, so the
untraced run times the program alone.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

PYTHON_TIME_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
_WRITE_NODES = re.compile(r"InsertInto|OverwriteByExpression|AppendData|WriteToDataSource")
_PYTHON_NODES = re.compile(r"Python|Pandas|InArrow")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str | None) -> float:
    """Total of one SQL metric as the status store formats it: ``"1,000"``,
    ``"1.7 s"``, ``"24.2 KiB"``, or a ``total (min, med, max ...)`` header
    followed by the total on the next line."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNIT_S.get(unit, _UNIT_B.get(unit, 1))


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    def bind(self, spark) -> None:
        self.spark = spark

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str | None, name: str, phase: str = "call", classify=None):
        """``classify(plan_description) -> layer | None`` re-attributes a
        span's SQL executions to an inner layer that the benchmark does
        not call directly (e.g. the rollup and Gorilla writes inside
        ``checkpoint.run_pipeline``)."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "phase": phase,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "group": f"perfbench-span-{sid}",
            "start": time.perf_counter(),
            "start_epoch_ms": time.time() * 1000.0,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["end_epoch_ms"] = time.time() * 1000.0
            if classify is not None:
                rec["classify"] = classify
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["group"] if self._stack else None)

    # ------------------------------------------------------------ collect

    def collect(self) -> None:
        """Attach Spark-side counts to every span (after the timed loop)."""
        if not self.enabled or self.spark is None:
            return
        spark = self.spark
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        app = jsc.statusStore()
        sql = spark._jsparkSession.sharedState().statusStore()

        by_group = {s["group"]: s for s in self.spans}
        for s in self.spans:
            s.update(jobs=[], job_metrics={}, executions=[])

        def innermost(t_ms: float) -> dict | None:
            best = None
            for s in self.spans:
                if s["start_epoch_ms"] <= t_ms <= s.get("end_epoch_ms", -1):
                    best = s  # spans are appended in start order
            return best

        job_span: dict[int, dict] = {}
        for job in conv.asJava(app.jobsList(None)):
            group = job.jobGroup()
            span = by_group.get(group.get() if group.isDefined() else None)
            if span is None and job.submissionTime().isDefined():
                span = innermost(float(job.submissionTime().get().getTime()))
            if span is None:
                continue
            row = {"shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0}
            for sid in conv.asJava(job.stageIds()):
                st = app.lastStageAttempt(int(sid))
                row["shuffle_bytes"] += int(st.shuffleWriteBytes())
                row["shuffle_records"] += int(st.shuffleWriteRecords())
                row["spill_bytes"] += int(st.diskBytesSpilled())
            jid = int(job.jobId())
            span["jobs"].append(jid)
            span["job_metrics"][jid] = row
            job_span[jid] = span

        for ex in conv.asJava(sql.executionsList()):
            jids = [int(j) for j in conv.asJava(ex.jobs()).keySet()]
            span = next((job_span[j] for j in jids if j in job_span), None)
            if span is None:
                continue
            eid = ex.executionId()
            metrics = conv.asJava(sql.executionMetrics(eid))
            names = [(n, n.name()) for n in conv.asJava(sql.planGraph(eid).allNodes())]
            info = {
                "id": int(eid),
                "jobs": jids,
                "duration_s": (
                    (ex.completionTime().get().getTime() - ex.submissionTime()) / 1000.0
                    if ex.completionTime().isDefined()
                    else 0.0
                ),
                "exchanges": sum(1 for _n, name in names if name == "Exchange"),
                "python_s": 0.0,
                "scan_rows": 0.0,
                "rows_out": 0.0,
            }
            # metric values are read only for the nodes they are kept for
            for n, name in names:
                is_scan, is_write = name.startswith("Scan"), bool(_WRITE_NODES.search(name))
                if not (is_scan or is_write or _PYTHON_NODES.search(name)):
                    continue
                for m in conv.asJava(n.metrics()):
                    mname = m.name()
                    if mname in PYTHON_TIME_METRICS:
                        info["python_s"] += parse_metric(metrics.get(m.accumulatorId()))
                    elif mname == "number of output rows" and (is_scan or is_write):
                        key = "scan_rows" if is_scan else "rows_out"
                        info[key] += parse_metric(metrics.get(m.accumulatorId()))
            classify = span.get("classify")
            info["layer"] = (classify(ex.physicalPlanDescription()) if classify else None) or span["layer"]
            span["executions"].append(info)

    # ------------------------------------------------------------ report

    def layer_table(self) -> dict[str, dict[str, float]]:
        """Per-layer sums over all spans. ``busy_s`` is self time: span
        time not covered by child spans or by executions handed to an
        inner layer. A span may carry its own ``rows_out`` (rows its sink
        received, e.g. from an observed count); otherwise rows written by
        its write commands count."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            own_layer = s["layer"]
            handed_off = 0.0
            job_layer = {}
            for ex in s.get("executions", []):
                row = out[ex["layer"]]
                for k in ("exchanges", "python_s", "scan_rows"):
                    row[k] += ex[k]
                if "rows_out" not in s:
                    row["rows_out"] += ex["rows_out"]
                if ex["layer"] != own_layer:
                    handed_off += ex["duration_s"]
                    row["busy_s"] += ex["duration_s"]
                    job_layer.update(dict.fromkeys(ex["jobs"], ex["layer"]))
            for jid, m in s.get("job_metrics", {}).items():
                layer = job_layer.get(jid, own_layer)
                if layer is None:
                    continue
                row = out[layer]
                row["jobs"] += 1
                for k, v in m.items():
                    row[k] += v
                if s["phase"] == "construct" and layer == own_layer:
                    row["construct_jobs"] += 1
            if own_layer is None:
                continue
            row = out[own_layer]
            self_s = max(s["end"] - s["start"] - child_time[s["id"]] - handed_off, 0.0)
            row["busy_s"] += self_s
            row["rows_out"] += s.get("rows_out", 0.0)
            if s["phase"] != "action":
                row["calls"] += 1
            if s["phase"] == "construct":
                row["construct_s"] += self_s
        return {k: dict(v) for k, v in out.items()}

    def dump(self) -> list[dict]:
        """Spans as plain JSON-able records."""
        keep = ("id", "name", "layer", "phase", "parent", "op", "start", "end",
                "jobs", "job_metrics", "executions")
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s in self.spans:
            rec = {k: s.get(k) for k in keep}
            rec["start"] = round(s["start"] - t0, 6)
            rec["end"] = round(s["end"] - t0, 6)
            out.append(rec)
        return out
