"""Spans around the package's layer boundaries, plus a reader for Spark's
own status stores, joined into a stage x layer table.

Spans are recorded from outside the package: ``Tracer.install`` replaces
the stage boundaries (``StageStore``/``EphemeralStore`` ``run_table`` and
``run_artifact``, and the lineage bookkeeping inside ``StageStore``) and the
Spark actions (``collect``, ``count``, ``toPandas``, writes) with wrappers
that time the call and return the original's result unchanged. Nothing is
forced or cached, so the traced plan is the production plan.

Operator numbers come from the status stores, which Spark keeps with the UI
off: the core store's jobs, stages and task quantiles, and the SQL store's
per-operator metrics (Python worker boot/init/run time, Arrow bytes to and
from Python, output rows). Each Spark job and SQL execution is attributed to
the innermost span that was open when it was submitted.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time

from pyspark.core.rdd import RDD
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

from llm_review_aggregation_spark.plans import lineage


class Tracer:
    """Spans kept in memory: dicts with id, parent, name, kind, t0, t1
    (wall-clock seconds, the clock Spark's status stores use)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "kind": kind,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()

    def _wrap(self, owner, attr: str, kind: str, name_of) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            with self.span(name_of(args, kwargs), kind):
                return orig(*args, **kwargs)

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        def stage_arg(args, kwargs):
            return kwargs.get("stage", args[1] if len(args) > 1 else "?")

        for store in (lineage.StageStore, lineage.EphemeralStore):
            self._wrap(store, "run_table", "stage", stage_arg)
            self._wrap(store, "run_artifact", "stage", stage_arg)
        self._wrap(lineage.StageStore, "is_complete", "lineage_read", stage_arg)
        self._wrap(lineage.StageStore, "_write_lineage", "lineage_rows", stage_arg)
        for owner, attrs in (
            (DataFrame, ("collect", "count", "toPandas")),
            (DataFrameWriter, ("parquet", "save", "saveAsTable")),
            (RDD, ("isEmpty",)),
        ):
            for attr in attrs:
                self._wrap(owner, attr, "action", lambda a, k, attr=attr: attr)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def innermost(self, t: float, within: dict) -> dict:
        """The deepest span under ``within`` (inclusive) open at time t."""
        best = within
        for s in self.spans:
            if s["t0"] <= t <= (s["t1"] or t) and self.is_under(s, within) and self.depth(s) > self.depth(best):
                best = s
        return best

    def depth(self, s: dict) -> int:
        d = 0
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
            d += 1
        return d

    def is_under(self, s: dict, ancestor: dict) -> bool:
        while True:
            if s["id"] == ancestor["id"]:
                return True
            if s["parent"] is None:
                return False
            s = self.spans[s["parent"]]

    def nearest(self, s: dict, kind: str) -> dict | None:
        while s is not None:
            if s["kind"] == kind:
                return s
            s = self.spans[s["parent"]] if s["parent"] is not None else None
        return None


# ---------------------------------------------------------------------------
# status stores
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STAGE_REF = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def parse_metric(value: str, metric_type: str) -> float:
    """A formatted SQL metric value -> a number: bytes for sizes, seconds
    for timings, the count for sums. Values aggregated over several tasks
    read ``total (min, med, max (stageId: taskId))\\n<total> (...)``."""
    if "\n" in value:
        value = value.split("\n", 1)[1].split(" (", 1)[0]
    value = value.strip()
    if metric_type == "size":
        num, unit = value.split()
        return float(num) * _SIZE[unit]
    if metric_type in ("timing", "nsTiming"):
        num, unit = value.split()
        return float(num) * _TIME[unit]
    return float(value.replace(",", ""))


def _json_mapper(jvm):
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$")
    return jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala_module)


def _seq(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def read_status(spark, since_ms: float) -> dict:
    """Jobs, stages (with run-time quantiles) and SQL executions submitted
    at or after ``since_ms``. Drains the listener bus first: the stores are
    filled asynchronously, after the action that caused the events returns.
    Skipped stages carry no task summary and are kept without one."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    mapper = _json_mapper(jvm)
    store = jsc.statusStore()

    jobs = [
        j for j in json.loads(mapper.writeValueAsString(store.jobsList(None)))
        if (j.get("submissionTime") or 0) >= since_ms
    ]
    wanted = {sid for j in jobs for sid in j["stageIds"]}
    no_quantiles = gw.new_array(jvm.double, 0)
    stages = {}
    for st in json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList()))
    ):
        if st["stageId"] not in wanted:
            continue
        st["task_summary"] = None
        if st.get("status") == "COMPLETE" and st.get("numCompleteTasks", 0) > 0:
            q = gw.new_array(jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summary = store.taskSummary(st["stageId"], st["attemptId"], q)
            if summary.isDefined():
                d = json.loads(mapper.writeValueAsString(summary.get()))
                st["task_summary"] = {"run_med_ms": d["executorRunTime"][0], "run_max_ms": d["executorRunTime"][1]}
        stages[(st["stageId"], st["attemptId"])] = st

    sql_store = spark._jsparkSession.sharedState().statusStore()
    executions = []
    for ex in _seq(sql_store.executionsList()):
        if ex.submissionTime() < since_ms:
            continue
        eid = ex.executionId()
        values = sql_store.executionMetrics(eid)
        nodes = []
        for node in _seq(sql_store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = (str(v.get()), m.metricType())
            if metrics:
                nodes.append({"name": node.name(), "desc": node.desc(), "metrics": metrics})
        executions.append({
            "id": eid,
            "submitted_ms": ex.submissionTime(),
            "stage_ids": sorted(int(s) for s in _seq(ex.stages())),
            "nodes": nodes,
        })
    return {"jobs": jobs, "stages": list(stages.values()), "executions": executions}


# ---------------------------------------------------------------------------
# operator -> layer
# ---------------------------------------------------------------------------

LAYERS = ("cleaning", "tokenize", "mining", "aspects", "concepts", "relations", "argumentation")
_PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "data sent to Python workers": "arrow_in_b",
    "data returned from Python workers": "arrow_out_b",
}


def operator_layer(name: str, desc: str) -> str:
    """Which package layer a Python operator of the physical plan belongs
    to, told by its UDF name and its output columns (the pandas functions
    themselves are mostly called ``gen``)."""
    d = re.sub(r"#\d+L?", "", desc)
    if "clean_text_udf(" in d:
        return "cleaning"
    if "noun_terms_udf(" in d:
        return "mining"
    if name.startswith("FlatMapCoGroups") or "per_group(" in d:
        return "argumentation"
    m = re.search(r"\), \[([^\]]*)\]", d)
    cols = {c.strip() for c in m.group(1).split(",")} if m else set()
    if "sentiment" in cols:
        return "argumentation"
    if "fst_concept" in cols:
        return "relations"
    if "entity" in cols:
        return "aspects"
    if {"term", "bucket"} <= cols:
        return "concepts"
    if {"a", "b", "c"} <= cols:
        return "mining"
    if {"sent_id", "tokens"} <= cols:
        return "tokenize"
    return "other"


def python_operators(executions: list[dict]) -> list[dict]:
    """One record per Python operator instance that ran: layer, execution
    id, Python metrics (seconds / bytes), output rows and the Spark stage
    its slowest task ran in (when the metric names one)."""
    out = []
    for ex in executions:
        for node in ex["nodes"]:
            if "time to run Python workers" not in node["metrics"]:
                continue
            rec = {
                "layer": operator_layer(node["name"], node["desc"]),
                "name": node["name"],
                "execution": ex["id"],
                "stage": None,
            }
            for label, key in _PY_METRICS.items():
                raw, typ = node["metrics"].get(label, ("0", "sum"))
                rec[key] = parse_metric(raw, typ)
                ref = _STAGE_REF.search(raw)
                if ref and rec["stage"] is None:
                    rec["stage"] = (int(ref.group(1)), int(ref.group(2)))
            raw, typ = node["metrics"].get("number of output rows", ("0", "sum"))
            rec["rows_out"] = parse_metric(raw, typ)
            if rec["stage"] is None and ex["stage_ids"]:
                # one task only: no stage reference in the metric; the
                # operator sits in the execution's last (result) stage
                rec["stage"] = (ex["stage_ids"][-1], 0)
            out.append(rec)
    return out
