"""The stage x layer table and the per-layer metrics of one traced job.

Rows are the spans that issued Spark work: each pipeline stage
(``run_table``/``run_artifact``), the actions the pipeline body issues
outside any stage (``pipeline_actions``), the benchmark's final collect
(``driver_collect``) and the driver-side remainder (``glue``), which
together add up to the job's wall time. Columns are the layers that work
went through: Spark tasks (run, CPU, GC), shuffle, spill, and the Python
operators' worker boot/init, run time and Arrow bytes each way.
"""

from __future__ import annotations

import json

from spans import LAYERS, Tracer, python_operators

MB = 1e6
_WRITE_ACTIONS = ("parquet", "save", "saveAsTable")

# name -> unit; the order is the order of the result line
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "tokenize.py_run_s": "s",
    "tokenize.py_boot_s": "s",
    "tokenize.executions": "count",
    "cleaning.py_run_s": "s",
    "mining.vocab_s": "s",
    "mining.py_run_s": "s",
    "aspects.py_run_s": "s",
    "concepts.driver_s": "s",
    "concepts.spark_s": "s",
    "relations.py_run_s": "s",
    "argumentation.py_run_s": "s",
    "argumentation.arrow_in_mb": "MB",
    "argumentation.task_max_s": "s",
    "argumentation.task_max_over_median": "ratio",
    "argumentation.doc_rows_share": "ratio",
    "lineage.write_s": "s",
    "lineage.rows_s": "s",
    "lineage.read_s": "s",
    "lineage.full_run_s": "s",
    "lineage.checkpoint_mb": "MB",
    "pipeline.driver_collect_s": "s",
    "pipeline.spark_jobs": "count",
    "spark.slot_busy_share": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.py_boot_s": "s",
    "trace.overhead_s": "s",
}


def _wall(s: dict) -> float:
    return s["t1"] - s["t0"]


def _row_of(tracer: Tracer, span: dict) -> str:
    stage = tracer.nearest(span, "stage")
    if stage is not None:
        return stage["name"]
    if tracer.nearest(span, "collect") is not None:
        return "driver_collect"
    return "pipeline_actions"


def build(tracer: Tracer, status: dict, cpus: int, n_pages: int) -> dict:
    """Stage x layer rows, per-layer operator totals and Spark totals for
    the traced job (its ``kind == "job"`` spans)."""
    roots = [s for s in tracer.spans if s["kind"] == "job"]
    job_wall = sum(_wall(s) for s in roots)

    def issuer(ms: float) -> dict | None:
        t = ms / 1000.0
        for root in roots:
            if root["t0"] <= t <= root["t1"]:
                return tracer.innermost(t, root)
        return None

    rows: dict[str, dict] = {}

    def row(name: str) -> dict:
        return rows.setdefault(name, {
            "wall_s": 0.0, "jobs": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "py_run_s": 0.0, "py_boot_s": 0.0,
            "arrow_in_mb": 0.0, "arrow_out_mb": 0.0, "layers": [],
        })

    # wall time: outermost stage spans, pipeline-body actions, final collect
    for s in tracer.spans:
        parent = tracer.spans[s["parent"]] if s["parent"] is not None else None
        if parent is None or parent["kind"] != "job":
            continue
        if s["kind"] == "stage":
            row(s["name"])["wall_s"] += _wall(s)
        elif s["kind"] == "collect":
            row("driver_collect")["wall_s"] += _wall(s)
        elif s["kind"] == "action":
            row("pipeline_actions")["wall_s"] += _wall(s)
    accounted = sum(r["wall_s"] for r in rows.values())

    stages = {(st["stageId"], st["attemptId"]): st for st in status["stages"]}
    totals = {"task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
              "task_failures": 0, "jobs": 0}
    for job in status["jobs"]:
        span = issuer(job["submissionTime"])
        if span is None:
            continue
        r = row(_row_of(tracer, span))
        r["jobs"] += 1
        totals["jobs"] += 1
        for st in stages.values():
            if st["stageId"] not in job["stageIds"] or st.get("status") == "SKIPPED":
                continue
            vals = {
                "task_s": st.get("executorRunTime", 0) / 1e3,
                "cpu_s": st.get("executorCpuTime", 0) / 1e9,
                "gc_s": st.get("jvmGcTime", 0) / 1e3,
                "shuffle_write_mb": st.get("shuffleWriteBytes", 0) / MB,
                "spill_mb": (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / MB,
            }
            for k, v in vals.items():
                r[k] += v
                totals[k] += v
            totals["task_failures"] += st.get("numFailedTasks", 0)

    executions = [ex for ex in status["executions"] if issuer(ex["submitted_ms"]) is not None]
    ops = python_operators(executions)
    issuer_row = {ex["id"]: _row_of(tracer, issuer(ex["submitted_ms"])) for ex in executions}
    layer_tab = {
        name: {"py_run_s": 0.0, "py_boot_s": 0.0, "arrow_in_mb": 0.0, "arrow_out_mb": 0.0,
               "rows_out": 0, "executions": 0, "task_max_s": 0.0, "task_max_over_median": 0.0}
        for name in (*LAYERS, "other")
    }
    kernel_runs, scored_rows = 0, 0
    for op in ops:
        ran = op["rows_out"] > 0 or op["arrow_in_b"] > 0
        boot = op["py_start_s"] + op["py_init_s"]
        lt = layer_tab[op["layer"]]
        lt["py_run_s"] += op["py_run_s"]
        lt["py_boot_s"] += boot
        lt["arrow_in_mb"] += op["arrow_in_b"] / MB
        lt["arrow_out_mb"] += op["arrow_out_b"] / MB
        lt["rows_out"] += op["rows_out"]
        lt["executions"] += int(ran)
        r = row(issuer_row[op["execution"]])
        r["py_run_s"] += op["py_run_s"]
        r["py_boot_s"] += boot
        r["arrow_in_mb"] += op["arrow_in_b"] / MB
        r["arrow_out_mb"] += op["arrow_out_b"] / MB
        if ran and op["layer"] not in r["layers"]:
            r["layers"].append(op["layer"])
        if op["layer"] == "argumentation" and ran:
            if op["name"].startswith("FlatMapCoGroups"):
                kernel_runs += 1
                summary = (stages.get(op["stage"]) or {}).get("task_summary")
                if summary:
                    lt["task_max_s"] = max(lt["task_max_s"], summary["run_max_ms"] / 1e3)
                    lt["task_max_over_median"] = max(
                        lt["task_max_over_median"], summary["run_max_ms"] / max(summary["run_med_ms"], 1.0)
                    )
            else:
                scored_rows += op["rows_out"]
    doc_rows = kernel_runs * n_pages

    rows["glue"] = {"wall_s": job_wall - accounted}
    return {
        "job_wall_s": job_wall,
        "rows": rows,
        "layers": layer_tab,
        "spark": {
            **totals,
            "sql_executions": len(executions),
            "py_boot_s": sum(lt["py_boot_s"] for lt in layer_tab.values()),
            "slot_busy_share": totals["task_s"] / (job_wall * cpus) if job_wall else 0.0,
            "cpu_share": totals["cpu_s"] / totals["task_s"] if totals["task_s"] else 0.0,
        },
        "argumentation": {
            "kernel_runs": kernel_runs,
            "py_rows_in": doc_rows + scored_rows,
            "doc_rows_share": doc_rows / (doc_rows + scored_rows) if doc_rows + scored_rows else 0.0,
        },
        "lineage": _lineage(tracer, roots),
    }


def _lineage(tracer: Tracer, roots: list[dict]) -> dict:
    write_s = rows_s = read_s = 0.0
    resumed = rerun = 0
    for s in tracer.spans:
        if s["kind"] == "lineage_rows":
            rows_s += _wall(s)
        elif s["kind"] == "lineage_read":
            read_s += _wall(s)
        elif s["kind"] == "action" and s["name"] in _WRITE_ACTIONS:
            if tracer.nearest(s, "lineage_rows") is None and tracer.nearest(s, "stage") is not None:
                write_s += _wall(s)
    for root in roots:
        if root["name"] != "resume":
            continue
        for s in tracer.spans:
            if s["kind"] == "lineage_read" and s["parent"] is not None and tracer.is_under(s, root):
                stage = tracer.spans[s["parent"]]
                wrote = any(c["kind"] == "lineage_rows" and c["parent"] == stage["id"] for c in tracer.spans)
                rerun += int(wrote)
                resumed += int(not wrote)
    return {"write_s": write_s, "rows_s": rows_s, "read_s": read_s,
            "stages_resumed": resumed, "stages_rerun": rerun}


def _stage_span_wall(tracer: Tracer, name: str) -> tuple[float, float]:
    """(wall, time inside Spark actions) of the stage spans called ``name``."""
    wall = spark = 0.0
    for s in tracer.spans:
        if s["kind"] == "stage" and s["name"] == name:
            wall += _wall(s)
            spark += sum(_wall(c) for c in tracer.spans if c["kind"] == "action" and c["parent"] == s["id"])
    return wall, spark


def per_layer_metrics(tracer: Tracer, table: dict, setup: tuple[float, float], extra: dict) -> dict:
    """``setup`` is the first (cold-JVM) set-up's (start_s, warmup_s);
    ``extra`` holds what the run measured outside the traced job:
    overhead_s, full_run_s, checkpoint_mb."""
    L, sp = table["layers"], table["spark"]
    vocab_s, _ = _stage_span_wall(tracer, "phrase_vocab")
    concepts_s, concepts_spark = _stage_span_wall(tracer, "concepts")
    values = {
        "session.start_s": setup[0],
        "session.warmup_s": setup[1],
        "tokenize.py_run_s": L["tokenize"]["py_run_s"],
        "tokenize.py_boot_s": L["tokenize"]["py_boot_s"],
        "tokenize.executions": L["tokenize"]["executions"],
        "cleaning.py_run_s": L["cleaning"]["py_run_s"],
        "mining.vocab_s": vocab_s,
        "mining.py_run_s": L["mining"]["py_run_s"],
        "aspects.py_run_s": L["aspects"]["py_run_s"],
        "concepts.driver_s": concepts_s - concepts_spark,
        "concepts.spark_s": concepts_spark,
        "relations.py_run_s": L["relations"]["py_run_s"],
        "argumentation.py_run_s": L["argumentation"]["py_run_s"],
        "argumentation.arrow_in_mb": L["argumentation"]["arrow_in_mb"],
        "argumentation.task_max_s": L["argumentation"]["task_max_s"],
        "argumentation.task_max_over_median": L["argumentation"]["task_max_over_median"],
        "argumentation.doc_rows_share": table["argumentation"]["doc_rows_share"],
        "lineage.write_s": table["lineage"]["write_s"],
        "lineage.rows_s": table["lineage"]["rows_s"],
        "lineage.read_s": table["lineage"]["read_s"],
        "lineage.full_run_s": extra["full_run_s"],
        "lineage.checkpoint_mb": extra["checkpoint_mb"],
        "pipeline.driver_collect_s": table["rows"].get("driver_collect", {}).get("wall_s", 0.0),
        "pipeline.spark_jobs": sp["jobs"],
        "spark.slot_busy_share": sp["slot_busy_share"],
        "spark.gc_s": sp["gc_s"],
        "spark.shuffle_write_mb": sp["shuffle_write_mb"],
        "spark.py_boot_s": sp["py_boot_s"],
        "trace.overhead_s": extra["overhead_s"],
    }
    # six significant digits keep every measured digit (the status store
    # reports milliseconds, spans are timed to a microsecond at this scale)
    # while dropping float-summation noise, so the line stays near 1,500
    # characters
    return {k: {"value": float(f"{values[k]:.6g}"), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def render(table: dict) -> str:
    cols = ["wall_s", "jobs", "task_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
            "py_boot_s", "py_run_s", "arrow_in_mb", "arrow_out_mb"]
    lines = ["stage x layer (one traced job)", f"{'row':<18}" + "".join(f"{c:>17}" for c in cols) + "  layers"]
    for name, r in table["rows"].items():
        cells = "".join(f"{r[c]:>17.3f}" if c in r else f"{'':>17}" for c in cols)
        lines.append(f"{name:<18}{cells}  {','.join(r.get('layers', []))}")
    total = sum(r["wall_s"] for r in table["rows"].values())
    lines.append(f"{'sum of rows':<18}{total:>17.3f}   (job wall {table['job_wall_s']:.3f} s)")
    lines.append("")
    lcols = ["py_boot_s", "py_run_s", "arrow_in_mb", "arrow_out_mb", "rows_out", "executions",
             "task_max_s", "task_max_over_median"]
    lines.append(f"{'layer':<18}" + "".join(f"{c:>21}" for c in lcols))
    for name, lt in table["layers"].items():
        lines.append(f"{name:<18}" + "".join(f"{float(lt[c]):>21.3f}" for c in lcols))
    return "\n".join(lines) + "\n"


def write_side_files(prefix: str, table: dict, spans: list[dict], extra: dict) -> None:
    with open(prefix + ".json", "w") as f:
        json.dump({"table": table, "run": extra, "spans": spans}, f, indent=1, default=str)
    with open(prefix + ".txt", "w") as f:
        f.write(render(table))
        f.write(
            f"\ntracing overhead: {extra['overhead_s']:.3f} s"
            " (traced job_s minus the run's untraced median job_s)\n"
        )
