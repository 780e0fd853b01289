"""KG-construction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_uniform --seed 1 --seconds 20 --trace 0

Run from the repository root. The run

1. writes the workload's seeded corpus (``inputs.py``) under ``perfbench/out``;
2. sets up once, cold: it launches the JVM, starts a SparkSession on
   ``local[4]`` and warms it up (a JVM query, and a Python worker per slot
   importing the package);
3. makes the preparation run, the workload's first run on the corpus: it
   compiles the plans' generated code and, when checkpointed, leaves the
   crashed work_dir the jobs resume from; meanwhile another process
   computes the expected triples with the package's loop-based oracle
   (cached per input); neither is in any metric;
4. runs the workload's job back to back, one at a time (a closed loop with
   one client), for ``--seconds`` and at least three jobs, checking every
   job's triples against the oracle, while a thread samples the Python
   workers' RSS from ``/proc``;
5. with ``--trace 1``, runs one more job with spans installed and reads
   Spark's status stores, writes the stage x layer table to
   ``perfbench/out/trace-<workload>-<seed>.{json,txt}`` and prints the
   per-layer metrics instead of the end-to-end ones.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
``BENCHMARK.json`` lists the metrics and README.md defines them.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
PACKAGE = "llm_review_aggregation_spark"

CPUS = 4
N_PAGES, N_GROUPS = 1000, 40
# the first timed job after the preparation run is still 10-30% slower
# than the ones after it, so the median needs at least three
MIN_JOBS = 3
# crash after E6: the stages E7 and materialize write, with their lineage
CRASHED_STAGES = ("arguments", "triples")


@dataclass(frozen=True)
class Workload:
    name: str
    checkpointed: bool
    zipf_s: float | None


WORKLOADS = {
    w.name: w
    for w in (
        # ephemeral production path (fused E1+E2, no lineage), equal groups
        Workload("kg_uniform", checkpointed=False, zipf_s=None),
        # parquet work_dir, crash after E6, resume; Zipf(1.5) groups put
        # about 45% of the pages in one group, so E7's cogroup is skewed
        Workload("kg_zipf_resume", checkpointed=True, zipf_s=1.5),
    )
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        close = stat.rfind(")")
        comm = stat[stat.find("(") + 1 : close]
        table[int(name)] = (int(stat[close + 2 :].split()[1]), comm)
    return table


def descendants(root: int) -> dict[int, str]:
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1]
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Samples, every ``period`` s, the RSS of every Python process below
    this one (the pyspark daemon and the workers it forks) and keeps the
    highest single-process value."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period):
            for pid, comm in descendants(me).items():
                if not comm.startswith("python"):
                    continue
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        rss = int(f.read().split()[1]) * self._page
                except OSError:
                    continue
                self.peak_bytes = max(self.peak_bytes, rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    run started to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    if left:
        _log(f"killing processes left behind: {left}")
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    for pid in left:
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, 0)


# ---------------------------------------------------------------------------
# the job
# ---------------------------------------------------------------------------


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    )


def simulate_crash(work_dir: str) -> None:
    """Leave ``work_dir`` as a run killed right after E6 leaves it: the
    checkpoints and lineage rows of the later stages are gone."""
    for stage in CRASHED_STAGES:
        shutil.rmtree(os.path.join(work_dir, stage))
        shutil.rmtree(os.path.join(work_dir, "_lineage", stage))


class Runner:
    """Runs the workload's pipeline; ``tracer`` (a ``spans.Tracer``) adds
    the job-level spans the stage x layer table hangs from."""

    def __init__(self, workload: Workload, cfg, work_dir: str, tracer=None):
        self.wl = workload
        self.cfg = cfg
        self.work_dir = work_dir
        self.crashed = work_dir + ".crashed"
        self.tracer = tracer

    def _span(self, name: str, kind: str):
        return self.tracer.span(name, kind) if self.tracer else contextlib.nullcontext()

    def _timed(self, name: str, spark, pages, work_dir=None) -> tuple[float, list]:
        from llm_review_aggregation_spark.plans.pipeline import run_pipeline

        t0 = time.perf_counter()
        with self._span(name, "job"):
            with run_pipeline(spark, pages, self.cfg, work_dir=work_dir) as res:
                with self._span("driver_collect", "collect"):
                    rows = [tuple(r) for r in res.triples.collect()]
        return time.perf_counter() - t0, rows

    def _full_run_and_crash(self, spark, pages) -> tuple[dict, list]:
        shutil.rmtree(self.work_dir, ignore_errors=True)
        full_s, rows = self._timed("full_run", spark, pages, self.work_dir)
        checkpoint_mb = _du(self.work_dir) / 1e6
        simulate_crash(self.work_dir)
        return {"full_s": full_s, "checkpoint_mb": checkpoint_mb}, rows

    def prepare(self, spark, pages) -> tuple[dict, list[list]]:
        """The workload's first run on the corpus, outside every metric: it
        compiles the plans' generated code and, when checkpointed, leaves
        the crashed work_dir that every job resumes from."""
        if not self.wl.checkpointed:
            first_s, rows = self._timed("job", spark, pages)
            return {"first_job_s": first_s}, [rows]
        info, rows = self._full_run_and_crash(spark, pages)
        shutil.rmtree(self.crashed, ignore_errors=True)
        shutil.copytree(self.work_dir, self.crashed)
        return info, [rows]

    def job(self, spark, pages) -> tuple[float, list[list]]:
        """One timed job: the ephemeral pipeline, or the resume from the
        crashed work_dir (restored before the clock starts)."""
        if not self.wl.checkpointed:
            job_s, rows = self._timed("job", spark, pages)
            return job_s, [rows]
        shutil.rmtree(self.work_dir, ignore_errors=True)
        shutil.copytree(self.crashed, self.work_dir)
        job_s, rows = self._timed("resume", spark, pages, self.work_dir)
        return job_s, [rows]

    def traced(self, spark, pages) -> tuple[dict, list[list]]:
        """The job under spans; checkpointed, it includes the full run and
        the crash, so the checkpoint writes are traced too."""
        if not self.wl.checkpointed:
            job_s, rows = self.job(spark, pages)
            return {"job_s": job_s}, rows
        info, full = self._full_run_and_crash(spark, pages)
        resume_s, rows = self._timed("resume", spark, pages, self.work_dir)
        return {**info, "job_s": resume_s}, [full, rows]


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def start_session():
    from llm_review_aggregation_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        cpus=CPUS,
        shuffle_partitions=CPUS,
        extra={
            "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
            # -XX:-UsePerfData: the JVM would write /tmp/hsperfdata_<user>
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _import_package(batches):
    import llm_review_aggregation_spark.plans.pipeline  # noqa: F401

    yield from batches


def set_up() -> tuple[object, float, float]:
    """Launch the JVM, start the session and warm it up: a JVM query, and a
    Python worker per slot that imports the package (pandas, pyarrow
    included). Returns (spark, start_s, warmup_s)."""
    t0 = time.perf_counter()
    spark = start_session()
    t1 = time.perf_counter()
    spark.range(1 << 20).selectExpr("sum(id)").collect()
    spark.range(0, CPUS, 1, CPUS).mapInPandas(_import_package, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _clean(run_dir: str, runner: Runner) -> None:
    for path in (run_dir, runner.work_dir, runner.crashed):
        shutil.rmtree(path, ignore_errors=True)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _log(f"no {PACKAGE} package next to perfbench/ in {ROOT}; nothing to benchmark")
        return 2
    # this run's Spark and JVM scratch space, removed when the run ends
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # Python workers are forked by a daemon the JVM starts: they find the
    # package through PYTHONPATH, whatever the current directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the launcher JVM that spark-submit runs first: keep it out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    import __spark_entry__ as entry
    import inputs
    import oracle
    from llm_review_aggregation_spark import synth

    wl = WORKLOADS[args.workload]
    cfg = entry._KG_CFG
    tag = f"{wl.name}-{args.seed}"
    corpus = inputs.write_corpus(
        os.path.join(OUT, "inputs", tag), inputs.documents(args.seed, N_PAGES, N_GROUPS, wl.zipf_s)
    )
    runner = Runner(wl, cfg, os.path.join(OUT, "work", tag))

    spark, start_s, warmup_s = set_up()
    _log(f"set-up: start_s {start_s:.2f}, warmup_s {warmup_s:.2f}")

    pages = synth.pages_from_documents(spark, corpus)
    errors: list[str] = []

    def correct(row_sets) -> bool:
        for rows in row_sets:
            err = oracle.mismatch(rows, expected)
            if err:
                errors.append(err)
                return False
        return True

    pages_pdf = pages.toPandas()
    expected_path = oracle.cache_path(pages_pdf, cfg, os.path.join(OUT, "oracle"))
    computing = None
    if not os.path.exists(expected_path):
        # the oracle runs in its own process while the preparation run,
        # which no metric includes, keeps Spark busy
        pages_file = os.path.join(run_dir, "pages.parquet")
        pages_pdf.to_parquet(pages_file)
        computing = subprocess.Popen([sys.executable, oracle.__file__, pages_file, expected_path])
    try:
        prep, row_sets = runner.prepare(spark, pages)
    finally:
        if computing is not None and computing.wait() != 0:
            raise RuntimeError(f"the oracle exited with code {computing.returncode}")
    expected = oracle.load(expected_path)
    attempted, failed = 1, int(not correct(row_sets))
    job_times, last_rows = [], None
    with RssSampler() as rss:
        deadline = time.perf_counter() + args.seconds
        for n in itertools.count(1):
            attempted += 1
            try:
                job_s, row_sets = runner.job(spark, pages)
            except Exception as e:  # a failed job is counted, not fatal
                errors.append(repr(e))
                failed += 1
            else:
                # a wrong job still took its time; it counts as failed
                job_times.append(job_s)
                if correct(row_sets):
                    last_rows = row_sets[-1]
                else:
                    failed += 1
            if n >= MIN_JOBS and time.perf_counter() >= deadline:
                break
    _log(
        f"prep {prep}; jobs {[round(t, 3) for t in job_times]}; worker peak RSS "
        f"{rss.peak_bytes / 1e6:.1f} MB; {time.perf_counter() - t_main:.1f} s so far"
    )
    for e in errors[:3]:
        _log(f"error: {e}")
    if not job_times:
        _log(f"every one of {attempted} jobs failed")
        stop_spark(spark)
        _clean(run_dir, runner)
        return 1
    job_s = statistics.median(job_times)

    if args.trace:
        import layers
        import spans

        tracer = spans.Tracer()
        since_ms = time.time() * 1000.0
        tracer.install()
        try:
            traced, row_sets = Runner(wl, cfg, runner.work_dir, tracer).traced(spark, pages)
        finally:
            tracer.uninstall()
        attempted += 1
        # the traced triples must equal the untraced ones (and the oracle)
        if not correct(row_sets) or (last_rows is not None and sorted(row_sets[-1]) != sorted(last_rows)):
            failed += 1
            errors.append("traced job's triples differ from the untraced job's")
        table = layers.build(tracer, spans.read_status(spark, since_ms), CPUS, N_PAGES)
        extra = {
            "overhead_s": traced["job_s"] - job_s,
            "full_run_s": traced.get("full_s", 0.0),
            "checkpoint_mb": prep.get("checkpoint_mb", 0.0),
        }
        metrics = layers.per_layer_metrics(tracer, table, (start_s, warmup_s), extra)
        layers.write_side_files(os.path.join(OUT, f"trace-{wl.name}-{args.seed}"), table, tracer.spans, extra)
    else:
        metrics = {
            "setup_s": _metric(start_s + warmup_s, "s"),
            "job_s": _metric(job_s, "s"),
            "triples_per_s": _metric(len(expected) / job_s, "1/s"),
            "py_worker_peak_rss_mb": _metric(rss.peak_bytes / 1e6, "MB"),
        }
    t_stop = time.perf_counter()
    stop_spark(spark)
    _clean(run_dir, runner)
    _log(f"stopped in {time.perf_counter() - t_stop:.1f} s; run took {time.perf_counter() - t_main:.1f} s")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics},
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
