"""End-to-end benchmark of the shipped extraction job and dedup operator.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract_fresh --seed 1 \\
        --seconds 6 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``extract_fresh``: ``plans.pipeline.run_extraction`` with the job
  defaults (resume on, 16 salt buckets) into an empty output table;
- ``extract_resume``: the same job against an output table restored,
  before every repetition, to a committed run holding ~90% of the
  conversations;
- ``dedup_minhash``: ``operators.dedup.minhash_lsh_pairs`` with the
  contract query's parameters.

Everything runs at ``local[4]`` from this one Python process as a closed
loop: one job at a time, the next starts when the previous returns.
Every job's output is checked against an oracle computed outside the
timed region; a job that raises or fails its check counts in
``failed``.

``--trace 0`` prints the end-to-end metrics: ``job_s`` (median time of
one job once the JVM has warmed), ``rows_per_s`` (input rows /
``job_s``) and ``setup_s`` (JVM launch, session start and the first,
cold job).  Both times are wall seconds less the share of the box's CPU
time the hypervisor stole for other tenants meanwhile (:func:`unstolen`);
the details keep the raw wall times and stolen shares.  They add the peak
resident memory of the JVM and its Python workers while jobs run,
sampled from /proc; at the shipped heap setting it spreads too widely
across runs to be gated (see README.md).  ``--trace 1`` makes one
separate traced run and prints the per-layer metrics
(perfbench/layers.py), ``process.peak_rss_mb`` among them.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it holds the
details (input size, samples, box).  Inputs and oracles are generated in
a JVM of their own, stopped before the measured one starts, and cached
under ``perfbench/.cache``; scratch output goes to ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
MIN_JOBS = 3
# jobs run (and checked) after the set-up's cold job and before timing:
# the JIT compiles for the first few jobs, and they get faster
WARM_JOBS = 2
WORKLOADS = ("extract_fresh", "extract_resume", "dedup_minhash")


# --------------------------------------------------------------------------
# environment and session lifecycle
# --------------------------------------------------------------------------

def configure_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    let the Python workers import the package."""
    sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_session(work: str, cores: int = CORES, ui: bool = False):
    from frogocr_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    # the shipped heap setting (SPARK_DRIVER_MEM, else get_spark's default)
    conf = {"spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if ui:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def stop_jvm() -> None:
    """Stop the JVM this process launched and wait until it has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# peak RSS of the JVM and its Python workers, from /proc
# --------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(pid: int) -> int:
    kids = _children()
    total, todo = 0, [pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree under ``pid`` while :attr:`active`."""

    def __init__(self, pid: int, interval: float = 0.05):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active:
                self.peak = max(self.peak, tree_rss_bytes(self.pid))

    def take_peak(self) -> int:
        """The peak since the last call, and reset it."""
        peak, self.peak = self.peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# --------------------------------------------------------------------------
# time stolen by the hypervisor, from /proc/stat
# --------------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, busy) clock ticks summed over the box's CPUs so far."""
    with open("/proc/stat") as fh:
        t = [int(x) for x in fh.readline().split()[1:9]]
    return t[7], t[0] + t[1] + t[2] + t[5] + t[6]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """The share of the CPU time the box's processes were ready to use
    between two :func:`cpu_ticks` readings that the hypervisor ran other
    tenants' work in instead (the steal column of /proc/stat)."""
    steal, busy = after[0] - before[0], after[1] - before[1]
    return steal / (steal + busy) if steal > 0 else 0.0


def unstolen(wall: float, share: float) -> float:
    """Wall seconds less the stolen share of them: the time the work ran.
    On a shared host the hypervisor's other tenants take minutes-long
    runs of a third of this box's CPU time and more, which doubles a
    job's wall time; the time the job itself ran is what the program
    controls."""
    return wall * (1.0 - share)


def jvm_pid() -> int:
    from pyspark import SparkContext
    return SparkContext._gateway.proc.pid


# --------------------------------------------------------------------------
# jobs
# --------------------------------------------------------------------------

def run_job(spark, workload: str, input_path: str, out_dir: str,
            run_id: str):
    """The timed call: the shipped job (or dedup action) on one input;
    returns what the output check needs."""
    if workload == "dedup_minhash":
        import checks
        from frogocr_spark.operators.dedup import minhash_lsh_pairs
        from workloads import MINHASH_ARGS
        docs = spark.read.parquet(input_path)
        pairs = minhash_lsh_pairs(docs, "doc_id", "text", **MINHASH_ARGS)
        return checks.spark_pair_checksum(pairs)
    from frogocr_spark.plans.pipeline import PipelineConfig, run_extraction
    from frogocr_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    tdf = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(input_path)
    return run_extraction(spark, tdf, PipelineConfig(output_dir=out_dir,
                                                     run_id=run_id))


class Job:
    """One workload's job, its restore step and its output check."""

    def __init__(self, inputs, work: str):
        self.inputs = inputs
        self.spark = None  # set once the measured session has started
        self.out_dir = os.path.join(work, "out")
        self.run_id = "bench"

    def prepare(self) -> None:
        """Once per session: lay down the state repetitions restore to."""
        shutil.rmtree(self.out_dir, ignore_errors=True)
        if self.inputs.committed_dir:
            shutil.copytree(self.inputs.committed_dir, self.out_dir)

    def restore(self) -> None:
        """Before every repetition, outside the timed region."""
        if self.inputs.workload == "extract_fresh":
            shutil.rmtree(self.out_dir, ignore_errors=True)
        elif self.inputs.workload == "extract_resume":
            for table in ("extractions", "metrics"):
                shutil.rmtree(os.path.join(
                    self.out_dir, table, "data", f"run_id={self.run_id}"),
                    ignore_errors=True)

    def run(self):
        return run_job(self.spark, self.inputs.workload,
                       self.inputs.input_path, self.out_dir, self.run_id)

    def check(self, result) -> None:
        import checks
        exp = self.inputs.expected
        if self.inputs.workload == "dedup_minhash":
            checks.check_pairs(result, exp)
        else:
            checks.check_extraction(self.spark, self.out_dir, self.run_id,
                                    result, exp)


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.last_steal = 0.0  # stolen share of the last job

    def timed(self, job: Job, sampler: RssSampler | None = None) -> float:
        """Restore, run and check one job; returns its wall seconds and
        keeps the share of its CPU time stolen in :attr:`last_steal`."""
        job.restore()
        self.attempted += 1
        if sampler:
            sampler.active = True
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            result = job.run()
            dt = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return time.perf_counter() - t0
        finally:
            self.last_steal = steal_share(c0, cpu_ticks())
            if sampler:
                sampler.active = False
        try:
            job.check(result)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
        return dt


# --------------------------------------------------------------------------
# reporting
# --------------------------------------------------------------------------

def high_percentile(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    p = 1.0 - 10.0 / n
    s = sorted(samples)
    return {"p": round(100 * p, 1), "value": s[int(p * n) - 1]}


def box_info() -> dict:
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {"cores": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2**20, 1),
            "free_disk_gb": round(shutil.disk_usage(ROOT).free / 2**30, 1),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0], "local_cores": CORES}


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# --------------------------------------------------------------------------
# the two run kinds
# --------------------------------------------------------------------------

def prepare_inputs(workload: str, seed: int, work: str, cache: str):
    """The workload's inputs, generated on a cache miss in a session whose
    JVM is stopped before this returns: the measured JVM then starts
    cold whether or not the cache was warm."""
    import workloads
    started = []

    def session():
        if not started:
            started.append(start_session(work))
        return started[0]
    try:
        return workloads.prepare(session, workload, seed, cache)
    finally:
        if started:
            started[0].stop()
            stop_jvm()


def load_program() -> None:
    """Import the program's driver side before any timing, so that set-up
    times the same work whether or not inputs were generated first."""
    import frogocr_spark.operators.dedup  # noqa: F401
    import frogocr_spark.plans.pipeline  # noqa: F401


def start_job(args, work: str, cache: str, tally: Tally, cores: int = CORES,
              ui: bool = False) -> tuple[Job, float, float]:
    """Start the measured session and run its first, cold job (checked);
    returns the job, the set-up's wall seconds (session start plus that
    job) and the share of the set-up's CPU time stolen."""
    inputs = prepare_inputs(args.workload, args.seed, work, cache)
    load_program()
    job = Job(inputs, work)
    job.prepare()
    c0 = cpu_ticks()
    t0 = time.perf_counter()
    job.spark = start_session(work, cores=cores, ui=ui)
    t_session = time.perf_counter() - t0
    wall = t_session + tally.timed(job)
    return job, wall, steal_share(c0, cpu_ticks())


def untraced(args, work: str, cache: str) -> tuple[dict, dict, Tally]:
    tally = Tally()
    peaks: list[int] = []
    phases = {"start": time.perf_counter()}
    job, setup_wall, setup_steal = start_job(args, work, cache, tally)
    phases["setup"] = time.perf_counter()
    for _ in range(WARM_JOBS):
        tally.timed(job)
    phases["warm"] = time.perf_counter()
    walls: list[float] = []
    stolen: list[float] = []
    t0 = time.perf_counter()
    with RssSampler(jvm_pid()) as sampler:
        deadline = time.perf_counter() + args.seconds
        while len(walls) < MIN_JOBS or time.perf_counter() < deadline:
            walls.append(tally.timed(job, sampler))
            stolen.append(tally.last_steal)
            peaks.append(sampler.take_peak())
    loop_s = time.perf_counter() - t0
    phases["loop"] = time.perf_counter()
    job.spark.stop()
    stop_jvm()
    phases["stop"] = time.perf_counter()

    inputs = job.inputs
    samples = [unstolen(w, s) for w, s in zip(walls, stolen)]
    job_s = statistics.median(samples)
    metrics = {"job_s": metric(job_s, "s"),
               "rows_per_s": metric(inputs.input_rows / job_s, "rows/s"),
               "setup_s": metric(unstolen(setup_wall, setup_steal), "s")}
    details = {"input_rows": inputs.input_rows,
               "expected_rows_per_job": inputs.expected[0],
               "job_s_samples": samples, "n_jobs": len(samples),
               "job_s_high_percentile": high_percentile(samples),
               "job_wall_s_samples": walls,
               "job_wall_s": statistics.median(walls),
               "steal_share_per_job": stolen,
               "setup_wall_s": setup_wall, "setup_steal_share": setup_steal,
               "peak_rss_mb": max(peaks) / 2**20,
               "peak_rss_mb_per_job": [p / 2**20 for p in peaks],
               "loop_s": loop_s,
               # wall seconds of each phase of this run, set-up included
               "phase_s": {b: phases[b] - phases[a] for a, b in zip(
                   phases, list(phases)[1:])},
               "fail_ratio": tally.failed / max(tally.attempted, 1)}
    return metrics, details, tally


def traced(args, work: str, cache: str) -> tuple[dict, dict, Tally]:
    import layers
    tally = Tally()
    job, _, _ = start_job(args, work, cache, tally, ui=True)
    with RssSampler(jvm_pid()) as sampler:
        sampler.active = True
        metrics, details = layers.traced_run(job.spark, job, tally, work)
    metrics["process.peak_rss_mb"] = metric(sampler.peak / 2**20, "MB")
    details["input_rows"] = job.inputs.input_rows
    job.spark.stop()
    stop_jvm()
    if args.workload == "extract_fresh":
        # north-rule scaling diagnostic: the same job at local[1], after
        # a cold job
        job, _, _ = start_job(args, work, cache, tally, cores=1)
        one = tally.timed(job)
        job.spark.stop()
        stop_jvm()
        metrics["scaling.eff_1to4"] = metric(
            one / (4 * details["untraced_job_s"]), "ratio")
        details["local1_job_s"] = one
    return metrics, details, tally


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    cache = os.path.join(HERE, ".cache")
    configure_env(work)
    sys.path.insert(0, HERE)
    try:
        run = traced if args.trace else untraced
        metrics, details, tally = run(args, work, cache)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    details.update(workload=args.workload, seed=args.seed,
                   trace=args.trace, box=box_info(),
                   errors=tally.errors[:3])
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
