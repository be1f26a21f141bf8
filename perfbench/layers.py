"""The traced run: per-layer metrics measured from outside the program.

Three sources, none of which changes program code:

1. **Spans** recorded by this file around the public calls that
   ``run_extraction`` makes (``processed_keys``, ``filter_unprocessed``,
   ``salted_repartition``, ``extract_turns``, ``Table.append`` and
   ``build_sidecar``) and around ``minhash_lsh_pairs``.  The wrappers are
   installed on the names the caller looks up and removed afterwards.
   Spans on lazy calls measure plan construction; spans on actions
   measure execution.  Spans are kept in memory and reported at the end.
2. **Spark's REST API** (UI enabled only in this run): Spark jobs, stage
   totals and per-node SQL metrics.  Node metrics are task-time sums; an
   action's wall is split across scan, anti-join, exchange, UDF and write
   in proportion to their share of the action's executor run time.
3. **Spark 4's UDF profiler** (``spark.sql.pyspark.udf.profiler=perf``)
   for the Arrow in/out split, plus in-process timing of each class
   extractor's public function on the workload's own rows.

The layer table must add up to the root span: ``unattributed_s`` (root
minus every attributed layer) may be at most ``LAYER_SUM_TOLERANCE`` of
the root, or the traced job counts as failed.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import pstats
import statistics
import time
import urllib.request

LAYER_SUM_TOLERANCE = 0.15
CLASSES = ("plain", "tool_json", "markdown", "html", "pdf_layout",
           "two_pass")

# every per-layer metric, with its unit; workloads that do not exercise a
# layer report 0 for it
UNITS = {
    "plans.pipeline.job_s": "s",
    "plans.pipeline.unattributed_s": "s",
    "trace.overhead_s": "s",
    "sources.catalog.processed_keys_s": "s",
    "operators.resume.antijoin_s": "s",
    "operators.resume.rows_kept_ratio": "ratio",
    "operators.skew.exchange_s": "s",
    "operators.skew.shuffle_bytes_per_row": "bytes",
    "operators.skew.max_task_rows_ratio": "ratio",
    "sources.catalog.scan_s": "s",
    "operators.extraction.udf_s": "s",
    "operators.extraction.arrow_in_us_per_row": "us/row",
    "operators.extraction.arrow_out_us_per_row": "us/row",
    "core.sniff.us_per_row": "us/row",
    **{f"core.extract.{c}.rows": "count" for c in CLASSES},
    **{f"core.extract.{c}.us_per_row": "us/row" for c in CLASSES},
    "sources.catalog.append_s": "s",
    "sources.catalog.bytes_written": "bytes",
    "plans.metrics.sidecar_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.peak_jvm_heap_bytes": "bytes",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "process.peak_rss_mb": "MB",
    "operators.dedup.signature_s": "s",
    "operators.dedup.band_exchange_bytes_per_row": "bytes",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pairs_out": "count",
    "operators.dedup.useful_ratio": "ratio",
    "operators.dedup.verify_s": "s",
    "scaling.eff_1to4": "ratio",
}


class LayerSumError(Exception):
    """The per-layer table does not add up to the root span."""

    def __init__(self, message: str, table: dict[str, float]):
        super().__init__(message)
        self.table = table


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans: ``(name, start, end, depth)`` in epoch seconds."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []
        self._depth = 0

    @contextlib.contextmanager
    def span(self, name: str):
        self._depth += 1
        t0 = time.time()
        try:
            yield
        finally:
            self._depth -= 1
            self.spans.append((name, t0, time.time(), self._depth))

    def wrap(self, stack: contextlib.ExitStack, owner, attr: str,
             name) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``stack``
        closes; ``name`` may be a function of the call's arguments."""
        orig = getattr(owner, attr)

        def wrapper(*a, **kw):
            with self.span(name(*a) if callable(name) else name):
                return orig(*a, **kw)
        setattr(owner, attr, wrapper)
        stack.callback(setattr, owner, attr, orig)

    def total(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name)

    def window(self, name: str) -> tuple[float, float]:
        s = [(a, b) for n, a, b, _ in self.spans if n == name]
        return (min(a for a, _ in s), max(b for _, b in s)) if s else (0, 0)


def layer_sum(root_s: float, layers: dict[str, float],
              tolerance: float = LAYER_SUM_TOLERANCE) -> float:
    """Unattributed seconds; raises :class:`LayerSumError` when the
    layers leave more than ``tolerance`` of the root unexplained or
    explain more than the root."""
    unattributed = root_s - sum(layers.values())
    if abs(unattributed) > tolerance * root_s:
        raise LayerSumError(
            f"layers sum to {sum(layers.values()):.3f} s of a "
            f"{root_s:.3f} s root (tolerance {tolerance:.0%})",
            {**layers, "plans.pipeline.unattributed_s": unattributed})
    return unattributed


# --------------------------------------------------------------------------
# Spark REST API
# --------------------------------------------------------------------------

class Rest:
    def __init__(self, spark):
        self.base = (f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
                     f"{spark.sparkContext.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs_between(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self.get("/jobs")
                if t0 <= _epoch(j["submissionTime"]) <= t1]

    def sql_between(self, t0: float, t1: float) -> list[dict]:
        return [q for q in self.get("/sql?details=true&length=100000")
                if t0 <= _epoch(q["submissionTime"]) <= t1]

    def stages(self, stage_ids) -> list[dict]:
        want = set(stage_ids)
        return [s for s in self.get("/stages?status=complete")
                if s["stageId"] in want]

    def task_rows(self, stage: dict) -> list[int]:
        tasks = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                         "/taskList?length=100000")
        return [t["taskMetrics"]["shuffleReadMetrics"]["recordsRead"]
                for t in tasks if t.get("taskMetrics")]

    def peak_heap(self) -> int:
        return max(((e.get("peakMemoryMetrics") or {}).get("JVMHeapMemory", 0)
                    for e in self.get("/executors")), default=0)


def _epoch(stamp: str) -> float:
    return dt.datetime.strptime(stamp.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_SCALE = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_value(text: str) -> float:
    """A SQL node metric as displayed: ms for times, bytes for sizes."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    parts = text.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _SCALE[parts[1]] if len(parts) > 1 else value


class Plan:
    """One SQL execution's node graph with parsed metrics."""

    def __init__(self, sql: dict):
        self.nodes = {n["nodeId"]: n for n in sql["nodes"]}
        self.children: dict[int, list[int]] = {}
        for e in sql["edges"]:
            self.children.setdefault(e["toId"], []).append(e["fromId"])
        self.job_ids = sql.get("successJobIds", [])

    def m(self, nid: int, name: str) -> float:
        for x in self.nodes[nid]["metrics"]:
            if x["name"] == name:
                return metric_value(x["value"])
        return 0.0

    def named(self, *names: str, under: int | None = None) -> list[int]:
        ids = self.subtree(under) if under is not None else self.nodes
        return [i for i in ids if self.nodes[i]["nodeName"] in names]

    def subtree(self, nid: int) -> list[int]:
        out, todo = [], [nid]
        while todo:
            n = todo.pop()
            out.append(n)
            todo.extend(self.children.get(n, ()))
        return out

    def root(self) -> int:
        """The top operator (codegen cluster nodes are in no edge)."""
        kids = {c for cs in self.children.values() for c in cs}
        return next(i for i in self.children if i not in kids)

    def codegen_ms(self, nid: int) -> float:
        """Duration of the whole-stage-codegen cluster holding ``nid``."""
        cid = self.nodes[nid].get("wholeStageCodegenId")
        if cid is None:
            return 0.0
        return sum(self.m(i, "duration") for i in self.nodes
                   if self.nodes[i]["nodeName"] == f"WholeStageCodegen ({cid})")

    def first_below(self, nid: int, *names: str) -> int | None:
        """Breadth-first: the nearest descendant with one of ``names``."""
        todo = list(self.children.get(nid, ()))
        while todo:
            n = todo.pop(0)
            if self.nodes[n]["nodeName"] in names:
                return n
            todo.extend(self.children.get(n, ()))
        return None

    def time_ms(self, ids) -> float:
        """Task time of exchanges and codegen clusters in ``ids`` (each
        cluster counted once)."""
        total, seen = 0.0, set()
        for i in ids:
            total += (self.m(i, "shuffle write time")
                      + self.m(i, "fetch wait time"))
            cid = self.nodes[i].get("wholeStageCodegenId")
            if cid is not None and cid not in seen:
                seen.add(cid)
                total += self.codegen_ms(i)
        return total


JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def stage_table(stages: list[dict]) -> list[dict]:
    """Per-stage run/CPU time, shuffle bytes and records, and spill (the
    per-stage extension of the REST spill/peak reader)."""
    return [{"stage": s["stageId"], "name": s["name"],
             "tasks": s["numTasks"],
             "run_s": s["executorRunTime"] / 1e3,
             "cpu_s": s["executorCpuTime"] / 1e9,
             "input_records": s["inputRecords"],
             "output_records": s["outputRecords"],
             "shuffle_read_bytes": s["shuffleReadBytes"],
             "shuffle_read_records": s["shuffleReadRecords"],
             "shuffle_write_bytes": s["shuffleWriteBytes"],
             "shuffle_write_records": s["shuffleWriteRecords"],
             "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"]}
            for s in sorted(stages, key=lambda s: s["stageId"])]


def spark_totals(rest: Rest, stages: list[dict]) -> dict[str, float]:
    return {
        "spark.spill_bytes": float(sum(s["memoryBytesSpilled"]
                                       + s["diskBytesSpilled"]
                                       for s in stages)),
        "spark.peak_jvm_heap_bytes": float(rest.peak_heap()),
        "spark.executor_cpu_s": sum(s["executorCpuTime"]
                                    for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.tasks": float(sum(s["numTasks"] for s in stages)),
    }


# --------------------------------------------------------------------------
# extraction
# --------------------------------------------------------------------------

def split_write(rest: Rest, plan: Plan,
                wall_s: float) -> tuple[dict[str, float], list[dict]]:
    """Split the extraction write action's wall across its layers; also
    returns the action's stages."""
    stages = rest.stages(s for j in plan.job_ids
                         for s in rest.get(f"/jobs/{j}")["stageIds"])
    run_ms = sum(s["executorRunTime"] for s in stages) or 1.0
    udf = plan.named("MapInArrow")[0]
    exch = plan.first_below(udf, "Exchange")
    sort = plan.first_below(udf, "Sort")
    joins = plan.named(*JOINS)
    keys_side: list[int] = []
    if joins:
        for child in plan.children.get(joins[0], ()):
            sub = plan.subtree(child)
            if plan.named("HashAggregate", under=child):
                keys_side = sub
    input_side = [i for i in plan.subtree(exch) if i not in keys_side]
    scans = [i for i in input_side
             if plan.nodes[i]["nodeName"].startswith("Scan")]
    scan_ms = sum(plan.m(i, "scan time") for i in scans)
    join_ms = 0.0
    if joins:
        join_sub = [i for i in plan.subtree(joins[0]) if i not in keys_side]
        join_ms = max(plan.time_ms(join_sub) - scan_ms, 0.0)
    ms = {"sources.catalog.scan_s": scan_ms,
          "operators.resume.antijoin_s": join_ms,
          "sources.catalog.processed_keys_s": plan.time_ms(keys_side),
          "operators.skew.exchange_s": (plan.m(exch, "shuffle write time")
                                        + plan.m(exch, "fetch wait time")
                                        + plan.m(sort, "sort time")),
          "operators.extraction.udf_s": plan.m(udf,
                                               "time to run Python workers")}
    # collecting and building the broadcast of committed keys is wall
    # time outside the executors, before the stages that use it: it is
    # processed_keys' whole
    bcast_s = sum(plan.m(i, "time to collect") + plan.m(i, "time to build")
                  for i in keys_side
                  if plan.nodes[i]["nodeName"] == "BroadcastExchange") / 1e3
    stage_s = max(wall_s - bcast_s, 0.0)
    denom = max(run_ms, sum(ms.values()))
    share = {k: stage_s * v / denom for k, v in ms.items()}
    share["sources.catalog.processed_keys_s"] += bcast_s
    # the write's own share is what the other layers leave of the action
    share["sources.catalog.append_s"] = wall_s - sum(share.values())
    readers = [s for s in stages
               if s["shuffleReadRecords"] and s["outputRecords"]]
    rows = rest.task_rows(readers[0]) if readers else []
    recs = plan.m(exch, "shuffle records written") or 1.0
    share["operators.skew.shuffle_bytes_per_row"] = \
        plan.m(exch, "shuffle bytes written") / recs
    share["operators.skew.max_task_rows_ratio"] = (
        max(rows) / max(statistics.median(rows), 1) if rows else 0.0)
    return share, stages


def profile_arrow(spark, job, work: str) -> tuple[float, float]:
    """Arrow in/out µs per row of one extraction job under the UDF
    profiler.  In: reading the input record batches (``load_stream``).
    Out: the operator's own time outside ``extract_batch`` and the input
    read: the text column's ``to_pandas`` (a Cython call the profiler
    does not list) and building the output arrays.  Profiler overhead
    inflates both; compare them only with each other."""
    job.restore()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        stats = job.run()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    dump = os.path.join(work, "udf-profile")
    spark.profile.dump(dump, type="perf")
    spark.profile.clear(type="perf")
    run_ct = batch_ct = in_ct = 0.0
    for f in glob.glob(os.path.join(dump, "*.pstats")):
        for (fn, _, name), (_, _, _, ct, _) in pstats.Stats(f).stats.items():
            fn = os.path.basename(fn)
            if (fn, name) == ("extraction.py", "run"):
                run_ct += ct
            elif (fn, name) == ("extract.py", "extract_batch"):
                batch_ct += ct
            elif (fn, name) == ("serializers.py", "load_stream"):
                in_ct = max(in_ct, ct)   # nested readers: the outermost
    rows = max(stats["rows_out"], 1)
    out_ct = max(run_ct - batch_ct - in_ct, 0.0)
    return in_ct / rows * 1e6, out_ct / rows * 1e6


def class_timings(texts: list[str]) -> dict[str, float]:
    """Sniff and each class extractor's public function, timed in this
    process on ``texts`` (the rows the workload's job extracts)."""
    import pandas as pd

    from frogocr_spark.core import boilerplate, markdown, segment, tooljson
    from frogocr_spark.core.extract import extract_batch
    from frogocr_spark.core.secondpass import two_pass_arrays
    from frogocr_spark.core.sniff import sniff_series

    s = pd.Series(texts, dtype=object)
    t0 = time.perf_counter()
    cls = sniff_series(s)
    out = {"core.sniff.us_per_row":
           (time.perf_counter() - t0) / max(len(s), 1) * 1e6}
    per_row = {"two_pass": lambda r: two_pass_arrays(r, True),
               "pdf_layout": segment.pdf_arrays,
               "html": boilerplate.html_arrays,
               "markdown": markdown.markdown_arrays}
    for c in CLASSES:
        rows = s[cls == c].tolist()
        t0 = time.perf_counter()
        if c == "plain":
            extract_batch(pd.Series(rows, dtype=object), spans_as="pairs")
        elif c == "tool_json":
            tooljson.extract_tool_json_batch(rows)
        else:
            for r in rows:
                per_row[c](r)
        dt_s = time.perf_counter() - t0
        out[f"core.extract.{c}.rows"] = float(len(rows))
        out[f"core.extract.{c}.us_per_row"] = (
            dt_s / len(rows) * 1e6 if rows else 0.0)
    return out


def _extraction_layers(spark, job, tracer: Tracer, rest: Rest,
                       root_s: float, stats: dict, work: str) -> dict:
    import workloads

    a0, a1 = tracer.window("append:extractions")
    write = [Plan(q) for q in rest.sql_between(a0, a1)
             if any(n["nodeName"] == "MapInArrow" for n in q["nodes"])]
    split, stages = split_write(rest, write[0],
                                tracer.total("append:extractions"))
    # Spark work outside every child span belongs to the sidecar pass: the
    # schema read of the run's output (a bare job) and the sidecar totals
    # collect (a SQL execution, whose duration includes its planning)
    r0, r1 = tracer.window("root")
    children = [(s, e) for n, s, e, d in tracer.spans if d == 1]

    def outside(stamp: str) -> bool:
        return not any(s <= _epoch(stamp) <= e for s, e in children)
    sql = [q for q in rest.sql_between(r0, r1) if outside(q["submissionTime"])]
    in_sql = {j for q in sql for j in q.get("successJobIds", [])}
    jobs = [j for j in rest.jobs_between(r0, r1)
            if outside(j["submissionTime"]) and j["jobId"] not in in_sql]
    sidecar_work = (sum(q["duration"] for q in sql) / 1e3
                    + sum(_epoch(j["completionTime"])
                          - _epoch(j["submissionTime"]) for j in jobs))
    layers = {
        "sources.catalog.processed_keys_s":
            tracer.total("processed_keys")
            + split.pop("sources.catalog.processed_keys_s"),
        "operators.resume.antijoin_s":
            tracer.total("filter_unprocessed")
            + split.pop("operators.resume.antijoin_s"),
        "operators.skew.exchange_s":
            tracer.total("salted_repartition")
            + split.pop("operators.skew.exchange_s"),
        "operators.extraction.udf_s":
            tracer.total("extract_turns")
            + split.pop("operators.extraction.udf_s"),
        "sources.catalog.scan_s": split.pop("sources.catalog.scan_s"),
        "sources.catalog.append_s": split.pop("sources.catalog.append_s"),
        "plans.metrics.sidecar_s":
            tracer.total("build_sidecar") + tracer.total("append:metrics")
            + sidecar_work,
    }
    unattributed = layer_sum(root_s, layers)
    run_dir = os.path.join(job.out_dir, "extractions", "data",
                           f"run_id={job.run_id}")
    written = sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(run_dir, "**", "*.parquet"), recursive=True))
    out = {**layers, **split,
           "plans.pipeline.unattributed_s": unattributed,
           "operators.resume.rows_kept_ratio":
               stats["rows_out"] / job.inputs.input_rows,
           "sources.catalog.bytes_written": float(written),
           **spark_totals(rest, stages)}
    in_us, out_us = profile_arrow(spark, job, work)
    out["operators.extraction.arrow_in_us_per_row"] = in_us
    out["operators.extraction.arrow_out_us_per_row"] = out_us
    rows = spark.read.parquet(job.inputs.input_path)
    if job.inputs.workload == "extract_resume":
        rows = rows.where(~workloads.committed_expr())
    texts = [r[0] for r in rows.select("text").collect()]
    out.update(class_timings(texts))
    out["_layer_table"] = {**layers,
                           "plans.pipeline.unattributed_s": unattributed}
    out["_outside_spans"] = ([q["description"] for q in sql]
                             + [j["name"] for j in jobs])
    out["_stages"] = stage_table(stages)
    return out


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

def _dedup_layers(tracer: Tracer, rest: Rest, root_s: float,
                  pairs_out: int, n_docs: int) -> dict:
    r0, r1 = tracer.window("root")
    queries = rest.sql_between(r0, r1)
    plans = [Plan(q) for q in queries]
    action_q = max(queries, key=lambda q: len(q["nodes"]))
    action = Plan(action_q)
    stages = rest.stages(s for p in plans for j in p.job_ids
                         for s in rest.get(f"/jobs/{j}")["stageIds"])
    # the band join is the only join fed by the band explode (Generate)
    band = next(j for j in action.named(*JOINS)
                if action.named("Generate", under=j)
                and len(action.named(*JOINS, under=j)) == 1)
    band_bytes = 0.0
    for i in action.subtree(band):
        name = action.nodes[i]["nodeName"]
        if name == "Exchange":
            band_bytes += action.m(i, "shuffle bytes written")
        elif name == "BroadcastExchange":
            band_bytes += action.m(i, "data size")
    # candidates: the dropDuplicates aggregate above the band join
    parent = {c: p for p, cs in action.children.items() for c in cs}
    agg, n = None, parent.get(band)
    while n is not None and action.nodes[n]["nodeName"] not in JOINS:
        if action.nodes[n]["nodeName"] == "HashAggregate":
            agg = n
        n = parent.get(n)
    candidates = action.m(agg, "number of output rows")
    # verification: everything above the candidate aggregate
    candidate_side = set(action.subtree(agg))
    verify_ids = [i for i in action.subtree(action.root())
                  if i not in candidate_side]
    action_stages = [s for s in stages if s["stageId"] in {
        x for j in action.job_ids for x in rest.get(f"/jobs/{j}")["stageIds"]}]
    run_ms = sum(s["executorRunTime"] for s in action_stages)
    verify_ms = action.time_ms(verify_ids)
    denom = max(run_ms, verify_ms + action.time_ms(candidate_side), 1.0)
    action_s = action_q["duration"] / 1e3
    signature_s = tracer.total("minhash_lsh_pairs")
    # the eager signature checkpoint, then the checksum action
    table = {"operators.dedup.signature_s": signature_s,
             "operators.dedup.action_s": action_s}
    unattributed = layer_sum(root_s, table)
    return {
        "operators.dedup.signature_s": signature_s,
        "operators.dedup.band_exchange_bytes_per_row": band_bytes / n_docs,
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.pairs_out": float(pairs_out),
        "operators.dedup.useful_ratio": pairs_out / max(candidates, 1.0),
        "operators.dedup.verify_s": action_s * verify_ms / denom,
        "plans.pipeline.unattributed_s": unattributed,
        **spark_totals(rest, stages),
        "_stages": stage_table(stages),
        "_layer_table": {**table,
                         "plans.pipeline.unattributed_s": unattributed},
    }


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def _install(stack: contextlib.ExitStack, tracer: Tracer) -> None:
    from frogocr_spark.operators import dedup
    from frogocr_spark.plans import pipeline
    from frogocr_spark.sources.catalog import Table

    for attr in ("filter_unprocessed", "salted_repartition",
                 "extract_turns", "build_sidecar"):
        tracer.wrap(stack, pipeline, attr, attr)
    tracer.wrap(stack, Table, "processed_keys", "processed_keys")
    tracer.wrap(stack, Table, "append",
                lambda self, *a: f"append:{os.path.basename(self.path)}")
    tracer.wrap(stack, dedup, "minhash_lsh_pairs", "minhash_lsh_pairs")


def traced_run(spark, job, tally, work: str) -> tuple[dict, dict]:
    """After the set-up's cold job: untraced, traced and untraced jobs,
    then the profiler and the in-process class timings.  Returns
    (per-layer metrics, details).  A layer table that does not add up
    counts as a failure."""
    before = tally.timed(job)
    tracer = Tracer()
    rest = Rest(spark)
    job.restore()
    tally.attempted += 1
    try:
        with contextlib.ExitStack() as stack:
            _install(stack, tracer)
            with tracer.span("root"):
                result = job.run()
        job.check(result)
    except Exception:
        tally.failed += 1
        raise
    root_s = tracer.total("root")
    # untraced jobs on both sides of the traced one: jobs still speed up
    # as the JVM warms
    untraced = (before + tally.timed(job)) / 2
    try:
        if job.inputs.workload == "dedup_minhash":
            layers = _dedup_layers(tracer, rest, root_s, result[0],
                                   job.inputs.input_rows)
        else:
            layers = _extraction_layers(spark, job, tracer, rest, root_s,
                                        result, work)
    except LayerSumError as e:
        tally.failed += 1
        tally.errors.append(str(e))
        layers = {"_layer_table": e.table}
    table = layers.pop("_layer_table")
    outside = layers.pop("_outside_spans", [])
    stages = layers.pop("_stages", [])
    metrics = {name: 0.0 for name in UNITS}
    metrics.update(layers)
    metrics["plans.pipeline.job_s"] = root_s
    metrics["trace.overhead_s"] = root_s - untraced
    details = {"untraced_job_s": untraced, "traced_job_s": root_s,
               "layer_table_s": table,
               "layer_sum_tolerance": LAYER_SUM_TOLERANCE,
               "work_outside_spans": outside,
               "stages": stages,
               "spans": [(n, round(e - s, 4), d)
                         for n, s, e, d in tracer.spans]}
    return ({k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()
             if k in UNITS}, details)
