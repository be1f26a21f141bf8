"""The benchmark's own tests: tiny-scale runs of every workload, the output
check catching planted corruption, and the layer-sum check.

Run from the repository root (each test starts its own local Spark):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import io
import json
import os
import shutil
import sys
import time
from contextlib import redirect_stdout

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Tiny sizes, and cache/work/temp dirs under ``tmp_path``."""
    for name, value in (("EXTRACT_CONVS", 40), ("POOL_CONVS", 80),
                        ("PLANTED_TURNS", 300), ("DOC_COUNT", 60),
                        ("DOC_REPLICAS", 2)):
        monkeypatch.setattr(workloads, name, value)
    monkeypatch.setattr(run, "HERE", str(tmp_path))
    for var in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    return tmp_path


def _main(*argv: str) -> tuple[dict, dict]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert run.main(list(argv)) == 0
    lines = buf.getvalue().strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["details"]


def test_spec_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run(tiny, workload):
    res, det = _main("--workload", workload, "--seed", "3",
                     "--seconds", "1", "--trace", "0")
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, det["errors"]
    assert res["attempted"] >= 1 + run.WARM_JOBS + run.MIN_JOBS
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_traced(tiny, workload):
    res, det = _main("--workload", workload, "--seed", "3",
                     "--seconds", "1", "--trace", "1")
    assert res["correct"] and res["failed"] == 0, det["errors"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    root = m["plans.pipeline.job_s"]
    table = det["layer_table_s"]
    assert abs(sum(table.values()) - root) < 1e-6 * root
    assert m["process.peak_rss_mb"] > 0
    if workload == "extract_fresh":
        assert sum(m[f"core.extract.{c}.rows"]
                   for c in layers.CLASSES) == det["input_rows"]
        assert m["scaling.eff_1to4"] > 0
    elif workload == "extract_resume":
        assert 0 < m["operators.resume.rows_kept_ratio"] < 1
    else:
        assert m["operators.dedup.pairs_out"] > 0


def test_stolen_time_is_taken_out():
    assert run.steal_share((5, 100), (15, 190)) == pytest.approx(0.1)
    assert run.steal_share((5, 100), (5, 190)) == 0.0
    assert run.unstolen(2.0, 0.25) == pytest.approx(1.5)
    steal, busy = run.cpu_ticks()
    assert steal >= 0 and busy > 0


def test_workload_inputs_are_seeded(tmp_path):
    a = workloads.seeded_documents(1, 50, 2)
    assert a.equals(workloads.seeded_documents(1, 50, 2))
    b = workloads.seeded_documents(2, 50, 2)
    assert not a["text"].equals(b["text"])
    # the rename preserves every document's token structure
    assert (a["text"].str.count(" ") == b["text"].str.count(" ")).all()
    assert a["doc_id"].tolist() == list(range(50)) + list(
        range(1_000_000, 1_000_050))
    # copies share no tokens
    first = set(" ".join(a["text"][:50]).split())
    assert first.isdisjoint(" ".join(a["text"][50:]).split())


def test_cache_key_covers_every_package_source():
    files = set(workloads.key_files())
    for layer in ("core", "plans", "operators", "sources"):
        src = os.path.join(ROOT, "frogocr_spark", layer)
        for name in os.listdir(src):
            if name.endswith(".py"):
                assert os.path.join(src, name) in files, name
    assert os.path.join(ROOT, "__spark_entry__.py") in files


# ---------------------------------------------------------------------------
# the output check
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    old = {v: os.environ.get(v) for v in
           ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR")}
    run.configure_env(work)
    s = run.start_session(work)
    yield s
    s.stop()
    run.stop_jvm()
    for k, v in old.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


@pytest.fixture
def extracted(spark, tmp_path):
    """A checked run: (out_dir, stats, expected)."""
    from pyspark.sql import functions as F

    from frogocr_spark.sources import transcripts

    inp = str(tmp_path / "input")
    transcripts.generate(spark, 30, partitions=2).write.parquet(inp)
    df = spark.read.parquet(inp)
    r = workloads._oracle_conv_sums(spark, df).agg(
        F.sum("rows"), F.sum("sum"), F.bit_xor("xor")).collect()[0]
    expected = (int(r[0]), int(r[1]), int(r[2]))
    out = str(tmp_path / "out")
    stats = run.run_job(spark, "extract_fresh", inp, out, "bench")
    checks.check_extraction(spark, out, "bench", stats, expected)
    return out, stats, expected


def _run_dir(out: str) -> str:
    return os.path.join(out, "extractions", "data", "run_id=bench")


def test_check_rejects_corrupted_text(spark, extracted):
    from pyspark.sql import functions as F
    out, stats, expected = extracted
    run_dir = _run_dir(out)
    rows = spark.read.parquet(run_dir)
    first = rows.orderBy("conv_id", "turn_idx").limit(1).collect()[0]
    bad = rows.withColumn("extracted_text", F.when(
        (F.col("conv_id") == first.conv_id)
        & (F.col("turn_idx") == first.turn_idx),
        F.concat("extracted_text", F.lit("x"))).otherwise(
        F.col("extracted_text")))
    staged = run_dir + ".corrupt"
    bad.write.parquet(staged)
    shutil.rmtree(run_dir)
    os.replace(staged, run_dir)
    with pytest.raises(checks.CheckFailed, match="checksum"):
        checks.check_extraction(spark, out, "bench", stats, expected)


def test_check_rejects_duplicate_row(spark, extracted):
    out, stats, expected = extracted
    run_dir = _run_dir(out)
    extra = os.path.join(out, "dup")
    spark.read.parquet(run_dir).limit(1).write.parquet(extra)
    for f in os.listdir(extra):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(extra, f),
                        os.path.join(run_dir, "dup-" + f))
    with pytest.raises(checks.CheckFailed, match="duplicate"):
        checks.check_extraction(spark, out, "bench", stats, expected)


def test_check_rejects_wrong_pairs():
    checks.check_pairs((3, 10, 7), (3, 10, 7))
    with pytest.raises(checks.CheckFailed):
        checks.check_pairs((3, 10, 7), (3, 11, 7))


# ---------------------------------------------------------------------------
# the layer-sum check
# ---------------------------------------------------------------------------

def _traced_layers() -> tuple[float, dict[str, float]]:
    tracer = layers.Tracer()
    with tracer.span("root"):
        for name in ("processed_keys", "append:extractions", "build_sidecar"):
            with tracer.span(name):
                time.sleep(0.05)
    return tracer.total("root"), {
        n: tracer.total(n) for n, _, _, depth in tracer.spans if depth == 1}


def test_layer_sum_accepts_complete_table():
    root, table = _traced_layers()
    unattributed = layers.layer_sum(root, table)
    assert 0 <= unattributed <= layers.LAYER_SUM_TOLERANCE * root


@pytest.mark.parametrize("dropped", ["processed_keys", "append:extractions",
                                     "build_sidecar"])
def test_layer_sum_fails_when_a_span_is_dropped(dropped):
    root, table = _traced_layers()
    del table[dropped]
    with pytest.raises(layers.LayerSumError):
        layers.layer_sum(root, table)


def test_metric_value_parses_spark_ui_strings():
    assert layers.metric_value("417 ms") == 417
    assert layers.metric_value("10.4 s") == 10400
    assert layers.metric_value("625.9 KiB") == pytest.approx(625.9 * 1024)
    assert layers.metric_value("16,023") == 16023
    assert layers.metric_value(
        "total (min, med, max (stageId: taskId))\n"
        "178 ms (37 ms, 43 ms, 60 ms (stage 24.0: task 25))") == 178
