"""Seeded, cached inputs and expected outputs for the three workloads.

The program under test only ever sees the parquet written here.  Every
input is a pure function of ``(seed, sources)``:

- ``extract_fresh`` / ``extract_resume``: a window of ``EXTRACT_CONVS``
  conversations out of a seed-independent pool generated once with the
  shipped generator (``sources.transcripts.generate`` over
  ``sources.payloadgen``), the window start offset by the seed, plus one
  planted ``PLANTED_TURNS``-turn conversation built with
  ``payloadgen.gen_turn`` (the FIXTURES §1 skew size), rows shuffled
  into files by the seed.  ``extract_resume``'s output table is restored
  to one committed run over the pool's conversations with
  ``pmod(xxhash64(conv_id), 10) != 0`` and the planted one: about 90% of
  every window's conversations, and as many again from outside it.
- ``dedup_minhash``: ``DOC_REPLICAS`` copies of the first ``DOC_COUNT``
  documents of the sf0.1 ``documents`` table (committed in ``data/``),
  every token of copy ``k`` renamed to ``s<seed>r<k>_<token>`` -- the
  structure-preserving replication of ``tools/gen_sfbig.py``: inside a
  copy every token set, and so every Jaccard relation, is sf0.1's for
  every seed; copies share no tokens; every hash changes with the seed.

The pool, its oracle and the committed run are built once per checkout
in a Spark session of their own (``session`` is a callable that starts
it), so the measured session never shares a JVM with input generation;
a seed's own input and expected output are cut from them with pyarrow
and numpy, with no JVM.  Expected
outputs are computed outside any timed region and cached next to the
inputs: per-conversation checksums of the scalar oracle
``core.extract.extract_turn`` for the transcripts, and DuckDB's
``oracle_sql()["dedup_minhash"]`` for the pairs.  Every cache key holds
:func:`source_key`, a hash of the whole package, the oracle SQL and this
benchmark's own sources and data, so editing any of them regenerates.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks

# ~55k turns per job (45k + the planted 10k), a tenth of sf0.1, so that
# every run fits the benchmark's time budget on a 4-core box
EXTRACT_CONVS = 5_000
POOL_CONVS = 2 * EXTRACT_CONVS
PLANTED_TURNS = 10_000
PLANTED_CONV = 90_000_000
# extract_resume: conversations with pmod(xxhash64(conv_id), 10) != 0 are
# committed before every repetition (~90%), and so is the planted one
RESUME_MOD = 10

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the sf0.1 test table `documents`, its rows with doc_id < 2000, unchanged
DOCS_SAMPLE = os.path.join(HERE, "data", "sf0.1_documents_head.parquet")
DOC_COUNT = 600
# replicas share no tokens, so each is an independent draw of the hash
# family: a job's band-bucket skew, which moved job_s by a quarter from
# seed to seed with one copy, averages over the three
DOC_REPLICAS = 3
MINHASH_ARGS = dict(num_hashes=32, bands=4, threshold=0.5, hash_fn="md5")


@dataclass
class Inputs:
    """Paths and expectations for one (workload, seed)."""
    workload: str
    input_path: str
    input_rows: int
    # (rows, sum, xor) one job's output must have: see checks.py
    expected: tuple[int, int, int]
    committed_dir: str | None = None  # extract_resume's committed output


def key_files() -> list[str]:
    """Every file a cached input or oracle depends on: every source and
    resource of the package (generator, scalar oracle, job), the DuckDB
    oracle SQL, and this benchmark's own sources and data."""
    files = sorted(
        f for f in glob.glob(os.path.join(ROOT, "frogocr_spark", "**", "*"),
                             recursive=True)
        if os.path.isfile(f) and "__pycache__" not in f)
    files += [os.path.join(ROOT, "__spark_entry__.py")]
    return files + sorted(glob.glob(os.path.join(HERE, "*.py"))
                          + glob.glob(os.path.join(HERE, "data", "*")))


def source_key() -> str:
    """Hash of :func:`key_files`: part of every cache key."""
    h = hashlib.md5()
    for f in key_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def _publish(path: str, build) -> str:
    """Build into a staging dir and rename it into place once."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    staging = f"{path}.staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    build(staging)
    open(os.path.join(staging, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(staging, path)
    return path


# --------------------------------------------------------------------------
# transcripts
# --------------------------------------------------------------------------

def _conv_num():
    from pyspark.sql import functions as F
    return F.substring("conv_id", 6, 20).cast("long")


def _oracle_conv_sums(spark, df):
    """Per-conversation (rows, sum, xor) of the scalar oracle's rows."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from frogocr_spark.core.extract import extract_turn
    from frogocr_spark.operators.extraction import SPAN_TYPE

    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("payload_class", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField("spans", SPAN_TYPE, False),
    ])

    def oracle(batches):
        for pdf in batches:
            recs = [extract_turn(t) for t in pdf["text"]]
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"], "turn_idx": pdf["turn_idx"],
                "payload_class": [r["payload_class"] for r in recs],
                "extracted_text": [r["extracted_text"] for r in recs],
                "spans": [r["spans"] for r in recs]})

    rows = df.select("conv_id", "turn_idx", "text").mapInPandas(oracle, schema)
    h = checks.row_hash()
    return (rows.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("rows"),
                 F.sum(F.pmod(h, F.lit(checks.PRIME))).alias("sum"),
                 F.bit_xor(h).alias("xor"))
            .withColumn("conv_num", _conv_num()))


def _planted_rows() -> pd.DataFrame:
    from frogocr_spark.sources import payloadgen
    from frogocr_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    rows = [payloadgen.gen_turn(PLANTED_CONV, t)
            for t in range(PLANTED_TURNS)]
    return pd.DataFrame(rows, columns=TRANSCRIPT_SCHEMA.fieldNames())


def committed_expr():
    from pyspark.sql import functions as F
    return ((F.pmod(F.xxhash64("conv_id"), F.lit(RESUME_MOD)) != 0)
            | (_conv_num() >= PLANTED_CONV))


def _transcript_pool(session, cache: str) -> str:
    """The seed-independent pool: its rows (the generated conversations
    and the planted one), per-conversation oracle checksums with a
    ``committed`` flag, and ``extract_resume``'s committed run."""
    from frogocr_spark.plans.pipeline import PipelineConfig, run_extraction
    from frogocr_spark.sources import transcripts
    from frogocr_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    def build(d):
        spark = session()
        planted = spark.createDataFrame(_planted_rows(), TRANSCRIPT_SCHEMA)
        (transcripts.generate(spark, POOL_CONVS, partitions=16)
         .unionByName(planted).withColumn("conv_num", _conv_num())
         .write.parquet(f"{d}/rows"))
        rows = spark.read.parquet(f"{d}/rows")
        (_oracle_conv_sums(spark, rows)
         .withColumn("committed", committed_expr())
         .write.parquet(f"{d}/oracle"))
        run_extraction(spark, rows.where(committed_expr())
                       .select(*TRANSCRIPT_SCHEMA.fieldNames()),
                       PipelineConfig(output_dir=f"{d}/committed",
                                      run_id="base"))
    key = f"{source_key()}-{POOL_CONVS}-{PLANTED_TURNS}"
    return _publish(os.path.join(cache, f"pool-{key}"), build)


def _checksum(oracle: pa.Table) -> list[int]:
    """(rows, sum, xor) over per-conversation oracle checksums."""
    rows = oracle["rows"].to_numpy().astype(np.int64)
    sums = oracle["sum"].to_numpy().astype(np.int64)
    xors = oracle["xor"].to_numpy().astype(np.int64)
    return [int(rows.sum()), int(sums.sum()),
            int(np.bitwise_xor.reduce(xors, initial=0))]


def _extract_inputs(session, workload: str, seed: int, cache: str) -> Inputs:
    import pyarrow.compute as pc

    from frogocr_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    pool = _transcript_pool(session, cache)
    start = (seed * 7919) % (POOL_CONVS - EXTRACT_CONVS)

    def window(table: pa.Table) -> pa.Table:
        num = table["conv_num"]
        return table.filter(pc.or_(
            pc.and_(pc.greater_equal(num, start),
                    pc.less(num, start + EXTRACT_CONVS)),
            pc.equal(num, PLANTED_CONV)))

    def build(d):
        inp = window(pq.read_table(f"{pool}/rows")).select(
            TRANSCRIPT_SCHEMA.fieldNames())
        order = np.random.RandomState(seed).permutation(inp.num_rows)
        inp = inp.take(order)
        os.makedirs(f"{d}/input")
        for i, part in enumerate(np.array_split(np.arange(inp.num_rows), 8)):
            pq.write_table(inp.take(part), f"{d}/input/part-{i:05d}.parquet")
        oracle = window(pq.read_table(f"{pool}/oracle"))
        new = oracle.filter(pc.invert(oracle["committed"]))
        with open(f"{d}/expected.json", "w") as fh:
            json.dump({"all": _checksum(oracle), "new": _checksum(new),
                       "input_rows": inp.num_rows}, fh)

    d = _publish(os.path.join(cache, f"{os.path.basename(pool)}-s{seed}"
                              f"-{EXTRACT_CONVS}"), build)
    with open(f"{d}/expected.json") as fh:
        exp = json.load(fh)
    committed = None
    if workload == "extract_resume":
        committed = f"{pool}/committed"
    part = exp["all"] if workload == "extract_fresh" else exp["new"]
    return Inputs(workload, f"{d}/input", exp["input_rows"],
                  tuple(part), committed_dir=committed)


# --------------------------------------------------------------------------
# documents
# --------------------------------------------------------------------------

def seeded_documents(seed: int, n: int, replicas: int) -> pd.DataFrame:
    """``replicas`` copies of the first ``n`` sf0.1 documents, token ``t``
    of copy ``k`` renamed to ``s<seed>r<k>_t`` and its doc ids offset by
    ``k * 10^6``: the ``tools/gen_sfbig.py`` replica transform with the
    seed in every token name."""
    base = pq.read_table(DOCS_SAMPLE).to_pandas().iloc[:n]
    parts = []
    for k in range(replicas):
        p = base.copy()
        p["doc_id"] = p["doc_id"] + k * 1_000_000
        p["text"] = [" ".join(f"s{seed}r{k}_{w}" for w in t.split())
                     for t in p["text"]]
        parts.append(p)
    docs = pd.concat(parts, ignore_index=True)
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs


def _write_docs(df: pd.DataFrame, path: str, files: int = 4) -> None:
    os.makedirs(path)
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), files)):
        pq.write_table(pa.Table.from_pandas(df.iloc[chunk],
                                            preserve_index=False),
                       f"{path}/part-{i:05d}.parquet")


def oracle_pairs(docs_path: str) -> tuple[int, int, int]:
    """(rows, sum, xor) of DuckDB's dedup_minhash oracle over the docs."""
    import importlib.util

    import duckdb
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(ROOT, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    sql = entry.oracle_sql()["dedup_minhash"]
    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}/*.parquet')")
        return checks.duckdb_pair_checksum(con, sql)
    finally:
        con.close()


def _dedup_inputs(seed: int, cache: str) -> Inputs:
    def build(d):
        _write_docs(seeded_documents(seed, DOC_COUNT, DOC_REPLICAS),
                    f"{d}/docs")
        with open(f"{d}/expected.json", "w") as fh:
            json.dump(list(oracle_pairs(f"{d}/docs")), fh)

    d = _publish(os.path.join(
        cache, f"docs-{source_key()}-{DOC_COUNT}x{DOC_REPLICAS}-s{seed}"),
        build)
    with open(f"{d}/expected.json") as fh:
        rows, s, x = json.load(fh)
    return Inputs("dedup_minhash", f"{d}/docs", DOC_COUNT * DOC_REPLICAS,
                  (rows, s, x))


def prepare(session, workload: str, seed: int, cache: str) -> Inputs:
    """The inputs of one (workload, seed), generated on a cache miss in
    the session ``session()`` returns."""
    os.makedirs(cache, exist_ok=True)
    if workload == "dedup_minhash":
        return _dedup_inputs(seed, cache)
    return _extract_inputs(session, workload, seed, cache)
