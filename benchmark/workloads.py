"""The benchmark's workloads. Each drives the package only through its
public calls, and a pass is always the same fixed mix of calls.

A workload object offers:

- ``make_inputs(dir)``: generate the seeded inputs and the expected
  results (the set-up work); returns the input size in MB;
- ``steps(tracer)``: the calls that make up one pass, in order (one
  per job or query); outputs are kept for ``check``;
- ``check()``: True when every output of the last pass matched;
- ``layer_metrics(calls, nproc)``: per-layer numbers of one traced pass;
- ``probe_layers()``: driver-side throughput of single functions.
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
import statistics
import time

from corpus import generate_corpus
from probe import covered_s, stage_summary
from tables import generate_tables

from mit6_5840_6_824_lab1_mapreduce_spark.functions.hashing import reduce_bucket
from mit6_5840_6_824_lab1_mapreduce_spark.functions.tokenize import tokenize_py
from mit6_5840_6_824_lab1_mapreduce_spark.operators.mapreduce import (
    run_job,
    run_sequential,
    whole_text_input,
)
from mit6_5840_6_824_lab1_mapreduce_spark.operators.mrapps import APPS
from mit6_5840_6_824_lab1_mapreduce_spark.queries import REGISTRY
from mit6_5840_6_824_lab1_mapreduce_spark.sources.text import write_text_output
from tests.oracle_check import _normalize, duckdb_connect

N_REDUCE = 10
MR_APPS = ("wc", "indexer")
DF_QUERIES = (
    "wc_wordcount",
    "indexer_inverted_index",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q18_large_volume_customers",
    "events_sessionization",
    "similarity_topk_batch",
)
# The driver-sequenced loops: MinHash -> LSH -> connected components
# with the overlap thread, a 5-round PageRank, the BPE merge rounds.
# pipeline_clean_corpus runs the MinHash/LSH pairs that
# dedup_minhash_lsh returns, so that query is not run on its own.
PIPELINE_QUERIES = ("pipeline_clean_corpus", "graph_pagerank_nations", "tokenizer_bpe_merges")
# The tables the queries read; their bytes are the input size.
QUERY_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings",
                "supplier", "nation")
# Corpus files and bytes, and the tables' scale factor, by --size.
SIZES = {
    "standard": {"files": 16, "bytes": 2_000_000, "sf": 0.001},
    "tiny": {"files": 2, "bytes": 20_000, "sf": 0.001},
}


def _rate(fn, amount: float, min_s: float = 0.2) -> float:
    """``amount`` per second for ``fn``, which handles ``amount`` units
    per call: median of three timed repeats, each calling ``fn`` until
    ``min_s`` has passed."""
    rates = []
    for _ in range(3):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        rates.append(amount * n / dt)
    return statistics.median(rates)


class Tracer:
    """Spans around the benchmark's own calls into each layer, plus a
    Spark job group per call so stage counters can be read back."""

    def __init__(self, spark, pass_no: int):
        self.spark = spark
        self.prefix = f"bench-{os.getpid()}-{pass_no}"
        self.calls: list[dict] = []

    def call(self, name: str) -> dict:
        rec = {"name": name, "group": f"{self.prefix}-{name}", "spans": {}}
        self.spark.sparkContext.setJobGroup(rec["group"], name)
        self.calls.append(rec)
        return rec

    @staticmethod
    def span(rec: dict, name: str, fn):
        t0 = time.time()
        out = fn()
        rec["spans"][name] = (t0 * 1000.0, time.time() * 1000.0)
        return out


def _span_s(rec: dict, name: str) -> float:
    a, b = rec["spans"][name]
    return (b - a) / 1000.0


class MrCorpus:
    """The paper's Lab 1: wc then indexer through ``run_job`` on a
    seeded multi-file corpus, written by ``write_text_output`` and
    checked line for line against ``run_sequential``."""

    name = "mr_corpus"

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = SIZES[size]
        self.expected: dict[str, list[str]] = {}
        self.sequential_s: dict[str, float] = {}
        self._pass = 0
        self._outs: dict[str, str] = {}

    def make_inputs(self, in_dir: str) -> float:
        paths = generate_corpus(in_dir, self.seed, self.size["files"], self.size["bytes"])
        self.glob = os.path.join(in_dir, "*.txt")
        self.docs = []
        for p in paths:
            with open(p, encoding="utf-8", newline="") as f:
                # wholeTextFiles names each record by its file: URI.
                self.docs.append(("file:" + os.path.abspath(p), f.read()))
        for app in MR_APPS:
            t0 = time.perf_counter()
            rows = run_sequential(self.docs, *APPS[app])
            self.sequential_s[app] = time.perf_counter() - t0
            self.expected[app] = sorted(f"{k} {v}" for k, v in rows)
        self.input_mb = sum(os.path.getsize(p) for p in paths) / 1e6
        return self.input_mb

    def steps(self, tracer: Tracer | None) -> list:
        self._pass += 1
        self._outs = {}
        return [functools.partial(self._run_app, app, tracer) for app in MR_APPS]

    def _run_app(self, app: str, tracer: Tracer | None) -> None:
        out = os.path.join(self.work, "out", f"{self._pass}-{app}")
        self._outs[app] = out
        map_fn, reduce_fn = APPS[app]

        def build():
            return run_job(
                whole_text_input(self.spark, self.glob), map_fn, reduce_fn,
                n_reduce=N_REDUCE,
            )

        if tracer is None:
            write_text_output(build(), out, n_reduce=N_REDUCE)
        else:
            rec = tracer.call(app)
            rdd = tracer.span(rec, "build", build)
            tracer.span(rec, "exec", lambda: write_text_output(rdd, out, n_reduce=N_REDUCE))

    def check(self) -> bool:
        ok = True
        for app, out in self._outs.items():
            lines: list[str] = []
            for part in sorted(glob.glob(os.path.join(out, "part-*"))):
                with open(part, encoding="utf-8", newline="") as f:
                    lines.extend(line for line in f.read().split("\n") if line)
            ok = ok and sorted(lines) == self.expected[app]
        return ok

    def discard_outputs(self) -> float:
        """Delete the last pass's output; return its size in MB."""
        mb = 0.0
        for out in self._outs.values():
            mb += sum(os.path.getsize(p) for p in glob.glob(os.path.join(out, "part-*"))) / 1e6
            shutil.rmtree(out, ignore_errors=True)
        return mb

    def layer_metrics(self, calls: list[dict], nproc: int) -> dict:
        m = {}
        write_s = 0.0
        for rec in calls:
            app, stages = rec["name"], rec["stages"]
            shuffle = [s for s in stages if s["shuffle_write_mb"] > 0]
            rest = [s for s in stages if s["shuffle_write_mb"] <= 0]
            p = f"mapreduce.{app}."
            if shuffle and rest:
                mp, red = shuffle[0], rest[-1]
                map_s = (mp["end_ms"] - mp["start_ms"]) / 1000.0
                m[p + "map_stage_s"] = map_s
                m[p + "map_task_s"] = mp["task_s"]
                m[p + "map_busy_frac"] = mp["task_s"] / (map_s * nproc) if map_s else 0.0
                m[p + "shuffle_write_mb"] = mp["shuffle_write_mb"]
                m[p + "reduce_stage_s"] = (red["end_ms"] - red["start_ms"]) / 1000.0
                m[p + "reduce_tasks"] = red["tasks"]
                m["sources.whole_text.tasks"] = mp["tasks"]
            m[p + "spill_mb"] = sum(s["spill_mb"] for s in stages)
            # Driver-side part of the write: job set-up and output
            # commit, the call's wall time that no stage covers.
            lo, hi = rec["spans"]["exec"]
            write_s += (hi - lo) / 1000.0 - covered_s(stages, lo, hi)
        m["sink.write_s"] = write_s
        return m

    def probe_layers(self) -> dict:
        texts = [t for _, t in self.docs]
        keys = sorted({w for t in texts for w in tokenize_py(t)})
        m = {
            "tokenize.mb_per_s": _rate(
                lambda: [tokenize_py(t) for t in texts], self.input_mb),
            "mrapps.wc_map_mb_per_s": _rate(
                lambda: [APPS["wc"][0](f, t) for f, t in self.docs], self.input_mb),
            "mrapps.indexer_map_mb_per_s": _rate(
                lambda: [APPS["indexer"][0](f, t) for f, t in self.docs], self.input_mb),
            "hashing.reduce_bucket_keys_per_s": _rate(
                lambda: [reduce_bucket(k, N_REDUCE) for k in keys], len(keys)),
        }
        for app in MR_APPS:
            m[f"mapreduce.{app}.sequential_s"] = self.sequential_s[app]
        return m


class DfQueries:
    """Queries through the DataFrame registry, each forced with an
    aggregate over an all-column xxhash64 (row count, bit_xor and sum
    of the hashes), so Catalyst cannot prune work:

    - wc and indexer semantics (``wc_wordcount``,
      ``indexer_inverted_index``) and five JVM-only headline queries;
    - the ``pipeline_loops`` group (``PIPELINE_QUERIES``), whose many
      small driver-sequenced jobs make per-job and per-stage overhead
      dominate.

    The first pass also collects each full result and compares it with
    the query's DuckDB oracle; later passes are checked against the
    checksum of the result that matched."""

    name = "df_queries"
    queries = DF_QUERIES + PIPELINE_QUERIES

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf = SIZES[size]["sf"]
        # Checksum of each query's result once it matched the oracle
        # (None: it did not match).
        self.verified: dict[str, tuple | None] = {}
        self._sums: dict[str, tuple] = {}
        self._full: dict = {}

    def make_inputs(self, in_dir: str) -> float:
        generate_tables(in_dir, self.seed, self.sf)
        self.sf_dir = in_dir
        con = duckdb_connect(in_dir)
        try:
            self.oracle = {q: con.sql(REGISTRY[q].oracle).df() for q in self.queries}
        finally:
            con.close()
        self.input_mb = sum(
            os.path.getsize(os.path.join(in_dir, f"{t}.parquet")) for t in QUERY_TABLES
        ) / 1e6
        return self.input_mb

    @staticmethod
    def _checksum_frame(df):
        from pyspark.sql import functions as F

        h = df.select(F.xxhash64(*df.columns).alias("_h"))
        # XOR alone cancels rows that appear twice; the count and the
        # (overflow-free) decimal sum do not.
        return h.agg(F.count("*"), F.bit_xor("_h"), F.sum(F.col("_h").cast("decimal(38,0)")))

    def steps(self, tracer: Tracer | None) -> list:
        self._sums = {}
        return [functools.partial(self._run_query, q, tracer) for q in self.queries]

    def _run_query(self, q: str, tracer: Tracer | None) -> None:
        def build():
            return REGISTRY[q].fn(self.spark, self.sf_dir)

        if tracer is None and q not in self.verified:
            # First pass: also collect the full result, which ``check``
            # compares with the oracle. Cached, so the query runs once
            # for both reads.
            df = build().cache()
            self._full[q] = df.toPandas()
            self._sums[q] = tuple(self._checksum_frame(df).collect()[0])
            df.unpersist()
        elif tracer is None:
            self._sums[q] = tuple(self._checksum_frame(build()).collect()[0])
        else:
            rec = tracer.call(q)
            cdf = tracer.span(rec, "build", lambda: self._checksum_frame(build()))
            tracer.span(rec, "plan", lambda: cdf._jdf.queryExecution().executedPlan())
            self._sums[q] = tracer.span(rec, "exec", lambda: tuple(cdf.collect()[0]))
            rec["files"] = cdf.inputFiles()

    def check(self) -> bool:
        """Compare any full results with their oracles (column names,
        row count, values) and keep the checksum of each that matched;
        then compare every checksum of the pass with the verified one."""
        for q, got in self._full.items():
            want = self.oracle[q]
            match = (
                sorted(got.columns) == sorted(want.columns)
                and len(got) == len(want)
                and _normalize(got).equals(_normalize(want))
            )
            self.verified[q] = self._sums[q] if match else None
        self._full = {}
        return all(
            self.verified.get(q) is not None and self._sums.get(q) == self.verified[q]
            for q in self.queries
        )

    def discard_outputs(self) -> float:
        return 0.0

    def layer_metrics(self, calls: list[dict], nproc: int) -> dict:
        m = {}
        files = set()
        for rec in calls:
            p = f"queries.{rec['name']}."
            for span in ("build", "plan", "exec"):
                m[p + span + "_s"] = _span_s(rec, span)
            m[p + "jobs"] = rec["jobs"]
            m[p + "stages"] = len(rec["stages"])
            files.update(rec["files"])
        # Files the final plans scan; a checkpointed part of a plan
        # scans none.
        m["plans.scan_input_mb"] = sum(os.path.getsize(f.removeprefix("file:")) for f in files) / 1e6
        return m

    def probe_layers(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (MrCorpus, DfQueries)}


def exec_metrics(calls: list[dict], lo_ms: float, hi_ms: float, nproc: int) -> dict:
    """Engine-wide numbers of one pass from all its calls' stages."""
    stages = [s for rec in calls for s in rec["stages"]]
    tot = stage_summary(stages)
    wall = (hi_ms - lo_ms) / 1000.0
    return {
        "exec.jobs": sum(rec["jobs"] for rec in calls),
        "exec.stages": tot["stages"],
        "exec.tasks": tot["tasks"],
        "exec.launch_gap_s": wall - covered_s(stages, lo_ms, hi_ms),
        "exec.task_s": tot["task_s"],
        "exec.busy_frac": tot["task_s"] / (wall * nproc),
        "exec.shuffle_write_mb": tot["shuffle_write_mb"],
        "exec.gc_s": tot["gc_s"],
        "exec.failed_tasks": tot["failed_tasks"],
    }
