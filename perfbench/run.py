#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the KG-construction pipeline.

Usage (from the repository root):

    python3 perfbench/run.py --workload turtle_pages --seed 1 \\
        --seconds 15 --trace 0

One process, Spark ``local[2]``, one closed-loop lookup client. The
seed generates a synthetic page corpus (perfbench/corpus.py), written
as parquet in PAGE_SCHEMA and read through ``sources.read_pages``; the
benchmark drives the public entry point ``pipeline.run_pipeline`` over
it, resumes after deleting half the bucket manifests, and issues
``storage.scan_pattern_pbucketed`` lookups against the materialized
``triples_canonical``. Every operation's output is checked against
expectations derived by construction.

``--trace 0`` measures end-to-end metrics with no tracing; ``--trace 1``
is a separate traced run for per-layer metrics: spans around the
pipeline's eager calls, a staged replay of each lazy layer from
materialized inputs, Spark status-store metrics, and in-process
per-page timings of the parsers. Spans are written once, at the end,
to ``.bench_traces/``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--workload all`` runs every workload in turn (each in its own
process) and prints each end-to-end metric by name with its unit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
TRACES = ROOT / ".bench_traces"
sys.path.insert(0, str(Path(__file__).resolve().parent))

from corpus import MENTIONS, WORKLOADS  # noqa: E402

CPUS = 2
N_BUCKETS = 2
MIN_LINK_SCORE = 0.2
# One measurement cycle: P runs the pipeline into a fresh directory, L
# issues LOOKUPS_PER_BLOCK lookups against its output, and R resumes it.
# On a shared virtual machine, speed drifts by about 20% over tens of
# seconds, so each operation's samples are spread over the whole cycle
# instead of taken in one block. The resumes follow a pipeline run: the
# first resume after the cold warm-up run is slower by a margin that
# varies between runs.
CYCLE = "PLRLR"
LOOKUPS_PER_BLOCK = 10
# the half of the buckets a simulated crash loses
LOST = list(range(0, N_BUCKETS, 2))
TRACE_LOOKUPS = 24
MICRO_SAMPLE = 200
SETUP_REPS = 2

# name -> unit, for --trace 0
END_TO_END = {
    "setup_s": "s",
    "pipeline_s": "s",
    "docs_per_s": "1/s",
    "triples_per_s": "1/s",
    "resume_s": "s",
    "lookup_p50_ms": "ms",
    "stored_bytes_per_triple": "B/triple",
}

_T, _E = "turtle_pages", "embedded_pages"
_BOTH = f"{_T}, {_E}"
# name -> (unit, better, the end-to-end metric and workload it should
# move), for --trace 1. A layer the workload's pipeline never runs
# reports 0 there (the Turtle-only stage on embedded_pages and the
# embedded stage on turtle_pages).
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", f"setup_s on {_BOTH}"),
    "session.python_worker_start_s": ("s", "lower", f"setup_s on {_BOTH}"),
    "session.jvm_peak_rss_mb": ("MB", "lower", "reported, not gated"),
    "session.python_worker_peak_rss_mb": ("MB", "lower", "reported, not gated"),
    "sources.read_pages_s": ("s", "lower", f"pipeline_s on {_BOTH}"),
    "sources.bytes_read": ("B", "lower", f"pipeline_s on {_BOTH}"),
    "pipeline.bucketize_s": ("s", "lower", f"pipeline_s on {_BOTH}"),
    "pipeline.spark_jobs": ("count", "lower", f"pipeline_s on {_E}"),
    "pipeline.unattributed_s": ("s", "lower", f"pipeline_s on {_BOTH}"),
    "pipeline.resume_buckets_skipped": ("count", "higher", f"resume_s on {_BOTH}"),
    "trace.overhead_s": ("s", "lower", "none (traced minus untraced wall)"),
    "extract.extract_triples_s": ("s", "lower", f"pipeline_s on {_T}"),
    "extract.python_run_s": ("s", "lower", f"pipeline_s, docs_per_s on {_T}"),
    "extract.python_us_per_page": ("us", "lower", f"docs_per_s on {_T}"),
    "extract.arrow_bytes_returned": ("B", "lower", f"pipeline_s on {_T}"),
    "extract.triples_out": ("count", "higher", f"triples_per_s on {_T}"),
    "extract.quarantine_rows": ("count", "lower", f"pipeline_s on {_T}"),
    "extract.task_skew": ("ratio", "lower", f"pipeline_s on {_T}"),
    "extract.extract_embedded_s": ("s", "lower", f"pipeline_s on {_E}"),
    "extract.embedded_python_run_s": ("s", "lower", f"pipeline_s on {_E}"),
    "extract.embedded_arrow_bytes_returned": ("B", "lower", f"pipeline_s on {_E}"),
    "extract.embedded_distinct_s": ("s", "lower", f"pipeline_s on {_E}"),
    "extract.embedded_triples.turtle": ("count", "higher", f"triples_per_s on {_E}"),
    "extract.embedded_triples.jsonld": ("count", "higher", f"triples_per_s on {_E}"),
    "extract.embedded_triples.rdfa": ("count", "higher", f"triples_per_s on {_E}"),
    "extract.embedded_triples.microdata": ("count", "higher", f"triples_per_s on {_E}"),
    "grammar.parse_document_us_per_page": ("us", "lower", f"pipeline_s on {_T}"),
    "grammar.triples_per_page": ("count", "higher", f"triples_per_s on {_T}"),
    "jsonld.expand_jsonld_us_per_page": ("us", "lower", f"pipeline_s on {_E}"),
    "rdfa.extract_rdfa_triples_us_per_page": ("us", "lower", f"pipeline_s on {_E}"),
    "microdata.extract_microdata_triples_us_per_page": ("us", "lower", f"pipeline_s on {_E}"),
    "htmlscan.scan_html_us_per_page": ("us", "lower", f"pipeline_s on {_E}"),
    "linking.link_s": ("s", "lower", f"pipeline_s on {_BOTH}"),
    "linking.mentions_rows": ("count", "lower", f"pipeline_s on {_E}"),
    "linking.links_rows": ("count", "higher", f"triples_per_s on {_BOTH}"),
    "linking.link_yield": ("ratio", "higher", f"pipeline_s on {_BOTH}"),
    "linking.shuffle_write_bytes": ("B", "lower", f"pipeline_s on {_E}"),
    "canonicalize.sameas_edges_rows": ("count", "lower", f"pipeline_s on {_BOTH}"),
    "canonicalize.cc_id_bytes": ("B", "lower", f"pipeline_s on {_BOTH}"),
    "canonicalize.connected_components_s": ("s", "lower", f"pipeline_s, resume_s on {_BOTH}"),
    "canonicalize.connected_components_spark_jobs": ("count", "lower", f"pipeline_s, resume_s on {_BOTH}"),
    "canonicalize.distributed_cc_s": ("s", "lower", "pipeline_s, resume_s once id bytes pass the driver gate"),
    "canonicalize.distributed_cc_spark_jobs": ("count", "lower", "pipeline_s, resume_s once id bytes pass the driver gate"),
    "canonicalize.rewrite_canonical_s": ("s", "lower", f"pipeline_s, resume_s on {_BOTH}"),
    "canonicalize.rewrite_hit_share": ("ratio", "lower", f"pipeline_s on {_BOTH}"),
    "canonicalize.rewrite_shuffle_write_bytes": ("B", "lower", f"pipeline_s, resume_s on {_BOTH}"),
    "storage.write_triples_pbucketed_s": ("s", "lower", f"pipeline_s on {_T}"),
    "storage.files_written": ("count", "lower", f"stored_bytes_per_triple on {_T}"),
    "storage.bytes_written": ("B", "lower", f"stored_bytes_per_triple on {_T}"),
    "storage.shuffle_write_bytes": ("B", "lower", f"pipeline_s on {_T}"),
    "storage.scan_pattern_pbucketed_ms": ("ms", "lower", f"lookup_p50_ms on {_BOTH}"),
    "storage.files_read_per_lookup": ("count", "lower", f"lookup_p50_ms on {_T}"),
    "storage.rows_scanned_per_row_returned": ("ratio", "lower", f"lookup_p50_ms on {_T}"),
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and let Python workers import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def _stop_spark(spark) -> int:
    """Stop the session, end the JVM and wait for it; returns the
    peak RSS (KiB) of the largest reaped child, i.e. the JVM."""
    import resource

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = SparkContext._jvm = None
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss


# ---------------------------------------------------------------------
# output checks: each returns a list of problems (empty = correct)


def _read_parquet_dir(path: Path, columns=None):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns, partitioning="hive")


class Checker:
    def __init__(self, corpus):
        self.corpus = corpus
        self.cmap = corpus.canonical_map()
        self.lineage = corpus.lineage()
        self.links = corpus.link_pairs()
        self.n_canonical = len(corpus.canonical_rows())

    def pipeline(self, stats: dict, out: Path, ran: list[int]) -> list[str]:
        c, bad = self.corpus, []
        if stats["n_canonical_triples"] != self.n_canonical:
            bad.append(f"n_canonical_triples {stats['n_canonical_triples']}"
                       f" != {self.n_canonical}")
        if sorted(stats["buckets_ran"]) != sorted(ran):
            bad.append(f"buckets_ran {stats['buckets_ran']} != {ran}")
        man = [json.loads((out / f"bucket={b}" / "_MANIFEST.json").read_text())
               for b in range(N_BUCKETS)]
        docs = sum(m["docs"] for m in man)
        fails = sum(m["parse_failures"] for m in man)
        if docs != len(c.pages) or fails != c.n_broken():
            bad.append(f"manifests docs={docs} parse_failures={fails}, "
                       f"expected {len(c.pages)}, {c.n_broken()}")
        got = {}
        for b in range(N_BUCKETS):
            lin = out / f"bucket={b}" / "lineage"
            if lin.exists():
                t = _read_parquet_dir(lin, ["url", "n_triples", "parse_ok"])
                got.update(zip(t.column("url").to_pylist(),
                               zip(t.column("n_triples").to_pylist(),
                                   t.column("parse_ok").to_pylist())))
        if got != self.lineage:
            diff = [u for u in self.lineage if got.get(u) != self.lineage[u]]
            bad.append(f"lineage differs on {len(diff)} pages, e.g. "
                       f"{diff[:1]} {got.get(diff[0]) if diff else None} vs "
                       f"{self.lineage.get(diff[0]) if diff else None}")
        t = _read_parquet_dir(out / "canonical_map")
        cm = dict(zip(t.column("iri").to_pylist(),
                      t.column("canonical").to_pylist()))
        if cm != self.cmap:
            bad.append(f"canonical_map differs ({len(cm)} vs {len(self.cmap)} "
                       "entries)")
        import pyarrow.compute as pc

        t = _read_parquet_dir(out / "triples_canonical", ["url", "p", "o"])
        t = t.filter(pc.equal(t.column("p"), MENTIONS))
        links = set(zip(t.column("url").to_pylist(), t.column("o").to_pylist()))
        if links != self.links:
            bad.append(f"link pairs {len(links)} != {len(self.links)}")
        return bad


def digest(out: Path) -> tuple[int, str]:
    """Order-independent digest of triples_canonical: sha256 over its
    sorted rows."""
    cols = ["url", "s", "s_kind", "p", "o", "o_kind", "o_datatype", "o_lang"]
    t = _read_parquet_dir(out / "triples_canonical", cols)
    rows = sorted(zip(*[[("" if v is None else v) for v in t.column(c).to_pylist()]
                        for c in cols]))
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode("utf-8", "surrogatepass") + b"\x1e")
    return len(rows), h.hexdigest()


def _dir_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


# ---------------------------------------------------------------------


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 sizes: dict | None = None):
        self.workload, self.seed = workload, seed
        self.sizes = sizes or {}
        self.seconds, self.trace = seconds, trace
        self.work = WORK / f"{workload}-{seed}-{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.n_outs = 0

    # -- operations, each counted and checked --------------------------

    def _op(self, name: str, fn):
        """Run one operation; a raise or a failed check counts it as
        failed. Returns fn's result or None."""
        self.attempted += 1
        try:
            result, problems = fn()
        except Exception:  # a benchmark must report, not die
            log(f"{name}: raised\n{traceback.format_exc()}")
            self.failed += 1
            return None
        if problems:
            log(f"{name}: output check failed: {problems}")
            self.failed += 1
        return result

    def _fresh_out(self) -> Path:
        self.n_outs += 1
        return self.work / f"out{self.n_outs}"

    def _run_pipeline(self, out: Path) -> tuple[float, dict]:
        """One timed ``run_pipeline`` call -> (wall seconds, stats)."""
        from tortank_spark.pipeline import run_pipeline
        from tortank_spark.sources.pagetable import read_pages

        t = time.perf_counter()
        stats = run_pipeline(
            self.spark, read_pages(self.spark, str(self.pages_dir)),
            str(out), n_buckets=N_BUCKETS, alias_dict=self.alias_df,
            min_link_score=MIN_LINK_SCORE,
            syntax_mode=self.corpus.syntax_mode)
        return time.perf_counter() - t, stats

    def pipeline(self, out: Path):
        def go():
            wall, stats = self._run_pipeline(out)
            return (wall, stats), self.checker.pipeline(
                stats, out, list(range(N_BUCKETS)))
        return self._op("run_pipeline", go)

    def resume(self, out: Path):
        """Delete half the bucket manifests (a simulated crash), then
        rerun into the same directory."""
        def go():
            for b in LOST:
                (out / f"bucket={b}" / "_MANIFEST.json").unlink()
            wall, stats = self._run_pipeline(out)
            bad = self.checker.pipeline(stats, out, LOST)
            kept = [b for b in range(N_BUCKETS) if b not in LOST]
            if sorted(stats["buckets_skipped"]) != kept:
                bad.append(f"buckets_skipped {stats['buckets_skipped']}")
            return (wall, stats), bad
        return self._op("resume", go)

    def lookup(self, table: Path, s, p, expected: int):
        from tortank_spark.storage import scan_pattern_pbucketed

        def go():
            t = time.perf_counter()
            rows = scan_pattern_pbucketed(self.spark, str(table), s=s, p=p).collect()
            ms = (time.perf_counter() - t) * 1e3
            bad = [] if len(rows) == expected else [
                f"lookup s={s} p={p}: {len(rows)} rows != {expected}"]
            return (ms, len(rows)), bad
        return self._op("lookup", go)

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        import random

        t0 = time.perf_counter()
        from tortank_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t0
        # input generation + write, repeated: the median is the
        # reported share of set-up
        gen = []
        for k in range(SETUP_REPS):
            shutil.rmtree(self.work / f"pages{k}", ignore_errors=True)
            t = time.perf_counter()
            self.corpus = WORKLOADS[self.workload](self.seed, **self.sizes)
            self.corpus.write_parquet(self.work / f"pages{k}")
            gen.append(time.perf_counter() - t)
        self.pages_dir = self.work / f"pages{SETUP_REPS - 1}"
        self.checker = Checker(self.corpus)
        self.alias_df = self.spark.createDataFrame(
            self.corpus.aliases, "alias string, entity_iri string, prior double")
        self.lookup_plan = self.corpus.lookups(
            random.Random(f"lookups:{self.workload}:{self.seed}"), 400)
        # untimed warm-up: a fresh JVM's first pipeline run takes
        # three times as long as later ones
        t = time.perf_counter()
        self.spark.sparkContext.setJobGroup("bench:setup", "warm-up")
        self.warm_out = self._fresh_out()
        self.pipeline(self.warm_out)
        for s, p, n in self.lookup_plan[:4]:
            self.lookup(self.warm_out / "triples_canonical", s, p, n)
        warm = time.perf_counter() - t
        self.metrics["setup_s"] = self.get_spark_s + statistics.median(gen) + warm
        log(f"set-up: session {self.get_spark_s:.1f} s, input "
            f"{[round(x, 2) for x in gen]} s, warm-up {warm:.1f} s")

    # -- --trace 0 ---------------------------------------------------------

    def measure(self) -> None:
        start = time.perf_counter()
        pipe, resume, lat = [], [], []
        k, last = 0, None
        while True:
            cycle_start = time.perf_counter()
            for op in CYCLE:
                if op == "R":
                    r = self.resume(out)
                    if r is not None:
                        resume.append(r[0])
                elif op == "P":
                    out = self._fresh_out()
                    r = self.pipeline(out)
                    if r is not None:
                        pipe.append(r[0])
                        last = (out, r[1])
                else:
                    for _ in range(LOOKUPS_PER_BLOCK):
                        s, p, n = self.lookup_plan[k % len(self.lookup_plan)]
                        k += 1
                        r = self.lookup(out / "triples_canonical", s, p, n)
                        if r is not None:
                            lat.append(r[0])
            # whole cycles only: start another one only if it fits in
            # what is left of the window
            now = time.perf_counter()
            if now - start + (now - cycle_start) > self.seconds:
                break
        log(f"measured in {time.perf_counter() - start:.1f} s: pipeline "
            f"{[round(x, 2) for x in pipe]} s, resume "
            f"{[round(x, 2) for x in resume]} s, {len(lat)} lookups")
        if not (pipe and resume and lat and last):
            return
        out, stats = last
        n_trip = stats["n_canonical_triples"]
        p_s = statistics.median(pipe)
        _, stored = _dir_bytes(out / "triples_canonical")
        self.metrics.update({
            "pipeline_s": p_s,
            "docs_per_s": len(self.corpus.pages) / p_s,
            "triples_per_s": n_trip / p_s,
            "resume_s": statistics.median(resume),
            "lookup_p50_ms": statistics.median(lat),
            "stored_bytes_per_triple": stored / n_trip,
        })
        self.final_out = out

    # -- --trace 1 ---------------------------------------------------------

    def traced(self) -> None:
        from sparkstats import SparkStats, Tracer

        sc = self.spark.sparkContext
        st = SparkStats(self.spark)
        tr = Tracer(uuid.uuid4().hex, sc)
        self.tracer = tr
        m = self.metrics
        warm = st.sql_metrics("bench:setup")
        m["session.get_spark_s"] = self.get_spark_s
        m["session.python_worker_start_s"] = warm.get(
            "time to start Python workers", 0.0)

        # untraced, then traced, pipeline run in the same process
        sc.setJobGroup("bench:untraced", "untraced")
        r = self.pipeline(self._fresh_out())
        untraced = r[0] if r else float("nan")
        r = self.resume(self.warm_out)
        m["pipeline.resume_buckets_skipped"] = (
            len(r[1]["buckets_skipped"]) if r else 0)
        out = self._fresh_out()
        with _eager_spans(tr) as called:
            with tr.span("pipeline.run_pipeline"):
                r = self.pipeline(out)
        traced = r[0] if r else float("nan")
        groups = ["pipeline.run_pipeline", "canonicalize.connected_components",
                  "storage.write_triples_pbucketed"]
        m["pipeline.spark_jobs"] = sum(len(st.jobs(f"bench:{g}")) for g in groups)
        m["canonicalize.connected_components_s"] = tr.seconds(
            "canonicalize.connected_components")
        m["canonicalize.connected_components_spark_jobs"] = len(
            st.jobs("bench:canonicalize.connected_components"))
        if not all(called.values()):
            log(f"eager spans not reached: {called}")
        m["trace.overhead_s"] = traced - untraced
        self.final_out = out

        layer_s = self._staged_replay(st, tr, out)
        m["pipeline.unattributed_s"] = untraced - layer_s - m[
            "canonicalize.connected_components_s"]
        self._traced_lookups(st, tr, out / "triples_canonical")
        self._microbench()
        m["session.python_worker_peak_rss_mb"] = _worker_peak_rss_mb(self.spark)

    def _staged_replay(self, st, tr, out: Path) -> float:
        """Replay each lazy layer from a materialized copy of its
        input, so each span is that layer's self time (its call plus
        the parquet write of its output). Returns the summed spans."""
        import pyarrow.parquet as pq
        import pyspark.sql.functions as F

        from tortank_spark.canonicalize import (connected_components,
                                                rewrite_canonical, sameas_edges)
        from tortank_spark.extract import (extract_embedded, extract_triples,
                                           triples_only)
        from tortank_spark.linking import (best_link_per_mention,
                                           detect_mentions, link_mentions,
                                           links_as_triples)
        from tortank_spark.pipeline import bucket_of
        from tortank_spark.schema import TRIPLE_SCHEMA
        from tortank_spark.sources.pagetable import read_pages
        from tortank_spark.storage import write_triples_pbucketed

        spark, m, stage = self.spark, self.metrics, self.work / "stage"
        rd = lambda name: spark.read.parquet(str(stage / name))  # noqa: E731

        def put(df, name):
            df.write.mode("overwrite").parquet(str(stage / name))

        def rows(name):
            return sum(pq.ParquetFile(f).metadata.num_rows
                       for f in (stage / name).rglob("*.parquet"))

        n_pages = len(self.corpus.pages)
        spans = []

        def span(name):
            spans.append(name)
            return tr.span(name)

        with span("sources.read_pages") as g:
            put(read_pages(spark, str(self.pages_dir)), "pages")
        m["sources.read_pages_s"] = tr.seconds("sources.read_pages")
        m["sources.bytes_read"] = st.sql_metrics(g).get("size of files read", 0.0)

        with span("pipeline.bucketize"):
            (rd("pages").withColumn("_bucket", bucket_of(F.col("url"), N_BUCKETS))
             .write.mode("overwrite").partitionBy("_bucket")
             .parquet(str(stage / "bucketed")))
        m["pipeline.bucketize_s"] = tr.seconds("pipeline.bucketize")

        for key in ("extract_triples_s", "python_run_s", "python_us_per_page",
                    "arrow_bytes_returned", "triples_out", "quarantine_rows",
                    "task_skew", "extract_embedded_s", "embedded_python_run_s",
                    "embedded_arrow_bytes_returned", "embedded_distinct_s"):
            m[f"extract.{key}"] = 0.0
        for syn in ("turtle", "jsonld", "rdfa", "microdata"):
            m[f"extract.embedded_triples.{syn}"] = 0
        if self.corpus.syntax_mode == "turtle":
            with span("extract.extract_triples") as g:
                put(extract_triples(rd("pages")), "extracted")
                put(triples_only(rd("extracted")), "triples")
            sq = st.sql_metrics(g)
            t = _read_parquet_dir(stage / "extracted", ["s", "parse_ok"])
            ok = t.column("parse_ok").to_pylist()
            m.update({
                "extract.extract_triples_s": tr.seconds("extract.extract_triples"),
                "extract.python_run_s": sq.get("time to run Python workers", 0.0),
                "extract.arrow_bytes_returned": sq.get(
                    "data returned from Python workers", 0.0),
                "extract.triples_out": rows("triples"),
                "extract.quarantine_rows": ok.count(False),
                "extract.task_skew": st.task_skew(g),
            })
            m["extract.python_us_per_page"] = (
                m["extract.python_run_s"] * 1e6 / n_pages)
        else:
            with span("extract.extract_embedded") as g:
                put(extract_embedded(rd("pages")), "embedded")
            sq = st.sql_metrics(g)
            with span("extract.embedded_distinct"):
                put(rd("embedded").select(*[f.name for f in TRIPLE_SCHEMA.fields])
                    .distinct(), "triples")
            syn = _read_parquet_dir(stage / "embedded", ["syntax"]).column(
                "syntax").to_pylist()
            m.update({
                "extract.extract_embedded_s": tr.seconds("extract.extract_embedded"),
                "extract.embedded_python_run_s": sq.get(
                    "time to run Python workers", 0.0),
                "extract.embedded_arrow_bytes_returned": sq.get(
                    "data returned from Python workers", 0.0),
                "extract.embedded_distinct_s": tr.seconds(
                    "extract.embedded_distinct"),
            })
            for name in ("turtle", "jsonld", "rdfa", "microdata"):
                m[f"extract.embedded_triples.{name}"] = syn.count(name)
            want = self.corpus.syntax_counts()
            got = {k: m[f"extract.embedded_triples.{k}"] for k in want}
            self.attempted += 1
            if got != dict(want):
                log(f"extract_embedded per-syntax counts {got} != {dict(want)}")
                self.failed += 1

        with span("linking.link") as g:
            put(detect_mentions(rd("pages")), "mentions")
            put(best_link_per_mention(link_mentions(
                rd("mentions"), self.alias_df, MIN_LINK_SCORE)), "links")
            put(links_as_triples(rd("links")), "link_triples")
        m["linking.link_s"] = tr.seconds("linking.link")
        m["linking.mentions_rows"] = rows("mentions")
        m["linking.links_rows"] = rows("links")
        m["linking.link_yield"] = m["linking.links_rows"] / max(
            m["linking.mentions_rows"], 1)
        m["linking.shuffle_write_bytes"] = st.sql_metrics(g).get(
            "shuffle bytes written", 0.0)

        with span("canonicalize.sameas_edges"):
            put(sameas_edges(rd("triples")), "edges")
        e = _read_parquet_dir(stage / "edges")
        pairs = {(max(a, b), min(a, b)) for a, b in zip(
            e.column("src").to_pylist(), e.column("dst").to_pylist()) if a != b}
        m["canonicalize.sameas_edges_rows"] = e.num_rows
        m["canonicalize.cc_id_bytes"] = sum(
            len(a.encode()) + len(b.encode()) for a, b in pairs)

        # the distributed large-star/small-star path on the same edges,
        # forced through the public gate parameter: this workload's id
        # bytes sit far below the driver gate, which the pipeline run
        # takes
        with tr.span("canonicalize.distributed_cc") as g:
            put(connected_components(rd("edges"), driver_max_bytes=0), "cmap_dist")
        m["canonicalize.distributed_cc_s"] = tr.seconds("canonicalize.distributed_cc")
        m["canonicalize.distributed_cc_spark_jobs"] = len(st.jobs(g))
        t = _read_parquet_dir(stage / "cmap_dist")
        self.attempted += 1
        if dict(zip(t.column("iri").to_pylist(),
                    t.column("canonical").to_pylist())) != self.checker.cmap:
            log("distributed connected_components: canonical map differs")
            self.failed += 1

        with span("canonicalize.rewrite_canonical") as g:
            put(rewrite_canonical(
                rd("triples").unionByName(rd("link_triples")),
                spark.read.parquet(str(out / "canonical_map"))), "canonical")
        m["canonicalize.rewrite_canonical_s"] = tr.seconds(
            "canonicalize.rewrite_canonical")
        m["canonicalize.rewrite_shuffle_write_bytes"] = st.sql_metrics(g).get(
            "shuffle bytes written", 0.0)
        cm = self.checker.cmap
        hits = total = 0
        for name in ("triples", "link_triples"):
            t = _read_parquet_dir(stage / name, ["s", "o", "o_kind"])
            for s, o, ok in zip(t.column("s").to_pylist(), t.column("o").to_pylist(),
                                t.column("o_kind").to_pylist()):
                total += 1
                hits += s in cm or (ok == "iri" and o in cm)
        m["canonicalize.rewrite_hit_share"] = hits / max(total, 1)

        with span("storage.write_triples_pbucketed") as g:
            write_triples_pbucketed(rd("canonical"), str(stage / "pbucketed"))
        m["storage.write_triples_pbucketed_s"] = tr.seconds(
            "storage.write_triples_pbucketed")
        files, size = _dir_bytes(stage / "pbucketed")
        m["storage.files_written"] = files
        m["storage.bytes_written"] = size
        m["storage.shuffle_write_bytes"] = st.sql_metrics(g).get(
            "shuffle bytes written", 0.0)
        return sum(tr.seconds(s) for s in spans)

    def _traced_lookups(self, st, tr, table: Path) -> None:
        lat, files, scanned, returned = [], [], 0.0, 0
        for i, (s, p, n) in enumerate(self.lookup_plan[:TRACE_LOOKUPS]):
            with tr.span(f"storage.scan_pattern_pbucketed#{i}") as g:
                r = self.lookup(table, s, p, n)
            if r is None:
                continue
            lat.append(r[0])
            sm = st.scan_metrics(g)
            files.append(sm.get("number of files read", 0.0))
            scanned += sm.get("number of output rows", 0.0)
            returned += r[1]
        self.metrics["storage.scan_pattern_pbucketed_ms"] = statistics.median(lat)
        self.metrics["storage.files_read_per_lookup"] = statistics.mean(files)
        self.metrics["storage.rows_scanned_per_row_returned"] = scanned / max(
            returned, 1)

    def _microbench(self) -> None:
        """Per-page cost of each parser, in-process, on a fixed sample
        of this workload's pages."""
        from tortank_spark.grammar.turtle import parse_document
        from tortank_spark.htmlscan import scan_html
        from tortank_spark.jsonld import expand_jsonld, find_islands
        from tortank_spark.microdata import extract_microdata_triples
        from tortank_spark.rdfa import extract_rdfa_triples

        texts = [p.text for p in self.corpus.pages[:MICRO_SAMPLE]]
        n_trip = 0

        def grammar(t):
            nonlocal n_trip
            n_trip += len(parse_document(t)[0])

        def jsonld(t):
            for isl in find_islands(t):
                expand_jsonld(isl)

        def scan(t):
            for _ in scan_html(t):
                pass

        for name, fn in (
            ("grammar.parse_document", grammar),
            ("jsonld.expand_jsonld", jsonld),
            ("rdfa.extract_rdfa_triples", extract_rdfa_triples),
            ("microdata.extract_microdata_triples", extract_microdata_triples),
            ("htmlscan.scan_html", scan),
        ):
            with self.tracer.span(name):
                t = time.perf_counter()
                for text in texts:
                    fn(text)
                self.metrics[f"{name}_us_per_page"] = (
                    (time.perf_counter() - t) * 1e6 / len(texts))
        self.metrics["grammar.triples_per_page"] = n_trip / len(texts)

    # -- driver -----------------------------------------------------------

    def run(self) -> dict:
        shutil.rmtree(self.work, ignore_errors=True)
        _prepare_env(self.work)
        spark = None
        try:
            self.setup()
            spark = self.spark
            if self.trace:
                self.traced()
            else:
                self.measure()
            if getattr(self, "final_out", None) is not None:
                n, h = digest(self.final_out)
                print(f"{self.workload} seed={self.seed} triples_canonical "
                      f"rows={n} sha256={h}", flush=True)
        finally:
            if spark is not None:
                rss_kib = _stop_spark(spark)
                if self.trace:
                    self.metrics["session.jvm_peak_rss_mb"] = rss_kib / 1024
            if self.trace and getattr(self, "tracer", None) is not None:
                self.tracer.counters = dict(self.metrics)
                self.tracer.write(
                    TRACES / f"{self.workload}-{self.seed}-{self.tracer.run_id}.json")
            shutil.rmtree(self.work, ignore_errors=True)
        names = PER_LAYER if self.trace else END_TO_END
        missing = [k for k in names if k not in self.metrics]
        if missing:
            log(f"metrics not produced: {missing}")
            self.failed += 1
            self.attempted += 1
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": float(self.metrics[k]),
                    "unit": names[k] if not self.trace else names[k][0]}
                for k in names if k in self.metrics
            },
        }


@contextmanager
def _eager_spans(tr):
    """Spans around run_pipeline's eager public calls, installed where
    run_pipeline looks them up. Yields {name: reached?}."""
    import tortank_spark.pipeline as pl
    import tortank_spark.storage as stg

    called = {"connected_components": False, "write_triples_pbucketed": False}
    orig_cc, orig_w = pl.connected_components, stg.write_triples_pbucketed

    def cc(*a, **k):
        called["connected_components"] = True
        with tr.span("canonicalize.connected_components"):
            return orig_cc(*a, **k)

    def w(*a, **k):
        called["write_triples_pbucketed"] = True
        with tr.span("storage.write_triples_pbucketed"):
            return orig_w(*a, **k)

    pl.connected_components, stg.write_triples_pbucketed = cc, w
    try:
        yield called
    finally:
        pl.connected_components, stg.write_triples_pbucketed = orig_cc, orig_w


def _worker_peak_rss_mb(spark) -> float:
    """Peak RSS of the pooled Python workers the pipeline's UDF stages
    ran in, sampled by a job over the same worker pool."""
    def probe(batches):
        import resource

        import pyarrow as pa

        for _ in batches:
            pass
        kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        yield pa.RecordBatch.from_pydict({"kib": [kib]})

    spark.sparkContext.setJobGroup("bench:rss", "worker rss")
    got = spark.range(0, 4 * CPUS, 1, 4 * CPUS).mapInArrow(probe, "kib long").collect()
    return max(r["kib"] for r in got) / 1024



def run_all(args) -> int:
    """Run every workload in its own process and print each end-to-end
    metric by name with its unit."""
    bad = 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = p.stdout.strip().splitlines()
        if p.returncode or not lines:
            print(f"{w}: exit {p.returncode}")
            bad += 1
            continue
        res = json.loads(lines[-1])
        rate = res["failed"] / res["attempted"]
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} error_rate={rate:.4f}")
        for line in lines[:-1]:
            print(f"  {line}")
        for k, v in res["metrics"].items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
        bad += not res["correct"]
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    sys.path.insert(0, str(ROOT))
    try:
        import tortank_spark.pipeline  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program under test from {ROOT}: {exc}")
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    result = Bench(args.workload, args.seed, args.seconds, bool(args.trace)).run()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
