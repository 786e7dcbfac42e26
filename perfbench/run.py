"""The engine's benchmark of record.

    python3 perfbench/run.py --workload {build,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout.  From ``--seed`` it generates the corpus
(``corpus.py``), sets the workload up, then runs whole passes of the
workload's fixed call script, one closed-loop client, until ``--seconds``
have passed (at least one pass; two when tracing).  Every result is
checked outside the timed region (``reference.py``).  The last stdout
line is one JSON object ``{correct, attempted, failed, metrics}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
ones (``spans.py``).  The line before it carries the workload's named
metrics and, when tracing, every span counter.  Exit code 1 when any call
failed or returned a wrong result.

Scratch files live under ``.bench_work/`` in the current directory and
are removed at exit; Spark's log output is captured there and counted.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import corpus as C  # noqa: E402
from reference import ShadowIndex, normalized, topk_matches  # noqa: E402
from spans import LogCounter, Tracer  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "call_p50_ms": "ms",
    "cpu_s": "s",
}
COMMON = ("wall_s", "jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes")
WRITER = ("bytes_written", "files_written")
SPANS = {  # span name: whether the call writes to disk
    # build
    "pipeline.fit_save": True,
    "bm25.load": False,
    "bm25.search": False,
    "serving.create": True,  # also serve's set-up
    "text_analysis.gopher_filter": False,
    "cleaning.curation_pipeline": False,
    # serve; upserts run inside the CDC batch's upsert leg
    "serving.warm": False,
    "serving.search": False,
    "serving.add": True,
    "serving.delete": True,
    "index_maintenance.cdc": True,
    "serving.compact": True,
    "serving.search_batch": False,
}
EXTRA_LAYER = {
    "session.get_spark.wall_s": "s",
    "serving.search.batch_dirs_live": "count",
    "log.error_lines": "count",
    "log.warn_lines": "count",
    "trace.overhead_s": "s",
}
SHUFFLE_DRIFT_MAX = 0.01  # see self_check
PASS_GUARD_S = 140.0  # start no pass that could end past this run age


def unit_of(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes") or counter == "bytes_written":
        return "bytes"
    return "count"


def per_layer_names() -> dict[str, str]:
    out = {}
    for span, writes in SPANS.items():
        for c in COMMON + (WRITER if writes else ()):
            out[f"{span}.{c}"] = unit_of(c)
    out.update(EXTRA_LAYER)
    return out


def tail(values: list[float]) -> tuple[str, float]:
    """Highest percentile with at least ten samples beyond it; the maximum
    when that percentile would not lie above the median (under 21
    samples)."""
    v = sorted(values)
    if len(v) < 21:
        return "max", v[-1]
    i = len(v) - 11
    return f"p{100 * (i + 1) / len(v):.1f}", v[i]


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def jvm_cpu_s(pid: int) -> float:
    """CPU seconds the JVM (driver and local executors) has used."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water RSS of this process plus the JVM."""
    mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                mb += int(line.split()[1]) / 1024
    return mb


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """One closed-loop client.  Subclasses define ``setup_once`` (one
    repetition of set-up) and ``run_pass`` (the fixed call script)."""

    setup_reps = 3

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def call(self, span: str, fn, check=None):
        """One timed call; its check runs after the span closed."""
        self.attempted += 1
        try:
            with self.tracer.span(span):
                out = fn()
        except Exception:
            self.failed += 1
            self.errors.append(f"{span}: {traceback.format_exc(limit=3)}")
            raise
        if check is not None and not check(out):
            self.failed += 1
            self.errors.append(f"{span}: result check failed")
        return out

    def zipf_queries(self, sampler: C.WordSampler, n: int) -> list[list[str]]:
        rng = sampler.rng
        out = []
        for _ in range(n):
            terms = list(dict.fromkeys(sampler.draw(int(rng.integers(1, 5)))))
            out.append(terms)
        return out

    def detail(self) -> dict[str, tuple[float, str]]:
        return {}


CURATE_CALLS = (
    ("text_analysis.gopher_filter", "q_gopher_filter"),
    # MinHash near-dup clustering and decontamination run inside it
    ("cleaning.curation_pipeline", "q_curation_pipeline"),
)


class Build(Workload):
    """The offline corpus path.  Statistics build + persist, engine load
    and search, the serving index build with its forward section; then
    curation of a second corpus with planted near-duplicates, boilerplate
    lines and a language mix, through the driver contract's curation
    queries so every curation result has a DuckDB oracle."""

    shape = C.Shape(docs=2000, vocab=20000)
    curate_shape = C.Shape(
        docs=300,
        vocab=5000,
        line_words=10,
        boilerplate_share=0.3,
        near_dup_pairs=8,
    )

    def setup_once(self) -> None:
        self.corpus = C.generate(self.seed, self.shape)
        self.input_bytes = self.corpus.write(os.path.join(self.work, "corpus"))
        self.curate = C.generate(self.seed + 3, self.curate_shape)
        self.curate_dir = os.path.join(self.work, "curate")
        self.curate.write(self.curate_dir)

    def prepare(self) -> None:
        import duckdb

        self.ref = ShadowIndex(self.corpus.texts)
        rng = np.random.default_rng(self.seed + 1)
        sampler = C.WordSampler(rng, self.shape.vocab, self.shape.zipf_s)
        self.queries = self.zipf_queries(sampler, 5)
        self.docs = self.spark.read.parquet(
            os.path.join(self.work, "corpus", "documents.parquet")
        )
        spec = importlib.util.spec_from_file_location(
            "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
        )
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        self.curate_queries = entry.queries()
        self.oracle = entry.oracle_sql()
        # untimed warm-up: the session's first jobs (JIT, code generation,
        # Python workers) vary a lot and are not the calls measured here
        from flink_bm25_spark.api import BM25Engine

        tiny = self.spark.createDataFrame(
            [(i, f"warm up text {i % 7}") for i in range(64)], "doc_id long, text string"
        )
        BM25Engine.fit(tiny).save(os.path.join(self.work, "warmup"))
        self.duck = duckdb.connect()
        self.duck.execute(
            "create view documents as select * from "
            f"'{self.curate_dir}/documents.parquet'"
        )
        self.expected: dict[str, list] = {}

    def run_pass(self, p: int) -> None:
        from flink_bm25_spark.api import BM25Engine
        from flink_bm25_spark.operators.serving import bm25_index_save

        eng_path = os.path.join(self.work, f"engine_p{p}")
        self.call(
            "pipeline.fit_save", lambda: BM25Engine.fit(self.docs).save(eng_path)
        )
        eng = self.call("bm25.load", lambda: BM25Engine.load(self.spark, eng_path))
        for terms in self.queries:
            self.call(
                "bm25.search",
                lambda: eng.search(" ".join(terms)).collect(),
                lambda rows, t=terms: topk_matches(
                    [(r["doc_id"], r["score"]) for r in rows], self.ref.scores(t), 10
                ),
            )
        self.call(
            "serving.create",
            lambda: bm25_index_save(
                self.docs,
                os.path.join(self.work, f"index_p{p}"),
                n_buckets=16,
                forward=True,
            ),
        )

        def curate(q):
            df = self.curate_queries[q](self.spark, self.curate_dir)
            return df.columns, df.collect()

        for span, q in CURATE_CALLS:
            self.call(
                span,
                lambda q=q: curate(q),
                lambda out, q=q: self._check_curated(q, *out),
            )

    def _check_curated(self, q: str, cols, rows) -> bool:
        """Oracle parity (the oracle runs once; later passes must match
        it too).  The curated set also must not keep both members of any
        planted near-duplicate pair."""
        got = normalized([tuple(r) for r in rows], cols)
        if q not in self.expected:
            rel = self.duck.execute(self.oracle[q])
            oracle_cols = [d[0] for d in rel.description]
            if sorted(oracle_cols) != sorted(cols):
                return False
            self.expected[q] = normalized(rel.fetchall(), oracle_cols)
        ok = got == self.expected[q]
        if q == "q_curation_pipeline":
            kept = {r[cols.index("doc_id")] for r in rows}
            ok = ok and not any(a in kept and b in kept for a, b in self.curate.planted_pairs)
        return ok

    def detail(self):
        t = self.tracer.times
        n = self.shape.docs
        per_pass: dict[int, float] = {}
        for s in self.tracer.spans:
            if s.get("pass") is not None and s["name"] in dict(CURATE_CALLS):
                per_pass[s["pass"]] = per_pass.get(s["pass"], 0.0) + s["wall_s"]
        curate_s = statistics.median(per_pass.values())
        return {
            "stats_build_docs_per_s": (n / statistics.median(t("pipeline.fit_save")), "docs/s"),
            "index_build_docs_per_s": (n / statistics.median(t("serving.create")), "docs/s"),
            "batch_search_p50_ms": (statistics.median(t("bm25.search")) * 1e3, "ms"),
            "curate_docs_per_s": (self.curate_shape.docs / curate_s, "docs/s"),
        }


class Serve(Workload):
    """Pre-built index with a hot-term cap; searches beside small writes,
    one CDC micro-batch and a compaction every three writes."""

    shape = C.Shape(docs=1200, vocab=20000)
    setup_reps = 1
    hot_df_cap = 60
    n_buckets = 16

    def setup_once(self) -> None:
        from flink_bm25_spark.operators.serving import bm25_index_save

        self.corpus = C.generate(self.seed, self.shape)
        self.input_bytes = self.corpus.write(os.path.join(self.work, "corpus"))
        docs = self.spark.read.parquet(
            os.path.join(self.work, "corpus", "documents.parquet")
        )
        self.pristine = os.path.join(self.work, "index_pristine")
        with self.tracer.span("serving.create"):
            bm25_index_save(
                docs,
                self.pristine,
                n_buckets=self.n_buckets,
                hot_df_cap=self.hot_df_cap,
                forward=True,
            )

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed + 1)
        sampler = C.WordSampler(rng, self.shape.vocab, self.shape.zipf_s)
        self.queries = self.zipf_queries(sampler, 6)
        self.eval_queries = self.zipf_queries(sampler, 20)
        n = self.shape.docs
        ids = rng.permutation(n)
        new = C.generate(self.seed + 2, C.Shape(docs=20, vocab=self.shape.vocab), n)
        self.adds = list(new.texts.items())
        self.deletes = [int(i) for i in ids[10:20]]
        self.cdc = (
            [("upsert", int(i), " ".join(sampler.draw(30))) for i in ids[20:24]]
            + [("upsert", n + 100 + k, " ".join(sampler.draw(30))) for k in range(2)]
            + [("delete", int(i), None) for i in ids[24:28]]
        )
        self.batch_dirs: list[int] = []
        self.index_bytes_ratio: list[float] = []

    def _live_batch_dirs(self, path: str) -> int:
        versions = [
            int(f[len("_manifest_v") :])
            for f in os.listdir(path)
            if f.startswith("_manifest_v") and f[len("_manifest_v") :].isdigit()
        ]
        tree = os.path.join(path, f"v{max(versions)}") if versions else path
        return sum(
            d.startswith("_batch_id=")
            for d in os.listdir(os.path.join(tree, "postings"))
        )

    def _search(self, idx, path, shadow, terms) -> None:
        self.batch_dirs.append(self._live_batch_dirs(path))
        self.call(
            "serving.search",
            lambda: idx.search(" ".join(terms)).collect(),
            lambda rows: topk_matches(
                [(r["doc_id"], r["score"]) for r in rows], shadow.scores(terms), 10
            ),
        )

    def run_pass(self, p: int) -> None:
        from flink_bm25_spark.api import Bm25Index
        from flink_bm25_spark.operators.serving import bm25_index_pin
        from flink_bm25_spark.streaming.index_maintenance import (
            maintain_index_cdc_stream,
        )

        spark = self.spark
        path = os.path.join(self.work, f"index_p{p}")
        shutil.copytree(self.pristine, path)
        shadow = ShadowIndex(self.corpus.texts)
        idx = Bm25Index(spark, path)
        q = iter(self.queries)

        self.call("serving.warm", idx.warm)
        for _ in range(2):
            self._search(idx, path, shadow, next(q))

        add_df = spark.createDataFrame(self.adds, "doc_id long, text string")
        self.call("serving.add", lambda: idx.add(add_df))
        for i, t in self.adds:
            shadow.put(i, t)
        self.call("serving.delete", lambda: idx.delete(self.deletes))
        for i in self.deletes:
            shadow.delete(i)
        self._search(idx, path, shadow, next(q))

        src = os.path.join(self.work, f"cdc_p{p}")
        os.makedirs(src)
        pq.write_table(
            pa.table(
                {
                    "op": [c[0] for c in self.cdc],
                    "doc_id": pa.array([c[1] for c in self.cdc], pa.int64()),
                    "text": [c[2] for c in self.cdc],
                    "seq": pa.array(range(len(self.cdc)), pa.int64()),
                }
            ),
            os.path.join(src, "changes.parquet"),
        )

        def cdc():
            stream = spark.readStream.schema(
                "op string, doc_id long, text string, seq long"
            ).parquet(src)
            maintain_index_cdc_stream(stream, path, src + "_ckpt")

        self.call("index_maintenance.cdc", cdc)
        for op, i, t in self.cdc:
            shadow.put(i, t) if op == "upsert" else shadow.delete(i)
        self._search(idx, path, shadow, next(q))

        self.call("serving.compact", lambda: idx.compact(hot_df_cap=self.hot_df_cap))
        idx.gc(grace_seconds=0)
        self.index_bytes_ratio.append(du(path) / sum(shadow.text_bytes.values()))
        self.call("serving.warm", idx.warm)
        for _ in range(2):
            self._search(idx, path, shadow, next(q))

        version = bm25_index_pin(spark, path)

        def check_batch(rows):
            got: dict[int, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rk"])):
                got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
            return all(
                topk_matches(got.get(qid, []), shadow.scores(t), 10)
                for qid, t in enumerate(self.eval_queries)
            )

        self.call(
            "serving.search_batch",
            lambda: idx.search_batch(
                list(enumerate(self.eval_queries)), version=version
            ).collect(),
            check_batch,
        )
        idx.cool()

    def detail(self):
        t = self.tracer.times
        searches = [s * 1e3 for s in t("serving.search")]
        writes = [s * 1e3 for s in t("serving.add") + t("serving.delete")]
        s_pct, s_tail = tail(searches)
        w_pct, w_tail = tail(writes)
        return {
            "search_p50_ms": (statistics.median(searches), "ms"),
            f"search_tail_ms[{s_pct},n={len(searches)}]": (s_tail, "ms"),
            "write_p50_ms": (statistics.median(writes), "ms"),
            f"write_tail_ms[{w_pct},n={len(writes)}]": (w_tail, "ms"),
            "compact_s": (statistics.median(t("serving.compact")), "s"),
            "cdc_batch_s": (statistics.median(t("index_maintenance.cdc")), "s"),
            "eval_queries_per_s": (
                len(self.eval_queries) / statistics.median(t("serving.search_batch")),
                "queries/s",
            ),
            "index_bytes_per_input_byte": (
                statistics.median(self.index_bytes_ratio),
                "ratio",
            ),
        }


def pass_busy(tracer: Tracer) -> list[float]:
    """Per pass, the seconds the client spent inside calls."""
    busy: dict[int, float] = {}
    for s in tracer.spans:
        if s.get("pass") is not None:
            busy[s["pass"]] = busy.get(s["pass"], 0.0) + s["wall_s"]
    return [busy[p] for p in sorted(busy)]


WORKLOADS = {"build": Build, "serve": Serve}


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


def start_spark(work: str, cpus: int):
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # keep every file Spark, the JVMs and Python workers write in the
    # checkout: no /tmp, no hsperfdata
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    from flink_bm25_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def layer_metrics(tracer: Tracer, passes: int, wl: Workload) -> dict:
    """Per-pass span counters (set-up spans count once), then the extras."""
    per_pass: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        agg = per_pass.setdefault(s["name"], {})
        weight = 1.0 if s.get("pass") is None else 1.0 / passes
        for k, v in s.items():
            if isinstance(v, (int, float)) and k != "pass":
                agg[k] = agg.get(k, 0.0) + v * weight
    out = {}
    for name, unit in per_layer_names().items():
        span, _, counter = name.rpartition(".")
        if span in per_pass and counter in per_pass[span]:
            out[name] = (per_pass[span][counter], unit)
        else:
            out[name] = (0.0, unit)
    logs = [s for s in tracer.spans if s.get("pass") is not None]
    out["log.error_lines"] = (sum(s.get("error_lines", 0) for s in logs) / passes, "count")
    out["log.warn_lines"] = (sum(s.get("warn_lines", 0) for s in logs) / passes, "count")
    out["trace.overhead_s"] = (tracer.overhead_s / passes, "s")
    if getattr(wl, "batch_dirs", None):
        out["serving.search.batch_dirs_live"] = (
            statistics.mean(wl.batch_dirs),
            "count",
        )
    return out


def self_check(tracer: Tracer, passes: int) -> tuple[list[str], float]:
    """Two traced passes over identical inputs must do identical work.

    Jobs and stages must repeat exactly.  Shuffle-write bytes are the
    compressed size of rows whose order inside a block can follow Spark's
    packing of equal-sized input files, so they may drift by a few bytes;
    the largest relative drift is returned and more than
    ``SHUFFLE_DRIFT_MAX`` counts as a mismatch."""
    by_pass: dict[int, dict] = {}
    for s in tracer.spans:
        if s.get("pass") is None:
            continue
        cur = by_pass.setdefault(s["pass"], {}).setdefault(
            s["name"], dict.fromkeys(("jobs", "stages", "shuffle_write_bytes"), 0)
        )
        for k in cur:
            cur[k] += s[k]
    first = by_pass.get(0, {})
    mismatches, drift = [], 0.0
    for p in range(1, passes):
        for name, counts in by_pass.get(p, {}).items():
            ref = first.get(name)
            if ref is None or (counts["jobs"], counts["stages"]) != (
                ref["jobs"],
                ref["stages"],
            ):
                mismatches.append(f"pass {p} {name}: {counts} != {ref}")
                continue
            a, b = counts["shuffle_write_bytes"], ref["shuffle_write_bytes"]
            rel = abs(a - b) / max(a, b, 1)
            drift = max(drift, rel)
            if rel > SHUFFLE_DRIFT_MAX:
                mismatches.append(f"pass {p} {name}: shuffle bytes {a} != {b}")
    return mismatches, drift


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "flink_bm25_spark", "__init__.py")):
        print("engine package not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.abspath(os.path.join(".bench_work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    real_stderr = os.dup(2)
    logs = LogCounter(os.path.join(work, "run.log"))
    cpus = len(os.sched_getaffinity(0))
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cpus)
        get_spark_s = time.perf_counter() - t0
        jvm = spark.sparkContext._gateway.proc
        tracer = Tracer(spark, bool(args.trace), logs)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, work)

        setups = []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup_once()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        cpu0 = jvm_cpu_s(jvm.pid)

        min_passes = 2 if args.trace else 1
        pass_walls: list[float] = []
        t_measure = time.perf_counter()
        while True:
            p = len(pass_walls)
            spark.catalog.clearCache()
            tracer.tag = p
            t0 = time.perf_counter()
            n_errors = len(wl.errors)
            try:
                wl.run_pass(p)
            except Exception:  # a failed pass ends the measurement
                if len(wl.errors) == n_errors:  # raised outside a call
                    wl.attempted += 1
                    wl.failed += 1
                    wl.errors.append(traceback.format_exc(limit=3))
                break
            finally:
                tracer.tag = None
            pass_walls.append(time.perf_counter() - t0)
            cpu_passes = jvm_cpu_s(jvm.pid) - cpu0
            done = len(pass_walls) >= min_passes and (
                time.perf_counter() - t_measure >= args.seconds
            )
            if done or time.perf_counter() - t_start + pass_walls[-1] > PASS_GUARD_S:
                break

        calls = [
            s["wall_s"] * 1e3 for s in tracer.spans if s.get("pass") is not None
        ]
        mismatches, drift = (
            self_check(tracer, len(pass_walls)) if args.trace else ([], 0.0)
        )
        wl.attempted += 1 if args.trace else 0
        wl.failed += 1 if mismatches else 0
        if not pass_walls:
            raise RuntimeError("no pass completed")
        tail_pct, tail_ms = tail(calls)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "passes": len(pass_walls),
            "calls": len(calls),
            "call_tail_ms": {"value": tail_ms, "percentile": tail_pct},
            "peak_rss_mb": peak_rss_mb(jvm.pid),
            "docs": wl.shape.docs,
            "tokens": wl.corpus.n_tokens,
            "vocab": wl.shape.vocab,
            "input_bytes": wl.input_bytes,
            "session.get_spark_s": get_spark_s,
            "failed_op_share": wl.failed / max(wl.attempted, 1),
            "log_lines": dict(
                zip(("error", "warn"), logs.count(0)),
            ),
            "named": {k: {"value": v, "unit": u} for k, (v, u) in wl.detail().items()},
            "errors": wl.errors[:5],
        }
        if args.trace:
            detail["spans"] = tracer.totals()
            detail["self_check_mismatches"] = mismatches
            detail["self_check_shuffle_drift"] = drift
            layer = layer_metrics(tracer, len(pass_walls), wl)
            layer["session.get_spark.wall_s"] = (get_spark_s, "s")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        else:
            e2e = {
                "setup_s": get_spark_s + prepare_s + statistics.median(setups),
                "pass_s": statistics.median(pass_busy(tracer)),
                "call_p50_ms": statistics.median(calls),
                "cpu_s": cpu_passes / len(pass_walls),
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        os.dup2(real_stderr, 2)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
        if wl is not None and wl.errors:
            print("\n".join(wl.errors[:5]), file=sys.stderr)

    print(json.dumps(detail, default=float))
    print(
        json.dumps(
            {
                "correct": wl.failed == 0,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if wl.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
