#!/usr/bin/env python3
"""Layered benchmark of the quality-filter engine.

    python3 perfbench/run.py --workload filter_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json):

- ``filter_full``: ``driver.main --mode web`` on a fresh output.
- ``filter_resume``: ``driver.main --mode web --resume`` after a complete
  run, with a fixed 1/8 of the buckets lost before each call.
- ``near_dup``: ``operators.dedup.minhash_dedup`` forced by a ``noop``
  write, over a corpus with planted near-duplicate copies.

Each run sets up ``local[nproc]`` once, then repeats the workload's call until
``--seconds`` of calls are measured, checking every call's output against a
reference computed in-process. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` enables the Spark event log and spans around the layers'
public functions and reports the per-layer metrics (perfbench/README.md).
The last stdout line is one JSON object; the exit code is non-zero if any
check failed. ``--workload all`` runs the three workloads one after the
other, each in its own process.
"""

from __future__ import annotations

import argparse
import atexit
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "wikisource_latin_text_cleaner_spark"

import checks  # noqa: E402
import corpus  # noqa: E402
import eventlog  # noqa: E402
import procstat  # noqa: E402
from spans import GROUP_PREFIX, Tracer  # noqa: E402

#: filter corpus: docs, equal parquet files, checkpoint buckets
FILTER_DOCS, FILTER_FILES, BUCKETS = 2000, 16, 16
#: the lost tail of a crashed job: 1/8 of the buckets
LOST_BUCKETS = (14, 15)
#: near-dup corpus: base docs (plus 10% planted copies), parquet files
DUP_DOCS, DUP_FILES = 1400, 8
#: checked but untimed calls after the warm-up, while the JIT settles
WARM_CALLS = 2
#: docs timed per component in the traced run
COMPONENT_DOCS = 600
DRIVER_MEMORY = "1g"


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _quiet_driver(argv: list[str]) -> dict:
    """Run ``driver.main`` and return the JSON record it prints."""
    import driver

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = driver.main(argv)
    if rc != 0:
        raise RuntimeError(f"driver.main exited {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _read_verdicts(out_dir: str) -> dict:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out_dir, "data"),
                      columns=["url", "keep", "drop_reasons", "clean_text"])
    return {r["url"]: (r["keep"], r["drop_reasons"], r["clean_text"])
            for r in t.to_pylist()}


def _output_listing(out_dir: str) -> tuple[float, int]:
    size = files = 0
    for dirpath, _, names in os.walk(os.path.join(out_dir, "data")):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size / 2**20, files


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# -- workloads ----------------------------------------------------------------

class FilterFull:
    name = "filter_full"

    def __init__(self, work: str, seed: int):
        self.input, self.out = f"{work}/pages", f"{work}/out"
        rows = corpus.filter_pages(FILTER_DOCS, seed, BUCKETS, LOST_BUCKETS)
        corpus.write_pages(rows, self.input, FILTER_FILES)
        self.texts = [r.text for r in rows]
        verdicts = corpus.reference_verdicts(self.texts)
        self.want = {r.url: v for r, v in zip(rows, verdicts)}
        self.props = dict(corpus.corpus_properties(self.texts, verdicts),
                          files=FILTER_FILES, buckets=BUCKETS)

    def _args(self, inp: str, out: str, *extra: str) -> list[str]:
        return ["--input", inp, "--output", out, "--mode", "web",
                "--buckets", str(BUCKETS), *extra]

    def warm_up(self, spark) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        _quiet_driver(self._args(self.input, self.out))

    def before_call(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def call(self, spark, tracer) -> int:
        return _quiet_driver(self._args(self.input, self.out))["docs_processed"]

    def after_call(self, spark, docs: int) -> list[str]:
        return checks.filter_output(_read_verdicts(self.out), self.want)


class FilterResume(FilterFull):
    name = "filter_resume"

    def warm_up(self, spark) -> None:
        """The complete run the timed resumes continue from, itself a
        resume over an empty output, so the resume path is warm."""
        shutil.rmtree(self.out, ignore_errors=True)
        _quiet_driver(self._args(self.input, self.out, "--resume"))

    @staticmethod
    def _lose_buckets(out_dir: str) -> int:
        """Delete the lost buckets' data and manifest rows, as a crash
        before their write would have left them; returns their row count."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = 0
        for b in LOST_BUCKETS:
            path = os.path.join(out_dir, "data", f"bucket={b}")
            if os.path.isdir(path):
                rows += pq.read_table(path, columns=["url"]).num_rows
                shutil.rmtree(path)
        manifest = os.path.join(out_dir, "_checkpoints")
        shutil.rmtree(manifest)
        os.makedirs(manifest)
        done = [b for b in range(BUCKETS) if b not in LOST_BUCKETS]
        pq.write_table(pa.table({
            "bucket": pa.array(done, type=pa.int32()),
            "n_buckets": pa.array([BUCKETS] * len(done), type=pa.int32()),
        }), os.path.join(manifest, "part-00000.parquet"))
        return rows

    def before_call(self) -> None:
        self.lost_rows = self._lose_buckets(self.out)

    def call(self, spark, tracer) -> int:
        return _quiet_driver(self._args(self.input, self.out, "--resume"))["docs_processed"]

    def after_call(self, spark, docs: int) -> list[str]:
        return checks.resume_output(_read_verdicts(self.out),
                                    corpus.table_digest(self.want),
                                    docs, self.lost_rows)


class NearDup:
    name = "near_dup"

    def __init__(self, work: str, seed: int):
        self.input = f"{work}/docs"
        ids, self.texts, self.planted = corpus.near_dup_corpus(DUP_DOCS, seed)
        corpus.write_docs(ids, self.texts, self.input, DUP_FILES)
        self.props = {"docs": len(ids), "files": DUP_FILES,
                      "mean_chars": round(sum(map(len, self.texts)) / len(ids), 1),
                      "planted_share": round(len(self.planted) / len(ids), 4)}
        self.first: set | None = None
        self.persisted_mb = self.cached_mb_after_release = 0.0

    def _dedup(self, spark, path: str, tracer=None):
        from wikisource_latin_text_cleaner_spark.operators import dedup

        kept = dedup.minhash_dedup(spark.read.parquet(path))
        with tracer.span("noop_write") if tracer else contextlib.nullcontext():
            kept.write.format("noop").mode("overwrite").save()
        return kept

    def warm_up(self, spark) -> None:
        from wikisource_latin_text_cleaner_spark.operators import dedup

        dedup.release_caches(self._dedup(spark, self.input), blocking=True)

    def before_call(self) -> None:
        pass

    def call(self, spark, tracer) -> int:
        self.kept = self._dedup(spark, self.input, tracer)
        return len(self.texts)

    def after_call(self, spark, docs: int) -> list[str]:
        from wikisource_latin_text_cleaner_spark.operators import dedup

        survivors = {r[0] for r in self.kept.select("doc_id").collect()}
        problems = checks.near_dup_output(survivors, self.planted, self.first)
        self.first = self.first or survivors
        self.persisted_mb = _storage_mb(spark)
        dedup.release_caches(self.kept, blocking=True)
        del self.kept
        self.cached_mb_after_release = _storage_mb(spark)
        return problems + checks.cache_released(self.cached_mb_after_release)

    def candidate_counts(self, spark) -> tuple[int, int]:
        """Distinct LSH candidate pairs and verified pairs, from the layer's
        public band-candidate and pair functions at minhash_dedup's
        threshold and banding."""
        from wikisource_latin_text_cleaner_spark.operators import dedup

        df = spark.read.parquet(self.input)
        with dedup.collect_caches() as handle:
            cand = dedup.minhash_band_candidates(df).count()
            verified = dedup.minhash_near_duplicates(
                df, threshold=corpus.dedup_threshold()).count()
        handle.release(blocking=True)
        return cand, verified


WORKLOADS = {w.name: w for w in (FilterFull, FilterResume, NearDup)}


# -- Spark session ------------------------------------------------------------

def new_session(work: str, event_log: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{corpus.nproc()}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # compiler threads that come and go would take their CPU out of
        # the per-thread split when they exit
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", f"{work}/local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.sql.shuffle.partitions", str(2 * corpus.nproc()))
    )
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"{work}/eventlog")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait for every child process."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(procstat.descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in procstat.descendants(os.getpid())[1:]:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, 9)


def _tree_digest(pkg_dir: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _worker_digest(_):
    import importlib

    return _tree_digest(os.path.dirname(importlib.import_module(PKG).__file__))


# -- measurement --------------------------------------------------------------

@contextlib.contextmanager
def layer_spans(tracer: Tracer | None):
    """Spans around the layers' public functions for one call; yields the
    call's own span, or None when ``tracer`` is None."""
    if tracer is None:
        yield None
        return
    from wikisource_latin_text_cleaner_spark import catalog
    from wikisource_latin_text_cleaner_spark.operators import dedup
    from wikisource_latin_text_cleaner_spark.operators.pipeline import (
        QualityFilterPipeline,
    )
    from wikisource_latin_text_cleaner_spark.plans import checkpoints

    for owner, attr, name in (
        (checkpoints, "run_resumable", "checkpoints.run_resumable"),
        (checkpoints, "completed_buckets", "checkpoints.completed_buckets"),
        (checkpoints, "read_output", "checkpoints.read_output"),
        (catalog, "append", "catalog.append"),
        (QualityFilterPipeline, "metrics", "pipeline.metrics"),
        (dedup, "minhash_dedup", "dedup.minhash_dedup"),
    ):
        tracer.wrap(owner, attr, name)
    try:
        with tracer.span("call") as span:
            yield span
    finally:
        tracer.unwrap()


#: JVM thread-name prefixes (Linux truncates names to 15 chars); every
#: other live JVM thread counts as driver-side work
THREAD_KINDS = {"task": ("Executor task",), "jit": ("C1 Compiler", "C2 Compiler"),
                "gc": ("GC Thread", "G1 ")}


def _thread_kinds(before: dict, after: dict) -> dict:
    """CPU of the JVM's live threads over an interval, by kind. Threads
    that ended inside the interval are missing, so the kinds need not sum
    to the JVM's process CPU."""
    out = dict.fromkeys((*THREAD_KINDS, "driver"), 0.0)
    for key, cpu in after.items():
        name = key.split(":", 1)[1]
        kind = next((k for k, p in THREAD_KINDS.items() if name.startswith(p)), "driver")
        out[kind] += cpu - before.get(key, 0.0)
    return out


def measure_call(spark, wl, jvm: int, tracer: Tracer | None) -> dict:
    wl.before_call()
    rss = procstat.RssPeak(jvm).start()
    threads0 = procstat.jvm_thread_cpu(jvm)
    cpu0 = procstat.CpuSnapshot(os.getpid(), jvm)
    rec = {"ok": False, "problems": [], "span": None}
    t0 = time.perf_counter()
    try:
        with layer_spans(tracer) as span:
            try:
                docs = wl.call(spark, tracer)
            finally:
                rec["wall_s"] = time.perf_counter() - t0
        cpu1 = procstat.CpuSnapshot(os.getpid(), jvm)
        rec["jvm_threads"] = _thread_kinds(threads0, procstat.jvm_thread_cpu(jvm))
        rec["peak_rss_mb"] = rss.stop()
        rec["docs"] = docs
        rec["cpu"] = procstat.cpu_delta(cpu0, cpu1)
        if span is not None:
            rec["span"] = span["id"]
            if hasattr(wl, "out"):
                rec["output_mb"], rec["output_files"] = _output_listing(wl.out)
        rec["problems"] = wl.after_call(spark, docs)
        rec["ok"] = not rec["problems"]
    except Exception as e:  # a failed call counts in error_rate
        rss.stop()
        log(traceback.format_exc())
        rec["problems"].append(f"{type(e).__name__}: {e}")
    return rec


def run_calls(spark, wl, jvm, seconds: float, tracer=None) -> list[dict]:
    """Repeat the call while the next one, at the mean call time so far,
    still ends within ``seconds`` of measured time (at least one call).
    With a tracer, calls go untraced, traced, traced, untraced, ..., so
    the tracing overhead compares neighbouring calls and JVM warm-up
    favours neither side."""
    calls, spent = [], 0.0
    while not calls or spent * (len(calls) + 1) / len(calls) <= seconds:
        traced = tracer if tracer and len(calls) % 4 in (1, 2) else None
        c = measure_call(spark, wl, jvm, traced)
        log(f"call {len(calls) + 1}{' traced' if traced else ''}: {c['wall_s']:.3f} s, "
            f"{c.get('cpu', {}).get('tree', 0.0):.2f} cpu-s, ok={c['ok']}")
        calls.append(c)
        spent += c["wall_s"]
    return calls


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def end_to_end(calls: list[dict], setup_s: float) -> dict:
    ok = [c for c in calls if c["ok"]]
    return {
        "docs_per_s": [c["docs"] / c["wall_s"] for c in ok],
        "cpu_s_per_kdoc": [c["cpu"]["tree"] / c["docs"] * 1e3 for c in ok],
        "peak_rss_mb": [c["peak_rss_mb"] for c in ok],
        "setup_s": setup_s,
    }


def per_layer(wl, calls: list[dict], untraced: list[dict], tracer: Tracer,
              jobs: dict, tasks: list, comp: dict, cand: tuple) -> dict:
    """Per-layer metrics: the median over the traced calls of each
    per-call value, plus the in-process component costs."""
    by_job: dict = {}
    for t in tasks:
        by_job.setdefault(t["job"], []).append(t)
    udf_us = comp["dedup.signature_us"] if isinstance(wl, NearDup) else comp["udfs.fused_us"]

    per_call = []
    for c in (c for c in calls if c["ok"]):
        spans = tracer.subtree(c["span"])
        call_span = spans[0]
        groups = {GROUP_PREFIX + str(s["id"]): s for s in spans}

        def span_s(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def jobs_where(pred):
            return [k for k, j in jobs.items()
                    if j["group"] in groups and pred(j, groups[j["group"]])]

        def tasks_of(job_keys):
            return [t for k in job_keys for t in by_job.get(k, ())]

        def under(span, names):
            while span is not None:
                if span["name"] in names:
                    return True
                span = tracer.spans[span["parent"]] if span["parent"] is not None else None
            return False

        call_jobs = jobs_where(lambda j, s: True)
        engine = eventlog.summarize(tasks_of(call_jobs))
        resumable = [s for s in spans if s["name"] == "checkpoints.run_resumable"]
        write_end_ms = resumable[-1]["end"] * 1e3 if resumable else None
        post_write = eventlog.summarize(tasks_of(jobs_where(
            lambda j, s: write_end_ms is not None and j["start"] >= write_end_ms)))
        in_write = eventlog.summarize(tasks_of(jobs_where(
            lambda j, s: under(s, {"checkpoints.run_resumable"}))))
        dedup_io = eventlog.summarize(tasks_of(jobs_where(
            lambda j, s: under(s, {"dedup.minhash_dedup", "noop_write"}))))
        docs = c["docs"]
        python_cpu = c["cpu"]["python"]
        components_cpu = udf_us * docs / 1e6
        th = c["jvm_threads"]
        driver_cpu = c["cpu"]["bench"] + th["driver"]
        # components + boundary is the Python workers' CPU; each term is
        # measured on its own, so coverage checks the split against the tree
        split = python_cpu + engine["executor_cpu_s"] + th["jit"] + th["gc"] + driver_cpu
        m = {
            "udfs.python_cpu_s": python_cpu,
            "udfs.boundary_share": 1 - components_cpu / python_cpu if python_cpu else 0.0,
            "driver.post_write_s": (call_span["end"] - resumable[-1]["end"]) if resumable else 0.0,
            "driver.spark_jobs": len(call_jobs),
            "driver.rows_rescanned": post_write["records_read"],
            "catalog.append_s": span_s("catalog.append"),
            "checkpoints.run_resumable_s": span_s("checkpoints.run_resumable"),
            "checkpoints.manifest_read_s": span_s("checkpoints.completed_buckets"),
            "checkpoints.scan_amplification": in_write["records_read"] / docs
            if resumable and docs else 0.0,
            "checkpoints.output_mb": c.get("output_mb", 0.0),
            "checkpoints.output_files": c.get("output_files", 0),
            "dedup.construct_s": span_s("dedup.minhash_dedup"),
            "dedup.action_s": span_s("noop_write"),
            "dedup.shuffle_write_mb": dedup_io["shuffle_write_mb"],
            "dedup.shuffle_read_mb": dedup_io["shuffle_read_mb"],
            "split.tree_cpu_s": c["cpu"]["tree"],
            "split.components_cpu_s": components_cpu,
            "split.boundary_cpu_s": python_cpu - components_cpu,
            "split.jit_cpu_s": th["jit"],
            "split.gc_cpu_s": th["gc"],
            "split.driver_cpu_s": driver_cpu,
            "split.coverage": split / c["cpu"]["tree"],
        }
        for k in ("executor_cpu_s", "executor_run_s", "gc_s", "tasks",
                  "task_p50_s", "task_max_s", "failed_tasks"):
            m[f"spark.{k}"] = engine[k]
        per_call.append(m)

    out = {k: _median(m[k] for m in per_call) for k in (per_call[0] if per_call else {})}
    out.update(comp)
    out["dedup.persisted_mb"] = getattr(wl, "persisted_mb", 0.0)
    out["dedup.cached_mb_after_release"] = getattr(wl, "cached_mb_after_release", 0.0)
    out["dedup.candidate_rows"] = cand[0]
    out["dedup.verify_yield"] = cand[1] / cand[0] if cand[0] else 0.0
    traced_wall = _median(c["wall_s"] for c in calls if c["ok"])
    untraced_wall = _median(c["wall_s"] for c in untraced if c["ok"])
    out["trace.overhead_share"] = traced_wall / untraced_wall - 1 if untraced_wall else 0.0
    return out


# -- reporting ----------------------------------------------------------------

def _report(samples: dict, spec: list[dict]) -> dict:
    """Median of each metric's samples, with count and quartiles printed."""
    metrics = {}
    for m in spec:
        values = samples.get(m["name"], 0.0)  # missing when every call failed
        if isinstance(values, list):
            med = _median(values)
            q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
            print(f"  {m['name']:<34} {med:>12.4f} {m['unit']:<8} "
                  f"n={len(values)} q1={q1:.4f} q3={q3:.4f}")
        else:
            med = values
            print(f"  {m['name']:<34} {med:>12.4f} {m['unit']}")
        metrics[m["name"]] = {"value": med, "unit": m["unit"]}
    return metrics


def run_all(args) -> int:
    """Every workload, each in its own process with the same arguments; the
    last line sums their calls and holds each workload's metrics."""
    results = {}
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        sys.stdout.write(p.stdout)
        try:
            results[name] = json.loads(p.stdout.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError):
            results[name] = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    correct = all(r["correct"] for r in results.values())
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "workloads": {n: r["metrics"] for n, r in results.items()},
    }), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "driver.py")):
        print(f"perfbench: no {PKG} package and driver.py under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]

    proc_start = procstat.process_start_epoch()
    sys.path.insert(0, ROOT)
    import pyspark  # noqa: F401
    import driver  # noqa: F401
    from wikisource_latin_text_cleaner_spark.functions import udfs  # noqa: F401
    from wikisource_latin_text_cleaner_spark.operators import dedup  # noqa: F401
    import_s = time.time() - proc_start

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    atexit.register(shutil.rmtree, work, True)
    tempfile.tempdir = f"{work}/tmp"
    os.environ.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
    })

    log(f"generating {args.workload} inputs for seed {args.seed}")
    wl = WORKLOADS[args.workload](work, args.seed)
    if args.trace:
        import components

        comp = components.measure(wl.texts[:COMPONENT_DOCS])

    spark = None
    problems: list[str] = []  # run-wide: every call counts as failed
    try:
        t = time.time()
        spark = new_session(work, event_log=bool(args.trace))
        jvm = spark.sparkContext._gateway.proc.pid
        wl.warm_up(spark)
        for _ in range(WARM_CALLS):
            problems += measure_call(spark, wl, jvm, None)["problems"]
        setup_s = import_s + time.time() - t
        log(f"set-up: {setup_s:.2f} s")
        worker = spark.sparkContext.parallelize([0], 1).map(_worker_digest).collect()[0]
        problems += checks.package_digest(worker, _tree_digest(os.path.join(ROOT, PKG)))
        log("timed calls")
        steal0 = procstat.box_steal_s()
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            all_calls = run_calls(spark, wl, jvm, 2 * args.seconds, tracer)
            calls = [c for c in all_calls if c["span"] is not None]
            untraced = [c for c in all_calls if c["span"] is None]
            cand = wl.candidate_counts(spark) if isinstance(wl, NearDup) else (0, 0)
        else:
            calls = all_calls = run_calls(spark, wl, jvm, args.seconds)
        steal_s = procstat.box_steal_s() - steal0
    finally:
        shutdown(spark)
    log("stopped")

    failed = len(all_calls) if problems else sum(not c["ok"] for c in all_calls)
    for c in all_calls:
        problems += c["problems"]
    print(f"perfbench {args.workload} seed={args.seed} local[{corpus.nproc()}] "
          f"input={json.dumps(wl.props)}")
    print(f"  calls={len(all_calls)} failed={failed} "
          f"error_rate={failed / len(all_calls):.4f} failed/attempted "
          f"box_steal={steal_s:.2f} cpu-s")
    for p in problems[:20]:
        print(f"  CHECK FAILED: {p}")

    if args.trace:
        jobs, tasks = eventlog.load(f"{work}/eventlog")
        samples = per_layer(wl, calls, untraced, tracer, jobs, tasks, comp, cand)
        tracer.write(os.path.join(ROOT, ".perfbench_work",
                                  f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        samples = end_to_end(calls, setup_s)
    metrics = _report(samples, spec)
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": len(all_calls),
                      "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
