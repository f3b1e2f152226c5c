#!/usr/bin/env python3
"""KG-construction benchmark: the deployment job, timed and oracle-checked.

    python3 perfbench/run.py --workload {abstracts,resume} --seed N \\
        --seconds S --trace {0,1} [--docs N]

Runs ``jobs/run_pipeline.main`` (documents parquet -> bundle) in-process on
a session started with master ``local[<nproc>]`` and the job's own session
settings (``jobs/run_pipeline.build_session``). Closed loop: one job at a
time from this process; Spark's task threads are the only parallelism.

--trace 0 prints the end-to-end metrics; --trace 1 runs one untraced warm
job and then the traced layer-by-layer run (``traced.py``) and prints the
per-layer metrics. Every job's bundle is checked against the pure-Python
oracle (``kgraph_spark.golden``); the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

import probes
import traced
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("abstracts", "resume")
DRIVER_MEMORY = "3g"
# untimed, oracle-checked jobs between the first job and the timed ones. On
# abstracts the second job of a process is still in the JIT's transition
# (C2 compiles 20-50 CPU-s while it runs) and read 12.8-18.5 s across
# processes where the third read 13.1-13.3 s (4-vCPU VM, same hour). On
# resume the timed job is the first to run the graph half; one more warm-up
# job does not fit the run budget (see README.md).
WARMUP_JOBS = {"abstracts": 1, "resume": 0}
# stop starting timed jobs after the first once a run has been going this
# long, so the run ends well inside the benchmark's per-run limit of 180 s
RUN_DEADLINE_S = 120.0


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the warm-job measurement window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None,
                   help="input documents (default: the workload's size)")
    return p.parse_args(argv)


def _configure_environment(work: Path, nproc: int) -> None:
    """Everything Spark and its Python workers write stays under `work`;
    workers import kgraph_spark from the checkout (the --py-files role)."""
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": str(ROOT) + (os.pathsep + py_path if py_path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--master local[{nproc}]",
            f"--driver-memory {DRIVER_MEMORY}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={local}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]),
    })


def _load_job_module():
    import importlib.util

    spec = importlib.util.spec_from_file_location("run_pipeline", ROOT / "jobs" / "run_pipeline.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _warm_worker(gaz_bcast):
    """Task body for the set-up warm-up: import the extraction stack and
    compile the broadcast gazetteer in each Python worker."""

    def run(_it):
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        from kgraph_spark.functions.extraction import CompiledGazetteer, GazetteerEntry

        CompiledGazetteer([GazetteerEntry(*row) for row in gaz_bcast.value])
        yield 1

    return run


class Bench:
    def __init__(self, args, work: Path, nproc: int) -> None:
        self.args, self.work, self.nproc = args, work, nproc
        self.t_start = time.perf_counter()
        n = args.docs or workloads.SIZES[args.workload]
        docs = workloads.make_documents(args.workload, args.seed, n)
        self.n_docs = len(docs)
        self.docs_dir, self.gaz_dir = workloads.write_inputs(docs, args.seed, work / "input")
        self.expected = workloads.expected_output(docs, args.seed)
        self.prep_s = time.perf_counter() - self.t_start
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.n_out = 0
        self.spark = None

    # ---- set-up -----------------------------------------------------------
    def setup(self) -> float:
        """Session start, Python-worker warm-up and gazetteer broadcast."""
        t0 = time.perf_counter()
        self.rp = _load_job_module()
        spark = self.spark = self.rp.build_session("kgraph-construct", self.nproc)
        sc = spark.sparkContext
        sc.setLogLevel("WARN")
        gaz_rows = [tuple(r) for r in spark.read.parquet(str(self.gaz_dir)).collect()]
        bcast = sc.broadcast(gaz_rows)
        n_tasks = 2 * self.nproc
        sc.parallelize(range(n_tasks), n_tasks).mapPartitions(_warm_worker(bcast)).count()
        return time.perf_counter() - t0

    # ---- one job ----------------------------------------------------------
    def _fresh_out(self) -> Path:
        self.n_out += 1
        return self.work / f"bundle-{self.n_out}"

    def _isolate(self) -> None:
        """Between jobs, outside timing: drop cached results, full GC."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def run_job(self, out: Path, extra: list[str]) -> tuple[float, dict]:
        argv = ["--input", str(self.docs_dir), "--gazetteer", str(self.gaz_dir),
                "--output", str(out), "--shuffle-partitions", str(self.nproc), *extra]
        buf = io.StringIO()
        t0 = time.perf_counter()
        with redirect_stdout(buf):
            self.rp.main(argv)
        dt = time.perf_counter() - t0
        self._isolate()
        return dt, json.loads(buf.getvalue().strip().splitlines()[-1])

    def record(self, what: str, errors: list[str]) -> bool:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(f"{what}: {e}" for e in errors)
        return not errors

    def check(self, out: Path, report: dict, relationships_only: bool) -> list[str]:
        errors = workloads.check_bundle(out, self.expected, relationships_only)
        if report.get("triples") != len(self.expected.triples):
            errors.append(f"job reported {report.get('triples')} triples, "
                          f"oracle {len(self.expected.triples)}")
        return errors

    def timed_job(self, what: str, extra: list[str], relationships_only: bool):
        """One job, checked; returns (seconds, bundle dir) or None if it failed."""
        out = self._fresh_out()
        try:
            dt, report = self.run_job(out, extra)
        except Exception as e:  # a job that raises counts as failed, run goes on
            self._isolate()
            self.record(what, [f"raised {type(e).__name__}: {e}"])
            return None
        if not self.record(what, self.check(out, report, relationships_only)):
            return None
        return dt, out

    def time_left(self) -> bool:
        return time.perf_counter() - self.t_start < RUN_DEADLINE_S

    # ---- workloads ----------------------------------------------------------
    def run(self) -> dict:
        setup_s = self.setup()
        counters = probes.SparkCounters(self.spark)
        rss = probes.PeakRss()
        try:
            if self.args.workload == "resume":
                first, warm_job, traced_run = (
                    self._resume_first(rss), self._resume_job, self._traced_resume)
            else:
                first, warm_job, traced_run = (
                    self._oneshot_first(rss), self._oneshot_job, self._traced_oneshot)
            if first is None and self.args.workload == "resume":
                return self._end_to_end(setup_s, None, [], rss.peak_bytes)  # nothing to resume
            for _ in range(WARMUP_JOBS[self.args.workload]):
                with rss:
                    warm_job()
            if self.args.trace:
                counters.mark()
                warm = warm_job()
                spark_stats = counters.since_mark()
                layer = traced_run(warm) if warm else {}
                if warm and self.args.workload == "resume":
                    self._resume_equals_oneshot(warm[1])
                return self._per_layer(layer, warm, spark_stats)
            samples = []
            with rss:
                while not samples or (self.time_left() and sum(samples) < self.args.seconds):
                    res = warm_job()
                    if res is None:
                        break
                    samples.append(res[0])
            return self._end_to_end(setup_s, first, samples, rss.peak_bytes)
        finally:
            rss.close()

    def _oneshot_first(self, rss) -> float | None:
        with rss:
            res = self.timed_job("first job", [], relationships_only=False)
        return res[0] if res else None

    def _oneshot_job(self):
        return self.timed_job("job", [], relationships_only=False)

    def _resume_first(self, rss) -> float | None:
        """The first submission, killed after RESUME_KILL_AFTER committed
        shards; its checkpoint dir is kept and restored before each resume."""
        self.ckpt, self.ckpt_snapshot = self.work / "ckpt", self.work / "ckpt-killed"
        extra = ["--checkpoint-dir", str(self.ckpt), "--shards", str(workloads.RESUME_SHARDS),
                 "--fail-after-shards", str(workloads.RESUME_KILL_AFTER)]
        t0 = time.perf_counter()
        errors = []
        with rss:
            try:
                self.run_job(self._fresh_out(), extra)
                errors.append("killed submission did not raise")
            except Exception as e:  # the expected outcome is the simulated kill
                if not (isinstance(e, RuntimeError) and "simulated kill" in str(e)):
                    errors.append(f"raised {type(e).__name__}: {e}")
        dt = time.perf_counter() - t0
        self._isolate()
        committed = len(list((self.ckpt / "extracted").glob("shard=*/_SUCCESS")))
        if committed != workloads.RESUME_KILL_AFTER:
            errors.append(f"{committed} shards committed, want {workloads.RESUME_KILL_AFTER}")
        if not self.record("killed submission", errors):
            return None
        shutil.copytree(self.ckpt, self.ckpt_snapshot)
        return dt

    def _restore_checkpoint(self) -> None:
        shutil.rmtree(self.ckpt)
        shutil.copytree(self.ckpt_snapshot, self.ckpt)

    def _resume_job(self):
        self._restore_checkpoint()
        return self.timed_job(
            "resume job",
            ["--checkpoint-dir", str(self.ckpt), "--shards", str(workloads.RESUME_SHARDS)],
            relationships_only=True,
        )

    def _resume_equals_oneshot(self, resume_out: Path) -> None:
        """The resumed job's relationships must equal a one-shot job's on
        the same input (the one-shot bundle is oracle-checked in full)."""
        res = self._oneshot_job()
        if res is not None:
            self.record("resume vs one-shot",
                        workloads.same_bundle(res[1], resume_out, ("relationships",)))

    def _traced(self, run_traced, untraced_out: Path, tables: tuple[str, ...]) -> dict:
        """Run the traced mirror; its bundle must equal the untraced job's
        and the oracle. Returns the per-layer numbers."""
        tr = traced.Tracer(run_id=f"{self.args.workload}-s{self.args.seed}-{os.getpid()}")
        out = self._fresh_out()
        try:
            run_traced(tr, out)
        except Exception as e:  # reported as a failed attempt
            self._isolate()
            self.record("traced run", [f"raised {type(e).__name__}: {e}"])
            return {}
        self._isolate()
        errors = workloads.same_bundle(out, untraced_out, tables)
        errors += workloads.check_bundle(out, self.expected, tables == ("relationships",))
        self.record("traced run", errors)
        trace_file = self.work.parent / f"trace-{tr.run_id}.json"
        trace_file.write_text(json.dumps({"spans": tr.as_records(), "counts": tr.counts}, indent=1))
        return {"self": tr.self_times(), "total": tr.total("job"),
                "graph": tr.total("lineage.graph"), "counts": tr.counts}

    def _traced_oneshot(self, warm) -> dict:
        return self._traced(
            lambda tr, out: traced.traced_oneshot(self.spark, tr, self.docs_dir, self.gaz_dir, out),
            warm[1], ("relationships", "entities", "mentions", "evidence"),
        )

    def _traced_resume(self, warm) -> dict:
        self._restore_checkpoint()
        return self._traced(
            lambda tr, out: traced.traced_resume(
                self.spark, tr, self.docs_dir, self.gaz_dir, self.ckpt, out,
                workloads.RESUME_SHARDS),
            warm[1], ("relationships",),
        )

    # ---- reports ------------------------------------------------------------
    def _end_to_end(self, setup_s, first_s, samples, peak_bytes) -> dict:
        job_s = statistics.median(samples) if samples else None
        print(f"perfbench: {self.args.workload} seed={self.args.seed} docs={self.n_docs} "
              f"inputs+oracle={self.prep_s:.1f}s setup_s={setup_s:.3f} first_job_s={first_s} "
              f"job_s samples={len(samples)} {[round(s, 3) for s in samples]}", file=sys.stderr)
        return {
            "job_s": (job_s, "s"),
            "docs_per_s": (self.n_docs / job_s if job_s else None, "docs/s"),
            "first_job_s": (first_s, "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_bytes / 2**20, "MB"),
        }

    def _per_layer(self, layer: dict, warm, spark_stats: dict) -> dict:
        st = layer.get("self", {})
        counts = layer.get("counts", {})
        m: dict[str, tuple[float, str]] = {}
        for name in ("mentions.extract", "resolve.mentions", "resolve.relations",
                     "resolve.presence", "canonicalize.merge_mapping",
                     "canonicalize.apply_merge", "relationships.validate",
                     "relationships.cooc", "relationships.accumulate", "export.entities",
                     "export.write_bundle", "lineage.stage"):
            m[f"{name}_s"] = (st.get(name, 0.0), "s")
        m["lineage.graph_s"] = (float(layer.get("graph", 0.0)), "s")
        for name, unit in (("mentions.rows_m", "count"), ("mentions.rows_p", "count"),
                           ("mentions.rows_r", "count"), ("resolve.canonical_ratio", "ratio"),
                           ("canonicalize.edges", "count"), ("canonicalize.mapping_rows", "count"),
                           ("relationships.validate_keep_ratio", "ratio"),
                           ("relationships.cooc_presence_rows", "count"),
                           ("relationships.cooc_triples", "count"),
                           ("relationships.accumulate_rows_in", "count"),
                           ("relationships.accumulate_rows_out", "count"),
                           ("export.bytes_written", "bytes"),
                           ("lineage.shards_run", "count"), ("lineage.shards_skipped", "count")):
            m[name] = (float(counts.get(name, 0)), unit)
        for name, unit in (("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                           ("executor_cpu_s", "s"), ("gc_s", "s"), ("tasks", "count")):
            m[f"spark.{name}"] = (spark_stats.get(name, 0.0), unit)
        overhead = layer["total"] - warm[0] if layer else None
        m["trace.overhead_s"] = (overhead, "s")
        return m

    def close(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "kgraph_spark" / "pipeline.py").is_file() or not (
        ROOT / "jobs" / "run_pipeline.py"
    ).is_file():
        print(f"perfbench: no kgraph_spark sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    nproc = len(os.sched_getaffinity(0))
    work = HERE / "_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _configure_environment(work, nproc)
    bench = None
    try:
        bench = Bench(args, work, nproc)
        metrics = bench.run()
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    for e in bench.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    result = {
        "correct": bench.failed == 0 and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
