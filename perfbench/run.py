"""End-to-end benchmark of the extraction and curation jobs.

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 30 --trace 0

Run from the repository root. Closed loop: one process, one job call at
a time, on ``local[nproc]``. Each timed call is
``plans.extract_job.run_extraction`` (extract_web) or
``plans.curate_job.run_curation`` (curate_minhash), timed from outside
and followed by the correctness gate (``gate.py``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that records spans around each layer call (``layers.py``), enables
Spark's event log and reports the per-layer metrics. The last stdout
line is one JSON object (correct, attempted, failed, metrics); the full
result, spans and Spark's stderr go to files under ``.perfbench_work/``.
Known pitfalls are listed in NOTES.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Timed job calls per run: --seconds divided by the workload's nominal
# call time, so a run does the same calls on every commit. A time-based
# loop would give a faster commit more calls, and later calls are faster
# while the JIT is still warming up, which would bias the median in its
# favour.
NOMINAL_CALL_S = {"extract_web": 10.0, "curate_minhash": 15.0}
MIN_CALLS = 2
TRACED_CALLS = 1

# The host steals CPU time from this box's vCPUs in bursts (0-30% of it
# during a call), and a call loses 2-4 times that share of its wall time.
# A call during which more than STEAL_MAX of the box's CPU time was stolen
# is disturbed: up to EXTRA_CALLS more calls are made while fewer than the
# planned number ran undisturbed, and job_s is the median of the planned
# number of least-stolen calls. An extra call is made only if, at the
# pace of the slowest call so far, it would end within EXTRA_BEFORE_S of
# the run's start, so a noisy host cannot push a run past its share of the
# run budget (see NOTES.md). Curation calls (11-23 s) do not fit that
# budget, so curate_minhash makes none.
STEAL_MAX = 0.03
EXTRA_CALLS = {"extract_web": 2, "curate_minhash": 0}
EXTRA_BEFORE_S = 75.0

# Warm-up jobs of a timed run's set-up, after the session starts, each a
# whole job call on the input ("data"); the traced run's SparkContext
# restart warms up on the input's first 1/32 ("warm"). After a warm-up on
# that slice alone the C2 compiler keeps working through the first two or
# three calls (5-6 s of compiler CPU in the first extraction call; the
# first curation call ran 20-30% more CPU than the third), so the timed
# calls measured the JIT. The first warm-up job is mostly first-time
# codegen and costs about what the slice did. extract_web warms up twice;
# a second curation warm-up would not fit the run budget (see NOTES.md).
WARM_UP = {"extract_web": ("data", "data"), "curate_minhash": ("data",)}

WORKLOADS = ("extract_web", "curate_minhash")


def load_spec() -> tuple[dict[str, str], dict[str, str]]:
    """(end_to_end, per_layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _bench_modules():
    """Import the benchmark's modules; they import the program, which
    must sit next to this directory."""
    sys.path[:0] = [ROOT, HERE]
    import gate
    import inputs
    import layers
    import observe
    return gate, inputs, layers, observe


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.gate, self.inputs, self.layers, self.observe = _bench_modules()
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex[:12])
        self.spans = self.observe.Spans()
        self.spark = None
        self.extraction = workload == "extract_web"
        self.started = time.monotonic()
        self.setup_samples: list[float] = []
        self.context: list[dict] = []

    # ------------------------------------------------------------ spark

    def start(self, event_log: str | None = None) -> None:
        from ocr_pipeline_spark.session import get_spark

        tmp = os.path.join(WORK, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a heap committed up front keeps peak RSS from depending on
            # when G1 happens to grow it
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_DRIVER_MEM']}",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{self.workload}",
                               cores=len(os.sched_getaffinity(0)), extra_conf=conf)

    def close(self) -> None:
        """Stop Spark and the JVM that PySpark launched, and wait for it;
        the next ``start`` launches a fresh JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()  # also flushes the event log
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def setup(self, event_log: str | None = None, fresh: bool = True,
              warm_up: tuple[str, ...] = ("warm",)) -> None:
        """SparkSession start + untimed warm-up jobs (``WARM_UP``), in a
        fresh JVM or (``fresh=False``) in the running one; appends its
        seconds to ``setup_samples``. A timed run sets up once, in a fresh
        JVM (see NOTES.md for what it costs)."""
        if fresh:
            self.close()
        elif self.spark is not None:
            self.spark.stop()
        d = os.path.join(self.run_dir, f"warm-{len(self.setup_samples)}")
        with self.spans.span("setup") as s:
            with self.spans.span("setup.start"):
                self.start(event_log)
            for i, key in enumerate(warm_up):
                with self.spans.span("setup.warm_up"):
                    self.job(self.spark.read.parquet(self.meta[key]), f"{d}/out{i}", f"{d}/man{i}")
        self.setup_samples.append(s["secs"])
        shutil.rmtree(d, ignore_errors=True)

    def job(self, src, out: str, man: str) -> None:
        if self.extraction:
            from ocr_pipeline_spark.plans.extract_job import run_extraction

            run_extraction(self.spark, src, out, man, n_buckets=self.inputs.N_BUCKETS)
        else:
            from ocr_pipeline_spark.plans.curate_job import run_curation

            run_curation(self.spark, src, out, langs=None, dedup="minhash")

    # --------------------------------------------------------- the job

    def call(self, reference) -> tuple[float, float, list[str], dict]:
        """One timed job call, then its correctness gate (untimed).
        Returns its seconds, the share of the box's CPU time the host
        stole during it, the gate's failures and its stats."""
        d = os.path.join(self.run_dir, f"call-{len(self.context)}")
        out, man = f"{d}/out", f"{d}/man"
        src = self.spark.read.parquet(self.meta["data"])
        before = self.observe.box_context()
        cpu0 = self.observe.tree_cpu_s(os.getpid())
        with self.spans.span(f"job.{self.workload}") as s:
            self.job(src, out, man)
        cpu = self.observe.tree_cpu_s(os.getpid()) - cpu0
        after = self.observe.box_context()
        steal = ((after["steal_ticks"] - before["steal_ticks"])
                 / max(1, after["total_ticks"] - before["total_ticks"]))
        self.context.append({"before": before, "after": after,
                             "job_s": s["secs"], "cpu_s": cpu, "steal": steal,
                             "window": (s["start"], s["end"])})
        if self.extraction:
            fails, stats = self.gate.check_extraction(out, man, self.urls, reference)
        else:
            fails, stats = self.gate.check_curation(out, self.meta["reference"]["kept"])
        shutil.rmtree(d, ignore_errors=True)
        return s["secs"], steal, fails, stats

    def timed_calls(self, reference, n_calls: int, extra: int = 0) -> dict:
        """Closed loop of ``n_calls`` job calls, plus up to ``extra`` more
        while fewer than ``n_calls`` ran undisturbed (``STEAL_MAX``).
        ``samples`` are the ``n_calls`` least-stolen call times. A call
        that raises or fails the gate counts as failed; two raised calls
        end the loop."""
        timed, stats, failures = [], [], []
        attempted = failed = raised = 0
        longest = 0.0  # seconds of the slowest call with its gate
        with self.observe.PssSampler(os.getpid()) as mem:
            while attempted < n_calls or (
                    attempted < n_calls + extra
                    and sum(st <= STEAL_MAX for _, st in timed) < n_calls
                    and time.monotonic() - self.started + longest <= EXTRA_BEFORE_S):
                attempted += 1
                t0 = time.monotonic()
                try:
                    dt, steal, fails, st = self.call(reference)
                except Exception:  # noqa: BLE001 -- a failed call is counted, not fatal
                    traceback.print_exc()
                    failures.append(traceback.format_exc(limit=3))
                    failed += 1
                    raised += 1
                    if raised >= 2:
                        break
                    continue
                longest = max(longest, time.monotonic() - t0)
                timed.append((dt, steal))
                stats.append(st)
                if fails:
                    print("gate:", fails)
                    failures.extend(fails)
                    failed += 1
        samples = [dt for dt, _ in sorted(timed, key=lambda t: t[1])[:n_calls]]
        return {"samples": samples, "stats": stats, "attempted": attempted,
                "failed": failed, "failures": failures,
                "peak_pss_mb": mem.peak_mb, "peak_procs": mem.peak_procs}

    # ------------------------------------------------------------ runs

    def run(self) -> dict:
        self.meta = self.inputs.prepare(self.workload, self.seed, WORK)
        if self.extraction:
            import pyarrow.parquet as pq

            self.urls = set(pq.read_table(self.meta["data"], columns=["url"]).column("url").to_pylist())
        return self.run_traced() if self.trace else self.run_timed()

    def run_timed(self) -> dict:
        self.setup(warm_up=WARM_UP[self.workload])
        n_calls = max(MIN_CALLS, math.ceil(self.seconds / NOMINAL_CALL_S[self.workload]))
        t = self.timed_calls(self.meta["reference"], n_calls, EXTRA_CALLS[self.workload])
        if not t["samples"]:
            raise RuntimeError(f"no job call completed: {t['failures']}")
        job_s = statistics.median(t["samples"])
        metrics = {
            "job_s": job_s,
            "docs_per_sec": self.meta["n_docs"] / job_s,
            "mb_per_sec": self.meta["mb"] / job_s,
            "setup_s": self.setup_samples[0],
            "peak_pss_mb": t["peak_pss_mb"],
        }
        return self.result(t, metrics, load_spec()[0])

    def run_traced(self) -> dict:
        L = self.layers
        per_layer = {}
        reference = self.meta["reference"]
        if self.extraction:
            rows = self.inputs.read_pages(self.meta["data"])
            km, reference = L.kernels_pass(rows, self.spans)
            per_layer.update(km)
        # untraced calls after the timed run's set-up, then the same calls
        # with the event log on, after a SparkContext restart in the
        # already warm JVM
        self.setup(warm_up=WARM_UP[self.workload])
        untraced = self.timed_calls(reference, TRACED_CALLS)
        ev_dir = os.path.join(self.run_dir, "eventlog")
        self.setup(event_log=ev_dir, fresh=False)
        traced = self.timed_calls(reference, TRACED_CALLS)
        for ctx in self.context[-TRACED_CALLS:]:
            ctx["traced"] = True
        lw = os.path.join(self.run_dir, "layers")
        windows = {}
        if self.extraction:
            pages = self.spark.read.parquet(self.meta["data"])
            per_layer.update(L.extraction_layer(self.spark, pages, self.spans))
            pm, windows = L.partition_and_lineage_layers(
                self.spark, pages, os.path.join(lw, "committed-manifest"), lw,
                self.inputs.N_BUCKETS, self.spans)
            per_layer.update(pm)
        else:
            docs = self.spark.read.parquet(self.meta["data"])
            per_layer.update(L.curate_layers(self.spark, docs, lw, self.spans))
        self.close()  # flushes the event log
        stages = self.observe.read_event_log(glob.glob(os.path.join(ev_dir, "*"))[0])
        traced_ctx = self.context[-1]
        job_stages = self.observe.stages_in(stages, *traced_ctx["window"])
        for g, m in self.observe.stage_table(job_stages).items():
            per_layer.update({f"stage.{g}.{k}": v for k, v in m.items()})
        nproc = traced_ctx["before"]["nproc"]
        per_layer["job.core_utilization"] = traced_ctx["cpu_s"] / (nproc * traced_ctx["job_s"])
        if self.extraction:
            w = windows["partitioning.salted_repartition"]
            per_layer["partitioning.shuffle_write_mb"] = sum(
                s["shuffle_write_mb"] for s in self.observe.stages_in(stages, *w))
        traced_s = statistics.median(traced["samples"])
        untraced_s = statistics.median(untraced["samples"])
        per_layer["trace.job_s"] = traced_s
        per_layer["trace.overhead_s"] = traced_s - untraced_s
        t = {k: traced[k] + untraced[k] for k in ("samples", "stats", "failures")}
        t["attempted"] = traced["attempted"] + untraced["attempted"]
        t["failed"] = traced["failed"] + untraced["failed"]
        units = load_spec()[1]
        # a layer the workload does not exercise reports 0
        full = {name: float(per_layer.get(name, 0.0)) for name in units}
        return self.result(t, full, units, extra={"stages": stages})

    def result(self, t: dict, metrics: dict, units: dict, extra: dict | None = None) -> dict:
        stats = t["stats"]
        samples = sorted(t["samples"])
        return {
            "workload": self.workload, "seed": self.seed, "trace": self.trace,
            "correct": t["failed"] == 0 and not t["failures"],
            "attempted": t["attempted"], "failed": t["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            "job_s_samples": samples,
            "job_s_n": len(samples),
            "job_s_max": samples[-1] if samples else None,
            "peak_procs": t.get("peak_procs"),
            "failed_frac": t["failed"] / t["attempted"],
            "sha_mismatch_frac": max((s.get("sha_mismatch_frac", 0.0) for s in stats), default=0.0),
            "error_doc_frac": max((s.get("error_doc_frac", 0.0) for s in stats), default=0.0),
            "failures": t["failures"],
            "inputs": {k: v for k, v in self.meta.items() if k != "reference"},
            "setup_samples": self.setup_samples,
            "context": self.context,
            "spans": self.spans.rows,
            **(extra or {}),
        }


def configure_env() -> None:
    """Workers import the program from this checkout; Spark's scratch,
    Java's and Python's temporary files stay inside ``WORK``."""
    for sub in ("logs", "results", "tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, spark-submit's launcher too; HotSpot writes its perf-data
    # file to the system temp directory whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_pipeline_spark")):
        print(f"perfbench: no ocr_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2

    configure_env()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log_path = os.path.join(WORK, "logs", tag + ".log")
    result_path = os.path.join(WORK, "results", tag + ".json")

    # stdout/stderr of this process, the JVM and the Python workers go to
    # the log; only the result line reaches the real stdout
    real_out, real_err = os.dup(1), os.dup(2)
    log = open(log_path, "w")
    os.dup2(log.fileno(), 1)
    os.dup2(log.fileno(), 2)
    bench = None
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
        full = bench.run()
    except Exception:  # noqa: BLE001 -- reported, exit code says failed
        traceback.print_exc()
        sys.stdout.flush()
        os.write(real_err, f"perfbench: run failed, see {log_path}\n".encode()
                 + traceback.format_exc().encode())
        return 1
    finally:
        if bench is not None:
            bench.close()
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(real_err, 2)
        log.close()
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    with open(result_path, "w") as f:
        json.dump(full, f, indent=1, default=str)
    line = {"metrics": full["metrics"], "correct": full["correct"],
            "attempted": full["attempted"], "failed": full["failed"]}
    os.write(real_out, (json.dumps(line) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
