"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at toy size with tracing off and on, checks that
each run passes its gate and reports every metric named in
BENCHMARK.json with its unit, then tampers with a committed extraction
(one flipped text byte; one dropped manifest row) and checks that the
gate fails each time. Exits 0 on success. Uses its own work directory,
so cached full-size inputs are untouched.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import run

TOY = {"WEB_PAGES": 120, "CURATE_BASE_DOCS": 60}


def tamper_checks(bench: run.Bench) -> list[str]:
    """Commit one toy extraction, then break it two ways."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_pipeline_spark.plans.extract_job import run_extraction

    problems = []
    d = os.path.join(bench.run_dir, "tamper")
    out, man = f"{d}/out", f"{d}/man"
    run_extraction(bench.spark, bench.spark.read.parquet(bench.meta["data"]), out, man,
                   n_buckets=bench.inputs.N_BUCKETS)
    ref = bench.meta["reference"]
    fails, _ = bench.gate.check_extraction(out, man, bench.urls, ref)
    if fails:
        problems.append(f"untampered output failed the gate: {fails}")

    # one flipped byte in one text value
    path = next(p for p in sorted(glob.glob(f"{out}/bucket=*/*.parquet"))
                if any(pq.read_table(p, columns=["text"]).column("text").to_pylist()))
    t = pq.read_table(path)
    texts = t.column("text").to_pylist()
    i = next(i for i, x in enumerate(texts) if x)
    orig = texts[i]
    texts[i] = chr(ord(orig[0]) ^ 1) + orig[1:]  # flip the low bit of one character
    col = t.schema.get_field_index("text")
    pq.write_table(t.set_column(col, "text", pa.array(texts, pa.string())), path)
    fails, _ = bench.gate.check_extraction(out, man, bench.urls, ref)
    if not fails:
        problems.append("gate passed an output with a flipped text byte")
    pq.write_table(t, path)

    # one dropped manifest row
    mt = pq.read_table(man)
    shutil.rmtree(man)
    os.makedirs(man)
    pq.write_table(mt.slice(1), os.path.join(man, "part-0.parquet"))
    fails, _ = bench.gate.check_extraction(out, man, bench.urls, ref)
    if not fails:
        problems.append("gate passed a manifest with a dropped row")
    return problems


def main() -> int:
    run.WORK = os.path.join(run.WORK, "selftest")
    shutil.rmtree(run.WORK, ignore_errors=True)
    run.configure_env()
    log = open(os.path.join(run.WORK, "selftest.log"), "w")
    os.dup2(log.fileno(), 2)  # Spark's and Java's stderr
    run.MIN_CALLS, run.TRACED_CALLS = 1, 1
    _, inputs, _, _ = run._bench_modules()
    for k, v in TOY.items():
        setattr(inputs, k, v)
    end_to_end, per_layer = run.load_spec()

    problems = []
    bench = None
    for workload in run.WORKLOADS:
        for trace in (False, True):
            if bench is not None:
                bench.close()
            bench = run.Bench(workload, seed=7, seconds=0, trace=trace)
            full = bench.run()
            want = per_layer if trace else end_to_end
            got = {k: v["unit"] for k, v in full["metrics"].items()}
            tag = f"{workload} trace={int(trace)}"
            if got != want:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json")
            if not full["correct"] or full["failed"]:
                problems.append(f"{tag}: gate failed: {full['failures']}")
            print(f"{tag}: attempted={full['attempted']} failed={full['failed']}", flush=True)
    bench.close()
    bench = run.Bench("extract_web", seed=7, seconds=0, trace=False)
    bench.run()  # leaves the session started
    problems += tamper_checks(bench)
    bench.close()
    for p in problems:
        print("FAIL:", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
