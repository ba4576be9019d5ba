#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/selftest.py

1. `perfbench.SelfTest` (JVM): self-time arithmetic on a hand-built span
   tree, task-skew arithmetic, and the pipeline and polyjoin output checks
   on the engine's answer and on injected wrong answers; it also writes the
   tiny query block's outputs for step 2.
2. The DuckDB query check passes those outputs and catches one altered value.
3. Every workload runs at a tiny size through run.py, plain and traced, and
   its result line carries exactly the metrics BENCHMARK.json lists.

Exits non-zero if anything fails.
"""
import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import run  # noqa: E402

failures = []


def expect(name, ok, detail=""):
    print(f"{'ok  ' if ok else 'FAIL'} {name}{'' if ok else ': ' + str(detail)}", flush=True)
    if not ok:
        failures.append(name)


def jvm_checks(classpath, work):
    data = os.path.join(work, "data")
    gen_tables.generate(data, 5, run.QUERIES_SF["tiny"])
    opens = [x for p in run.JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    proc = subprocess.run(["java", "-Xmx2g", f"-Djava.io.tmpdir={work}"] + opens +
                          ["-cp", classpath, "perfbench.SelfTest", "--work", work,
                           "--data", data], capture_output=True, text=True, timeout=600)
    for line in proc.stdout.splitlines():
        print(line, flush=True)
    expect("JVM self-tests", proc.returncode == 0, proc.stderr[-3000:])

    check_dir = os.path.join(work, "check")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    res = run.check_queries(check_dir, data, names)
    bad = {k: v for k, v in res.items() if v["status"] != "pass"}
    expect("every headline query matches its DuckDB oracle", not bad and len(res) == 20, bad)

    # alter one value of q1_agg's output and expect the check to catch it
    q1 = os.path.join(check_dir, "q1_agg")
    part = sorted(f for f in os.listdir(q1) if f.endswith(".parquet") and
                  pq.read_metadata(os.path.join(q1, f)).num_rows > 0)[0]
    t = pq.read_table(os.path.join(q1, part))
    i = t.schema.get_field_index("cnt")
    t = t.set_column(i, "cnt", pc.add(t.column(i), 1))
    pq.write_table(t, os.path.join(q1, part))
    res = run.check_queries(check_dir, data, ["q1_agg"])
    expect("queries check catches an altered value", res["q1_agg"]["status"] == "fail", res)


def workload_runs(spec):
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    for w in [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                   "--seed", "3", "--seconds", "1", "--trace", str(trace),
                                   "--size", "tiny"], capture_output=True, text=True,
                                  timeout=300)
            name = f"{w} tiny run, trace {trace}"
            if proc.returncode != 0:
                expect(name, False, proc.stderr[-3000:])
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            want = layers if trace else e2e
            expect(name, res["correct"] and res["failed"] == 0 and res["attempted"] >= 1 and
                   set(res) == {"correct", "attempted", "failed", "metrics"} and
                   set(res["metrics"]) == want and
                   all(isinstance(v["value"], float) for v in res["metrics"].values()), res)
            if not trace:
                expect(f"{w} end-to-end metrics are non-zero",
                       all(v["value"] != 0 for v in res["metrics"].values()), res)


def main():
    with open(run.SPEC) as f:
        spec = json.load(f)
    classpath = run.build(run.source_hash())
    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_checks(classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    workload_runs(spec)
    print(f"\n{'all passed' if not failures else f'{len(failures)} failed: {failures}'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
