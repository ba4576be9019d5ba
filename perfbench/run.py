#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <pipeline|polyjoin|queries> --seed <n>
        --seconds <s> --trace <0|1> [--size full|tiny]

Builds the engine and the harness from source on first use (sbt, cached by a
hash of the sources), generates the workload's inputs from the seed, runs the
harness JVM (`perfbench.Main`) for `--seconds` in a closed loop with one
client, checks the outputs, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the `end_to_end` metrics of
BENCHMARK.json with `--trace 0`, its `per_layer` metrics with `--trace 1`.
The line before it holds the metrics named per workload and the provenance
of the run; the full record is kept in perfbench/.work/results/.
See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 165  # a run after the build must end within 180 s
BUILD_LIMIT_S = 850
QUERIES_SF = {"full": 0.02, "tiny": 0.001}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "src"), ENGINE_SRC]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt once per source hash; return the runtime classpath."""
    cp_file = os.path.join(WORK, f"classpath-{stamp[:16]}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_LIMIT_S)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return None


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classpath, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", classpath, "perfbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")


def compare_frames(exp, got):
    """None when the two result frames hold the same rows, else a reason.
    Columns are matched by name; rows are compared as sorted multisets;
    floats must be equal exactly."""
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(exp) != len(got):
        return f"{len(got)} rows != {len(exp)}"
    if len(exp) == 0:
        return None
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        a, b = exp[c], got[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            bad = ~((a == b) | (a.isna() & b.isna()))
        else:
            bad = a.astype(str) != b.astype(str)
        if bad.any():
            i = bad.idxmax()
            return f"{int(bad.sum())} values differ in {c}, first {b[i]!r} != {a[i]!r}"
    return None


def check_queries(check_dir, data_dir, names):
    """Compare each query's written output with its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    out = {}
    for name in names:
        try:
            exp = con.execute(oracle[name]).df()
            got = duckdb.connect().execute(
                f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')").df()
            reason = compare_frames(exp, got)
        except Exception as e:  # a query the oracle cannot read is a failed check
            reason = f"{type(e).__name__}: {e}"
        out[name] = {"status": "pass"} if reason is None else {"status": "fail", "detail": reason}
    return out


def tail_of(xs):
    """The highest order statistic with at least ten samples beyond it, and
    its percentile. Below 40 samples, a quarter of them must lie beyond it,
    so that a run of a few long operations reports its upper quartile rather
    than its maximum."""
    s = sorted(xs)
    beyond = min(10, len(s) // 4)
    return s[len(s) - 1 - beyond], 100.0 * (len(s) - beyond) / len(s)


def e2e_metrics(res, setup_s):
    """End-to-end metrics of a plain run, and the same figures under the
    names each workload's users know them by."""
    wl = res["workload"]
    samples = [s for s in res["samples"] if not s["traced"]]
    secs = [s["s"] for s in samples]
    p50 = statistics.median(secs)
    tail, tail_pct = tail_of(secs)
    named = {}
    blocks = None
    if wl == "queries":
        # the loop runs whole passes, so every query has the same sample count
        per_pass = {}
        for s in samples:
            per_pass.setdefault(s["pass"], []).append(s["s"])
        blocks = [sum(v) for v in per_pass.values()]
        block = statistics.median(blocks)
        throughput = res["sizes"]["queries_per_pass"] / block
        named["block_s"] = {"value": block, "unit": "s", "samples": len(blocks)}
        named["query_p50_s"] = {"value": p50, "unit": "s", "samples": len(secs)}
        named["query_tail_s"] = {"value": tail, "unit": "s", "samples": len(secs),
                                 "percentile": tail_pct}
    else:
        throughput = samples[0]["items"] / p50
        unit_name = "pages_per_s" if wl == "pipeline" else "points_per_s"
        named[unit_name] = {"value": throughput, "unit": "1/s", "samples": len(secs),
                            "items_per_op": samples[0]["items"]}
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        "throughput_per_s": {"value": throughput, "unit": "1/s"},
        "op_p50_s": {"value": p50, "unit": "s"},
        "op_tail_s": {"value": tail, "unit": "s"},
    }
    counts = {"setup_s": len(res["setup"]["rounds_s"]), "peak_rss_mb": 1,
              "throughput_per_s": len(blocks) if blocks else len(secs),
              "op_p50_s": len(secs), "op_tail_s": len(secs)}
    named.update({"setup_s": dict(metrics["setup_s"], samples=counts["setup_s"]),
                  "peak_rss_mb": dict(metrics["peak_rss_mb"], samples=1)})
    return metrics, named, counts, tail_pct


def layer_metrics(res, spec):
    """Per-layer metrics of a traced run. A layer the workload's probes do
    not exercise reads 0."""
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    values = dict(res["per_layer"])
    plain = [s["s"] for s in res["samples"] if not s["traced"]]
    traced = [s["s"] for s in res["samples"] if s["traced"]]
    values["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    unknown = set(values) - set(units)
    if unknown:
        fail(f"harness reported per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "polyjoin", "queries"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
             "run from a checkout of the repository")
    if not os.path.isfile(SPEC):
        fail("BENCHMARK.json not found at the repository root")
    with open(SPEC) as f:
        spec = json.load(f)

    stamp = source_hash()
    classpath = build(stamp)

    setup_t0 = time.time()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--size", a.size, "--work", run_dir,
                "--launch-ms", str(int(setup_t0 * 1000))]
        data_dir = None
        if a.workload == "queries":
            sys.path.insert(0, HERE)
            import gen_tables
            data_dir = os.path.join(run_dir, "data")
            gen_tables.generate(data_dir, a.seed, QUERIES_SF[a.size])
            args += ["--data", data_dir]
        run_jvm(classpath, args, run_dir, setup_t0 + RUN_LIMIT_S)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        checks = res["checks"]
        deferred = [k for k, c in checks.items() if c["status"] == "deferred"]
        if deferred:
            t = time.time()
            checks.update(check_queries(os.path.join(run_dir, "check"), data_dir, deferred))
            res["check_s"] += time.time() - t
        bad_keys = {k for k, c in checks.items() if c["status"] != "pass"}
        attempted = len(res["samples"])
        failed = sum(1 for s in res["samples"] if s["error"] is not None or s["key"] in bad_keys)
        setup_s = res["setup"]["launch_s"] + statistics.median(res["setup"]["rounds_s"])

        if a.trace:
            metrics = layer_metrics(res, spec)
            named, counts, tail_pct = {}, {"per_layer_rounds": res["layer_rounds"]}, None
        else:
            metrics, named, counts, tail_pct = e2e_metrics(res, setup_s)
        named["failed_ratio"] = {"value": failed / attempted, "unit": "ratio",
                                 "samples": attempted}
        provenance = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
            "size": a.size, "nproc": os.cpu_count(), "jvm_cores": res["cores"],
            "mem_total_mb": mem_total_mb(), "versions": res["versions"],
            "git_commit": git_commit(), "source_sha256": stamp,
            "sizes": dict(res["sizes"], **({"queries_sf": QUERIES_SF[a.size]}
                                           if a.workload == "queries" else {})),
            "sample_counts": counts, "tail_percentile": tail_pct,
            "setup": res["setup"], "check_s": res["check_s"], "checks": checks,
            "errors": sorted({s["error"] for s in res["samples"] if s["error"]}),
        }
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump({"provenance": provenance, "named": named, "metrics": metrics,
                       "raw": res}, f)
        if a.trace:
            shutil.copy(os.path.join(run_dir, "trace.jsonl"),
                        os.path.join(results, f"{tag}.trace.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"named": named, "provenance": provenance}))
    print(json.dumps({"correct": not bad_keys and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
