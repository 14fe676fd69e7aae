#!/usr/bin/env python3
"""The repo benchmark: one command, one workload per call, one closed-loop
client on local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--inject FAULT]

It builds the engine from the checkout's sources (perfbench/build.py),
makes the workload's inputs from the seed, runs the JVM harness
(perfbench/src/Harness.scala), checks every job's output, prints a summary
and, as the last line, one JSON object: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. Any
wrong or failed job makes the exit code 1; a run that cannot start exits 2.

--inject plants one fault in the first timed job's output before the
check, to show that the check catches it: missing_key, unsorted, dup_key
(MapReduce workloads) or oracle_row (the query mix).
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import checker  # noqa: E402
import corpus  # noqa: E402

DEADLINE_S = 170
WORKLOADS = {
    # corpus: files x MB each; R output files; split size giving ~16 splits;
    # untimed warm-up jobs and the fewest timed ones (a query job is one pass
    # over its queries); the JIT is still compiling after fewer warm-ups.
    # The streaming query runs only in the traced profile: its latency-bound
    # micro-batch cycle tracked a shared host's speed drift (+40% between runs),
    # which no number of passes within a run can average out.
    "mr_wordcount": dict(job="wordcount", files=4, file_mb=4.0, r=8, mapkb=1024,
                         warmup=4, min_jobs=5),
    "llm_curation": dict(queries=["q36_minhash_lsh"], profile=["q267_stream_session_window"],
                         sf="sf0.1", warmup=4, min_jobs=5),
}
VOCAB = 100_000
# set-ups per run; the first one (cold JVM, class loading) is left out of
# the setup_s median, which is taken over the warm ones
SETUPS = 12
FAULTS = ("missing_key", "unsorted", "dup_key", "oracle_row")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def verify_fixture():
    base = os.path.join(HERE, "fixture")
    for line in open(os.path.join(base, "SHA256SUMS")):
        digest, name = line.split()
        with open(os.path.join(base, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                fail(f"fixture file {name} does not match SHA256SUMS")


def make_inputs(spec, seed, work):
    """Harness arguments for the workload, plus the MR answers (or None)."""
    if "job" in spec:
        files, answers = corpus.generate(seed, os.path.join(work, "input"), spec["files"],
                                         spec["file_mb"], VOCAB)
        return dict(job=spec["job"], files=",".join(files), r=spec["r"], mapkb=spec["mapkb"]), answers
    sf = os.path.join(HERE, "fixture", spec["sf"])
    return dict(queries=",".join(spec["queries"]), profile=",".join(spec["profile"]), sf=sf,
                seed=seed), None


def run_harness(classpath, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a pinned, pre-touched heap: peak RSS is then the fixed 2048 MB heap plus
    # the JVM's native peak. Without it, VmHWM follows G1's heap sizing and
    # spread 25% over five seeds; the heap signal is jvm.heap_peak_mb
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join(classpath), "perfbench.Harness"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"harness exited with {rc}")
    return json.load(open(args["result"]))


def inject(fault, job):
    """Plants `fault` in one job's output (see the module docstring)."""
    out = job["out"]
    if fault == "oracle_row":
        return
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    paths = [os.path.join(out, p) for p in parts]
    lines = [open(p).read().splitlines(keepends=True) for p in paths]
    if fault == "missing_key":
        lines[0] = lines[0][1:]
    elif fault == "unsorted":
        lines[0][0], lines[0][1] = lines[0][1], lines[0][0]
    elif fault == "dup_key":
        lines[1].append(lines[0][0])
    for p, ls in zip(paths, lines):
        with open(p, "w") as fh:
            fh.writelines(ls)


def change_first_row(oracle):
    cols, types, rows = oracle
    row = list(rows[0])
    i = next(j for j, v in enumerate(row) if v is not None)
    v = row[i]
    row[i] = (not v) if isinstance(v, bool) else (v + 1 if isinstance(v, (int, float)) else f"{v}~")
    return cols, types, [tuple(row)] + list(rows[1:])


def check_jobs(res, spec, answers, fault):
    """Checks every job's output; returns (attempted, failed, messages)."""
    con = None
    oracle_sql = res.get("oracle_sql", {})
    oracles = {}
    attempted = failed = 0
    msgs = []
    first_timed = next(j["id"] for j in res["jobs"] if j["phase"] == "timed")
    for job in res["jobs"]:
        attempted += 1
        faulty = fault is not None and job["id"] == first_timed
        if faulty:
            inject(fault, job)
        errs = [job["error"]] if job["error"] else []
        if not errs and "job" in spec:
            errs = checker.check_mr_output(job["out"], spec["r"], answers)
        elif not errs:
            import duckdb
            con = con or duckdb.connect()
            for part in job["parts"]:
                q = part["name"]
                if q not in oracles:
                    pq, meta = checker.oracle_entry(os.path.join(ROOT, "tools", "oracle_cache"),
                                                    q, spec["sf"], oracle_sql[q])
                    if not os.path.exists(pq):
                        fail(f"no cached oracle answer for {q} at {spec['sf']}: {pq}")
                    oracles[q] = checker.load_oracle(con, pq, meta)
                oracle = oracles[q]
                if faulty and fault == "oracle_row" and part is job["parts"][0]:
                    oracle = change_first_row(oracle)
                errs += [f"{q}: {e}" for e in checker.check_oracle(con, os.path.join(job["out"], q), oracle)]
        if errs:
            failed += 1
            msgs.append(f"job {job['id']} ({job['phase']}): " + "; ".join(errs[:3]))
    return attempted, failed, msgs


def tail_note(walls):
    """Job count, and the highest percentile with at least ten samples
    beyond it (nearest rank)."""
    n = len(walls)
    if n <= 10:
        return f"n={n} jobs; no percentile has 10 samples beyond it"
    p = 100 * (n - 10) // n
    v = sorted(walls)[max(0, -(-p * n // 100) - 1)]
    return f"n={n} jobs; p{p} = {v:.4f} s is the highest percentile with 10 samples beyond it"


def span_self_times(path):
    spans = [json.loads(line) for line in open(path) if line.strip()]
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    total = {}
    for s in spans:
        self_ns = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        t = total.setdefault(s["name"], [0, 0.0])
        t[0] += 1
        t[1] += self_ns / 1e9
    return total


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=FAULTS)
    a = ap.parse_args()
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    bench = json.load(open(bench_json))
    spec = WORKLOADS[a.workload]
    if a.inject and (a.inject == "oracle_row") == ("job" in spec):
        fail(f"fault {a.inject} does not apply to {a.workload}")
    verify_fixture()
    classpath = build.build()
    deadline = time.time() + DEADLINE_S  # a first run in a checkout also builds
    work = os.path.join(build.build_dir(), "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args, answers = make_inputs(spec, a.seed, work)
    args.update(workload=a.workload, seconds=a.seconds, trace=a.trace, setups=SETUPS,
                warmup=spec["warmup"], min_jobs=spec["min_jobs"],
                cores=len(os.sched_getaffinity(0)), work=work,
                result=os.path.join(work, "result.json"))
    res = run_harness(classpath, args, work, deadline)
    attempted, failed, msgs = check_jobs(res, spec, answers, a.inject)
    for m in msgs:
        print(f"WRONG {m}")

    timed = [j for j in res["jobs"] if j["phase"] == "timed"]
    walls = [j["wall_s"] for j in timed]
    e2e = {
        "job_p50_s": statistics.median(walls),
        "job_cpu_s": statistics.median(j["cpu_s"] for j in timed),
        "setup_s": statistics.median(s["session_s"] + s["scan_s"] for s in res["setups"][1:]),
        "peak_rss_mb": res["vm_hwm_kb"] / 1024,
    }
    print(f"workload {a.workload}  seed {a.seed}  closed loop, 1 client, "
          f"local[{args['cores']}]")
    print(f"  job_p50_s    {e2e['job_p50_s']:.4f} s   ({tail_note(walls)})")
    print(f"  job_cpu_s    {e2e['job_cpu_s']:.4f} s")
    print(f"  setup_s      {e2e['setup_s']:.4f} s   (median of {len(res['setups']) - 1} warm set-ups; "
          f"cold first one {res['setups'][0]['session_s'] + res['setups'][0]['scan_s']:.4f} s)")
    print(f"  peak_rss_mb  {e2e['peak_rss_mb']:.1f} MB")
    print(f"  error_rate   {failed / attempted:.4f} ratio   ({failed} of {attempted} jobs wrong or failed)")
    if a.trace:
        layers = dict(res["layers"])
        layers["tables.session_s"] = statistics.median(s["session_s"] for s in res["setups"][1:])
        print("  span self times (count, s):")
        for name, (n, s) in sorted(span_self_times(res["spans"]).items()):
            print(f"    {name:44s} {n:4d} {s:10.4f}")
        gap = layers["trace.layer_sum_s"] - layers["trace.untraced_job_p50_s"]
        over = layers["trace.overhead_s"]
        print(f"  layer self times sum to {layers['trace.layer_sum_s']:.4f} s, the untraced job_p50_s is "
              f"{layers['trace.untraced_job_p50_s']:.4f} s: gap {gap:+.4f} s, tracing overhead {over:+.4f} s "
              f"({'within' if abs(gap) <= abs(over) else 'not within'} the overhead)")
        metrics = {}
        for m in bench["per_layer"]:
            v = layers.get(m["name"], 0.0)
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"  {m['name']:44s} {v:14.6f} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
