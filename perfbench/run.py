#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark's Scala
main (perfbench/build.py), generates the seeded inputs (perfbench/gen.py),
runs that main in one JVM (perfbench/scala) on `local[<cores>]`, checks every
op's output (DuckDB oracle, or the TxLog model), prints every figure by
name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("read_mix", "txlog_write")
SF = 0.01                # scale factor of the generated inputs
HEAP = "3g"              # fixed JVM heap (-Xms = -Xmx), identical on both sides
SETUPS = 3               # set-ups per run; setup_s is their median
JVM_TIMEOUT_S = 160

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
UNITS.update({"op_p90_s": "s", "stored_bytes_per_row": "B/row", "fail_frac": "fraction"})

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def inputs(seed):
    """Seeded tables, generated once per (seed, sf) and reused."""
    d = os.path.join(build.build_dir(), "data", f"seed{seed}_sf{SF}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, seed, SF)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    return d


def run_jvm(classes, a, data, work):
    out = os.path.join(work, "report.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
              "lakebench.LakeBench", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
              "--work", work, "--out", out, "--cores", str(cores()), "--setups", str(SETUPS)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        sys.exit(f"benchmark JVM failed ({rc}):\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")
    t0 = time.time()
    data = inputs(a.seed)
    work = os.path.join(build.build_dir(), "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rep = run_jvm(classes, a, data, work)

    counts, threw = rep["op_counts"], rep["op_threw"]
    wrong = {n: "failed in verification" for n in rep["verify_failed"]}
    if rep["dumped"]:
        import oracle
        wrong.update(oracle.check(data, rep["verify_dir"], rep["dumped"]))
    attempted = sum(counts.values())
    failed = sum(threw.values()) + sum(counts.get(n, 1) - threw.get(n, 0) for n in wrong)
    m = rep["metrics"]
    m["fail_frac"] = failed / max(1, attempted)

    print(f"workload={a.workload} seed={a.seed} cores={rep['cores']} heap_mb={rep['heap_mb']} "
          f"sf={SF} setups_s={','.join(f'{x:.2f}' for x in rep['setup_runs_s'])} "
          f"passes={rep['passes']} timed_wall_s={rep['timed_wall_s']:.3f} "
          f"run_s={time.time() - t0:.1f} "
          + " ".join(f"jvm_{k}={v:.2f}" for k, v in sorted(rep["jvm"].items())))
    for name, msg in sorted(rep["errors"].items()):
        print(f"error {name}: {msg}")
    for name, msg in sorted(wrong.items()):
        print(f"wrong {name}: {msg}")
    for k in sorted(m):
        print(f"{k} {m[k]:.6g} {UNITS.get(k, '')}")
    if rep["trace_file"]:
        with open(rep["trace_file"]) as fh:
            tr = json.load(fh)
        top = sorted(tr["self_s_by_name"].items(), key=lambda x: -x[1])[:8]
        print(f"trace {rep['trace_file']} spans={len(tr['spans'])} counts={tr['counts']}")
        print("self time by span: " + ", ".join(f"{k}={v:.3f}s" for k, v in top))

    wanted = SPEC["per_layer"] if a.trace else SPEC["end_to_end"]
    metrics = {w["name"]: {"value": m[w["name"]], "unit": w["unit"]} for w in wanted}
    print(json.dumps({"correct": failed == 0 and not rep["errors"], "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
