#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine together
with the harness (sbt, offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Inputs are generated from the
seed, the harness runs in one JVM (`local[2]`, four shuffle partitions,
one closed-loop client), the outputs are checked against DuckDB, and the
last stdout line is the result object: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. Workloads and metrics
are listed in BENCHMARK.json; perfbench/METRICS.md says what each
measures and which end-to-end metric each layer metric should move.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import stats  # noqa: E402

RUN_LIMIT_S = 170  # a run must end within 180 s
DBLP_RECORDS = 3000
LAKE_SF = 0.01
LAKE_WARMUP_ROUNDS = 2
# Two task slots and two GC threads on a four-core host leave room for the
# JIT compiler threads, which stay busy through a whole run (Catalyst code
# keeps warming), so a run depends less on how many cores the host gives it.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:ParallelGCThreads=2",
            # compiler threads that live the whole run, so their CPU time
            # can be taken out of batch_cpu_s (perfbench.Jvm.withCpu)
            "-XX:-UseDynamicNumberOfCompilerThreads"] + [
    x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect",
                "java.io", "java.net", "java.nio", "java.util",
                "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not "
                         "found; run from the root of a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read()
    log("perfbench: building engine and harness (sbt)")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=os.environ.get("SBT_OPTS", "") +
               f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def gen_inputs(workload, seed, data, seconds):
    """Generate the run's inputs from the seed; return facts about them."""
    import gen_dblp
    import gen_orders
    import lake_plan
    if workload == "dblp_xml_six":
        return gen_dblp.generate(seed, DBLP_RECORDS, data)
    rows = gen_orders.generate(seed, LAKE_SF, data)
    # enough rounds for any run length: warm-up plus one per second
    plan = lake_plan.make_plan(seed, rows["orders"], rows["customers"], data,
                               LAKE_WARMUP_ROUNDS + int(seconds) + 8,
                               LAKE_WARMUP_ROUNDS)
    return {"orders": rows["orders"], "plan": plan}


def run_jvm(cp, args, work, deadline):
    out = os.path.join(work, "result.json")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Harness"] + args + ["--out", out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=logf,
                                stderr=subprocess.STDOUT, cwd=work)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: run exceeded its time limit")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    with open(os.path.join(work, "jvm.log")) as f:
        for ln in f:
            if ln.startswith("self time"):
                log(ln.rstrip())
    with open(out) as f:
        return json.load(f)


def end_to_end(raw, facts, setup_s):
    batches = raw["batches"]
    walls = [b["wall_s"] for b in batches]
    ops = [o["ms"] for b in batches for o in b["ops"]]
    records = [facts.get("records", b["records"]) for b in batches]
    by_kind = {}
    for o in (o for b in batches for o in b["ops"]):
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    slow = sorted(by_kind.items(), key=lambda kv: -stats.median(kv[1]))
    cpus = [b["cpu_s"] for b in batches]
    log("perfbench: batch wall s: " + ", ".join(f"{w:.3f}" for w in walls)
        + "; CPU s: " + ", ".join(f"{c:.3f}" for c in cpus))
    log(f"perfbench: {len(batches)} batches, {len(ops)} operations; median "
        "ms by operation: " + ", ".join(
            f"{k} {stats.median(v):.0f}" for k, v in slow))
    log(f"perfbench: set-up parts: session {raw['session_s']:.2f} s, "
        f"set-up reps {[round(x, 3) for x in raw['setup_reps_s']]} s, "
        f"warm-up {raw['warmup_s']:.2f} s")
    return {
        "setup_s": (setup_s, "s"),
        "batch_s": (stats.median(walls), "s"),
        "batch_cpu_s": (stats.median(cpus), "s"),
        "records_per_s": (stats.median(
            [r / w for r, w in zip(records, walls)]), "1/s"),
    }


def run_checks(workload, data, raw):
    import checks
    c = raw["check"]
    if workload == "dblp_xml_six":
        return checks.check_dblp(os.path.join(data, "truth.parquet"), c["out"])
    return checks.check_lake(os.path.join(data, "orders.parquet"),
                             os.path.join(data, "plan.json"), c)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        # set-up runs several times; the median of each part is reported
        gen_s = []
        for _ in range(3):
            shutil.rmtree(data, ignore_errors=True)
            t0 = time.monotonic()
            facts = gen_inputs(a.workload, a.seed, data, a.seconds)
            gen_s.append(time.monotonic() - t0)
        t_jvm = time.monotonic()
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", work]
        if "plan" in facts:
            args += ["--plan", facts["plan"]]
        raw = run_jvm(cp, args, work, deadline)
        setup_s = (stats.median(gen_s) + raw["session_s"]
                   + stats.median(raw["setup_reps_s"]) + raw["warmup_s"])
        t_check = time.monotonic()
        results = run_checks(a.workload, data, raw)
        log(f"perfbench: inputs {sum(gen_s):.1f} s, JVM {t_check - t_jvm:.1f} s, "
            f"checks {time.monotonic() - t_check:.1f} s")
        bad = [r for r in results if not r[1]]
        for name, _, detail in bad[:10]:
            log(f"perfbench: CHECK FAILED {name}: {detail}")
        for m in raw["error_messages"][:10]:
            log(f"perfbench: ERROR {m}")
        attempted = raw["attempted"] + len(results)
        failed = min(attempted, raw["errors"] + len(bad))
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            kept = os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")
            shutil.copy(os.path.join(work, "trace.jsonl"), kept)
            log(f"perfbench: spans written to {os.path.relpath(kept, ROOT)}")
            layers = raw["layers"]
            metrics = {m["name"]: (layers.get(m["name"], 0.0), m["unit"])
                       for m in spec["per_layer"]}
        else:
            metrics = end_to_end(raw, facts, setup_s)
        print(f"perfbench: {a.workload} seed={a.seed} input="
              + json.dumps({k: v for k, v in facts.items() if k != "plan"})
              + f" checks={len(results) - len(bad)}/{len(results)} "
              f"fail_ratio={failed / attempted:.6f} ({failed}/{attempted}) "
              f"wall={time.monotonic() - started:.1f}s", flush=True)
        print(stats.result_line(failed == 0, attempted, failed, metrics),
              flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
