#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (the benchmark's own build in perfbench/
references the root build); later runs reuse the build under
.bench_build/. Each run starts one JVM for its workload, then checks the
workload's outputs (traced curation_stream runs also check q117/q122 against
the DuckDB oracle SQL the program pairs with them) and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics; a layer that the workload does not
exercise reads 0. `--workload all` runs every workload untraced and then
traced, and prints every workload's named end-to-end figures instead.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["ais_gold", "curation_stream"]
# Heap for the workload JVM: at most half of this host's RAM, and the
# same on every host so that runs compare.
HEAP = "4g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# Spark needs these when a session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def classpath():
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp):
        return open(stamp).read().strip()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src")):
        die("no program sources next to the benchmark (build.sbt, src/)")
    if shutil.which("sbt") is None:
        die("sbt not found")
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    code, out = run_group(cmd, HERE, BUILD_LIMIT_S, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        die("build failed")
    with open(stamp + ".tmp", "w") as f:
        f.write(lines[-1])
    os.replace(stamp + ".tmp", stamp)
    return lines[-1]


def run_jvm(workload, seed, seconds, trace, deadline):
    cp = classpath()
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return checked_run(cp, work, workload, seed, seconds, trace, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def checked_run(cp, work, workload, seed, seconds, trace, deadline):
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work,
            "--launch-ms", str(int(time.time() * 1000))]
    try:
        code, out = run_group(cmd, work, max(10, deadline - time.time()),
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                              text=True)
    except subprocess.TimeoutExpired:
        die(f"{workload} did not finish in time")
    result = None
    for line in out.splitlines():
        if line.startswith('{"workload"'):
            result = json.loads(line)
        else:
            print(line)
    if code != 0 or result is None:
        die(f"{workload} JVM exited with {code} and no result")
    if os.path.isdir(os.path.join(work, "oracle_out")):
        problems = oracle_check(work)
        for p in problems:
            print("perfbench.problem " + p)
        if problems:
            result["correct"] = False
    named = dict(result["named"])
    named["fail_ratio"] = {"value": result["failed"] / max(1, result["attempted"]),
                           "unit": "ratio", "attempted": result["attempted"]}
    result["named"] = named
    print("perfbench.named " + json.dumps(named))
    if trace:
        for f in glob.glob(os.path.join(work, "trace-*.json")):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(f, os.path.join(BUILD, "traces", os.path.basename(f)))
    return result


def oracle_check(work):
    """Compare the q117/q122 outputs on the oracle corpus with DuckDB."""
    import duckdb
    out = os.path.join(work, "oracle_out")
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{work}/corpus/{t}.parquet/*.parquet')")

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        rs = [tuple(r[i] for i in order) for r in rows]
        rs.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
        return [cols[i] for i in order], rs

    problems = []
    for name, sql in sorted(sqls.items()):
        rel = con.execute(sql)
        ocols = [d[0] for d in rel.description]
        orows = rel.fetchall()
        srel = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
        scols = [d[0] for d in srel.description]
        srows = srel.fetchall()
        oc, o = canon(orows, ocols)
        sc, s = canon(srows, scols)
        if oc != sc or o != s:
            problems.append(f"{name}: spark {len(s)} rows {sc} differ from oracle "
                            f"{len(o)} rows {oc}")
        elif not s:
            problems.append(f"{name}: empty on the oracle corpus")
        else:
            print(f"perfbench.oracle {name} PASS ({len(s)} rows)")
    return problems


def final_metrics(result, trace, spec):
    src = result["layer" if trace else "e2e"]
    wanted = spec["per_layer" if trace else "end_to_end"]
    names = {m["name"]: m for m in wanted}
    unknown = [k for k in src if k not in names]
    if unknown:
        die(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    for m in wanted:
        got = src.get(m["name"])
        if got is None:
            if not trace:
                die(f"end-to-end metric {m['name']} was not measured")
            # this workload does not exercise that layer
            got = {"value": 0, "unit": m["unit"]}
        if got["unit"] != m["unit"] or got["value"] is None or \
                not math.isfinite(got["value"]):
            die(f"bad value for {m['name']}: {got}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return metrics


def main():
    # a terminated run stops its JVM too (run_group kills the group on
    # any exception, SystemExit included)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda n, f: sys.exit(128 + n))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found")
    spec = json.load(open(spec_path))
    if a.workload != "all" and a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {WORKLOADS} or all")
    classpath()  # build before the run's clock starts
    if a.workload == "all":
        # untraced runs give the window's figures; traced runs add the
        # figures only they measure (curation.*, lookup.*, export.s)
        named = {}
        for w in WORKLOADS:
            for trace in (False, True):
                r = run_jvm(w, a.seed, a.seconds, trace, time.time() + RUN_LIMIT_S)
                for k, v in r["named"].items():
                    named.setdefault(f"{w}.{k}", v)
                named[f"{w}.correct"] = named.get(f"{w}.correct", True) and r["correct"]
        print(json.dumps(named))
        return
    r = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1, time.time() + RUN_LIMIT_S)
    metrics = final_metrics(r, a.trace == 1, spec)
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
