#!/usr/bin/env python3
"""The repository's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload event_ingest --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark's JVM harness from source (cached in
.bench_build/), generates the workload's inputs from --seed, runs one
closed-loop client for --seconds of measured work, checks the program's
outputs, prints every metric by name with its unit and, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones listed in BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("event_ingest", "service_churn", "query_mix")
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars under {jars} (set SPARK_HOME)")
    return jars


def build(root, jars):
    """Compiles src/main/scala and perfbench/src into a directory keyed by
    the sources' hash; a later run with the same sources reuses it."""
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not program:
        fail(f"no program sources under {root}/src/main/scala: run from the root of a checkout")
    h = hashlib.sha256()
    for f in program + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(root, ".bench_build", "perfbench-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(program + harness))
    t = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", os.path.join(jars, "*"), "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"# built program and harness in {time.time() - t:.1f} s", flush=True)
    return out


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM ran past {JVM_TIMEOUT_S} s; log in {log_path}")
    if p.returncode != 0:
        with open(log_path) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"the JVM exited with {p.returncode}")
    notes = [l for l in out.splitlines() if l.startswith("# ")]
    res = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not res:
        fail("the JVM printed no result")
    return json.loads(res[-1][len("PERFBENCH_RESULT "):]), notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(root, jars)

    t0 = time.time()
    work = os.path.join(root, ".bench_work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = ""
        if a.workload == "query_mix":
            data = os.path.join(work, "data")
            subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"), data,
                            str(a.seed)], check=True)
        cores = len(os.sched_getaffinity(0))
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
               ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores), "--work", work,
                "--data", data, "--t0-ms", str(int(t0 * 1000))])
        res, notes = run_jvm(cmd, os.path.join(work, "jvm.log"))
        errors = res["errors"]
        if a.workload == "query_mix":
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True
            import oracle
            oerr, onotes = oracle.check(data, work)
            errors += oerr
            notes += [f"# {n}" for n in onotes]
        metrics = res["metrics"]
        last = os.path.join(root, ".bench_work", f"last-{a.workload}.json")
        if a.trace == 0:
            wanted = spec["end_to_end"]
            with open(last, "w") as f:
                json.dump(metrics, f)
        else:
            wanted = spec["per_layer"]
            # Tracing overhead: this traced run's end-to-end figures against
            # the last untraced run of the same workload in this checkout.
            for k in ("throughput_per_s", "lat_p50_s"):
                metrics[f"trace.{k}"] = metrics[k]
            if os.path.exists(last):
                with open(last) as f:
                    base = json.load(f)
                for k in ("throughput_per_s", "lat_p50_s", "setup_s"):
                    b, t = base[k]["value"], metrics[k]["value"]
                    notes.append(f"# tracing overhead on {k}: {100 * (t - b) / b:+.1f}% "
                                 f"(traced {t:.4f} vs untraced {b:.4f})")
            if os.path.exists(os.path.join(work, "spans.jsonl")):
                shutil.copy(os.path.join(work, "spans.jsonl"),
                            os.path.join(root, ".bench_work", f"spans-{a.workload}-s{a.seed}.jsonl"))
        # A layer a workload never calls reads 0 (e.g. sinks.* on query_mix).
        out = {m["name"]: {"value": metrics.get(m["name"], {}).get("value", 0.0), "unit": m["unit"]}
               for m in wanted}
        for n in notes:
            print(n)
        for e in errors:
            print(f"# ERROR {e}")
        for k, v in {**metrics, **out}.items():
            print(f"# {k:<34} {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
