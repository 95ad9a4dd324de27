#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --self-test

Run from the root of a checkout. The first run compiles the engine sources
(src/main/scala) together with the benchmark (graftbench/src) with sbt into
graftbench/target; later runs reuse that build while the sources are
unchanged. Each run starts one JVM (graftbench.Main), which prints a report
and, as its last stdout line, one JSON result. All scratch data lives under
graftbench/.work and is removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "source.sha256")
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170
# workloads Main knows beyond BENCHMARK.json's list: runnable by name and
# covered by the self-test (see README.md for why they are not listed)
EXTRA_WORKLOADS = ["upsert_lexico"]
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the engine build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the current sources are already built."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    try:
        r = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_cmd(args, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", "-Xms3g", "-Xmx3g", *opens, f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main", *args, "--work", work,
            "--cpus", str(len(os.sched_getaffinity(0)))]


def run_main(args, tag):
    """Run graftbench.Main once; return (exit code, stdout)."""
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    p = subprocess.Popen(java_cmd(args, work), stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out", 3)
    shutil.rmtree(work, ignore_errors=True)
    return p.returncode, out


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result(out, spec, trace):
    """Split Main's output into its report and the result line, keeping the
    metrics BENCHMARK.json lists; a listed metric the run did not measure
    makes the result incorrect. Returns (report, result) or None."""
    lines = [l for l in out.strip().splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None
    report = lines[:-1]
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    metrics = {}
    for n in names:
        if n in res["metrics"]:
            metrics[n] = res["metrics"][n]
        else:
            report.append(f"# MISSING metric {n}")
            res["correct"] = False
            metrics[n] = {"value": 0, "unit": "n/a"}
    res["metrics"] = metrics
    return report, res


def self_test():
    """Each workload at toy size: every named metric is printed, outputs
    check, and a deliberately wrong expected count raises failed_op_frac."""
    spec = load_spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    # the report's full lists, gated or not
    report_e2e = e2e + ["append_p50_s", "append_p90_s", "upsert_p50_s", "upsert_p90_s",
                        "scan_p90_s", "open_ms", "failed_op_frac"]
    problems = []
    for name in [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS:
        for trace, fault in ((0, False), (1, False), (0, True)):
            args = ["--workload", name, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
            if fault:
                args.append("--fault")
            code, out = run_main(args, f"selftest-{name}")
            got = result(out, spec, trace)
            tag = f"{name} trace={trace} fault={fault}"
            if code != 0 or got is None:
                problems.append(f"{tag}: exit {code}, no JSON result")
                continue
            report, res = got
            if not fault:  # a failed call leaves the metrics it feeds unmeasured
                problems += [f"{tag}: {l[2:]}" for l in report if l.startswith("# MISSING")]
            names = [l.split()[1] for l in report if l.startswith("#   ") and len(l.split()) > 2]
            for m in report_e2e + (layer if trace else []):
                if m not in names:
                    problems.append(f"{tag}: report lacks {m}")
            frac = next((l.split()[2] for l in report if l.startswith("#   failed_op_frac")), None)
            if fault:
                if res["failed"] < 1 or res["correct"] or frac in (None, "0", "0.0"):
                    problems.append(f"{tag}: wrong expectation not caught "
                                    f"(failed={res['failed']}, failed_op_frac={frac})")
            elif not res["correct"] or res["failed"] != 0:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            print(f"self-test {tag}: attempted={res['attempted']} failed={res['failed']} "
                  f"correct={res['correct']}", file=sys.stderr)
    for p in problems:
        print("SELF-TEST FAIL: " + p, file=sys.stderr)
    print(json.dumps({"self_test": "fail" if problems else "pass", "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}: "
             "run from the root of a full checkout")
    build()
    if a.self_test:
        sys.exit(self_test())
    if not a.workload:
        fail("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    code, out = run_main(args, a.workload)
    got = result(out, load_spec(), a.trace)
    if code != 0 or got is None:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark exited {code} without a result", code or 1)
    report, res = got
    print("\n".join(report))
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
