"""The vul-db benchmark: one command per workload.

    python3 vdbbench/run.py --workload build_daily --seed 1 --seconds 10 --trace 0

Builds the engine and harness from source when stale (build.py), writes
the workload's inputs from the seed (gen.py), runs the harness in one
local-mode JVM sized to the machine's cores, and prints the result JSON
object as the last stdout line. ``--trace 1`` prints the per-layer
metrics instead and writes the traced run's spans and counters to
``.bench_out/trace_<workload>_seed<seed>.json``.

``--workload all`` runs every workload untraced and traced in turn.
``--record`` stores the run's output digests in vdbbench/manifest.json
(the reference the output checks compare against).
Everything is written under the checkout root and removed at exit,
except the build cache and the trace files.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["build_daily", "prep_heavy"]
MANIFEST = os.path.join(HERE, "manifest.json")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(classpath, jars, tmp, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xss8m"] + opens +
            ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
             "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", classpath + os.pathsep + os.path.join(jars, "*"),
             "vdbbench.Main"] + args)


def run_jvm(cmd, cwd):
    """Run the harness; returns (exit code, last stdout line)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    env.pop("GRAFT_BENCH_ACTION", None)
    with tempfile.TemporaryFile(mode="w+", dir=cwd) as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("[vdbbench] harness timed out after %d s" % JVM_TIMEOUT_S, file=sys.stderr)
            return 1, ""
        out.seek(0)
        lines = [l.strip() for l in out.read().splitlines() if l.strip()]
    return code, (lines[-1] if lines else "")


def run_one(workload, seed, seconds, trace, record=False, check_inputs=False):
    classpath, jars = build.ensure()
    work = os.path.join(ROOT, ".bench_work", "%s-s%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs, tmp = os.path.join(work, "in"), os.path.join(work, "tmp")
        os.makedirs(tmp)
        gen.generate(workload, seed, inputs)
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--inputs", inputs, "--work", work]
        if os.path.exists(MANIFEST):
            args += ["--manifest", MANIFEST]
        if check_inputs:
            args.append("--check-inputs")
        if trace:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            args += ["--trace-out", os.path.join(out_dir, "trace_%s_seed%d.json" % (workload, seed))]
        recorded = os.path.join(work, "record.json")
        if record:
            args += ["--record", recorded]
        code, last = run_jvm(jvm_command(classpath, jars, tmp, args), work)
        result = json.loads(last) if code == 0 and last.startswith("{") else None
        if result is not None and record:
            with open(recorded) as f:
                entry = json.load(f)
            manifest = {}
            if os.path.exists(MANIFEST):
                with open(MANIFEST) as f:
                    manifest = json.load(f)
            manifest[workload] = entry
            with open(MANIFEST, "w") as f:
                json.dump(manifest, f, indent=1, sort_keys=True)
                f.write("\n")
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    try:
        if a.workload == "all":
            results = {}
            for w in WORKLOADS:
                for t in (0, 1):
                    r = run_one(w, a.seed, a.seconds, t)
                    print(json.dumps({"workload": w, "trace": t, "result": r}), flush=True)
                    results["%s/trace%d" % (w, t)] = r
            ok = all(r is not None and r["correct"] for r in results.values())
            print(json.dumps(results))
            return 0 if ok else 1
        result = run_one(a.workload, a.seed, a.seconds, a.trace, a.record)
    except (RuntimeError, subprocess.CalledProcessError, OSError) as e:
        print("[vdbbench] %s" % e, file=sys.stderr)
        return 1
    if result is None:
        print("[vdbbench] no result", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
