"""Runs one workload of graft's benchmark and prints its result.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Builds graft and the harness (build.py),
generates the input tables once (gendata.py, sf0.1, fixed data seed) and runs
the harness in one JVM. The seed sets the op order. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it is the
run's detail. Everything is written under the build directory (.bench_build,
or $CARGO_TARGET_DIR); a run's scratch directory is removed when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import gendata  # noqa: E402

DATA_SEED = 42
HEAP = "3g"
# the harness JVM's limit; a run that also builds may take longer
HARNESS_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def data_dir(build_dir, sf):
    """The generated tables for this generator version, made once."""
    key = f"sf{sf:g}-seed{DATA_SEED}"
    path = os.path.join(build_dir, "data", key + "-" + build.digest([gendata.__file__], key)[:12])
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        gendata.generate(tmp, sf, DATA_SEED)
        os.rename(tmp, path)
    return key, path


def prepare(sf):
    """Builds the classes and the tables; returns what a harness run needs."""
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build.build(build_dir)
    key, data = data_dir(build_dir, sf)
    return build_dir, classpath, key, data


def harness(classpath, work, args, timeout):
    """Runs the harness JVM in a fresh scratch directory `work`; returns its
    exit code and stdout, or None for stdout when it was killed at `timeout`."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main", "--work", work] + args
    # graft reads SPARK_GRAFT_* tuning variables; none leaks in from outside
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_TMP"] = os.path.join(work, "artifacts")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                cwd=work, start_new_session=True, text=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = None
    return proc.returncode, out


def log_tail(work, n=40):
    with open(os.path.join(work, "jvm.log")) as fh:
        return "".join(fh.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser(description="graft closed-loop benchmark")
    ap.add_argument("--workload", required=True, choices=["reports", "corpus", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated tables")
    ap.add_argument("--inject-failure", action="store_true",
                    help="add a lane that throws on every build (for the smoke test)")
    a = ap.parse_args()
    build_dir, classpath, key, data = prepare(a.sf)
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--data", data, "--data-key", key,
            "--expected", os.path.join(HERE, "expected.json")]
    if a.inject_failure:
        args += ["--inject-failure", "1"]
    rc, out = harness(classpath, work, args, HARNESS_TIMEOUT_S)

    lines = (out or "").strip().splitlines()
    result = detail = None
    if rc == 0 and len(lines) >= 2:
        try:
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(log_tail(work))
        why = "timed out" if out is None else f"exited with {rc}"
        sys.stderr.write(f"run: harness {why} without a result\n")
        shutil.rmtree(work, ignore_errors=True)
        return 1

    trace_file = detail["detail"].get("trace_file")
    if trace_file:
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(os.path.join(work, trace_file), os.path.join(traces, trace_file))
    shutil.rmtree(work, ignore_errors=True)
    print(lines[-2])
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
