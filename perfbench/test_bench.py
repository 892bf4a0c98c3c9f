"""The benchmark's own test.

    python3 perfbench/test_bench.py derive [--update]
        Runs every lane once per data set (sf0.1 and the smoke test's
        sf0.001), writes the results as parquet, checks them against DuckDB
        with scripts/check.py, and checks that the harness's row counts and
        checksums of the live results equal those of the checked copies.
        Compares them with expected.json, or rewrites it with --update.

    python3 perfbench/test_bench.py smoke
        Runs each workload for a few seconds at sf0.001, untraced and
        traced, and asserts that every metric of BENCHMARK.json is printed
        with its unit, that outputs check, and that an injected failing op
        shows in the failure count with its cause.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import run  # noqa: E402

WORKLOADS = ["reports", "corpus", "ingest"]
SMOKE_SF = 0.001


def derive(update):
    expected_path = os.path.join(HERE, "expected.json")
    expected = json.load(open(expected_path)) if os.path.exists(expected_path) else {}
    fresh, ok = {}, True
    for sf in (0.1, SMOKE_SF):
        build_dir, classpath, key, data = run.prepare(sf)
        fresh[key] = {}
        for w in WORKLOADS:
            work = os.path.join(build_dir, f"derive-{w}")
            out = os.path.join(work, "out")
            rc, _ = run.harness(classpath, work, ["--workload", w, "--data", data,
                                                  "--derive", out], timeout=900)
            if rc != 0:
                sys.stderr.write(run.log_tail(work))
                raise SystemExit(f"derive {key} {w}: harness exited with {rc}")
            check = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "check.py"),
                                    data, out], capture_output=True, text=True)
            print(check.stdout.strip().splitlines()[-1], f"({key} {w})")
            if check.returncode != 0:
                print(check.stdout)
                ok = False
            for lane, s in json.load(open(os.path.join(out, "checksums.json"))).items():
                if (s["rows"], s["sum"]) != (s["written_rows"], s["written_sum"]):
                    print(f"FAIL {key} {lane}: live result differs from the checked copy")
                    ok = False
                fresh[key][lane] = {"rows": s["rows"], "sum": s["sum"]}
            shutil.rmtree(work)
    if update and ok:
        with open(expected_path, "w") as fh:
            json.dump(fresh, fh, indent=1, sort_keys=True)
            fh.write("\n")
    elif fresh != expected:
        print("FAIL expected.json differs from the derived checksums")
        ok = False
    print("derive:", "ok" if ok else "FAILED")
    return ok


def bench(workload, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", trace, "--sf", str(SMOKE_SF), *extra]
    p = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True)
    assert p.returncode == 0, f"{cmd} exited with {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def smoke():
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    for w in WORKLOADS:
        for trace, group in (("0", "end_to_end"), ("1", "per_layer")):
            detail, res = bench(w, trace)
            assert res["correct"] and res["failed"] == 0, (w, trace, detail["check"], detail["failures"])
            for m in spec[group]:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{w} trace={trace}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{w}: {m['name']} unit {got['unit']}"
                assert isinstance(got["value"], (int, float)), f"{w}: {m['name']} not a number"
            assert set(res["metrics"]) == {m["name"] for m in spec[group]}, (w, trace)
            print(f"ok   {w} trace={trace}: {len(res['metrics'])} metrics, {res['attempted']} ops")
    detail, res = bench("reports", "0", ["--inject-failure"])
    lanes = len(detail["lanes"])
    assert not res["correct"], "an injected failure must fail the output check"
    assert res["failed"] == res["attempted"] // lanes, (res["failed"], res["attempted"])
    assert abs(detail["fail_ratio"] - res["failed"] / res["attempted"]) < 1e-12
    causes = {f["cause"] for f in detail["failures"]}
    assert causes == {"java.lang.IllegalStateException: injected failure"}, causes
    print(f"ok   injected failure: {res['failed']}/{res['attempted']} ops failed with {causes.pop()}")
    print("smoke: ok")
    return True


if __name__ == "__main__":
    what = sys.argv[1] if len(sys.argv) > 1 else "smoke"
    passed = derive("--update" in sys.argv) if what == "derive" else smoke()
    sys.exit(0 if passed else 1)
