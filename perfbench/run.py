#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload graph_rmat --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and harness from source first when needed (build.py),
then starts one JVM with a local Spark session. The result line is
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Run artifacts (run.json, spans.jsonl, rollup.json) go
to .bench_build/perfbench/runs/<workload>-seed<seed>-trace<t>/.

Checks beyond the JVM's own: the printed metric names and units must match
BENCHMARK.json, and a workload run twice with one seed on one build must
produce identical result checksums.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("graph_small", "text_dedup")
JVM_TIMEOUT_S = 170
HEAP = "3g"
# what spark-submit passes to a JDK 17 driver
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java_cmd(cp, tmp, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd):
    """Run the JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {JVM_TIMEOUT_S} s", 3)
    return proc.returncode, out


def expected_metrics(trace):
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def same_outputs(a, b, rel_tol=1e-9):
    """Checksums agree: counts and hashes exactly, float sums within rel_tol."""
    def close(x, y):
        return x == y or (x is not None and y is not None
                          and abs(x - y) <= rel_tol * max(abs(x), abs(y)))
    return len(a) == len(b) and all(
        ca["call"] == cb["call"] and len(ca["frames"]) == len(cb["frames"]) and all(
            fa["rows"] == fb["rows"] and fa["h1"] == fb["h1"] and fa["h2"] == fb["h2"]
            and len(fa["reals"]) == len(fb["reals"])
            and all(close(x, y) for x, y in zip(fa["reals"], fb["reals"]))
            for fa, fb in zip(ca["frames"], cb["frames"]))
        for ca, cb in zip(a, b))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(str(e))
    tmp = build.OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)

    if a.selftest:
        out = build.OUT / "selftest"
        code, stdout = run_jvm(java_cmd(cp, tmp, "graftbench.SelfTest", ["--out", str(out)]))
        sys.stdout.write(stdout)
        sys.exit(code)

    out = build.OUT / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(out, ignore_errors=True)
    code, stdout = run_jvm(java_cmd(cp, tmp, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", str(out)]))
    lines = stdout.strip().splitlines()
    if code != 0 or not lines:
        sys.stderr.write(stdout)
        fail(f"benchmark JVM exited with {code}", 1)
    sys.stderr.writelines(line + "\n" for line in lines[:-1])
    result = json.loads(lines[-1])

    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = expected_metrics(a.trace)
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: printed {sorted(got.items())}, "
             f"expected {sorted(want.items())}", 1)

    # same workload, seed and build as an earlier run: outputs must agree
    sums = json.loads((out / "run.json").read_text())["checksums"]
    ledger = build.OUT / "checksums" / f"{a.workload}-seed{a.seed}.json"
    fp = build.STAMP.read_text().strip()
    if ledger.is_file():
        prev = json.loads(ledger.read_text())
        if prev["build"] == fp and not same_outputs(prev["checksums"], sums):
            print(f"perfbench: FAILED checksums differ from an earlier run with seed {a.seed}",
                  file=sys.stderr)
            result["correct"] = False
            result["failed"] += 1
    if result["correct"]:
        ledger.parent.mkdir(parents=True, exist_ok=True)
        ledger.write_text(json.dumps({"build": fp, "checksums": sums}))

    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
