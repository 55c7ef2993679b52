#!/usr/bin/env python3
"""The repo benchmark: one command per workload, outputs checked.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.py), runs
one workload in a fresh JVM on local[nproc], checks the program's outputs,
and prints every metric by name and unit. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer ones
of a traced run, plus its overhead against the saved untraced runs of the
same build (when there are none, an untraced run is made first). Every
run's full record (metrics, checks, cpus, heap, sizes, seed, sample count,
git commit, source stamp) is saved under .bench_results/ for
perfbench/compare.py.

Exit code 0 when every check passed; 1 when an output check failed (the
result is still printed); 2 when the build or the JVM failed (no result).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import layers  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("ingest_backlog", "ingest_review", "analytics_mix")
HEAP = "3g"
# Every JVM of one invocation must end within this many seconds after the
# build, so the command finishes within three minutes.
RUN_TIMEOUT_S = 170
EXPECTED = HERE / "expected_analytics.json"
E2E_UNITS = {"setup_s": "s", "elapsed_s": "s", "retained_heap_mb": "MB",
             "stored_bytes_per_input_byte": "ratio"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def cpus():
    return len(os.sched_getaffinity(0))


def java_cmd(tmp, main_class):
    """The harness JVM's command line up to its main class."""
    cmd = [build.java(), f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
                  "-cp", build.classpath(), main_class]


def run_jvm(workload, seed, seconds, trace, tag, deadline):
    """Runs one harness JVM, killed at `deadline` (a time.monotonic() value);
    returns (result dict, peak RSS in MB)."""
    run_dir = build.BUILD / "runs" / f"{workload}-{seed}-{os.getpid()}-{tag}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "result.json"
    cmd = java_cmd(run_dir / "tmp", "perfbench.Main") + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--root", str(run_dir / "work"),
        "--cpus", str(cpus()), "--out", str(out)]
    log_path = run_dir / "jvm.log"
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            while True:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                if time.monotonic() > deadline:
                    proc.kill()
                    pid, status, usage = os.wait4(proc.pid, 0)
                    break
                time.sleep(0.1)
            proc.returncode = os.waitstatus_to_exitcode(status)
        if proc.returncode != 0 or not out.is_file():
            tail = log_path.read_text(errors="replace")[-6000:]
            sys.stderr.write(tail)
            build.fail(f"run: harness JVM for {workload} exited with {proc.returncode}")
        return json.loads(out.read_text()), usage.ru_maxrss / 1024.0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check_analytics(res):
    """Compares each line's row count and digest with the recorded ones."""
    want = json.loads(EXPECTED.read_text())["lines"] if EXPECTED.is_file() else {}
    failures = []
    for name in res["line_order"]:
        got = res["lines"][name]
        exp = want.get(name)
        if got["error"] or exp is None or (got["rows"], got["hash"]) != (exp["rows"], exp["hash"]):
            failures.append(f"{name}: got rows={got['rows']} hash={got['hash']} "
                            f"error={got['error']} want {exp}")
    res["attempted"] = len(res["line_order"])
    res["failed"] = len(failures)
    res["failures"] = failures


def end_to_end(res):
    s = res["samples"]
    elapsed = median(s["elapsed_s"])
    return {
        "setup_s": median(s["setup_s"]),
        "elapsed_s": elapsed,
        "retained_heap_mb": res["retained_heap_mb"],
        "stored_bytes_per_input_byte": median(res["store_bytes"]) / res["input_bytes_per_rep"],
    }


def extras(res, e2e, rss_mb):
    """Further end-to-end figures, name -> (value, unit): drain_s,
    rows_per_s and jobs_per_min on the ingest workloads, analytics_s and
    each line's seconds on the mix, and figures of every run."""
    elapsed = e2e["elapsed_s"]
    x = {"failed_op_share": (res["failed"] / res["attempted"], "ratio"),
         "cpu_s": (median(res["samples"]["cpu_s"]), "s"),
         "peak_rss_mb": (rss_mb, "MB"),
         "warmup_s": (res.get("warmup_s", 0.0), "s"),
         "gen_s": (res.get("gen_s", 0.0), "s"),
         "session_s": (res["session_s"], "s")}
    if res["workload"] == "analytics_mix":
        x["analytics_s"] = (elapsed, "s")
        for name in res["line_order"]:
            x[f"line.{name}_s"] = (res["lines"][name]["s"], "s")
    else:
        x["drain_s"] = (elapsed, "s")
        x["rows_per_s"] = (res["rows_per_rep"] / elapsed, "rows/s")
        x["jobs_per_min"] = (res["jobs_per_rep"] * 60.0 / elapsed, "jobs/min")
    return x


def git_commit():
    try:
        done = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10)
        return done.stdout.strip() if done.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def measure(a, trace, source_stamp, deadline):
    """One harness JVM, checked; returns (raw result, saved record)."""
    res, rss = run_jvm(a.workload, a.seed, a.seconds, trace, "traced" if trace else "plain",
                       deadline)
    if a.workload == "analytics_mix":
        check_analytics(res)
    e2e = end_to_end(res)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": int(trace),
        "cpus": res["cpus"], "heap": HEAP, "samples": len(res["samples"]["elapsed_s"]),
        "sizes": {k: res[k] for k in ("jobs_per_rep", "rows_per_rep", "sf") if k in res},
        "git_commit": git_commit(), "source_sha256": source_stamp,
        # A traced run's times include the tracing; they never count as
        # end-to-end figures.
        "traced_end_to_end" if trace else "end_to_end": e2e,
        "extras": extras(res, e2e, rss),
        "raw_samples": res["samples"], "attempted": res["attempted"], "failed": res["failed"],
        "failures": res["failures"],
    }
    if trace:
        record["per_layer"] = layers.compute(res, untraced_elapsed(a, source_stamp))
    out = Path(a.results) / a.workload
    out.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (out / f"seed{a.seed}-trace{int(trace)}-{stamp}-{os.getpid()}.json").write_text(
        json.dumps(record, indent=1, sort_keys=True) + "\n")
    return res, record


def untraced_elapsed(a, source_stamp):
    """Median elapsed_s of the saved untraced runs of this workload and build."""
    xs = []
    for f in (Path(a.results) / a.workload).glob("*-trace0-*.json"):
        r = json.loads(f.read_text())
        if r.get("source_sha256") == source_stamp and r.get("failed") == 0:
            xs.append(r["end_to_end"]["elapsed_s"])
    return median(xs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=str(ROOT / ".bench_results"),
                    help="directory that keeps every run's full record")
    a = ap.parse_args()

    source_stamp = build.build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    runs = []
    # A traced run needs untraced runs of the same build for its overhead;
    # without saved ones it makes one first.
    if not a.trace or untraced_elapsed(a, source_stamp) == 0.0:
        runs.append(measure(a, False, source_stamp, deadline))
    if a.trace:
        runs.append(measure(a, True, source_stamp, deadline))
    res, record = runs[-1]
    attempted = sum(r["attempted"] for r, _ in runs)
    failed = sum(r["failed"] for r, _ in runs)

    for r, _ in runs:
        for f in r["failures"]:
            print(f"CHECK FAILED: {f}")
    print(f"# {a.workload} seed={a.seed} cpus={record['cpus']} heap={HEAP} "
          f"samples={record['samples']} commit={record['git_commit'][:12]}")
    e2e = record.get("end_to_end") or record["traced_end_to_end"]
    if a.trace:
        print("# the figures down to the per-layer ones come from the traced run")
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {E2E_UNITS[k]}")
    for k, (v, unit) in record["extras"].items():
        print(f"{k} {v:.6g} {unit}")
    if a.trace:
        for k, v in record["per_layer"].items():
            print(f"{k} {v:.6g} {layers.METRICS[k]}")
        metrics = {k: {"value": v, "unit": layers.METRICS[k]}
                   for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
