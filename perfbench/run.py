#!/usr/bin/env python3
"""The repository's benchmark: the extraction job end to end, layer by layer.

One run (what BENCHMARK.json's command does), from the repository root:

    python3 perfbench/run.py --workload chat-mixed --seed 1 --seconds 4 --trace 0

builds the program and the benchmark from source (perfbench/build.py),
writes the workload's inputs from the seed (perfbench/gen.py), drives
graft.app.Main.run (or the graft.ops.Dedup chain) in a closed loop at
local[nproc], checks every output row, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. --trace 0 gives the end-to-end
metrics, --trace 1 the per-layer metrics and a spans file. The details of the
run (host fingerprint, CPU calibration, every job time, failed and
quarantined ratios) go to stderr and to the run's work directory.

    python3 perfbench/run.py --all [--seed 1] [--seconds 4]

runs every workload untraced and traced and prints a table of every metric.

    python3 perfbench/run.py --sizing 300000 [--workload pdf-files]

times one job step by step on a table of that many turns from the workload's
generator (chat-mixed by default): scan, extract, range exchange and sort, the
whole job, the whole job on a 1/20 slice (its fixed cost), local[1], the bare
extractor.

    python3 perfbench/run.py --selftest

checks the benchmark itself: one seed must give byte-identical inputs, and a
mutated row, a dropped row and a lost duplicate pair must fail the gate.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = Path.cwd()
DEADLINE_S = 170
CHAT_TURNS, CHAT_CONVS, PDF_TURNS, DOCS = 48000, 4800, 1600, 3000
# workloads beyond BENCHMARK.json's: same harness and metrics, run by --all
# and on demand (two workloads keep a full series of runs within an hour)
EXTRA_WORKLOADS = ["resume", "dedup-ops"]
SIDE_CHAT_TURNS, SIDE_CHAT_CONVS, SIDE_PDF_TURNS, SIDE_DOCS = 2000, 200, 12, 800


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_spec():
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        die("BENCHMARK.json not found; run from the repository root")
    return json.loads(spec.read_text())


class Deadline:
    def __init__(self, seconds):
        self.end = time.monotonic() + seconds

    def left(self):
        left = self.end - time.monotonic()
        if left <= 0:
            die("run exceeded its time limit")
        return left


def write_inputs(workload, seed, d):
    """The inputs the program receives: parquet tables only."""
    if workload in ("chat-mixed", "resume"):
        gen.write_chat(d, seed, CHAT_TURNS, CHAT_CONVS)
    elif workload == "pdf-files":
        gen.write_pdf_files(d, seed, PDF_TURNS)
    elif workload == "dedup-ops":
        gen.write_docs(d, seed, DOCS)
    else:
        raise ValueError(workload)


def write_side_inputs(seed, d):
    """Small inputs for the layers a traced workload does not exercise."""
    gen.write_chat(d / "chat", seed + 1, SIDE_CHAT_TURNS, SIDE_CHAT_CONVS)
    gen.write_pdf_files(d / "pdf", seed + 1, SIDE_PDF_TURNS, pool=SIDE_PDF_TURNS)
    gen.write_docs(d / "docs", seed + 1, SIDE_DOCS)


def java(classes, work, *args):
    return ["java", *build.jvm_args(work), "-cp", build.classpath(classes), "perfbench.Main", *args]


def run_jvm(cmd, deadline):
    """Runs a benchmark JVM; returns (exit code, seconds from launch to its
    READY line or None). Other output goes to stderr."""
    t0 = time.perf_counter()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, start_new_session=True)
    ready = None
    try:
        for line in p.stdout:
            if line.strip() == "READY" and ready is None:
                ready = time.perf_counter() - t0
            else:
                print(line, end="", file=sys.stderr)
            if time.monotonic() > deadline.end:
                raise subprocess.TimeoutExpired(cmd, 0)
        p.wait(timeout=deadline.left())
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("a benchmark JVM exceeded the time limit")
    return p.returncode, ready


def one_run(spec, workload, seed, seconds, trace):
    names = [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS
    if workload not in names:
        die(f"unknown workload {workload!r}; known: {', '.join(names)}")
    classes = build.build()
    t_start = time.perf_counter()
    deadline = Deadline(DEADLINE_S)
    work = build.out_dir() / "work" / f"{workload}-s{seed}-t{trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    write_inputs(workload, seed, work / "data")
    if trace:
        write_side_inputs(seed, work / "side")
    out = work / "result.json"
    code, ready = run_jvm(java(classes, work, "measure", "--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
                               "--out", str(out)), deadline)
    if code != 0 or ready is None or not out.exists():
        die(f"measure JVM failed (exit {code})")
    result = json.loads(out.read_text())
    metrics, details = result["metrics"], result["details"]
    if not trace:
        # one fresh JVM per run: a second would add about 20 s to every run
        metrics["setup_s"] = ready
    listed = spec["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in listed if not isinstance(metrics.get(m["name"]), (int, float))
               or not math.isfinite(metrics[m["name"]])]
    if missing:
        die(f"metrics not produced: {', '.join(missing)}")
    details["run_wall_s"] = time.perf_counter() - t_start
    if "spans_file" in details:
        details["spans_file"] = os.path.relpath(details["spans_file"], ROOT)
    (work / "details.json").write_text(json.dumps(details, indent=1) + "\n")
    print(json.dumps({"workload": workload, "seed": seed, "trace": trace, "details": details}), file=sys.stderr)
    # inputs and outputs are rebuilt by every run
    for sub in ("data", "side", "spark-local", "tmp"):
        shutil.rmtree(work / sub, ignore_errors=True)
    return {
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in listed},
    }, details


def report_all(spec, seed, seconds):
    """Every workload, untraced then traced, and one table of all metrics,
    with the failure and quarantine ratios the gate counts."""
    rows = []
    for w in [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS:
        r0, d0 = one_run(spec, w, seed, seconds, 0)
        r1, d1 = one_run(spec, w, seed, seconds, 1)
        ratios = {"failed_ratio": {"value": d0["failed_ratio"], "unit": "ratio"},
                  "quarantined_ratio": {"value": d0["quarantined_ratio"], "unit": "ratio"}}
        for name, m in [*r0["metrics"].items(), *ratios.items(), *r1["metrics"].items()]:
            rows.append((w, name, m["value"], m["unit"]))
        print(json.dumps({"workload": w, "untraced": r0, "traced": r1, "details": d0,
                          "traced_details": d1}))
    width = max(len(r[1]) for r in rows)
    for wl, name, value, unit in rows:
        print(f"{wl:<11} {name:<{width}} {value:>16.6g} {unit}")


def sizing(seed, turns, workload):
    """Where one job's time goes (see Sizing.scala), on a table of `turns`
    turns from the workload's generator."""
    classes = build.build()
    work = build.out_dir() / "work" / f"sizing-{workload}-s{seed}"
    shutil.rmtree(work, ignore_errors=True)
    if workload == "pdf-files":
        gen.write_pdf_files(work / "data", seed, turns)
    else:
        gen.write_chat(work / "data", seed, turns, max(1, turns // 10))
    cmd = java(classes, work, "sizing", "--seed", str(seed), "--work", str(work))
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=1800)
    shutil.rmtree(work, ignore_errors=True)
    if out.returncode != 0:
        die("sizing JVM failed")
    print(out.stdout.strip().splitlines()[-1])


def digest(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(d)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def selftest():
    """Same seed, same bytes; another seed, other bytes; then the JVM's gate
    tests on small inputs."""
    work = build.out_dir() / "work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    for name, write in [("chat", lambda d, s: gen.write_chat(d, s, 2000, 200)),
                        ("pdf", lambda d, s: gen.write_pdf_files(d, s, 12)),
                        ("docs", lambda d, s: gen.write_docs(d, s, 600))]:
        write(work / f"{name}-a", 7)
        write(work / f"{name}-b", 7)
        write(work / f"{name}-c", 8)
        same = digest(work / f"{name}-a") == digest(work / f"{name}-b")
        other = digest(work / f"{name}-a") != digest(work / f"{name}-c")
        print(f"selftest: {'ok  ' if same else 'FAIL'} {name}: same seed writes byte-identical inputs")
        print(f"selftest: {'ok  ' if other else 'FAIL'} {name}: another seed writes other inputs")
        if not (same and other):
            sys.exit(1)
    classes = build.build()
    code, _ = run_jvm(java(classes, work, "selftest", "--work", str(work)), Deadline(600))
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--sizing", type=int, metavar="TURNS", help="time the job step by step on TURNS turns")
    a = ap.parse_args()
    spec = load_spec()
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    if a.selftest:
        selftest()
    elif a.sizing:
        sizing(a.seed, a.sizing, a.workload or "chat-mixed")
    elif a.all:
        report_all(spec, a.seed, seconds)
    elif not a.workload:
        die("--workload is required (or --all / --selftest)")
    else:
        result, _ = one_run(spec, a.workload, a.seed, seconds, a.trace)
        print(json.dumps(result))


if __name__ == "__main__":
    main()
