"""Run one workload of the extraction benchmark and print its metrics.

    python3 perfbench/run.py --workload html_pages --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the root of a checkout of the repository. With ``--trace 0`` the
run measures the end-to-end metrics; with ``--trace 1`` it measures the
per-layer metrics (see ``perfbench/README.md``). ``--workload all`` runs
the three workloads one after another, each in its own driver process.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 0
when every output was correct, 1 when one was not, and 2 when the program
under test is missing or the arguments are wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the workloads BENCHMARK.json lists, plus mixed_formats, which
# ``--workload all`` and ``--workload mixed_formats`` run on demand
WORKLOAD_NAMES = ("html_pages", "mixed_formats", "recrawl_resume")
SETUP_SAMPLES = 3
# full-size untimed rounds run for at least WARMUP_S and WARMUP_ROUNDS:
# throughput keeps rising over the first rounds after the restarts
WARMUP_ROUNDS = 2
WARMUP_S = 8.0
MIN_ROUNDS = 3


def _load_benchmark_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    })


def _rounds(wl, bs, inputs, seconds: float, at_least: int) -> list:
    """Rounds until ``seconds`` have passed and at least ``at_least`` ran."""
    out = []
    deadline = time.monotonic() + seconds
    while len(out) < at_least or time.monotonic() < deadline:
        out.append(wl.run_round(bs, inputs))
    return out


def _measure_rounds(wl, bs, inputs, seconds: float):
    """Untimed warm-up rounds, then timed rounds for ``seconds``."""
    warm = _rounds(wl, bs, inputs, WARMUP_S, WARMUP_ROUNDS)
    return warm, _rounds(wl, bs, inputs, seconds, MIN_ROUNDS)


def _result(checked, final_problems: list[str], metrics: dict) -> dict:
    problems = final_problems[:]
    for r in checked:
        problems += r.problems
        if r.failed:
            problems.append(f"{r.failed} wrong documents")
    failed = sum(r.failed for r in checked)
    attempted = sum(r.docs for r in checked) or 1
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": metrics,
        "failed_frac": failed / attempted,
    }


def run_end_to_end(wl, bs, inputs, seconds: float) -> dict:
    """Set-up samples: the cold start (JVM launch) and SETUP_SAMPLES - 1
    restarts in that JVM; setup_s is their median."""
    t0 = time.perf_counter()
    setups = [bs.start()] + [bs.restart() for _ in range(SETUP_SAMPLES - 1)]
    wl.prepare(bs, inputs)
    t1 = time.perf_counter()
    warm, rounds = _measure_rounds(wl, bs, inputs, seconds)
    final = wl.final_problems(bs, inputs)
    print(f"# phases: set-up samples {t1 - t0:.1f} s, "
          f"warm-up, rounds and checks {time.perf_counter() - t1:.1f} s")
    print(f"# rounds {len(rounds)}: "
          + " ".join(f"{r.docs / r.wall_s:.1f}" for r in rounds) + " docs/s")
    print("# setup samples: " + " ".join(f"{s:.3f}" for s in setups) + " s")
    return _result(warm + rounds, final, {
        "docs_per_s": statistics.median(r.docs / r.wall_s for r in rounds),
        "cpu_ms_per_doc": statistics.median(1e3 * r.cpu_s / r.docs for r in rounds),
        "py_rss_mb": statistics.median(r.py_rss_mb for r in rounds),
        "setup_s": statistics.median(setups),
    })


def run_traced(wl, bs, inputs, seconds: float, seed: int, spans_path: str) -> dict:
    from perfbench import kernelprobe, layers
    from perfbench.trace import Tracer

    tracer = Tracer(uuid.uuid4().hex[:12])
    with tracer.span("session.start"):
        start_s = bs.start()
    wl.prepare(bs, inputs)
    warm = _rounds(wl, bs, inputs, WARMUP_S, WARMUP_ROUNDS)
    untraced = wl.run_round(bs, inputs)
    traced = wl.run_round(bs, inputs, tracer)
    passes = []
    deadline = time.monotonic() + seconds
    while not passes or time.monotonic() < deadline:
        passes.append(layers.ladder_pass(bs, tracer))
    metrics = {"session.start_s": start_s}
    metrics.update(layers.ladder_metrics(bs, passes, inputs))
    metrics.update(layers.job_metrics(bs, inputs, tracer))
    with tracer.span("kernel.inprocess"):
        metrics.update(kernelprobe.workload_kernel_metrics(
            kernelprobe.sample_rows(inputs.pages, seed)))
        metrics.update(kernelprobe.kind_metrics(seed))
    metrics["jvm_rss_mb"] = bs.jvm_peak_rss_mb()
    metrics["trace.overhead_docs_per_s"] = (
        untraced.docs / untraced.wall_s - traced.docs / traced.wall_s
    )
    tracer.write(spans_path)
    # the last round's output must still be in place for the final checks
    return _result(warm + [untraced, traced], wl.final_problems(bs, inputs), metrics)


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    from perfbench import host as hostmod
    from perfbench import inputs as inputsmod
    from perfbench.session import BenchSession
    from perfbench.workloads import WORKLOADS

    units = _load_benchmark_units()
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    host = hostmod.Host.detect()
    print("# host " + json.dumps({
        "cores": host.cores, "master": host.master,
        "driver_memory_mb": host.driver_memory_mb, **hostmod.versions(),
    }))
    inputs = inputsmod.prepare(
        workload, seed, os.path.join(ROOT, ".perfbench_cache"), ROOT
    )
    print(f"# input {workload} seed {seed}: {inputs.rows} rows, {inputs.docs} docs")
    wl = WORKLOADS[workload]()
    bs = BenchSession(ROOT, work, host, inputs.pages)
    try:
        if trace:
            res = run_traced(wl, bs, inputs, seconds, seed,
                             os.path.join(work, f"spans-{workload}.jsonl"))
        else:
            res = run_end_to_end(wl, bs, inputs, seconds)
    finally:
        bs.close()
    for p in res["problems"]:
        print(f"# CHECK FAILED: {p}")
    for name, value in res["metrics"].items():
        print(f"{workload} {name} {value:.6g} {units[name]}")
    print(f"{workload} failed_frac {res['failed_frac']:.6g} ratio")
    print(result_line(res["correct"], res["attempted"], res["failed"],
                      res["metrics"], units))
    return 0 if res["correct"] else 1


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Each workload in its own driver process; one summary at the end."""
    units = _load_benchmark_units()
    units.update({f"{w}.{k}": u for w in WORKLOAD_NAMES for k, u in units.items()})
    correct, attempted, failed, metrics = True, 0, 0, {}
    worst = 0
    for w in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        worst = max(worst, proc.returncode)
        if proc.returncode not in (0, 1) or not lines:
            correct = False
            continue
        res = json.loads(lines[-1])
        correct &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        metrics.update({f"{w}.{k}": v["value"] for k, v in res["metrics"].items()})
    print(result_line(correct, max(attempted, 1), failed, metrics, units))
    return worst if worst else (0 if correct else 1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "open_ocr_spark", "__init__.py")):
        print(f"error: the program under test (open_ocr_spark/) is not in {ROOT}",
              file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
