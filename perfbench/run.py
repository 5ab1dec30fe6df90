"""Unique-users engine benchmark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Builds its inputs from the seed, drives the program's public entry points
from the root of a checkout, checks every output against a reference
computation, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Metric names, units and bounds are in BENCHMARK.json; the rest of the
specification (rates, planted shares, layer map) is in spec.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))  # the program, from the checkout root

from common import (  # noqa: E402
    ROOT,
    TRACE_DIR,
    Ctx,
    Result,
    confine_temp_files,
    log,
    make_workdir,
    remove_workdir,
)
from spans import Recorder, self_times_by_name  # noqa: E402

WORKLOADS = ("stream_steady", "stream_saturated", "replay_backfill", "curation_dedup", "batch_backfill")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run_workload(ctx: Ctx) -> Result:
    if ctx.workload in ("stream_steady", "stream_saturated"):
        import wl_stream

        res = wl_stream.run(ctx, saturated=ctx.workload == "stream_saturated")
        if ctx.traced and ctx.workload == "stream_saturated":
            res.notes.append(f"scaling.stream_speedup {_stream_speedup(ctx, res):.4f} x")
        return res
    import closed

    return closed.run(ctx)


def _stream_speedup(ctx: Ctx, res: Result) -> float:
    """stream_saturated throughput at local[N] over the same workload at
    local[1] (the single-threaded baseline), untraced, in a fresh work
    directory and JVM."""
    import wl_stream

    one = Ctx(ctx.workload, ctx.seed, ctx.seconds, False, Recorder(ctx.rec.run_id, enabled=False),
              work=ctx.path("local1"))
    os.makedirs(one.work)
    base = wl_stream.run(one, saturated=True, n_cores=1, rate=wl_stream.SATURATED_RATE_LOCAL1)
    res.notes.append(f"local[1] throughput {base.e2e['throughput_per_s']:.0f}/s")
    if base.failed:
        res.check("local[1] pass outputs", False, f"{base.failed} failed")
    return res.e2e["throughput_per_s"] / base.e2e["throughput_per_s"]


def run_one(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import kafkastreamsjavachallenge_spark  # noqa: F401 - fail before any work without the program

    spec = _spec()
    run_id = f"{workload}-{seed}-{os.getpid()}"
    rec = Recorder(run_id, enabled=traced)
    work = make_workdir(workload)
    confine_temp_files(work)
    ctx = Ctx(workload, seed, seconds, traced, rec, work=work)
    t = time.monotonic()
    try:
        with rec.span(f"run.{workload}"):
            res = _run_workload(ctx)
    finally:
        remove_workdir(work)
    wall = time.monotonic() - t

    for name, ok, detail in res.checks:
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
    for n in res.notes:
        log(n)
    if traced:
        # Against the untraced runs' medians these give the tracing overhead.
        for name, v in res.e2e.items():
            log(f"traced end-to-end {name}: {v:.4f}")
        selfs = self_times_by_name(rec.spans)
        res.layers["trace.spans"] = float(len(rec.spans))
        res.layers["trace.overhead_share"] = rec.overhead_s / wall
        for name, s in sorted(selfs.items()):
            log(f"self time {name}: {s:.3f} s")
        os.makedirs(TRACE_DIR, exist_ok=True)
        rec.dump(os.path.join(TRACE_DIR, f"{run_id}.json"))
        wanted = spec["per_layer"]
        values = res.layers
    else:
        wanted = spec["end_to_end"]
        values = res.e2e
    metrics = {}
    for m in wanted:
        # A layer the workload never reaches reports 0.
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }


def _print_table(workload: str, out: dict) -> None:
    share = out["failed"] / out["attempted"] if out["attempted"] else 1.0
    print(f"== {workload}: correct={out['correct']} attempted={out['attempted']} "
          f"failed={out['failed']} failed_share={share:.4f}")
    for name, m in out["metrics"].items():
        print(f"   {name:<34} {m['value']:>16.4f} {m['unit']}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds <= 0:
        ap.error("--seconds must be positive")

    if a.workload == "all":
        # One child process (one JVM) per workload, in order.
        total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=False)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                log(f"{w}: exited with {p.returncode}")
                return 1
            out = json.loads(lines[-1])
            _print_table(w, out)
            total["correct"] &= out["correct"]
            total["attempted"] += out["attempted"]
            total["failed"] += out["failed"]
            for k, v in out["metrics"].items():
                total["metrics"][f"{w}.{k}"] = v
        print(json.dumps(total))
        return 0

    os.environ["TZ"] = "UTC"
    time.tzset()
    out = run_one(a.workload, a.seed, a.seconds, bool(a.trace))
    _print_table(a.workload, out)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
