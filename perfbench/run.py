"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Generates the workload's inputs
from the seed, drives the system through its public surface, checks
every output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones in BENCHMARK.json; with --trace 1 the
per-layer ones, from a run that records spans around each call into the
system. Results, logs and the trace land in .perfbench_out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("live_fanout", "capture_drain", "curate_corpus")


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    tracer: object
    own_spark: object = None

    @property
    def tmp(self) -> str:
        """Scratch directory for the system under test."""
        return os.path.join(self.work, "tmp")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _calibration_ms() -> float:
    """Milliseconds a fixed pure-Python loop takes: the host's speed
    when the run ended, to tell a slower host from a slower program."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    return (time.perf_counter() - t0) * 1000.0


def _env_record() -> dict:
    """What every result is recorded with: cores, load, host speed,
    versions, commit."""
    from perfbench.procs import nproc

    rec = {"nproc": nproc(), "loadavg_1m": os.getloadavg()[0],
           "calibration_ms": _calibration_ms()}
    try:
        import pyspark

        rec["spark"] = pyspark.__version__
    except ImportError:
        rec["spark"] = None
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
        rec["java"] = next(line for line in out.stderr.splitlines()
                           if "version" in line)
    except (OSError, subprocess.TimeoutExpired, StopIteration):
        rec["java"] = None
    try:
        rec["commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        rec["commit"] = None
    return rec


def _metric_block(names_units: list[tuple[str, str]], values: dict) -> dict:
    missing = [n for n, _ in names_units if n not in values]
    if missing:
        raise RuntimeError(f"workload did not produce metrics {missing}")
    return {n: {"value": float(values[n]), "unit": u} for n, u in names_units}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pqstream_spark", "__main__.py")):
        print(f"no pqstream_spark package under {ROOT}: run from the root "
              "of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import capture_drain, curate_corpus, live_fanout
    from perfbench.metrics import Tracer

    module = {"live_fanout": live_fanout, "capture_drain": capture_drain,
              "curate_corpus": curate_corpus}[args.workload]
    base = os.path.join(ROOT, ".perfbench_out")
    tag = f"{args.workload}-seed{args.seed}"
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    ctx = Ctx(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
              tracer=Tracer(f"{tag}-trace{args.trace}-{int(time.time())}",
                            bool(args.trace)))
    try:
        res = module.run(ctx)
    finally:
        if ctx.own_spark is not None:
            from perfbench.procs import stop_inprocess_spark

            stop_inprocess_spark(ctx.own_spark)
        shutil.rmtree(work, ignore_errors=True)
    if res.get("invalid"):
        print(f"INVALID run, not reported: {res['invalid']}", file=sys.stderr)
        return 3

    spec = _spec()
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "correct": res["correct"], "attempted": res["attempted"],
              "failed": res["failed"], "e2e": res["e2e"],
              "layers": res["layers"], "info": res["info"],
              "env": _env_record()}
    results = os.path.join(base, "results")
    if args.trace:
        record["tracing_overhead"] = ctx.tracer.overhead()
        # session start is timed by every workload; a layer the workload
        # never enters reads 0 and is listed as idle
        layers = dict(res["layers"])
        layers["session.start_s"] = ctx.tracer.durations(
            "session.get_spark")[0]
        record["idle_layers"] = [m["name"] for m in spec["per_layer"]
                                 if m["name"] not in layers]
        for name in record["idle_layers"]:
            layers[name] = 0.0
        record["layers"] = layers
        metrics = _metric_block(
            [(m["name"], m["unit"]) for m in spec["per_layer"]], layers)
    else:
        metrics = _metric_block(
            [(m["name"], m["unit"]) for m in spec["end_to_end"]], res["e2e"])
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        ctx.tracer.dump(os.path.join(results, f"{tag}-spans.json"),
                        {"layers": record["layers"],
                         "tracing_overhead": record["tracing_overhead"]})

    acct = res["info"].get("account", {})
    print(f"{args.workload} seed={args.seed}: failed_ratio="
          f"{res['failed'] / res['attempted']:.6f} "
          f"({res['failed']}/{res['attempted']}; {acct}) "
          f"latency samples={res['info'].get('latency_samples')} "
          f"overhead={record.get('tracing_overhead')}")
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
