"""Engine benchmark: one workload, one seed, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload events_batch --seed 1 --seconds 6 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and writes the spans and per-layer numbers under
``.perfbench_work/trace/``. ``--selfcheck`` only checks that input
generation is deterministic. The last line of standard output is the
JSON result; the exit code is non-zero when the outputs are wrong or
the run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _end_to_end(res, spec: dict) -> dict:
    from harness import median

    values = {
        "setup_s": median(res.setup),
        "throughput_per_s": res.throughput,
        "latency_p50_s": median(res.latencies),
        "peak_rss_mb": res.peak_rss_mb,
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}


def _per_layer(res, spec: dict, path: str) -> dict:
    """Every declared layer metric; a layer the workload never enters
    reads 0 and is listed as such in the trace file."""
    out, absent = {}, []
    for m in spec["per_layer"]:
        if m["name"] not in res.layers:
            absent.append(m["name"])
        out[m["name"]] = {"value": float(res.layers.get(m["name"], 0.0)), "unit": m["unit"]}
    with open(path, encoding="utf-8") as fh:
        trace = json.load(fh)
    trace.update({"layers": res.layers, "not_exercised": absent})
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(trace, fh, indent=1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    import gen

    if args.selfcheck:
        ok = gen.selfcheck(WORK)
        print(json.dumps({"deterministic_inputs": ok}))
        return 0 if ok else 1

    spec = _spec()
    # rules_heavy is not in the gated set (see README.md) but runs the same way
    names = [w["name"] for w in spec["workloads"]] + ["rules_heavy"]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")

    sys.path.insert(0, ROOT)
    try:
        import logprep_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2

    from harness import Session, Tracer, configure_env

    cpus = len(os.sched_getaffinity(0))
    configure_env(WORK, cpus)
    import workloads

    tracer = Tracer(bool(args.trace))
    session = Session(f"perfbench-{args.workload}", cpus)
    ctx = workloads.Ctx(WORK, args.seed, args.seconds, tracer, session)
    try:
        if args.workload == "corpus_v3":
            res = workloads.corpus_v3(ctx)
        else:
            res = workloads.events(ctx, args.workload)
    finally:
        session.shutdown()

    if args.trace:
        path = os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.json")
        tracer.write(path)
        metrics = _per_layer(res, spec, path)
        print(f"spans and per-layer numbers: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    else:
        metrics = _end_to_end(res, spec)
    correct = res.failed == 0
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
