"""The benchmark of record: one command runs one named workload.

    python3 perfbench/run.py --workload ingest_live --seed 1 --seconds 20 --trace 0

Inputs are made from ``--seed``; the system under test is driven only
through its public functions and timed from outside. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics (and the spans go to
``.perfbench_traces/``). The line before it carries the run's details:
environment, host load, sample counts, failures and, traced, the
workload's own layer breakdown. See perfbench/README.md.
"""

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402

sys.path.insert(0, harness.REPO_ROOT)

# Import the system first: without it the command must fail before any
# work, with no result line.
import e_commerce_click_stream_spark.session  # noqa: E402,F401

WORKLOADS = ("ingest_live", "batch_pipeline")


def _load_spec() -> dict:
    with open(os.path.join(harness.REPO_ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a termination signal unwinds through the finally blocks below, which
    # stop the JVM and the load generator and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = _load_spec()

    import importlib

    module = importlib.import_module(args.workload)
    run = harness.Run(args.workload, args.seed)
    tracer = harness.Tracer(bool(args.trace))
    try:
        res = module.run(args, run, tracer, T_PROCESS)
    finally:
        try:
            harness.stop_spark()
        finally:
            run.close()
    info = dict(
        res["info"], workload=args.workload, seed=args.seed, seconds=args.seconds,
        cpus=run.cpus, driver_memory_setting=harness.DRIVER_MEM,
    )
    if args.trace:
        layers = res["layers"]
        layers["trace.spans"] = len(tracer.spans)
        info["layers"] = layers
        info["self_s"] = tracer.self_times()
        info["traced_end_to_end"] = {k: v for k, (v, _) in res["metrics"].items()}
        out_dir = os.path.join(harness.REPO_ROOT, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        info["spans_file"] = os.path.join(out_dir, f"{args.workload}-{args.seed}.jsonl")
        tracer.dump(info["spans_file"])
        metrics = {m["name"]: (layers[m["name"]], m["unit"]) for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: (res["metrics"][m["name"]][0], m["unit"]) for m in spec["end_to_end"]}
    harness.emit(res["outcomes"], metrics, info)
    return 0


if __name__ == "__main__":
    sys.exit(main())
