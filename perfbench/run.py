"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around the package's entry points and prints the
per-layer metrics instead. Every metric named in BENCHMARK.json is printed
as ``name = value unit``; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. A run record with
the machine fingerprint, per-shape medians and router decisions goes to
``perfbench/out/``, and one summary line per run is appended to the
per-machine ledger ``perfbench/out/ledger-nproc<N>.jsonl``.

Exit codes: 0 ok, 1 a wrong or failed answer, 2 the package or the
benchmark description is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import time

import common
import layers
from common import OUT_DIR, ROOT, log

WORKLOADS = ("serve", "operators")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _check_package() -> None:
    """The package must come from this checkout, not from site-packages."""
    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("funnel_rocket_spark")
    if spec is None or not os.path.abspath(spec.origin).startswith(
            os.path.join(ROOT, "funnel_rocket_spark") + os.sep):
        raise ImportError(f"funnel_rocket_spark not found under {ROOT}")


def end_to_end(res: dict) -> dict:
    """The user-facing metrics from the untimed set-up and timed window."""
    walls = [r["wall"] for r in res["records"]]
    tail_s, pct, n = common.tail(walls)
    res["detail"]["query_tail"] = {"percentile": pct, "samples": n}
    # closed-loop throughput: each client's correct answers per second of
    # its own time in the window, summed over clients
    qps = sum(sum(r["ok"] for r in res["records"] if r["client"] == k) / busy
              for k, busy in enumerate(res["client_busy_s"]))
    return {
        "setup_s": res["setup_s"],
        "register_s": res["register_s"],
        # median of the shapes' medians: every shape is sampled equally
        # often, and with an even count of shapes the pooled median falls
        # on the gap between two of them
        "query_p50_s": common.median(
            list(layers.per_shape(res["records"]).values())),
        "query_tail_s": tail_s,
        "queries_per_s": qps,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        spec = _load_spec()
        _check_package()
    except (OSError, ValueError, ImportError) as exc:
        log(f"perfbench: cannot run: {exc}")
        return 2

    common.sandbox_env()
    # a SIGTERM unwinds through the workload's clean-up, which stops the
    # server and the JVM before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    from tracer import Tracer

    fp_start = common.fingerprint()
    cpu_start = common.cpu_sample()
    tracer = Tracer(enabled=bool(args.trace))
    workload = importlib.import_module(args.workload)
    try:
        res = workload.run(args.seed, args.seconds, tracer)
    finally:
        shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    fp_end = common.fingerprint()
    shares = common.contention(cpu_start, res["cpu_end"])

    records = res["records"]
    attempted = len(records) + res["warmup_attempted"]
    failed = sum(not r["ok"] for r in records) + res["warmup_errors"]
    e2e = end_to_end(res)
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in listed}

    record = {
        "time": time.time(), "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "fingerprint": {"start": fp_start, "end": fp_end,
                        **shares,
                        "loaded": common.loaded(fp_start, fp_end, shares)},
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted,
        "end_to_end": e2e, "per_layer": res["layers"],
        "detail": res["detail"],
    }
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with open(os.path.join(OUT_DIR, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(OUT_DIR, stem + ".spans.json"))
    ledger = os.path.join(OUT_DIR, f"ledger-nproc{fp_start['nproc']}.jsonl")
    with open(ledger, "a") as fh:
        fh.write(json.dumps({k: record[k] for k in (
            "time", "workload", "seed", "seconds", "trace", "fingerprint",
            "error_rate", "end_to_end")}) + "\n")

    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:  # measured and recorded, too noisy to gate
        print(f"peak_rss_mb = {e2e['peak_rss_mb']:.6g} MB (not gated)")
    print(f"error_rate = {record['error_rate']:.6g} ratio "
          f"({failed} of {attempted})")
    tail = res["detail"]["query_tail"]
    print(f"query_tail percentile = {tail['percentile']} "
          f"over {tail['samples']} samples")
    print(f"machine: nproc={fp_start['nproc']} "
          f"loadavg={fp_start['loadavg'][0]:.2f}->{fp_end['loadavg'][0]:.2f} "
          f"other_jvms={fp_start['other_jvms']} "
          f"foreign_cpu={shares['foreign_cpu_frac']:.3f} "
          f"steal={shares['steal_frac']:.3f} "
          f"loaded={record['fingerprint']['loaded']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
