"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Prints a run-environment record and,
as the last stdout line, one JSON result with the metrics named in
``BENCHMARK.json``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Each workload runs a fixed number
of ops derived from ``--seconds`` (never a timed loop), in a scratch
directory inside the checkout that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("log_history", "lake_day")

# span name -> per-layer metric holding its mean self time per op
SPAN_METRICS = {
    "trackers.commit": "trackers.commit_ms",
    "trackers.resolve": "trackers.resolve_ms",
    "metastore.resolve": "metastore.resolve_ms",
    "metastore.update": "metastore.update_ms",
    "versioned_metastore.checkout": "versioned_metastore.checkout_ms",
    "writer.data": "writer.data_ms",
    "reader.plan": "reader.plan_ms",
    "reader.exec": "reader.exec_ms",
    "operators.dedup_extend": "operators.dedup_extend_ms",
    "operators.cluster_fold": "operators.cluster_fold_ms",
    "operators.ann_extend": "operators.ann_extend_ms",
    "operators.group_publish": "operators.group_publish_ms",
    "vacuum": "vacuum.ms",
    "other": "other_ms",
}
FS_METRICS = {
    "reads": "trackers.fs_reads",
    "read_bytes": "trackers.fs_read_bytes",
    "lists": "trackers.fs_lists",
    "dirents": "trackers.fs_dirents",
    "writes": "trackers.fs_writes",
    "write_bytes": "trackers.fs_write_bytes",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input and op sizes; 'tiny' is for the smoke test")
    p.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    return p.parse_args(argv)


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def end_to_end(res: dict) -> dict:
    out = {"setup_s": res["setup_s"], "write_amp": res["write_amp"],
           "space_amp": res["space_amp"]}
    for op in ("write", "read", "rollback"):
        out[f"{op}_p50_ms"] = statistics.median(res[f"{op}_ms"])
    return out


def per_layer(res: dict, tracer) -> dict:
    # layer self times plus `other` rebuild each op's wall time only if
    # spans nest: no span leaves its parent or overlaps a sibling
    tracer.check_nesting()
    ops = tracer.layer_self_times()
    n = len(ops)
    out = {m: 1000.0 * sum(op.get(s, 0.0) for op in ops) / n
           for s, m in SPAN_METRICS.items()}
    out["op_wall_ms"] = 1000.0 * sum(op["_wall"] for op in ops) / n
    layers = res["layers"]
    for key, name in FS_METRICS.items():
        out[name] = sum(d[key] for d in layers["fs"]) / n
    out.update(layers.get("extra", {}))
    return out


def _terminate(signum, frame):
    # unwind through the workload's cleanup, which stops the JVM
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "chronicles_spark")):
        print(f"no chronicles_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import RunRecord, Tracer, emit, metric

    e2e_spec, layer_spec = declared_metrics()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep temp files of Python and the JVM inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    record = RunRecord(args.workload, args.seed, work)
    tracer = Tracer(bool(args.trace))
    try:
        if args.workload == "log_history":
            import log_history as wl
        else:
            import lake_day as wl
        res = wl.run(work, args.seed, args.seconds, args.scale, tracer)
        values = per_layer(res, tracer) if args.trace else end_to_end(res)
        if args.spans:
            tracer.dump(args.spans)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spec = layer_spec if args.trace else e2e_spec
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        print(f"workload produced no value for {missing}", file=sys.stderr)
        return 1
    metrics = {m["name"]: metric(values[m["name"]], m["unit"]) for m in spec}
    for msg in res["failures"]:
        print(f"check failed: {msg}", file=sys.stderr)
    import pyspark
    from harness import java_version

    info = record.finish(ops=res["ops"], fail_frac=res["failed"] / res["attempted"],
                         op_wall_p50_ms=statistics.median(res["op_wall_ms"]),
                         cpu_ref_p50_ms=statistics.median(res["cpu_ref_ms"]),
                         raw_p50_ms=res["raw_p50_ms"], raw_setup_s=res["raw_setup_s"],
                         spark=pyspark.__version__, java=java_version())
    emit(info, not res["failures"], res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
