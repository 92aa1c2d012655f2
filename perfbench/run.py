#!/usr/bin/env python3
"""qfspark benchmark: seeded, closed-loop workloads against the public
qfspark API on ``local[nproc]``, with every op's output checked.

Run from the root of a qfspark checkout:

    python3 perfbench/run.py --workload shard_build --seed 1 --seconds 16 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1`` (event log, job labels, kernel and serde replays;
the traced ``crawl_frontier`` run then also drives the stream of
``workloads.StreamDedup`` for its layers).
A record of the run (box, versions, kernel path, every op in run order)
goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import traceback
from concurrent.futures import ThreadPoolExecutor

import harness
import replay
import workloads

OP_TIMEOUT_S = 120.0


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _expire(expired: threading.Event, wl, ctx) -> None:
    expired.set()
    wl.cancel(ctx)


def _loop(wl, ctx, seconds: float) -> list:
    """Closed loop of ops until the workload says stop. An op that raises
    is a failed op and the loop goes on; an op still running after
    ``OP_TIMEOUT_S`` is cancelled, fails, and ends the loop."""
    ops = []
    deadline = harness.now() + seconds
    while not ops or wl.more(len(ops), harness.now(), deadline):
        expired = threading.Event()
        timer = threading.Timer(OP_TIMEOUT_S, _expire, (expired, wl, ctx))
        t = harness.now()
        timer.start()
        try:
            op = wl.op(ctx, len(ops))
        except Exception:
            traceback.print_exc()
            op = workloads.Op(harness.now() - t, 0, False)
        finally:
            timer.cancel()
            timer.join()
        ops.append(op)
        if expired.is_set():
            op.ok = False
            op.detail["timed_out"] = True
            break
    return ops


def _finish(wl, ctx, ops: list) -> None:
    """The workload's whole-run check; when it fails (or raises), so
    does the last op."""
    try:
        ok = wl.finish(ctx)
    except Exception:
        traceback.print_exc()
        ok = False
    if not ok:
        ops[-1].ok = False


def run(args, spec: dict) -> dict:
    info = harness.box()
    env = harness.Env(os.getcwd(), args.workload)
    try:
        return _measure(args, spec, info, env)
    finally:
        env.cleanup()


def _measure(args, spec: dict, info: dict, env) -> dict:
    wl = workloads.WORKLOADS[args.workload]()
    t0 = harness.now()
    with ThreadPoolExecutor(1) as pool:  # inputs are made while the JVM starts
        prepared = pool.submit(wl.prepare, env, args.seed)
        spark = harness.start_session(env, info["nproc"], info["ram_gb"],
                                      bool(args.trace))
        session_s = harness.now() - t0
    try:
        prepared.result()
        prepare_s = harness.now() - t0
        ctx = workloads.Ctx(spark, env, args.seed, info["nproc"],
                            bool(args.trace))
        wl.setup(ctx)
        setup_s = harness.now() - t0
        info.update(harness.versions(spark),
                    compile_cache_cold=env.compile_cache_cold)
        with harness.PeakRss(spark) as rss:
            ops = _loop(wl, ctx, args.seconds)
        _finish(wl, ctx, ops)
        good = [o for o in ops if o.ok]
        op_s = harness.median(o.seconds for o in good) if good else 0.0
        measured = {
            "setup_s": setup_s,
            "op_s": op_s,
            "rows_per_s": harness.median(o.rows / o.seconds for o in good)
            if good else 0.0,
            "peak_rss_mb": rss.peak_mb,
        }
        unmeasured, extra_ops = [], []
        if args.trace:
            ctx.plans.mark()  # drains the listener bus: event log written
            from eventlog import read_dir

            layers = wl.layers(ctx, read_dir(env.path("eventlog")), ops)
            layers.update(replay.REPLAYS[args.workload](args.seed))
            if wl.traced_extra is not None:
                extra = wl.traced_extra()
                extra.prepare(env, args.seed)
                extra.setup(ctx)
                extra_ops = _loop(extra, ctx, args.seconds)
                _finish(extra, ctx, extra_ops)
                layers.update(extra.layers(ctx, None, extra_ops))
                layers.update(replay.REPLAYS[extra.name](args.seed))
            layers["trace.op_s"] = op_s
            layers["jvm.heap_peak_mb"] = rss.heap_peak_mb
            per_key = [o.detail["bytes_per_key"] for o in good
                       if "bytes_per_key" in o.detail]
            if per_key:
                layers["space.bytes_per_key"] = harness.median(per_key)
            unmeasured = [m["name"] for m in spec["per_layer"]
                          if m["name"] not in layers]
            measured = layers
        kind = "per_layer" if args.trace else "end_to_end"
        metrics = {m["name"]: {"value": float(measured.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec[kind]}
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "loop": "closed loop, single client", **info,
            "setup_s": setup_s,
            "setup_phases": {"session": session_s, "inputs": prepare_s,
                             "warm_up": setup_s - prepare_s},
            "warm_up_ops_s": ctx.warm_up_s,
            "peak_rss_parts": rss.parts,
            "heap_peak_mb": rss.heap_peak_mb,
            "op_s_first": ops[0].seconds, "op_s_median": op_s,
            "ops": [{"s": round(o.seconds, 4), "ok": o.ok, **o.detail}
                    for o in ops],
            "not_on_this_workload": unmeasured,
        }
        if extra_ops:
            record["traced_extra"] = {
                "workload": wl.traced_extra.name,
                "ops": [{"s": round(o.seconds, 4), "ok": o.ok, **o.detail}
                        for o in extra_ops]}
        if len(good) > 1:
            value, pct = harness.tail(o.seconds for o in good)
            record["op_s_tail"] = {"percentile": pct, "value": value,
                                   "samples": len(good)}
        print(json.dumps(record, default=str), file=sys.stderr)
        attempted = ops + extra_ops
        failed = sum(not o.ok for o in attempted)
        return {"correct": failed == 0, "attempted": len(attempted),
                "failed": failed, "metrics": metrics}
    finally:
        _stop(spark)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(root, "qfspark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isfile(spec_path)):
        print("perfbench: run from the root of a qfspark checkout "
              "(qfspark/, __spark_entry__.py and BENCHMARK.json)",
              file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    result = run(args, spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
