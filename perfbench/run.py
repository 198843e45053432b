"""boltspark benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload bulk_roundtrip --seed 1 \
        --seconds 15 --trace 0

Generates the workload's inputs from --seed, sets up a local[nproc]
session and warms it up (setup_s), measures for
--seconds with one closed-loop client, checks every output, and prints
the metrics.  The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} — with --trace 0 the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (spans around the engine's public functions plus Spark's SQL
metrics).  Everything is written under the checkout: work files in
.perfbench_work/ (deleted at the end), one JSON record per run in
.perfbench_results/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the checkout: boltspark and perfbench

from perfbench import common  # noqa: E402
from perfbench.common import median  # noqa: E402

# free space on /tmp and /dev/shm must come back within this after a run
HYGIENE_BOUND_BYTES = 64 << 20


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is the self-test scale")
    p.add_argument("--inject-bad-hash", action="store_true",
                   help="self-test: corrupt one expected row hash")
    return p.parse_args(argv)


class Run:
    """State of one benchmark run: session, operations, checks."""

    def __init__(self, args, work: str, tracer):
        self.workload = args.workload
        self.seed = args.seed % (1 << 32)
        self.seconds = args.seconds
        self.scale = args.scale
        self.trace = bool(args.trace)
        self.inject_bad_hash = args.inject_bad_hash
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.store = None
        self.ops = []
        self.failures: list[str] = []
        self.execs: dict[str, list] = {}

    def op(self, kind: str, fn):
        """Run one timed operation; an exception marks it failed."""
        from perfbench.trace import Op

        o = Op(f"{kind}#{len(self.ops)}", kind, time.perf_counter())
        res = None
        try:
            with self.tracer.op(o.op_id, self.spark):
                res = fn()
        except Exception as e:  # a failed operation is a result, not a crash
            o.ok, o.error = False, f"{type(e).__name__}: {e}"
            self.failures.append(f"{o.op_id}: {o.error}")
            traceback.print_exc(file=sys.stderr)
        o.wall = time.perf_counter() - o.start
        self.ops.append(o)
        if self.store is not None:
            for e in self.store.drain():
                self.execs.setdefault(e.desc, []).append(e)
        return o, res

    def check(self, op, ok: bool, what: str) -> None:
        if not ok:
            if op.ok:
                op.ok = False
                op.error = what
            self.failures.append(f"{op.op_id}: {what}")

    def standalone_check(self, name: str, ok: bool, what: str) -> None:
        """A check not tied to one operation counts as an operation."""
        from perfbench.trace import Op

        o = Op(f"check.{name}#{len(self.ops)}", "check", time.perf_counter())
        self.ops.append(o)
        self.check(o, ok, what)

    def start_session(self):
        from boltspark.engine import session

        spark = session.get_session(app="perfbench",
                                    cpus=len(os.sched_getaffinity(0)))
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        if self.trace:
            from perfbench.trace import StatusStore

            self.store = StatusStore(spark)
        return spark

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.store = None


def setup(run, wl) -> dict:
    """Input generation (in a thread, overlapping the JVM start), session
    start, then the workload's warm-up: its set-up encode (query_mix,
    append_stream) or a small round trip (bulk_roundtrip), which starts
    the Python workers before anything is timed."""
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        gen = pool.submit(wl.prepare)
        run.start_session()
        t1 = time.perf_counter()
        gen.result()
    t2 = time.perf_counter()
    wl.warm_up()
    t3 = time.perf_counter()
    return {"session_start_s": t1 - t0, "inputs_ready_s": t2 - t0,
            "warm_up_s": t3 - t2, "setup_s": t3 - t0}


def execute(args, work: str, record: dict) -> dict:
    from perfbench import checks, data
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(bool(args.trace))
    tracer.install()
    run = Run(args, work, tracer)
    wl = WORKLOADS[args.workload](run)
    with common.RssSampler() as rss:
        try:
            su = setup(run, wl)
            record["setup"] = su
            record["input_sha256"] = data.table_sha256(wl.table)
            wl.after_setup()
            t_measure = time.perf_counter()
            wl.measure()
            record["measure_wall_s"] = time.perf_counter() - t_measure
            blk, man = wl.final_dataset()
            record["blocks_sha256"] = checks.blocks_fingerprint(blk)
            stored, raw, parquet = wl.sizes()
            run.standalone_check("stored_vs_parquet", stored <= parquet,
                                 f"stored {stored} B > parquet {parquet} B")
            run.standalone_check(
                "corrupt_block", checks.corrupt_block_raises(blk, "content"),
                "a bit-flipped block decoded without CorruptBlockError")
            layer = {}
            if run.trace:
                from perfbench import layers

                layer = layers.collect(run, wl, su, rss)
                tracer.dump(os.path.join(record["results_dir"],
                                         record["name"] + ".spans.jsonl"))
        finally:
            if getattr(wl, "oracle", None) is not None:
                wl.oracle.close()
            tracer.uninstall()
            run.stop_session()

    timed = [o for o in run.ops if not o.kind.startswith(("setup", "check"))]
    walls = wl.cycle_walls()
    e2e = {
        "setup_s": (su["setup_s"], "s"),
        "cycle_p50_ms": (1000 * median(walls), "ms"),
        "compression_ratio": (stored / raw, "count"),
        "stored_vs_parquet": (stored / parquet, "count"),
    }
    failed = sum(1 for o in run.ops if not o.ok)
    extra = dict(wl.report())
    extra["peak_rss_mb"] = (rss.peak_mb, "MB")
    extra["failed_op_frac"] = (failed / len(run.ops), "count")
    tails = {}
    for kind in sorted({o.kind for o in timed}):
        w = [1000 * o.wall for o in timed if o.kind == kind and o.ok]
        tails[kind] = {"n": len(w), "p50_ms": median(w), "tail": common.tail(w)}
    cyc_tail = common.tail([1000 * w for w in walls])
    record["ops"] = [(o.kind, o.info.get("query", ""), round(o.wall, 4), o.ok)
                     for o in run.ops]
    record.update({
        "attempted": len(run.ops), "failed": failed,
        "failures": run.failures[:20],
        "e2e": e2e, "report": extra, "latency_by_kind": tails,
        "cycle_tail": cyc_tail, "n_cycles": len(walls), "layers": layer,
        "stored_bytes": stored, "raw_bytes": raw, "parquet_bytes": parquet,
    })
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import boltspark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the "
              "root of a boltspark checkout", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    results = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    free_before = common.free_bytes()
    cpu_before = common.cpu_jiffies()
    record = {"name": name, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
              "results_dir": results, "host": common.host_record()}
    common.prepare_env(work)
    try:
        execute(args, work, record)
    finally:
        shutdown_jvm()
        left = common.stop_descendants()
        common.rmtree(work)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    free_after = common.free_bytes()
    total, steal = (a - b for a, b in zip(common.cpu_jiffies(), cpu_before))
    # share of CPU time the hypervisor gave to other guests during the run
    record["host"]["steal_frac"] = round(steal / total, 4) if total else 0.0
    lost = {p: free_before[p] - free_after.get(p, 0) for p in free_before}
    record["hygiene"] = {"free_lost_bytes": lost, "killed": left}
    if left or any(v > HYGIENE_BOUND_BYTES for v in lost.values()):
        record["failed"] += 1
        record["failures"].append(f"hygiene: {record['hygiene']}")
    record["attempted"] += 1  # the hygiene check

    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print_report(record)
    if args.trace:
        from perfbench.layers import RECORD_ONLY

        metrics = {k: {"value": v[0], "unit": v[1]}
                   for k, v in record["layers"].items() if k not in RECORD_ONLY}
    else:
        metrics = {k: {"value": v[0], "unit": v[1]}
                   for k, v in record["e2e"].items()}
    print(json.dumps({"correct": record["failed"] == 0,
                      "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


def shutdown_jvm() -> None:
    """End the py4j gateway JVM: it exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def print_report(rec: dict) -> None:
    h = rec["host"]
    print(f"# perfbench {rec['workload']} seed={rec['seed']} "
          f"seconds={rec['seconds']} trace={rec['trace']} | host nproc={h['nproc']} "
          f"mem_available={h['mem_available_mb']:.0f}MB memcpy={h['memcpy_gbps']:.2f}GB/s "
          f"cpu_steal={h['steal_frac']:.3f}")
    for k, (v, u) in list(rec["e2e"].items()) + list(rec["report"].items()):
        print(f"#   {k:28s} {v:14.4f} {u}")
    for kind, t in rec["latency_by_kind"].items():
        tail = t["tail"]
        tail_s = (f" p{tail['p']}={tail['value']:.1f}ms" if tail else "")
        print(f"#   latency[{kind}] n={t['n']} p50={t['p50_ms']:.1f}ms{tail_s}")
    for k, (v, u) in rec["layers"].items():
        print(f"#   {k:40s} {v:14.4f} {u}")
    for f in rec["failures"]:
        print(f"#   FAILED {f}")


if __name__ == "__main__":
    sys.exit(main())
