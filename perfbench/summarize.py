"""Summarize the run records in .perfbench_results/.

    python3 perfbench/summarize.py [--since EPOCH_SECONDS]

For each workload: every end-to-end metric's median and quartile
spread ((q3 - q1) / median, Python's statistics.quantiles, n=4) over
the untraced full-scale runs, each against its bound in BENCHMARK.json;
the tracing overhead (traced minus untraced median, as a share of the
untraced median); and the top three self-time layers of each traced run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(since: float) -> list[dict]:
    out = []
    for f in glob.glob(os.path.join(ROOT, ".perfbench_results", "*.json")):
        if os.path.getmtime(f) < since:
            continue
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("scale") == "full" and "e2e" in rec:
            out.append(rec)
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--since", type=float, default=0.0)
    args = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    recs = load(args.since)
    for wl in sorted({r["workload"] for r in recs}):
        plain = [r for r in recs if r["workload"] == wl and not r["trace"]]
        traced = [r for r in recs if r["workload"] == wl and r["trace"]]
        print(f"{wl}: {len(plain)} untraced, {len(traced)} traced runs; "
              f"correct {sum(r['failed'] == 0 for r in plain + traced)}"
              f"/{len(plain) + len(traced)}")
        for m in spec["end_to_end"]:
            vals = [r["e2e"][m["name"]][0] for r in plain]
            if not vals:
                continue
            s = spread(vals)
            med = statistics.median(vals)
            over = ""
            if traced:
                tmed = statistics.median(r["e2e"][m["name"]][0] for r in traced)
                over = f" trace_overhead={(tmed - med) / med:+.3f}"
            flag = "" if s <= m["bound"] / 3 else (
                " (> bound/3)" if s <= m["bound"] else " (> BOUND)")
            print(f"  {m['name']:20s} median={med:12.4f} {m['unit']:6s} "
                  f"spread={s:.4f} bound={m['bound']}{flag}{over}")
        for r in traced:
            st = {k[5:-2]: v[0] for k, v in r["layers"].items()
                  if k.startswith("self.") and k != "self.op_s"}
            top = sorted(st, key=st.get, reverse=True)[:3]
            print(f"  traced seed={r['seed']}: top self-time layers {top}, "
                  f"coverage_min={r['layers']['trace.coverage_min'][0]:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
