"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced with the same seed,
plus an injected wrong expected row hash on the two workloads that
check hashes, and checks that

* every metric named in BENCHMARK.json is printed with its unit;
* runs on the current tree are correct (failed == 0);
* the injected wrong hash makes failed_op_frac > 0;
* the same seed reproduces the input bytes, the encoded block
  payloads, stored_vs_parquet and compression_ratio exactly;
* in the traced run, layer self times cover >= 90% of every
  operation's wall time.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    """(last-line JSON, the run's record) of one tiny-scale run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    pattern = os.path.join(ROOT, ".perfbench_results",
                           f"{workload}-seed{SEED}-trace{trace}-*.json")
    record = json.load(open(max(glob.glob(pattern), key=os.path.getmtime)))
    return result, record


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    for wl in ("bulk_roundtrip", "query_mix", "append_stream"):
        plain, rec0 = bench(wl, 0)
        traced, rec1 = bench(wl, 1)
        for res, want, kind in ((plain, e2e, "end-to-end"), (traced, layer, "per-layer")):
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{wl}: every {kind} metric printed with its unit"
                   + ("" if got == want else
                      f" (missing {sorted(set(want) - set(got))},"
                      f" extra {sorted(set(got) - set(want))})"))
        expect(plain["correct"] and plain["failed"] == 0,
               f"{wl}: untraced run correct ({rec0['failures']})")
        expect(traced["correct"] and traced["failed"] == 0,
               f"{wl}: traced run correct ({rec1['failures']})")
        expect(rec0["input_sha256"] == rec1["input_sha256"],
               f"{wl}: same seed, same input bytes")
        expect(rec0["blocks_sha256"] == rec1["blocks_sha256"],
               f"{wl}: same seed, same encoded block payloads")
        for m in ("stored_vs_parquet", "compression_ratio"):
            a, b = rec0["e2e"][m][0], rec1["e2e"][m][0]
            expect(a == b, f"{wl}: same seed, same {m} ({a} vs {b})")
        cov = traced["metrics"]["trace.coverage_min"]["value"]
        expect(cov >= 0.9, f"{wl}: layer self times cover {cov:.3f} >= 0.9 "
               "of every operation")
        if wl != "query_mix":
            bad, _ = bench(wl, 0, "--inject-bad-hash")
            expect(bad["failed"] > 0 and not bad["correct"],
                   f"{wl}: an injected wrong hash fails the run "
                   f"(failed {bad['failed']} of {bad['attempted']})")
    print("selftest:", "PASS" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
