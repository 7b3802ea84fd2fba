"""Self-test of the benchmark at a small size.

    python3 lakebench/selftest.py

Checks, each with one run of ``run.py`` at ``--scale 0.25``:
  - every workload, untraced and traced, prints exactly the metric names
    and units BENCHMARK.json lists, reports ``correct: true``, and
    accounts every engine error it printed in ``failed``;
  - one corrupted chart answer, and one fact micro-batch landed twice,
    each turn ``correct`` false;
  - one exception raised in a dashboard call adds exactly one failed
    operation and leaves ``correct`` true.
Exits 1 on the first check that does not hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SECONDS = "4"
# stderr lines run.py prints once per failed operation
FAILURE_MARKS = ("# dashboard read ", "# engine error, restarting", "# scd2 refresh failed",
                 "# compaction failed")


def bench(workload: str, trace: int, inject: str | None = None) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", SECONDS, "--trace", str(trace), "--scale", "0.25"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd[1:])}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr.splitlines()


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def failures(err: list[str]) -> list[str]:
    return [ln for ln in err if ln.startswith(FAILURE_MARKS)]


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in spec["workloads"]:
        for trace, names in ((0, e2e), (1, per_layer)):
            res, err = bench(w["name"], trace)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            tag = f"{w['name']} trace={trace}"
            expect(got == names, f"{tag}: metric names and units match BENCHMARK.json")
            expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
            expect(res["correct"] is True, f"{tag}: correct")
            expect(res["failed"] == len(failures(err)), f"{tag}: every printed engine error is in failed")
    res, _ = bench("live_mixed", 0, "wrong_chart")
    expect(res["correct"] is False, "one wrong chart row makes correct false")
    res, _ = bench("live_mixed", 0, "dup_fact")
    expect(res["correct"] is False, "one duplicated fact micro-batch makes correct false")
    res, err = bench("live_mixed", 0, "dash_error")
    fails = failures(err)
    injected = [ln for ln in fails if "injected dashboard error" in ln]
    expect(len(injected) == 1 and res["failed"] == len(fails) and res["correct"] is True,
           "one dashboard exception is one more failed op, correct stays true")


if __name__ == "__main__":
    main()
