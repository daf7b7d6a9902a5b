"""Smoke run of the benchmark.

    python3 perfbench/smoke.py [workload ...]

Run from the repository root. For each workload (default: all), runs
``run.py`` untraced on a tiny input and traced on the workload's own
input, and checks that the last stdout line is a result naming every
declared metric with its unit, that every run verified and that the
result is correct. Traced, correct also means that every metric of a
layer the workload runs was measured and no layer self time is
negative; on a tiny input the small layers cost less than the noise,
hence the full input there. Then runs it once against a deliberately
wrong expectation and checks that every run failed verification.
Exits non-zero at the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import run

TINY = 20_000


def result(workload: str, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", *extra]
    p = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, check=False)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED {what}")
    print(f"smoke: ok {what}")


def smoke(workload: str) -> None:
    for trace, units in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        size = [] if trace else ["--pages", str(TINY)]
        res, out = result(workload, "--trace", str(trace), *size)
        check(sorted(res) == ["attempted", "correct", "failed", "metrics"],
              f"{workload} trace={trace}: result keys")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        check(got == units, f"{workload} trace={trace}: every metric with its unit")
        check(all(isinstance(v["value"], (int, float))
                  for v in res["metrics"].values()),
              f"{workload} trace={trace}: numeric values")
        check(res["failed"] == 0 and res["attempted"] >= 1,
              f"{workload} trace={trace}: all {res['attempted']} runs verified")
        check(res["correct"], f"{workload} trace={trace}: result correct")
        check("error_rate" in out, f"{workload} trace={trace}: error_rate printed")
    res, _ = result(workload, "--trace", "0", "--pages", str(TINY),
                    "--wrong-expected")
    check(not res["correct"] and res["failed"] == res["attempted"],
          f"{workload}: a wrong expected output fails all "
          f"{res['attempted']} runs")


def main(argv: list[str]) -> int:
    for w in argv or list(run.PAGES):
        smoke(w)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
