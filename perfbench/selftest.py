"""Small-input self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the named ones) at the self-test size (sf0.001
tables, 2k status documents) with ``--trace 0`` and ``--trace 1``, and checks
that the result line names exactly the metrics ``BENCHMARK.json`` lists, with
their units, that every end-to-end value is positive, and that every op passed
its correctness check.  It also runs the benchmark in a directory that holds
only ``BENCHMARK.json`` and this directory, where it must fail without a
result line.  Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BARE_DIR = ".perfbench_selftest"


def _run(cwd: Path, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--small"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    if p.returncode:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, p.stdout.strip().splitlines()


def check_result(line: str, wanted: list[dict], positive: bool) -> list[str]:
    res = json.loads(line)
    problems = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        problems.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        problems.append(f"attempted={res.get('attempted')}")
    got = res.get("metrics", {})
    if sorted(got) != sorted(m["name"] for m in wanted):
        problems.append(f"metric names {sorted(got)}")
    for m in wanted:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {v.get('unit')!r} != {m['unit']!r}")
        val = v.get("value")
        if not isinstance(val, (int, float)) or not math.isfinite(val):
            problems.append(f"{m['name']}: value {val!r}")
        elif positive and val <= 0:
            problems.append(f"{m['name']}: value {val} is not positive")
    return problems


def main(argv: list[str]) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = argv or [w["name"] for w in spec["workloads"]]
    if sorted(w["name"] for w in spec["workloads"]) != sorted(workloads(True)):
        print("BENCHMARK.json workloads differ from perfbench.workloads")
        return 1
    failed = 0
    for name in names:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            code, out = _run(ROOT, name, trace)
            problems = [f"exit code {code}"] if code or not out else check_result(
                out[-1], wanted, positive=trace == 0)
            failed += bool(problems)
            print(f"{'FAIL' if problems else 'ok  '} {name} --trace {trace}"
                  + "".join(f"\n     {p}" for p in problems), flush=True)

    bare = ROOT / BARE_DIR
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir()
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, out = _run(bare, names[0], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    bare_ok = code != 0 and not any(line.startswith("{") for line in out)
    failed += not bare_ok
    print(f"{'ok  ' if bare_ok else 'FAIL'} bare directory: exit code {code}, "
          f"{len(out)} stdout lines")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
