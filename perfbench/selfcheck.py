#!/usr/bin/env python3
"""The harness's own smoke check, at a tiny input size.

    python3 perfbench/selfcheck.py

1. Runs every workload once with ``--tiny --trace 0``, and ``enrich``
   and ``job`` once more with ``--trace 1``, and checks that the last
   stdout line is the result object ``BENCHMARK.json`` promises: exactly
   the keys ``correct``, ``attempted``, ``failed`` and ``metrics``, every
   end-to-end (or per-layer) metric by name with its unit, ``correct``
   true, and every end-to-end value above zero.
2. Copies only ``BENCHMARK.json`` and ``perfbench/`` into an empty
   directory and checks that the benchmark exits non-zero there without
   printing a result.

Tiny inputs make the numbers meaningless as measurements; they only show
that every path of the harness runs and that every output check passes.
Exits 0 when all checks hold.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def run(args: list[str], cwd: Path = REPO) -> tuple[int, str]:
    p = subprocess.run([sys.executable, str(cwd / "perfbench" / "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout


def check_result(stdout: str, spec: list[dict], positive: bool) -> list[str]:
    errors = []
    res = json.loads(stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errors.append(f"output checks failed: {stdout[-2000:]}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errors.append(f"attempted {res.get('attempted')}")
    got = res.get("metrics", {})
    if set(got) != {m["name"] for m in spec}:
        errors.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in spec})}")
    for m in spec:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errors.append(f"{m['name']}: {v}")
        elif positive and not v["value"] > 0:
            errors.append(f"{m['name']} is {v['value']}")
    return errors


def main() -> int:
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    errors: list[str] = []
    cases = [(w, 0) for w in ("enrich", "analytics", "job")] + [("enrich", 1), ("job", 1)]
    for workload, trace in cases:
        args = ["--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--tiny"]
        rc, out = run(args)
        spec = bench["per_layer"] if trace else bench["end_to_end"]
        errs = [f"exit {rc}"] if rc != 0 else check_result(out, spec, positive=not trace)
        print(f"{workload} trace={trace}: {'ok' if not errs else 'FAILED'}")
        errors += [f"{workload} trace={trace}: {e}" for e in errs]

    bare = REPO / ".perfbench" / "bare"
    if bare.exists():
        shutil.rmtree(bare)
    bare.mkdir(parents=True)
    shutil.copy(REPO / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = run(["--workload", "enrich", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    print(f"bare directory: exit {rc}")
    if rc == 0 or out.strip():
        errors.append(f"bare directory: exit {rc}, stdout {out[-500:]!r}")
    shutil.rmtree(bare)

    for e in errors:
        print("  " + e)
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
