"""Self-test: every workload at the sf0.001 test-data sizes, for a few ops.

    python3 lakebench/selftest.py

Each workload runs in a child process whose generator is shrunk to sf0.001
(6,000 lineitem rows, 1,500 orders, 100 documents). The test asserts that
each run exits 0, that it emits every end-to-end metric of BENCHMARK.json
with its unit and a positive value, and that no op failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def child(workload: str) -> int:
    sys.path.insert(0, HERE)
    import data

    data.LINEITEM_ROWS = 6_000
    data.ORDERS_ROWS = data.LINEITEM_ROWS // 4
    data.DOCS_PER_REPLICA = 50
    import run

    return run.main(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0"])


def check(workload: str, want: dict[str, str]) -> list[str]:
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", workload],
        capture_output=True, text=True, timeout=600, cwd=ROOT,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    res = json.loads(lines[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{workload}: result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errors.append(f"{workload}: correct={res.get('correct')} failed={res.get('failed')}"
                      f" attempted={res.get('attempted')}")
    got = res.get("metrics", {})
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            errors.append(f"{workload}: metric {name} missing")
        elif m.get("unit") != unit:
            errors.append(f"{workload}: metric {name} unit {m.get('unit')!r} != {unit!r}")
        elif not isinstance(m.get("value"), (int, float)) or not m["value"] > 0:
            errors.append(f"{workload}: metric {name} value {m.get('value')!r}")
    extra = set(got) - set(want)
    if extra:
        errors.append(f"{workload}: metrics not in BENCHMARK.json: {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    errors = []
    for w in spec["workloads"]:
        errs = check(w["name"], want)
        print(f"{w['name']}: {'ok' if not errs else 'FAILED'}", flush=True)
        errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--child":
        sys.exit(child(sys.argv[2]))
    sys.exit(main())
