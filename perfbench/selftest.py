"""Self-test of the benchmark: each workload at a tiny size.

    python3 perfbench/selftest.py [workload ...]

For every workload it checks that

* an untraced run is correct and emits exactly the end-to-end metrics
  BENCHMARK.json names, with their units;
* a traced run emits exactly the per-layer metrics BENCHMARK.json names;
* a run with one output deliberately corrupted (``--corrupt 1``) counts
  the damage in ``failed`` and reports ``correct: false``.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(spec: dict, workload: str, *extra: str) -> dict:
    cmd = [*spec["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--size", "tiny", *extra]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect(ok: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failures: list[str] = []
    for w in workloads:
        res = run(spec, w, "--trace", "0")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(got == e2e, f"{w}: end-to-end metrics and units match BENCHMARK.json", failures)
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
               f"{w}: clean run is correct ({res['failed']}/{res['attempted']} failed)", failures)
        expect(all(v["value"] > 0 for v in res["metrics"].values()),
               f"{w}: every end-to-end metric is non-zero", failures)
        res = run(spec, w, "--trace", "1")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(got == layer, f"{w}: per-layer metrics and units match BENCHMARK.json", failures)
        res = run(spec, w, "--trace", "0", "--corrupt", "1")
        expect(not res["correct"] and res["failed"] > 0,
               f"{w}: corrupted output counted ({res['failed']}/{res['attempted']} failed)",
               failures)
    print(f"{len(failures)} failed check(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
