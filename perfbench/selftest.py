"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

For every workload, an untraced and a traced run must print every
metric named in BENCHMARK.json with its unit, with ok_frac = 1 and
correct = true; a run with a planted wrong expected answer must report
ok_frac = 0 and correct = false. The Python restatement of the dedup
pipeline that checks curate_corpus must agree with the registry's
DuckDB twin. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

from workloads import WORKLOADS, CurateCorpus, fresh_dir

ROOT = Path(__file__).resolve().parents[1]


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--scale", "tiny", *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_names(result: dict, specs: list[dict], label: str) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in specs}
    if set(got) != set(want):
        raise SystemExit(f"FAIL {label}: metric names {sorted(set(got) ^ set(want))}")
    for name, unit in want.items():
        if got[name]["unit"] != unit or not isinstance(got[name]["value"], (int, float)):
            raise SystemExit(f"FAIL {label}: {name} = {got[name]}")


def check_dedup_reference() -> None:
    sys.path.insert(0, str(ROOT))
    root = fresh_dir(str(ROOT / ".perfbench_work" / "selftest-dedup"))
    w = CurateCorpus(None, root, 7, "tiny", 2)
    w.generate()
    same = w.expected()[0] == w.expected_sql()
    shutil.rmtree(root)
    if not same:
        raise SystemExit("FAIL curate_corpus: reference_dedup disagrees with SQL_PIPELINE_DEDUP_CORPUS")
    print("ok curate_corpus: reference_dedup equals the DuckDB twin", flush=True)


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_dedup_reference()
    for name in WORKLOADS:
        r = run(name, 0)
        check_names(r, bench["end_to_end"], f"{name} trace=0")
        if not (r["correct"] and r["failed"] == 0 and r["metrics"]["ok_frac"]["value"] == 1.0):
            raise SystemExit(f"FAIL {name}: output check failed on a correct program: {r}")
        check_names(run(name, 1), bench["per_layer"], f"{name} trace=1")
        print(f"ok {name}: every metric printed with its unit, ok_frac = 1", flush=True)
    name = next(iter(WORKLOADS))
    r = run(name, 0, "--plant-wrong")
    if r["correct"] or r["metrics"]["ok_frac"]["value"] != 0.0 or r["failed"] != r["attempted"]:
        raise SystemExit(f"FAIL {name}: a planted wrong answer was accepted: {r}")
    print(f"ok {name}: a planted wrong expected answer gives ok_frac = 0")
    return 0


if __name__ == "__main__":
    sys.exit(main())
