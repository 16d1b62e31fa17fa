"""Smoke test of the benchmark itself, on the smallest inputs.

    python3 perfbench/smoke.py

Run from the repository root. It runs every workload of
``BENCHMARK.json`` untraced and traced in one process, with one query
key, tiny ingest inputs and one timed pass, and
checks the result line: the exact top-level keys,
every end-to-end or per-layer metric by name and unit, and correct
outputs. It then checks that the benchmark fails, without a result
line, in a directory that holds only the benchmark. 70-150 s on a
4-core VM.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import workloads  # noqa: E402


def check_result(line: str, want: dict[str, str]) -> dict:
    result = json.loads(line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, result
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want, (got, want)
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)) and m["value"] == m["value"], (name, m)
    return result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    assert want[0] == run.END_TO_END and want[1] == run.PER_LAYER

    workloads.QUERY_KEYS = workloads.QUERY_KEYS[-1:]
    workloads.INGEST.update(schedules=300, events=400, lookups=2)
    for w in bench["workloads"]:
        for trace in (0, 1):
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                code = run.main(["--workload", w["name"], "--seed", "1", "--seconds", "0", "--trace", str(trace)])
            assert code == 0
            result = check_result(out.getvalue().splitlines()[-1], want[trace])
            print(w["name"], f"trace={trace}", "ok", result["attempted"], "checked", flush=True)
        os.remove(os.path.join(ROOT, ".perfbench_out", f"spans-{w['name']}-1.jsonl"))

    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", bench["workloads"][0]["name"],
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout
    print("benchmark alone fails: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
