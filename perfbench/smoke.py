"""Smoke test of the benchmark itself, at tiny scale (about five minutes).

    python3 perfbench/smoke.py

For every workload: an untraced run prints every end-to-end metric of
``BENCHMARK.json`` with its unit and passes its gate; a traced run prints
every per-layer metric; a ``--corrupt`` run must fail its gate (exit 1,
``"correct": false``). Last, the benchmark copied alone into an empty
directory must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(*args: str, cwd: Path = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    try:
        result = json.loads(last)
    except json.JSONDecodeError:
        result = None
    if result is None and proc.returncode == 0:
        sys.stderr.write(proc.stderr[-4000:])
    return proc.returncode, result


def expect_metrics(result: dict, spec: list[dict], what: str) -> None:
    got = result["metrics"]
    for m in spec:
        assert m["name"] in got, f"{what}: metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit"
    assert set(got) == {m["name"] for m in spec}, f"{what}: unexpected metrics"


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layers = json.loads((ROOT / "perfbench" / "layers.json").read_text())["per_layer"]
    assert [m["name"] for m in layers] == [m["name"] for m in bench["per_layer"]], \
        "layers.json and BENCHMARK.json per_layer disagree"

    for w in (x["name"] for x in bench["workloads"]):
        rc, res = run("--workload", w, "--trace", "0", "--scale", "tiny")
        assert rc == 0 and res and res["correct"], f"{w}: untraced run failed ({rc})"
        expect_metrics(res, bench["end_to_end"], w)
        assert all(v["value"] > 0 for v in res["metrics"].values()), f"{w}: zero metric"

        rc, res = run("--workload", w, "--trace", "1", "--scale", "tiny")
        assert rc == 0 and res and res["correct"], f"{w}: traced run failed ({rc})"
        expect_metrics(res, bench["per_layer"], f"{w} traced")
        m = {k: v["value"] for k, v in res["metrics"].items()}
        if w == "crawl":
            assert m["embed.write_amp"] > 1, "the churn epoch should rewrite old documents"
            assert m["seen.ids_removed"] > 0 and m["seen.diff_s"] > 0, "churn must diff"
        else:
            assert all(v > 0 for k, v in m.items() if k.startswith("query.")), "query spans"

        rc, res = run("--workload", w, "--trace", "0", "--scale", "tiny", "--corrupt")
        assert rc == 1 and res and not res["correct"] and res["failed"] > 0, \
            f"{w}: gate did not trip on corrupted state ({rc})"
        print(f"{w}: ok")

    empty = ROOT / ".perfbench_run" / "smoke-empty"
    shutil.rmtree(empty, ignore_errors=True)
    empty.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", empty)
    shutil.copytree(ROOT / "perfbench", empty / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = run("--workload", bench["workloads"][0]["name"], cwd=empty)
    shutil.rmtree(empty, ignore_errors=True)
    assert rc != 0 and res is None, "benchmark must fail without the program"
    print("empty checkout: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
