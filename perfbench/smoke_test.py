#!/usr/bin/env python3
"""The benchmark's own smoke test, on tiny inputs (about a minute per
workload once built):

    python3 perfbench/smoke_test.py [workload ...]

For each workload it checks that an untraced run passes its output checks
and prints every end-to-end metric with its BENCHMARK.json unit, and that a
traced run whose result is deliberately corrupted prints every per-layer
metric, fails its output check and exits non-zero. It also checks that the
generator is seed-deterministic and that manifest.json agrees with
BENCHMARK.json and gen.SIZES.
"""
import hashlib
import json
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
MANIFEST = json.loads((HERE / "manifest.json").read_text())


def run(workload: str, trace: int, corrupt: bool):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "2", "--trace", str(trace), "--scale", "tiny"]
    r = subprocess.run(cmd + (["--corrupt"] if corrupt else []),
                       capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    assert lines, f"{workload}: no output\n{r.stderr[-3000:]}"
    return r.returncode, json.loads(lines[-1])


def assert_metrics(result: dict, spec: list, what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{what}: metrics/units differ: {sorted(set(got) ^ set(want))}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k} is not a number"


def digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode() + p.read_bytes())
    return h.hexdigest()


def main() -> None:
    names = [w["name"] for w in BENCH["workloads"]]
    assert set(MANIFEST["per_layer"]) == {m["name"] for m in BENCH["per_layer"]}
    assert set(MANIFEST["end_to_end"]) - {"failures", "disturbed_samples"} == \
        {m["name"] for m in BENCH["end_to_end"]}
    for w in names:
        assert MANIFEST["inputs"][w] == gen.SIZES["full"][w], f"manifest sizes of {w} are stale"
        scratch = HERE.parent / ".perfbench"
        scratch.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as tmp:
            a, b = Path(tmp) / "a", Path(tmp) / "b"
            gen.generate(w, 3, "tiny", a, 2)
            gen.generate(w, 3, "tiny", b, 2)
            assert digest(a) == digest(b), f"{w}: generator is not seed-deterministic"
    for w in sys.argv[1:] or names:
        code, res = run(w, trace=0, corrupt=False)
        assert code == 0 and res["correct"] and res["failed"] == 0, f"{w}: {res}"
        assert_metrics(res, BENCH["end_to_end"], f"{w} trace 0")
        code, res = run(w, trace=1, corrupt=True)
        assert code != 0 and not res["correct"] and res["failed"] >= 1, \
            f"{w}: corrupted result passed the check: {res}"
        assert_metrics(res, BENCH["per_layer"], f"{w} trace 1")
        print(f"ok {w}")
    print("smoke test passed")


if __name__ == "__main__":
    main()
