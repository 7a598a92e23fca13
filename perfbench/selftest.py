"""Self-tests of the benchmark at a tiny corpus size.

    python3 perfbench/selftest.py           # all checks, ~2 minutes
    python3 perfbench/selftest.py --quick   # skip the Spark runs

1. the generator writes byte-identical files twice for one seed;
2. the checker catches one injected wrong text and one wrong error code;
3. a tiny untraced and a tiny traced run print every metric of
   BENCHMARK.json by name with its unit, and perfbench/layers.json maps
   every per-layer metric.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
SCALE = 0.02
WORK = os.path.join(ROOT, ".perfbench_work", "selftest")


def _tree_files(path: str) -> list:
    return sorted(os.path.relpath(os.path.join(b, n), path)
                  for b, _, names in os.walk(path) for n in names)


def test_generator_deterministic() -> None:
    from perfbench.gen import generate

    for corpus in ("web_small", "pdf_heavy"):
        a, b = os.path.join(WORK, f"{corpus}-a"), os.path.join(WORK, f"{corpus}-b")
        generate(corpus, 7, a, SCALE)
        generate(corpus, 7, b, SCALE)
        files = _tree_files(a)
        assert files == _tree_files(b), f"{corpus}: file lists differ"
        match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        assert not mismatch and not errors, f"{corpus}: {mismatch or errors} differ"
        generate(corpus, 8, b, SCALE)
        assert not filecmp.cmp(os.path.join(a, "expected.parquet"),
                               os.path.join(b, "expected.parquet"), shallow=False), \
            f"{corpus}: another seed gave the same corpus"


def test_checker_catches_injected_faults() -> None:
    import pyarrow.parquet as pq

    from perfbench.check import compare

    expected = pq.read_table(os.path.join(WORK, "pdf_heavy-a", "expected.parquet")).to_pandas()
    output = expected.rename(columns={"expected_text": "text",
                                      "expected_error": "error"})[["url", "text", "error"]]
    assert compare(output, expected)["failed"] == 0

    ok_text = output.index[output["error"].isna()][0]
    has_error = output.index[output["error"].notna()][0]
    bad = output.copy()
    bad.loc[ok_text, "text"] = bad.loc[ok_text, "text"] + "x"
    bad.loc[has_error, "error"] = "internal"
    result = compare(bad, expected)
    assert result["failed"] == 2, result
    assert {e["url"] for e in result["examples"]} == {
        bad.loc[ok_text, "url"], bad.loc[has_error, "url"]}

    web = pq.read_table(os.path.join(WORK, "web_small-a", "expected.parquet")).to_pandas()
    web_out = web.rename(columns={"expected_text": "text",
                                  "expected_error": "error"})[["url", "text", "error"]]
    dropped = web_out[web_out["error"] != "unknown-format"]
    assert len(dropped) < len(web_out), "tiny web corpus has no junk row"
    assert compare(dropped, web)["failed"] == 0, "prefiltered junk rows must pass"
    assert compare(dropped.iloc[1:], web)["failed"] == 1, "a lost document must fail"


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_every_metric_printed_with_unit() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        layers = json.load(fh)["layers"]
    mapped = [m for entry in layers for m in entry["metrics"]]
    per_layer = [m["name"] for m in spec["per_layer"]]
    assert sorted(mapped) == sorted(per_layer), set(mapped) ^ set(per_layer)
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert all(set(entry["moves"]) <= e2e for entry in layers)

    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result = _run("web_small", trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0, result
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, (set(got) ^ set(want)) or "units differ"


def main() -> int:
    tests = [test_generator_deterministic, test_checker_catches_injected_faults]
    if "--quick" not in sys.argv:
        tests.append(test_every_metric_printed_with_unit)
    failed = 0
    try:
        for test in tests:
            try:
                test()
                print(f"ok   {test.__name__}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {test.__name__}: {e}")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
