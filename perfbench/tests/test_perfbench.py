"""Tests of the benchmark itself: seeded inputs, input bounds, metric
names and the output checks.

    python3 -m pytest perfbench/tests -q

The smoke test starts Spark and takes about a minute per case.
"""

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import harness  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def docs():
    return inputs.load_documents()


def _run(seed):
    return harness.Run("pages_large", seed, 1.0, False, "/nonexistent")


def test_same_seed_same_inputs_other_seed_other_inputs(docs):
    a = inputs.pages_large(docs, 7, 40)
    b = inputs.pages_large(docs, 7, 40)
    c = inputs.pages_large(docs, 8, 40)
    assert a == b
    assert a != c
    assert inputs.signature(a) == inputs.signature(b)
    assert inputs.signature(a) != inputs.signature(c)
    assert inputs.sample_documents(docs, 7, 50) == \
        inputs.sample_documents(docs, 7, 50)
    assert inputs.sample_documents(docs, 7, 50) != \
        inputs.sample_documents(docs, 8, 50)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_pages_large_size_and_hostile_bounds(docs, seed):
    n = workloads.PagesLarge.N
    rows = inputs.pages_large(docs, seed, n)
    sizes = sorted(len(h) for _, h in rows)
    assert len(rows) == n and len({u for u, _ in rows}) == n
    # hostile pages are cut to three quarters, so they may fall short of
    # the 15 KB floor; every page stays under the 250 KB cap plus one block
    assert sizes[n // 10] >= 15 * 1024
    assert sizes[-1] <= 260 * 1024
    assert sizes[n // 2] < 40 * 1024 < sizes[-n // 10]  # heavy tail
    hostile = [h for _, h in rows if h.endswith(b"var broken = '")
               or b"<div>" * 200 in h]
    assert len(hostile) == n // inputs.HOSTILE_EVERY
    assert 0.03 <= len(hostile) / n <= 0.05
    target = sum(inputs.large_page_sizes(n))
    assert 0.9 * target <= sum(sizes) <= 1.1 * target


def test_documents_are_pinned():
    docs = inputs.load_documents()
    assert len(docs) == inputs.DOCUMENTS_ROWS


def test_benchmark_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert {w["name"] for w in spec["workloads"]} == \
        set(workloads.WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_corrupted_output_fails_the_check():
    rows = [(f"https://h/{i}", checks.content_md5(f"<p>{i}</p>"), f"t{i}",
             None) for i in range(5)]
    good = sum(checks.row_hash(*r) for r in rows)
    w = workloads.PagesLarge(_run(2))
    w.docs = len(rows)
    w.set_digest({"rows": 5, "errors": 0, "hash_sum": good}, "warm-up")
    w.reference = {r[0]: r[1:] for r in rows}
    assert w.digest == checks.digest(rows)
    assert w.check_pass({"rows": 5, "errors": 0, "hash_sum": good},
                        "pass") == 0
    assert not w.run.problems
    bad = list(rows)
    bad[3] = (bad[3][0], checks.content_md5("<p>changed</p>"), *bad[3][2:])
    bad_sum = sum(checks.row_hash(*r) for r in bad)
    # a changed document fails the whole pass
    assert w.check_pass({"rows": 5, "errors": 0, "hash_sum": bad_sum},
                        "pass") == 5
    # error rows and missing or extra rows count one by one
    assert w.check_pass({"rows": 4, "errors": 1, "hash_sum": good},
                        "pass") == 2
    assert w.check_pass({"rows": 6, "errors": 0, "hash_sum": good},
                        "pass") == 1
    assert len(w.run.problems) == 3
    # in-process output that disagrees with Spark's is reported too
    w.check_sample({r[0]: (*r[1:], None) for r in bad})
    assert len(w.run.problems) == 4


def test_digest_is_order_independent():
    rows = [("u1", "m1", "t", None), ("u2", "m2", None, "n")]
    assert checks.digest(rows) == checks.digest(rows[::-1])
    assert checks.digest(rows) != checks.digest([rows[0], ("u2", "m2",
                                                           "", "n")])


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         "warc_job", "--seed", "3", "--seconds", "0.1", "--trace",
         str(trace)], cwd=ROOT, capture_output=True, text=True,
        timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        for m in want:
            assert f"metric {m['name']} = " in proc.stdout
