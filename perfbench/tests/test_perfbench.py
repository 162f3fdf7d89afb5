"""Tests for the benchmark itself (not part of the repository's tier-1 run).

Run from the repository root:  python -m pytest perfbench/tests -q
The two smoke tests start Spark and take about a minute together.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Span, self_times  # noqa: E402


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = gen.make_files(str(tmp_path / "a"), 7, 8)
    b = gen.make_files(str(tmp_path / "b"), 7, 8)
    c = gen.make_files(str(tmp_path / "c"), 8, 8)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    match, mismatch, errors = filecmp.cmpfiles(
        tmp_path / "a", tmp_path / "b", names, shallow=False
    )
    assert mismatch == [] and errors == [] and len(match) == len(names)
    assert [e.text for e in a] == [e.text for e in b]
    assert [e.text for e in a] != [e.text for e in c]


def test_generator_injects_rejected_row_kinds(tmp_path):
    files = gen.make_files(str(tmp_path), 3, 40)
    kinds = {e.kind for e in files if e.n_bad}
    assert {"positions", "broker", "alloc"} <= kinds
    text = "".join(open(e.path, encoding="utf-8").read() for e in files if e.kind == "positions")
    assert ",not-a-number,XX," in text
    strays = [e for e in files if e.kind == "stray"]
    assert strays and all(e.error == "SourceFormatNotRecognized" for e in strays)


def test_golden_encoding_rules():
    assert gen.encode_field(None, ",") == ""
    assert gen.encode_field('a "b"', ",") == 'a \\"b\\"'
    assert gen.encode_field("a, b", ",") == '"a, b"'
    assert gen.encode_field("a, b", "\t") == "a, b"
    assert gen.encode_field(0.01, ",") == "0.01"
    assert gen.encode_field(5.0, ",") == "5.0"
    assert gen.encode_field(True, ",") == "true"
    assert gen.json_element(["a", "b"], (None, 2.5)) == '{"b":2.5}'


def test_p90_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(list(range(99))) is None
    assert stats.tail_percentile(list(range(100))) == 89
    assert sum(1 for x in range(100) if x > 89) == 10
    assert stats.tail_percentile([]) is None


def test_end_to_end_takes_each_operations_best_latency():
    class Op:
        def __init__(self, name):
            self.name = name

    a, b, c = Op("a"), Op("b"), Op("c")

    def one_pass(*costs):
        return [stats.Sample(op, w, cpu) for op, (w, cpu) in zip((a, b, c), costs)]

    passes = [one_pass((5.0, 9.0), (1.0, 2.0), (0.2, 0.3)),  # cold first pass
              one_pass((2.0, 4.0), (1.5, 3.0), (0.1, 0.1)),
              one_pass((2.5, 3.5), (1.2, 2.5), (0.3, 0.2))]
    got = stats.end_to_end(passes, rows_per_pass=33)
    assert got["cpu_s"] == pytest.approx(3.5 + 2.0 + 0.1)
    assert got["wall_s"] == pytest.approx(2.0 + 1.0 + 0.1)
    assert got["rows_per_s"] == pytest.approx(33 / 3.1)
    assert got["latency_p50_s"] == pytest.approx(1.0)


def _span(i, parent, start, end):
    s = Span(i, f"s{i}", parent, {})
    s.start, s.end = start, end
    return s


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps span 1: covered once
        _span(3, 0, 7.0, 8.0),
        _span(4, 3, 7.5, 7.75),
    ]
    got = self_times(spans)
    assert got == pytest.approx({0: 5.0, 1: 3.0, 2: 2.0, 3: 0.75, 4: 0.25})


def test_self_times_of_a_tree_sum_to_its_root_wall():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 0.5, 1.5), _span(2, 1, 0.7, 0.9),
             _span(3, 0, 2.0, 3.5)]
    assert sum(self_times(spans).values()) == pytest.approx(4.0)


def test_benchmark_json_names_every_reported_metric():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == stats.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == stats.PER_LAYER


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "catalog_mix", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.mark.parametrize("workload,trace", [("ingest_files", "1"), ("catalog_mix", "0")])
def test_smoke_run_prints_a_correct_result(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "0.1",
             "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    names = stats.PER_LAYER if trace == "1" else stats.END_TO_END
    assert set(last["metrics"]) == set(names)
