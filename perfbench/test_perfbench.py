"""Self-tests for the benchmark's pure parts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import context  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- tail percentile ----------------------------------------------------------


@pytest.mark.parametrize(
    "n,p", [(0, None), (19, None), (20, 50), (22, 54), (24, 58), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert measure.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) // 100 >= 10
        assert p == 99 or n * (100 - p - 1) // 100 < 10


# --- self time ------------------------------------------------------------------


def _span(name, start, end, parent=None):
    return spans.Span(name, start, end, parent)


def test_self_time_subtracts_nested_children():
    s = [_span("a", 0, 10), _span("b", 2, 5, 0), _span("c", 3, 4, 1)]
    assert spans.self_times(s) == [7, 2, 1]


def test_self_time_counts_overlapping_children_once():
    # two children on helper threads overlap during [3, 5]
    s = [_span("a", 0, 10), _span("b", 1, 5, 0), _span("c", 3, 8, 0)]
    assert spans.self_times(s)[0] == pytest.approx(3.0)


def test_self_time_clips_children_to_the_parent():
    s = [_span("a", 0, 4), _span("b", 2, 6, 0)]
    assert spans.self_times(s)[0] == pytest.approx(2.0)


def test_tracer_parents_helper_thread_spans_to_the_main_span():
    import threading

    t = spans.Tracer()
    with t.span("outer"):
        with t.span("nested"):
            pass

        def helper():
            with t.span("helper"):
                pass

        th = threading.Thread(target=helper)
        th.start()
        th.join()
    names = {s.name: s for s in t.spans}
    assert names["nested"].parent == 0
    assert names["helper"].parent == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4


# --- names ----------------------------------------------------------------------


def test_benchmark_json_matches_the_code():
    bj = _benchmark()
    assert [w["name"] for w in bj["workloads"]] == list(workloads.WORKLOADS)
    assert [m["name"] for m in bj["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bj["per_layer"]} == context.PER_LAYER
    assert len(bj["per_layer"]) <= 128
    assert bj["paths"] == ["perfbench"]


def test_every_metric_and_workload_name_is_well_formed():
    bj = _benchmark()
    names = [w["name"] for w in bj["workloads"]]
    names += [m["name"] for m in bj["end_to_end"] + bj["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in bj["end_to_end"] + bj["per_layer"]:
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"]), m
    assert any(
        m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
        for m in bj["end_to_end"]
    )


# --- generator ----------------------------------------------------------------------


def test_base_tables_are_a_function_of_the_seed(tmp_path):
    a = gen.base_tables(str(tmp_path / "a"), 7, 0.001)
    b = gen.base_tables(str(tmp_path / "b"), 7, 0.001)
    c = gen.base_tables(str(tmp_path / "c"), 8, 0.001)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)


def test_traffic_split_is_a_function_of_the_seed(tmp_path):
    msgs = tmp_path / "msgs"
    msgs.mkdir()
    (msgs / "part-0.json").write_bytes(
        b"".join(b'{"topic":"t","payload":"%d"}\n' % i for i in range(200))
    )
    a = gen.split_traffic(str(msgs), str(tmp_path / "a"), 5, 4)
    b = gen.split_traffic(str(msgs), str(tmp_path / "b"), 5, 4)
    c = gen.split_traffic(str(msgs), str(tmp_path / "c"), 6, 4)
    assert gen.digest(a) == gen.digest(b) != gen.digest(c)
    assert sorted(os.listdir(a)) == [f"part-{i:05d}.json" for i in range(4)]
    lines = sorted(line for f in os.listdir(c) for line in (tmp_path / "c" / f).read_bytes().splitlines())
    assert len(lines) == 200


@pytest.mark.skipif(
    not os.environ.get("PERFBENCH_SPARK_TESTS"),
    reason="starts Spark; set PERFBENCH_SPARK_TESTS=1",
)
def test_staged_inputs_are_a_function_of_the_seed(tmp_path):
    run.prepare_env(str(tmp_path / "tmp"))
    digests = []
    for root, seed in zip("abc", (3, 3, 4)):
        data, msgs = gen.ensure(str(tmp_path / root), seed, 0.001, 2, messages=True)
        traffic = gen.split_traffic(msgs, str(tmp_path / root / "traffic"), seed, 3)
        digests.append((gen.digest(data), gen.digest(traffic)))
    assert digests[0] == digests[1]
    assert digests[0][0] != digests[2][0] and digests[0][1] != digests[2][1]
