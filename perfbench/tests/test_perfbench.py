"""Tests for the benchmark harness's pure parts (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import types

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import ops  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _stream(seed: int, stream: int = 0, blocks: int = 3):
    emb = np.random.default_rng(0).standard_normal((20, 8))
    return ops.cypher_stream(seed, stream, blocks, 50, emb)


@pytest.fixture(scope="module")
def bench_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_stream_and_seeds_differ():
    assert _stream(7) == _stream(7)
    assert _stream(7) != _stream(8)
    assert _stream(7, 0) != _stream(7, 1)  # warm-up stream is disjoint
    src = [4, 5, 6, 7, 8, 9]
    assert ops.batch_plan(3, 10, src) == ops.batch_plan(3, 10, src)
    assert any(ops.batch_plan(s, 10, src) != ops.batch_plan(3, 10, src) for s in range(4, 9))


def test_stream_blocks_hold_every_kind_and_deletes_follow_creates():
    stream = _stream(11, blocks=4)
    for b in range(4):
        block = [op.kind for op in stream[16 * b:16 * (b + 1)]]
        assert block == list(ops.BLOCK_KINDS)
        assert set(block) == set(ops.TEXT)
        assert sum(k in ops.WRITE_KINDS for k in block) == 8  # one compaction per block
    created = set()
    for op in stream:
        if op.kind == "create":
            created.add(op.params["name"])
        elif op.kind == "delete":
            assert op.params["name"] in created
            created.remove(op.params["name"])


def test_percentile_helper_keeps_ten_samples_beyond():
    assert ops.tail_percentile(list(range(100))) == (90.0, 89)
    assert ops.tail_percentile(list(range(1000)))[0] == 99.0
    assert ops.tail_percentile(list(range(20)))[0] == 50.0
    assert ops.tail_percentile(list(range(19))) is None
    assert ops.percentile([3, 1, 2], 50) == 2
    assert ops.geomean([1.0, 4.0]) == pytest.approx(2.0)


def test_benchmark_json_names_and_limits(bench_json):
    names = [w["name"] for w in bench_json["workloads"]]
    names += [m["name"] for m in bench_json["end_to_end"] + bench_json["per_layer"]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert 1 <= len(bench_json["end_to_end"]) <= 16
    assert 1 <= len(bench_json["per_layer"]) <= 128
    assert all(m["bound"] <= 0.25 for m in bench_json["end_to_end"])


def test_benchmark_json_matches_what_the_run_prints(bench_json):
    assert {m["name"]: m["unit"] for m in bench_json["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench_json["per_layer"]} == run.PER_LAYER
    assert set(run.WORKLOADS) == {w["name"] for w in bench_json["workloads"]}


def test_load_generator_uses_one_client_thread():
    threads, active = set(), []

    class Engine:
        def query(self, text, params):
            active.append(threading.active_count())
            threads.add(threading.get_ident())
            return types.SimpleNamespace(collect=lambda: [])

    fake_run = types.SimpleNamespace(attempted=0, cpu=[], fail=lambda what: None)
    fake_run.timed = lambda *a: run.Run.timed(fake_run, *a)
    client = object.__new__(run.CypherReadWrite)
    client.run = fake_run
    client.engine = Engine
    before = threading.active_count()
    _, done, _ = client.loop(_stream(5)[:20], seconds=60)
    assert len(done) == 20 and fake_run.attempted == 20 and len(fake_run.cpu) == 20
    assert threads == {threading.get_ident()}
    assert set(active) == {before}


def test_references_on_a_small_graph():
    src = np.array([1, 2, 3, 10])
    dst = np.array([2, 3, 1, 11])
    assert check.ref_wcc(src, dst) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    pr = check.ref_pagerank(src, dst, 10)
    assert sum(pr.values()) == pytest.approx(1.0)
    assert check.ref_sssp(src, dst, np.ones(4), 1, unit=True) == {1: 0.0, 2: 1.0, 3: 1.0}
    # two triangles joined by one edge: each settles on its smallest label
    s = np.array([1, 2, 3, 4, 5, 6, 3])
    d = np.array([2, 3, 1, 5, 6, 4, 4])
    lab = check.ref_cdlp(s, d, iterations=5)
    assert lab[1] == lab[2] and lab[5] == lab[6]
