"""Tests for the benchmark's own parts; no Spark session needed.

    python3 -m pytest enginebench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from enginebench import datagen  # noqa: E402
from enginebench.spans import Span, Tracer, covered, self_times  # noqa: E402
from enginebench.stats import hd_median, percentile, reportable  # noqa: E402
from enginebench.stub import ChatStub, digest, fate, reply  # noqa: E402

LLM = dict(
    long_share=0.2, repeat_share=0.1, corrupt_share=0.02,
    transient_share=0.05, permanent_share=0.03, max_retries=2,
)


# -- generators -------------------------------------------------------------


def test_records_repeat_per_seed_and_differ_across_seeds():
    a = datagen.make_records(7, 400, **LLM)
    b = datagen.make_records(7, 400, **LLM)
    c = datagen.make_records(8, 400, **LLM)
    assert a.lines == b.lines and a.fates == b.fates
    assert a.lines != c.lines


def test_records_plant_the_same_amount_of_work_for_every_seed():
    runs = [datagen.make_records(s, 400, **LLM) for s in (1, 2, 3)]
    for r in runs:
        for rid, p in r.prompts.items():
            assert fate(int(rid[1:].split("-")[0]), p, 0.05, 0.03) == r.fates[rid]
    assert len({r.expected_requests for r in runs}) == 1
    assert len({r.corrupt for r in runs}) == 1
    assert len({tuple(sorted(r.fates.values())) for r in runs}) == 1
    words = {sum(len(p.split()) for p in r.prompts.values()) for r in runs}
    assert max(words) - min(words) < 0.02 * min(words)


def test_records_plant_corrupt_lines_and_repeats():
    r = datagen.make_records(3, 1000, **LLM)
    bad = 0
    for line in r.lines:
        try:
            json.loads(line)
        except ValueError:
            bad += 1
    assert bad == r.corrupt > 0
    assert r.n_valid == len(r.lines) - r.corrupt
    assert len(set(r.prompts.values())) < r.n_valid  # some prompts repeat
    kinds = set(r.fates.values())
    assert {"ok", "transient", "permanent"} <= kinds


def test_expected_requests_counts_one_retry_per_transient_prompt():
    r = datagen.make_records(5, 600, **LLM)
    transient = {r.prompts[i] for i, f in r.fates.items() if f == "transient"}
    permanent = [i for i, f in r.fates.items() if f == "permanent"]
    assert r.expected_requests == r.n_valid + len(transient) + 2 * len(permanent)
    distinct = len(set(r.prompts.values()))  # each distinct prompt sent once
    assert r.min_requests == distinct + len(transient) + 2 * len(permanent)
    assert r.min_requests < r.expected_requests


def _llm_outputs(r: datagen.LLMInputs) -> tuple[list[str], list[dict]]:
    ok = [
        json.dumps({"id": i, "texts": {"summary": digest(p)}})
        for i, p in r.prompts.items()
        if r.fates[i] != "permanent"
    ]
    return ok, [{"id": i, "error": "500"} for i in r.dead_ids()]


@pytest.mark.parametrize(
    "requests, passes",
    [("expected", True), ("min", True), ("below_min", False), ("above", False)],
)
def test_llm_check_accepts_request_counts_down_to_one_per_distinct_prompt(requests, passes):
    from enginebench.workloads import LLMBatch

    wl = LLMBatch(5, "unused", 4)
    wl.inputs = r = datagen.make_records(5, 300, **LLM)
    n = {
        "expected": r.expected_requests,
        "min": r.min_requests,
        "below_min": r.min_requests - 1,
        "above": r.expected_requests + 1,
    }[requests]
    ok, dead = _llm_outputs(r)
    bad = wl.check(ok, dead, r.corrupt, {"requests": n, "rejected_429": 0})
    assert (bad == []) is passes


def test_split_files_keeps_every_line_in_order():
    r = datagen.make_records(1, 100, **LLM)
    parts = datagen.split_files(r, 7)
    assert len(parts) == 7
    assert [x for p in parts for x in p] == r.lines


def test_corpus_and_vectors_repeat_per_seed():
    a = datagen.make_corpus(4, 500, 0.1, 0.1, 0.08)
    b = datagen.make_corpus(4, 500, 0.1, 0.1, 0.08)
    assert a.texts == b.texts and (a.doc_ids == b.doc_ids).all()
    assert a.exact_pairs == b.exact_pairs and a.near_pairs == b.near_pairs
    c = datagen.make_corpus(5, 500, 0.1, 0.1, 0.08)
    assert len(c.exact_pairs) == len(a.exact_pairs) == 49
    assert len(c.near_pairs) == len(a.near_pairs) == 49
    texts = dict(zip(a.doc_ids.tolist(), a.texts))
    assert all(texts[x] == texts[y] for x, y in a.exact_pairs)
    assert all(texts[x] != texts[y] for x, y in a.near_pairs)
    v1 = datagen.make_vectors(4, 300, 16, 0.2, 10)
    v2 = datagen.make_vectors(4, 300, 16, 0.2, 10)
    assert (v1.emb == v2.emb).all() and (v1.query_ids == v2.query_ids).all()


def test_star_schema_repeats_per_seed():
    a = datagen.make_star(9, 0.001)
    b = datagen.make_star(9, 0.001)
    assert a.keys() == b.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert a["lineitem"].num_rows == 6000


# -- stub -------------------------------------------------------------------


def test_fate_is_keyed_on_prompt_and_seed():
    prompts = [f"p{i}" for i in range(4000)]
    f1 = [fate(1, p, 0.1, 0.05) for p in prompts]
    assert f1 == [fate(1, p, 0.1, 0.05) for p in prompts]
    assert f1 != [fate(2, p, 0.1, 0.05) for p in prompts]
    share = {k: f1.count(k) / len(f1) for k in ("transient", "permanent")}
    assert 0.07 < share["transient"] < 0.13
    assert 0.03 < share["permanent"] < 0.07


def test_reply_strips_to_digest():
    import re

    r = reply("hello")
    assert re.sub(r"(?s)<think>.*?</think>", "", r).strip() == digest("hello")


def _post(port: int, prompt: str) -> tuple[int, dict, str | None]:
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    try:
        body = json.dumps({"model": "m", "messages": [{"role": "user", "content": prompt}]})
        conn.request("POST", "/v1/chat/completions", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read()), resp.getheader("Retry-After")
    finally:
        conn.close()


def test_stub_follows_the_failure_schedule():
    seed = 11
    prompts = [f"prompt {i}" for i in range(300)]
    fates = {p: fate(seed, p, 0.1, 0.05) for p in prompts}
    stub = ChatStub(seed, 0.0, cap=64, transient_share=0.1, permanent_share=0.05).start()
    try:
        for p in prompts:
            status, body, _ = _post(stub.port, p)
            if fates[p] == "ok":
                assert status == 200
                assert body["choices"][0]["message"]["content"] == reply(p)
            else:
                assert status == 500
        for p in prompts:  # second round: only permanent prompts still fail
            status, _, _ = _post(stub.port, p)
            assert status == (500 if fates[p] == "permanent" else 200)
        snap = stub.snapshot()
        assert snap["requests"] == 600 and snap["rejected_429"] == 0
        n_bad = sum(f != "ok" for f in fates.values())
        n_perm = sum(f == "permanent" for f in fates.values())
        assert snap["failed_500"] == n_bad + n_perm
        stub.reset()  # a new epoch fails transient prompts again
        transient = next(p for p, f in fates.items() if f == "transient")
        assert _post(stub.port, transient)[0] == 500
    finally:
        stub.stop()


def test_stub_admission_cap_answers_429_with_retry_after():
    stub = ChatStub(1, 0.3, cap=2, transient_share=0.0, permanent_share=0.0).start()
    results: list[tuple] = []
    lock = threading.Lock()

    def call(i):
        r = _post(stub.port, f"q{i}")
        with lock:
            results.append(r)

    try:
        threads = [threading.Thread(target=call, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(10)
        assert not any(t.is_alive() for t in threads)
        codes = sorted(r[0] for r in results)
        assert codes.count(200) == 2 and codes.count(429) == 4
        assert all(r[2] is not None for r in results if r[0] == 429)
        assert stub.snapshot()["rejected_429"] == 4
    finally:
        stub.stop()


# -- statistics and spans -----------------------------------------------------


def test_percentile_rule_needs_ten_samples_beyond():
    assert not reportable(99, 90)
    assert reportable(100, 90)
    assert reportable(20, 50) and not reportable(19, 50)
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 90) == 90
    with pytest.raises(ValueError):
        percentile([], 50)


def test_hd_median_weights_the_middle_order_statistics():
    assert hd_median([]) == 0.0 and hd_median([3.0]) == 3.0
    assert hd_median([1.0, 2.0]) == pytest.approx(1.5)
    assert hd_median([2.0] * 7) == pytest.approx(2.0)
    assert hd_median(range(1, 102)) == pytest.approx(51.0, abs=1e-6)
    # a gap in the middle: the sample median sits on one side, this between
    light, heavy = [0.5] * 6, [0.9] * 6
    assert hd_median(light + heavy) == pytest.approx(0.7, abs=1e-6)
    assert 0.5 < hd_median(light + heavy[1:]) < 0.7


def test_items_per_s_is_taken_per_whole_pass():
    from enginebench.harness import _pass_rates
    from enginebench.workloads import Unit

    units = [Unit(1, w, [w]) for w in (0.5, 0.5, 1.5, 2.5)]
    assert _pass_rates(units, 2) == pytest.approx([2.0, 0.5])


class _FakeSpark:
    """Just enough of a session for the harness's between-pass collect."""

    class catalog:
        clearCache = staticmethod(lambda: None)

    class sparkContext:
        class _jvm:
            class System:
                gc = staticmethod(lambda: None)


@pytest.mark.parametrize(
    "walls, units_run",
    [
        # level: 1.95 s is within 5% of 2.0 s once 8 s have gone
        ([3.0, 2.5, 2.0, 1.95, 1.9, 1.9], 4),
        # never level: the third pass would end past the 12 s cap
        ([5.0, 7.0, 5.0, 7.0], 2),
    ],
)
def test_warm_up_stops_at_a_level_pass_or_before_the_cap(monkeypatch, walls, units_run):
    from enginebench import harness
    from enginebench.workloads import Unit

    clock = [0.0]
    left = iter(walls)

    class Fake:
        pass_units = 1
        spark = _FakeSpark

        def unit(self, tr, i):
            w = next(left)
            clock[0] += w
            return Unit(1, w, [w])

    monkeypatch.setattr(harness.time, "perf_counter", lambda: clock[0])
    units: list = []
    assert harness.warm_up(Fake(), Tracer(), units) == 1 + units_run
    assert [u.wall for u in units] == walls[:units_run]


def test_covered_merges_overlapping_children():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4.0)
    assert covered([(-1, 2)], 0, 1) == pytest.approx(1.0)


def test_self_time_is_duration_minus_children():
    spans = [
        Span("root", 0, 0.0, None, "g0", end=10.0),
        Span("a", 0, 1.0, 0, "g1", end=4.0),
        Span("b", 0, 5.0, 0, "g2", end=9.0),
        Span("b.inner", 0, 6.0, 2, "g3", end=7.5),
    ]
    assert self_times(spans) == pytest.approx([3.0, 3.0, 2.5, 1.5])
    assert sum(self_times(spans)) == pytest.approx(spans[0].duration)


def test_tracer_records_nesting_and_disabled_records_nothing():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end
    off = Tracer()
    with off.span("x"):
        pass
    assert off.spans == []


def test_benchmark_json_names_what_the_harness_reports():
    from enginebench.harness import END_TO_END, PER_LAYER
    from enginebench.workloads import WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
