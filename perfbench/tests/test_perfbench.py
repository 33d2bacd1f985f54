"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _frames(data):
    return [data.pages] if isinstance(data, workloads.Corpus) else [data.frame]


@pytest.mark.parametrize("name", workloads.WORKLOADS)
def test_generator_deterministic_per_seed(name):
    gen = workloads.GENERATORS[name]
    a, b, c = gen(3), gen(3), gen(4)
    for fa, fb, fc in zip(_frames(a), _frames(b), _frames(c)):
        pd.testing.assert_frame_equal(fa, fb)
        assert not fa.equals(fc)


def test_corpus_tokens_match_text():
    corpus = workloads.gen_corpus(5, n_docs=50)
    voc = workloads.vocab()
    for toks, text in zip(corpus.tokens, corpus.pages["text"]):
        words = re.findall(r"[a-z0-9]+", text.lower())
        assert words == list(voc[toks])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_ratings_head_items_exceed_the_downsampling_cap(seed):
    f = workloads.gen_ratings(seed).frame
    assert not f.duplicated(["user_id", "item_id"]).any()
    assert f["pref"].between(1, 5).all()
    assert (f.groupby("item_id").size() > 500).sum() >= 1


def test_topk_recall_counts_ties_at_kth_place():
    exact = {1: {2: 0.9, 3: 0.5, 4: 0.5, 5: 0.1}}
    assert workloads.topk_recall({1: [2, 4]}, exact, 2) == 1.0
    assert workloads.topk_recall({1: [2, 3]}, exact, 2) == 1.0
    assert workloads.topk_recall({1: [2, 5]}, exact, 2) == 0.5
    assert workloads.topk_recall({1: [5]}, {1: {5: 0.3}}, 2) == 1.0


def test_llr_matches_reference_golden():
    # SimilarityAnalysis golden: (n_ab=1, n_a=2, n_b=1, N=6) -> 2.634...
    k11, k12, k21, k22 = 1, 2 - 1, 1 - 1, 6 - 2 - 1 + 1
    assert workloads._llr(np.array([k11]), np.array([k12]), np.array([k21]),
                          np.array([k22]))[0] == pytest.approx(
        2.6341457841558764, rel=1e-12)


def _ev(kind, **kw):
    return dict(Event=kind, **kw)


def _props(it, span, phase):
    p = {"spark.job.description": span, "perfbench.iter": it,
         "perfbench.phase": phase}
    return {k: v for k, v in p.items() if v is not None}


def _stage(sid, props, python_bytes=0):
    acc = ([{"Name": eventlog.PYTHON_METRIC, "Value": str(python_bytes)}]
           if python_bytes is not None else [])
    info = {"Stage ID": sid, "Stage Attempt ID": 0}
    return [_ev("SparkListenerStageSubmitted", Properties=props,
                **{"Stage Info": info}),
            _ev("SparkListenerStageCompleted",
                **{"Stage Info": dict(info, Accumulables=acc)})]


def _task(sid, ms, gc=0, shb=0, shr=0, spill=0):
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": sid, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
        "Task Metrics": {"JVM GC Time": gc, "Disk Bytes Spilled": spill,
                         "Shuffle Write Metrics": {
                             "Shuffle Bytes Written": shb,
                             "Shuffle Records Written": shr}}})


def test_eventlog_summary_on_recorded_log():
    path = os.path.join(HERE, "data", "small_eventlog.jsonl")
    summary = eventlog.summarize(eventlog.read_events([path]))
    assert set(summary) == {"t0"}
    spans = summary["t0"]["spans"]
    assert set(spans) == {"plan-span", "run-span"}
    # a count() while planning (AQE runs it as two jobs); one stage that
    # runs FlatMapGroupsInPandas, and none for the later count that only
    # reads the cached output although its lineage lists the operator
    assert spans["plan-span"]["plan_jobs"] == 2
    assert spans["run-span"]["plan_jobs"] == 0
    assert spans["run-span"]["python_stages"] == 1
    assert spans["plan-span"]["python_stages"] == 0
    total = summary["t0"]["task_ms"]
    labelled = sum(s["task_ms"] for s in spans.values())
    assert total == labelled + summary["t0"]["unlabelled_task_ms"]
    assert summary["t0"]["unlabelled_task_ms"] > 0
    assert spans["run-span"]["shuffle_records"] > 0


def test_eventlog_summary_totals():
    events = [
        _ev("SparkListenerJobStart", Properties=_props("t0", "a", "plan")),
        _ev("SparkListenerJobStart", Properties=_props("t0", "a", "run")),
        _ev("SparkListenerJobStart", Properties=_props(None, "a", "plan")),
        *_stage(1, _props("t0", "a", "plan"), python_bytes=None),
        *_stage(2, _props("t0", "a", "run"), python_bytes=4096),
        *_stage(5, _props("t0", "a", "run"), python_bytes=0),
        *_stage(3, _props("t0", None, None)),
        *_stage(4, _props(None, "a", "run"), python_bytes=64),
        _task(1, 100, gc=5, shb=2048, shr=10),
        _task(2, 300, gc=7, spill=4096),
        _task(2, 200),
        _task(3, 400),
        _task(4, 999),
    ]
    s = eventlog.summarize(events)
    assert set(s) == {"t0"}
    a = s["t0"]["spans"]["a"]
    assert a == {"task_ms": 600, "gc_ms": 12, "shuffle_bytes": 2048,
                 "shuffle_records": 10, "spill_bytes": 4096, "plan_jobs": 1,
                 "python_stages": 1}
    assert s["t0"]["unlabelled_task_ms"] == 400
    assert s["t0"]["task_ms"] == 1000


def test_leaks_exclude_only_the_harness_tables():
    own = "In-memory table perfbench_3"
    # a library's plain persist() is named after its plan, whose file scan
    # lists an input path under the benchmark's work directory
    library = ("*(1) Filter (isnotnull(id#1L) AND (id#1L > 3))\n+- FileScan "
               "parquet [id#1L] Location: InMemoryFileIndex(1 paths)[file:"
               "/x/.perfbench_work/corpus_cms-1-9/inputs/pages.parquet]")
    assert run.is_own_table(own)
    assert not run.is_own_table(library)
    assert not run.is_own_table("In-memory table profiles")
    assert not run.is_own_table("None")


def test_eventlog_rolled_layout(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    (d / "events_2_app-1").write_text('{"Event": "b"}\n')
    (d / "events_1_app-1").write_text('{"Event": "a"}\n')
    (d / "events_10_app-1").write_text('{"Event": "c"}\n')
    files = eventlog.log_files(str(tmp_path), "app-1")
    assert [e["Event"] for e in eventlog.read_events(files)] == \
        ["a", "b", "c"]


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in e2e + layer:
        assert NAME.fullmatch(m["name"]), m
        assert UNIT.fullmatch(m["unit"]), m
        assert m["better"] in ("higher", "lower"), m
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)
    assert {m["name"]: (m["unit"], m["better"]) for m in e2e} == \
        run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in layer} == \
        run.layer_metric_specs()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert 1 <= spec["run_seconds"] <= 60
    # every run also spends about 45 s outside the measured window (JVM
    # start, setup rounds, warm-up, checks); all runs must fit in an hour
    runs = 4 + 22 * len(spec["workloads"])
    assert runs * (spec["run_seconds"] + 45) < 3420
