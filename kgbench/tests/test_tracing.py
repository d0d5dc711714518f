"""Job-to-layer attribution of the traced run, on hand-built jobs."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import tracing as T  # noqa: E402

PIPE = "commit/run_partitioned/build_triples/run_pipeline"
PART = "commit/run_partitioned"


def _job(jid, span, ckpt=None, python_map=False, t0=0.0, t1=1.0):
    j = T.Job(jid, span, None, t0, [])
    j.ckpt, j.python_map, j.t1 = ckpt, python_map, t1
    return j


def _ids(groups):
    return {k: [j.id for j in v] for k, v in groups.items()}


def test_tier_on_commit_splits_at_checkpoints():
    jobs = [
        _job(0, PIPE),                          # term dictionary collect
        _job(1, PIPE, "mentions", True),
        _job(2, PIPE),                          # UMLS localize
        _job(3, PIPE, "exact_links"),
        _job(4, PIPE, "sim_queries"),
        _job(5, PIPE),                          # corpus statistics
        _job(6, PIPE, "mappings"),
        _job(7, PIPE, "mappings", True),        # TF-IDF scoring
        _job(8, PIPE, "mappings"),
        _job(9, f"{PART}/tail"),
        _job(10, f"{PART}/sink.write"),
        _job(11, f"{PART}/sink.readback"),
    ]
    assert _ids(T.attribute(jobs)) == {
        "mention": [0, 1], "linking": [2, 3], "sim": [4, 5, 7], "compile": [6, 8],
        "tail": [9], "sink.write": [10], "sink.readback": [11],
    }


def test_tier_off_and_second_call_restart_at_mention():
    jobs = [
        _job(0, PIPE, "mentions", True),
        _job(1, PIPE),                          # lazy tail: linking prep only
        _job(2, f"{PART}/tail"),
        _job(3, PIPE),                          # next batch's run_pipeline
        _job(4, PIPE, "mentions", True),
    ]
    assert _ids(T.attribute(jobs)) == {"mention": [0, 3, 4], "linking": [1], "tail": [2]}


def test_union_wall_counts_overlap_once():
    jobs = [_job(0, PIPE, t0=0, t1=2), _job(1, PIPE, t0=1, t1=3), _job(2, PIPE, t0=5, t1=6)]
    assert T.union_wall(jobs) == 4
    costs = T.layer_costs(jobs, cores=4)
    assert costs["wall_s"] == 4 and costs["core_util"] == 0
