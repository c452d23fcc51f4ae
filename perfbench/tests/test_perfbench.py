"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
import re
import time

import pytest

import checks
import gen
import metrics
from stats import median, percentile, tail_percentile
from trace import Tracer
from workloads import Run, _window

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_serving_inputs(tmp_path):
    a = gen.make_serve_inputs(7, str(tmp_path / "a"), 60, 20, n_events=200)
    b = gen.make_serve_inputs(7, str(tmp_path / "b"), 60, 20, n_events=200)
    c = gen.make_serve_inputs(8, str(tmp_path / "c"), 60, 20, n_events=200)
    assert _digest(a.sf_dir) == _digest(b.sf_dir)
    assert a.queries == b.queries
    assert _digest(a.sf_dir) != _digest(c.sf_dir)
    # the next seeded batch of new documents is identical too
    assert a.model.docs([60, 61]).text == b.model.docs([60, 61]).text


def test_same_seed_same_curation_inputs_and_truth(tmp_path):
    a = gen.make_curate_inputs(3, str(tmp_path / "a"), 400)
    b = gen.make_curate_inputs(3, str(tmp_path / "b"), 400)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    for field in ("exact_removed", "near_families", "contaminated", "junk", "foreign"):
        assert getattr(a, field) == getattr(b, field)
    assert a.exact_removed and a.near_families and a.contaminated


def test_exact_duplicate_truth_matches_fingerprints(tmp_path):
    """Ground truth equals a recomputation of the engine's fingerprint
    (lower-cased, whitespace-collapsed text): planted near-duplicates
    never coincide with each other or with any other document."""
    import pyarrow.parquet as pq

    truth = gen.make_curate_inputs(104, str(tmp_path), 2000)
    table = pq.read_table(os.path.join(truth.train_path, "documents.parquet"))
    groups = {}
    for i, text in zip(table["doc_id"].to_pylist(), table["text"].to_pylist()):
        groups.setdefault(re.sub(r"\s+", " ", text.lower()), []).append(i)
    assert {i for g in groups.values() for i in sorted(g)[1:]} == truth.exact_removed


def test_generated_corpus_shape(tmp_path):
    inp = gen.make_serve_inputs(1, str(tmp_path), 300, 50, n_events=100)
    words = {w for t in inp.corpus.text for w in t.split(" ")}
    assert len(words) > 5000  # a real vocabulary, not a few dozen words
    tokens = [gen.rare_token(1, d) for d in inp.corpus.doc_id]
    for d, t in zip(inp.corpus.doc_id, inp.corpus.text):
        assert t.split(" ").count(tokens[d]) == 1
    sizes = sorted(inp.corpus.source.count(t) for t in set(inp.corpus.source))
    assert sizes[-1] > 4 * sizes[0]  # skewed tenants


@pytest.mark.parametrize(
    "n, want", [(19, None), (20, 50), (30, 66), (100, 90), (101, 90), (1000, 99)]
)
def test_tail_percentile_leaves_ten_beyond(n, want):
    q = tail_percentile(n)
    assert q == want
    if q is not None:
        xs = list(range(n))
        beyond = sum(1 for x in xs if x > percentile(xs, q))
        assert beyond >= 10
        # one percentile higher would leave fewer than ten beyond
        if q < 99:
            assert sum(1 for x in xs if x > percentile(xs, q + 1)) < 10


def test_percentile_and_median():
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([1, 2, 3, 4], 100) == 4
    assert median([4, 1, 3, 2]) == 2.5


def _run():
    return Run(None, 1, 0, Tracer(None, False), "", 1)


def test_corrupted_result_counts_as_failed():
    good = [{"id": "1", "score": 0.9}, {"id": "2", "score": 0.5}]
    corrupt = [{"id": "1", "score": 0.5}, {"id": "1", "score": 0.9}]
    run = _run()
    run.op("search", lambda: good, lambda rows: checks.ranked(rows, 10))
    run.op("search", lambda: corrupt, lambda rows: checks.ranked(rows, 10))
    run.op("search", lambda: 1 / 0)
    assert (run.attempted, run.failed) == (3, 2)
    assert metrics.workload_details(run)["failed_frac"] == pytest.approx(2 / 3)


def test_check_time_is_left_out_of_the_window():
    run = _run()
    wall, walls = _window(
        run, lambda: run.op("op", lambda: time.sleep(0.01), lambda _: time.sleep(0.2) or [])
    )
    assert run.lat["op"][0] >= 0.01
    assert wall < 0.15 and walls[0] < 0.15


def test_known_answer_and_tenant_checks():
    rows = [{"id": "4", "score": 1.0}, {"id": "9", "score": 0.7}]
    assert checks.top_answer(rows, 4) == []
    assert checks.top_answer(rows, 9)
    assert checks.ranked(rows, 10, allowed={"4"})
    assert checks.absent(rows, [9])
    assert checks.absent(rows, [5]) == []


def test_curation_checks_catch_wrong_outputs(tmp_path):
    truth = gen.make_curate_inputs(5, str(tmp_path), 400)
    expected_drops = {i for fam in truth.near_families for i in fam[1:]}
    assert checks.curate_exact(set(truth.exact_removed), truth) == []
    assert checks.curate_exact(set(truth.exact_removed) | {0}, truth)
    assert checks.curate_near(expected_drops, truth)[0] == []
    assert checks.curate_near(expected_drops | {truth.near_families[0][0]}, truth)[0]
    assert checks.curate_near(set(), truth)[0]  # recall below the floor
    assert checks.curate_contaminated(set(truth.contaminated), truth) == []
    assert checks.curate_contaminated(set(), truth)


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in metrics.PER_LAYER
    ]
    import run

    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
