"""Tests of the benchmark's own pieces.

Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark tests share one session.
"""

from __future__ import annotations

import copy
import itertools
import json
from fractions import Fraction

import pytest

from perfbench import expect, run
from perfbench.inputs import NEAR_DUP_THRESHOLD, WORKLOADS, generate, shingle_set
from perfbench.tracing import LAYERS


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = run.start_spark(tmp_path_factory.mktemp("spark"), run.box())
    yield session
    run.stop_spark(session)


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    return expect.connect(tmp_path_factory.mktemp("duckdb"))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_identical_files(workload, tmp_path):
    a = generate(workload, 7, tmp_path / "a")
    b = generate(workload, 7, tmp_path / "b")
    c = generate(workload, 8, tmp_path / "c")
    assert a.manifest == b.manifest
    for entry in a.manifest:
        assert (a.root / entry["file"]).read_bytes() == (b.root / entry["file"]).read_bytes()
    submitted = [m["sha256"] for m in a.manifest if m["kind"] == "submission"]
    assert submitted != [m["sha256"] for m in c.manifest if m["kind"] == "submission"]


def _fake_pass(traced: bool) -> run.Pass:
    spans = [
        {"layer": layer, "self_s": 0.1, "call": True, "op": "group_by"}
        for layer in LAYERS
    ]
    return run.Pass(
        wall_s=2.0,
        submissions=1,
        records=100,
        durations=[1.9],
        failed=0,
        problems=[],
        bytes_written=1000,
        counts={
            "sources.records": 100,
            "contract.messages": 1,
            "steps.messages": 1,
            "sinks.entities.rows": 99,
            "sinks.errors.bytes": 10,
            "sinks.audit.rows": 5,
        },
        traced=traced,
        spans=spans if traced else [],
        spark={"sinks.entities": {"jobs": 2, "executor_s": 1.0, "input_bytes": 50.0}},
    )


def test_every_printed_metric_is_declared():
    declared = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m for m in declared["end_to_end"]}
    layer = {m["name"]: m for m in declared["per_layer"]}
    for m in list(e2e.values()) + list(layer.values()):
        assert m["better"] in ("higher", "lower") and m["unit"]

    printed = run.end_to_end(10.0, [_fake_pass(False), _fake_pass(False)])
    assert set(printed) == set(e2e)
    printed = run.per_layer([_fake_pass(True)], [_fake_pass(False)], 4, 100)
    assert set(printed) == set(layer)

    line = run.result_line(True, 1, 0, printed)
    assert all(line["metrics"][k]["unit"] == layer[k]["unit"] for k in printed)


@pytest.fixture(scope="module")
def prepared(tmp_path_factory, con):
    out = {}
    for workload in WORKLOADS:
        inputs = generate(workload, 3, tmp_path_factory.mktemp(workload))
        out[workload] = (inputs, expect.expectations(con, inputs))
    return out


def test_near_duplicates_straddle_the_threshold(prepared):
    """Planted pairs sit exactly at the threshold and just below it, and the
    expected pair set is every kept pair at or above it, by exact fractions."""
    inputs, [expected] = prepared["corpus_dedup"]
    t = Fraction(str(NEAR_DUP_THRESHOLD))
    kept = {}  # dedup_exact keeps the lowest doc_id of each text
    for line in inputs.submissions[0].read_text().splitlines():
        doc = json.loads(line)
        if len(doc["text"].split()) >= 5:  # the only planted quality failure
            kept.setdefault(doc["text"], doc["doc_id"])
    sets = {doc_id: shingle_set(text) for text, doc_id in kept.items()}
    jaccard = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        common = len(sets[a] & sets[b])
        if common:
            jaccard[a, b] = Fraction(common, len(sets[a] | sets[b]))
    assert {pair for pair, j in jaccard.items() if j >= t} == expected.pairs
    assert sum(1 for j in jaccard.values() if j == t) >= 5
    assert sum(1 for j in jaccard.values() if t - Fraction(2, 100) < j < t) >= 5
    assert sum(1 for j in jaccard.values() if Fraction(6, 10) <= j < t - Fraction(2, 100)) >= 5


def test_planted_wrong_expectation_fails_the_check(spark, con, prepared, tmp_path):
    inputs, expected = prepared["bulk_csv"]
    bench = run.Bench(spark, con, tmp_path)
    good = bench.run_pass(1, inputs, expected)
    assert good.failed == 0 and not good.problems

    wrong = copy.deepcopy(expected)
    wrong[0].errors["lineitem|ORPHAN_ORDER"] += 1
    bad = bench.run_pass(2, inputs, wrong)
    assert bad.failed == 1
    assert any("error counts" in p for p in bad.problems)


@pytest.mark.parametrize(
    "workload, layers",
    [
        ("bulk_csv", set(LAYERS)),
        ("corpus_dedup", set(LAYERS) - {"files"}),  # no landing: run_pipeline only
    ],
)
def test_traced_pass_reports_every_layer_it_calls(spark, con, prepared, tmp_path, workload, layers):
    from perfbench.tracing import Tracer

    inputs, expected = prepared[workload]
    tracer = Tracer(spark.sparkContext)
    tracer.install()
    try:
        bench = run.Bench(spark, con, tmp_path, tracer)
        p = bench.run_pass(1, inputs, expected, traced=True)
    finally:
        tracer.uninstall()
    assert p.failed == 0, p.problems
    called = {s["layer"] for s in p.spans if s["call"]}
    assert called == layers
    values = run.per_layer([p], [p], 4, inputs.input_bytes)
    for layer in layers:
        assert values[f"{layer}.calls"] > 0 and values[f"{layer}.busy_s"] > 0
    assert values["spark.jobs_per_submission"] > 0
    assert values["sources.records"] == inputs.records
