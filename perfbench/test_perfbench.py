"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import jobs  # noqa: E402
import run  # noqa: E402
import traced  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("family", sorted(set(gen.FAMILY.values())))
def test_seed_determines_input(family):
    a = gen.digest(gen.generate(family, 7))
    assert a == gen.digest(gen.generate(family, 7))
    assert a != gen.digest(gen.generate(family, 8))


def test_mixed_has_giants_above_threshold():
    from fuzi_spark.pipeline import DEFAULT_GIANT_THRESHOLD

    rows = gen.generate("mixed", 3)
    giants = [r for r in rows if len(gen.markup_of(r)) > DEFAULT_GIANT_THRESHOLD]
    assert len(giants) == gen.MIXED_GIANTS
    assert {r["doc_type"] for r in rows} == {"html", "xml", None}


def test_metric_names_and_units_match_benchmark_json():
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == traced.PER_LAYER_UNITS


def _committed_rows(doc_id, spans, err):
    """What the pipeline commits for one document."""
    if err or not spans:
        return [{"doc_id": doc_id, "seq": -1, "kind": "error" if err else "empty",
                 "text": None, "media_ref": None, "parse_error": err}]
    return [
        {"doc_id": doc_id, "seq": i, "kind": k, "text": t, "media_ref": r, "parse_error": 0}
        for i, (k, t, r) in enumerate(spans)
    ]


def test_check_flags_planted_mismatch_and_missing_doc():
    rows = [r for r in gen.generate("mixed", 5) if "giant" not in r["doc_id"]][:40]
    expected = {r["doc_id"]: jobs.reference_spans(r) for r in rows}
    committed = {d: _committed_rows(d, *v) for d, v in expected.items()}
    actual = {d: jobs.actual_spans(v) for d, v in committed.items()}
    assert jobs.compare_spans(expected, actual) == []

    with_spans = [d for d, v in committed.items() if v[0]["seq"] == 0]
    planted, dropped = with_spans[0], with_spans[1]
    committed[planted][-1] = dict(committed[planted][-1], text="planted")
    del committed[dropped]
    actual = {d: jobs.actual_spans(v) for d, v in committed.items()}
    assert sorted(jobs.compare_spans(expected, actual)) == sorted([planted, dropped])


def test_check_flags_reordered_spans():
    row = next(r for r in gen.generate("html", 5))
    spans, err = jobs.reference_spans(row)
    committed = _committed_rows(row["doc_id"], spans, err)
    committed[0]["seq"], committed[-1]["seq"] = committed[-1]["seq"], 0
    assert jobs.compare_spans({row["doc_id"]: (spans, err)},
                              {row["doc_id"]: jobs.actual_spans(committed)}) == [row["doc_id"]]


def test_query_check_flags_planted_mismatch():
    rows = gen.generate("query", 5)[:6]
    expected = {
        r["doc_id"]: {n: jobs.reference_query(gen.markup_of(r), fn, e) for n, fn, e in jobs.QUERY_EXPRS}
        for r in rows
    }
    actual = {d: dict(v) for d, v in expected.items()}
    assert jobs.compare_query(expected, actual) == []
    victim = rows[0]["doc_id"]
    actual[victim]["title"] = "planted"
    del actual[rows[1]["doc_id"]]
    bad = jobs.compare_query(expected, actual)
    assert (victim, "title") in bad
    assert {c for d, c in bad if d == rows[1]["doc_id"]} == {n for n, _, _ in jobs.QUERY_EXPRS}


def test_benchmark_json_within_limits():
    import re

    name_re = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}\Z")
    unit_re = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}\Z")
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(BENCH["workloads"]) <= 8 and 1 <= BENCH["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in BENCH[k]]
    assert all(name_re.match(n) for n in names) and len(set(names)) == len(names)
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert unit_re.match(m["unit"]) and m["better"] in ("higher", "lower")
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25} in BENCH["end_to_end"]
    assert 1 <= len(BENCH["per_layer"]) <= 128
