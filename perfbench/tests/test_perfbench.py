"""Tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _bytes(d: str) -> dict[str, bytes]:
    return {os.path.basename(p): open(p, "rb").read()
            for p in sorted(glob.glob(os.path.join(d, "*")))}


@pytest.mark.parametrize("write", [
    lambda d, seed: gen.write_pages(d, 300, 3, seed, pii=True),
    lambda d, seed: gen.write_pages(d, 300, 3, seed, pii=False),
    lambda d, seed: gen.write_wet(d, 300, 3, seed),
], ids=["pages_pii", "pages_clean", "wet"])
def test_generator_is_byte_deterministic_per_seed(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    a, b, c = (_bytes(str(tmp_path / x)) for x in "abc")
    assert len(a) == 3 and a == b
    assert all(a[k] != c[k] for k in a)


def test_pii_and_clean_variants_share_the_base_text():
    pii = gen.page_rows(2000, 3, pii=True)
    clean = gen.page_rows(2000, 3, pii=False)
    changed = [p for p, c in zip(pii, clean) if p["text"] != c["text"]]
    assert abs(len(changed) / 2000 - gen.PII_SHARE) < 0.05
    for p, c in zip(pii, clean):
        assert p["url"] == c["url"] and p["lang"] == c["lang"]
        assert set(c["text"].split(" ")) <= set(p["text"].split(" "))
    assert all(re.fullmatch(r"[ -~]*", r["text"]) for r in pii)


def test_wet_plants_exact_and_near_copies():
    recs = gen.wet_rows(1000, 5)
    by_url = {r["url"]: r for r in recs}
    exact = [r for r in recs if r["planted"] == "exact"]
    near = [r for r in recs if r["planted"] == "near"]
    assert len(exact) == 50 and len(near) == 50
    assert all(by_url[r["of"]]["text"] == r["text"] for r in exact)
    assert all(by_url[r["of"]]["text"] != r["text"] for r in near)


@pytest.mark.parametrize("name,value,unit", [
    ("docs_per_s", 4083.2063707950597, "docs/s"),
    ("cpu_s_per_kdoc", 0.807, "s/kdoc"),
    ("plugins.arrow_eval_nodes", 1.0, "count"),
    ("trace.overhead", -0.0125, "ratio"),
])
def test_metric_line_round_trips(name, value, unit):
    assert run.parse_metric_line(run.metric_line(name, value, unit)) == (
        name, value, unit)


def test_declared_metrics_are_printed_with_their_units():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for kind in ("end_to_end", "per_layer"):
        declared = spec[kind]
        metrics = {d["name"]: (1.5, d["unit"]) for d in declared}
        metrics["error_rate"] = (0.0, "ratio")
        out = run.result(metrics, declared, checks.Tally(), [])
        assert list(out["metrics"]) == [d["name"] for d in declared]
        for d in declared:
            line = run.metric_line(d["name"], 1.5, d["unit"])
            assert run.parse_metric_line(line) == (d["name"], 1.5,
                                                   d["unit"])
        del metrics[declared[0]["name"]]
        with pytest.raises(KeyError):
            run.result(metrics, declared, checks.Tally(), [])


SAMPLE = [
    {"url": "u1", "keep": True, "drop_reasons": [],
     "text_scrubbed": "kept <EMAIL> text"},
    {"url": "u2", "keep": False, "drop_reasons": ["min_chars"],
     "text_scrubbed": "short"},
]


def _write_filter_output(d, rows, n_docs=3):
    os.makedirs(d / "batch=b1")
    os.makedirs(d / "metrics" / "batch=b1")
    pq.write_table(pa.Table.from_pylist(rows),
                   str(d / "batch=b1" / "part-0.parquet"))
    pq.write_table(pa.Table.from_pylist(
        [{"n_docs": n_docs, "n_keep": len(rows)}]),
        str(d / "metrics" / "batch=b1" / "part-0.parquet"))


def test_corrupted_filter_output_counts_a_failed_pass(tmp_path):
    good = [{"url": "u1", "text": "kept <EMAIL> text"},
            {"url": "u3", "text": "another kept doc"}]
    tally = checks.Tally()
    _write_filter_output(tmp_path / "p0", good)
    tally.record(*checks.check_filter_pass(str(tmp_path / "p0"), SAMPLE, 3))
    assert (tally.attempted, tally.failed) == (1, 0)

    bad = [{"url": "u1", "text": "kept user@example.com text"}, good[1]]
    _write_filter_output(tmp_path / "p1", bad)
    tally.record(*checks.check_filter_pass(str(tmp_path / "p1"), SAMPLE, 3))
    assert (tally.attempted, tally.failed) == (2, 1)

    # a change outside the sample still breaks the cross-pass digest
    off = [good[0], {"url": "u3", "text": "another kept doc!"}]
    _write_filter_output(tmp_path / "p2", off)
    tally.record(*checks.check_filter_pass(str(tmp_path / "p2"), SAMPLE, 3))
    assert (tally.attempted, tally.failed) == (3, 2)

    dropped_kept = good + [{"url": "u2", "text": "short"}]
    _write_filter_output(tmp_path / "p3", dropped_kept, n_docs=4)
    errors, _ = checks.check_filter_pass(str(tmp_path / "p3"), SAMPLE, 3)
    assert any("u2" in e for e in errors)
    assert any("lineage" in e for e in errors)


def test_assessment_check_compares_reason_order():
    actual = {r["url"]: {k: r[k] for k in ("keep", "drop_reasons",
                                           "text_scrubbed")}
              for r in SAMPLE}
    assert checks.check_assessment(actual, SAMPLE) == []
    actual["u2"] = dict(actual["u2"], drop_reasons=["word_count",
                                                    "min_chars"])
    assert len(checks.check_assessment(actual, SAMPLE)) == 1


def test_corrupted_corpus_output_fails(tmp_path):
    groups = [["https://a/1", "https://m/1"]]
    rows = [{"url": "https://a/1", "text": "doc <EMAIL> one"},
            {"url": "https://b/2", "text": "doc two"}]
    pq.write_table(pa.Table.from_pylist(rows),
                   str(tmp_path / "part-0.parquet"))
    errors, dig = checks.check_corpus_pass(str(tmp_path), {"written": 2},
                                           groups)
    assert errors == []
    rows += [{"url": "https://m/1", "text": "doc a@b.org one"}]
    pq.write_table(pa.Table.from_pylist(rows),
                   str(tmp_path / "part-0.parquet"))
    errors, dig2 = checks.check_corpus_pass(str(tmp_path), {"written": 2},
                                            groups)
    assert len(errors) == 3 and dig2 != dig


def test_tally_fail_last_marks_one_pass():
    tally = checks.Tally()
    tally.record([], "d")
    tally.fail_last(["late error"])
    tally.fail_last(["another"])
    assert (tally.attempted, tally.failed) == (1, 1)
    assert tally.error_rate == 1.0
