"""The benchmark's own tests: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gate as G
from perfbench import harness, inputs
from perfbench.tracer import Span, Tracer, covered, self_times

BENCHMARK = os.path.join(harness.ROOT, "BENCHMARK.json")


# -- tracer -----------------------------------------------------------------


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, None, "root", 0.0, 10.0, "r"),
        Span(1, 0, "a", 1.0, 4.0, "r"),
        Span(2, 0, "b", 3.0, 6.0, "r"),  # overlaps a: union is 1..6
        Span(3, 1, "a.child", 2.0, 3.0, "r"),
        Span(4, 0, "late", 9.0, 12.0, "r"),  # clipped to the parent at 10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)


def test_tracer_spans_nest_and_self_times_fit_the_wall():
    ticks = iter(range(100))
    tr = Tracer(enabled=True, clock=lambda: float(next(ticks)))
    with tr.span("run"):  # 0..9
        with tr.span("a"):  # 1..4
            with tr.span("a1"):  # 2..3
                pass
        with tr.paused():
            with tr.span("hidden"):
                pass
        with tr.span("b"):  # 5..6
            pass
    assert [s.name for s in tr.spans] == ["run", "a", "a1", "b"]
    assert {s.run_id for s in tr.spans} == {tr.run_id}
    assert tr.spans[2].parent_id == tr.spans[1].span_id
    by_name = tr.self_time_by_name()
    assert by_name == {"run": 7 - 3 - 1, "a": 2, "a1": 1, "b": 1}
    assert tr.self_over_wall() == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


# -- BENCHMARK.json -----------------------------------------------------------


def test_metric_names_are_well_formed_and_unique():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(re.fullmatch(r"[A-Za-z0-9_.-]+", n) for n in names)
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def test_zero_filled_layer_metrics_are_declared():
    from perfbench import workloads as W

    with open(BENCHMARK) as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(W.MANIFEST_METRICS) | set(W.CORPUS_METRICS) <= declared


def test_every_declared_workload_exists():
    from perfbench.workloads import WORKLOADS

    with open(BENCHMARK) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


# -- inputs -------------------------------------------------------------------


def test_documents_are_a_function_of_the_seed(tmp_path):
    a = inputs.doc_corpus(str(tmp_path / "a"), seed=3, n_docs=300)
    b = inputs.doc_corpus(str(tmp_path / "b"), seed=3, n_docs=300)
    c = inputs.doc_corpus(str(tmp_path / "c"), seed=4, n_docs=300)
    assert a["digest"] == b["digest"] != c["digest"]


def test_every_near_dup_copy_keeps_its_original():
    d = inputs.documents(2000, seed=5)
    copies = d[d["text"].str.endswith(" dup")]
    assert len(copies) == int(2000 * inputs.NEAR_DUP_FRAC)
    assert set(t[: -len(" dup")] for t in copies["text"]) <= set(d["text"])


def test_megadocs_are_a_function_of_the_seed():
    assert inputs.layout_megadoc(0, 3, 500) == inputs.layout_megadoc(0, 3, 500)
    assert inputs.layout_megadoc(0, 3, 500) != inputs.layout_megadoc(0, 4, 500)


@pytest.fixture(scope="module")
def spark():
    harness.contain()
    sess = harness.Session(2)
    sess.start()
    yield sess.spark
    sess.close()


def test_span_corpus_is_a_function_of_the_seed(spark, tmp_path):
    spec = {"n_docs": 120, "mega_every": 50, "megadocs": 1, "megadoc_spans": 300}
    a = inputs.span_corpus(spark, str(tmp_path / "a"), 3, **spec)
    b = inputs.span_corpus(spark, str(tmp_path / "b"), 3, **spec)
    c = inputs.span_corpus(spark, str(tmp_path / "c"), 4, **spec)
    assert a["docs"] == 121
    assert a["digest"] == b["digest"] != c["digest"]


# -- correctness gate -----------------------------------------------------------


def _extract_to(spark, span_path: str, out: str) -> None:
    from docstrange_spark.operators import extract
    from docstrange_spark.sources import span_table

    extract.extract(
        span_table.read_spans(spark, span_path), formats=("json",), include_spans=False
    ).write.mode("overwrite").parquet(out)


def test_gate_passes_a_correct_output_and_fails_a_corrupted_row(spark, tmp_path):
    spans = str(tmp_path / "spans")
    inputs.span_corpus(spark, spans, 5, n_docs=60, mega_every=25)
    out = str(tmp_path / "out")
    _extract_to(spark, spans, out)
    ids = G.ids_of(spans)
    sample = G.sample_ids(spans, 5, 10)

    ok = G.Gate()
    ok.ids_exactly_once(ids, G.ids_of(out), "out")
    G.check_sample(ok, spans, out, sample)
    assert ok.failed == 0 and ok.attempted > 0

    # corrupt one sampled row's markdown and duplicate another row
    t = G.read_table(out).sort_by("doc_id")
    rows = t.to_pylist()
    victim = next(r for r in rows if r["doc_id"] == sample[0])
    victim["markdown"] += " corrupted"
    rows.append(dict(rows[0]))
    bad_dir = tmp_path / "bad"
    bad_dir.mkdir()
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), str(bad_dir / "part-0.parquet"))

    bad = G.Gate()
    bad.ids_exactly_once(ids, G.ids_of(str(bad_dir)), "out")
    G.check_sample(bad, spans, str(bad_dir), sample)
    assert bad.failed == 2
    assert bad.failed_frac > 0


def test_corpus_golden_matches_corpus_plan(spark):
    """The recorded pack digest of corpus_chain at the default seed equals
    the pure ``corpus.corpus_plan`` composition on the same input."""
    from docstrange_spark.operators import corpus

    from perfbench import workloads as W

    golden = W.load_golden()["corpus_chain"]
    path = os.path.join(harness.WORK, "cache", inputs.cache_key(
        "docs", W.CorpusChain.spec, W.DEFAULT_SEED))
    inputs.doc_corpus(path, W.DEFAULT_SEED, **W.CorpusChain.spec)
    out = os.path.join(harness.WORK, "out", "test-corpus-plan")
    corpus.corpus_plan(spark.read.parquet(path)).write.mode("overwrite").parquet(out)
    assert G.output_digest(out, W.CorpusChain.digest_cols) == golden
