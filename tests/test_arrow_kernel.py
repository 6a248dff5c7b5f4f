"""The extract kernel reads the span ListArray directly: every Arrow
batch shape it can receive — a sliced batch, an empty one, a pandas
frame, a batch mixing normal and over-budget docs — gives the output
of per-doc ``assemble_batch``, and null span elements are dropped."""

import pandas as pd
import pyarrow as pa

from docstrange_spark import datagen
from docstrange_spark.kernels.assembly import SPAN_LIST_TYPE, assemble_batch
from docstrange_spark.operators import extract

SPAN = {"kind": "text", "text": "alpha beta", "media_ref": "", "offset": 0}
SPAN2 = {"kind": "heading", "text": "Title", "media_ref": "h2", "offset": 1}


def _batch(docs: list[tuple[str, list | None]]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {
            "doc_id": [d for d, _ in docs],
            "spans": pa.array([s for _, s in docs], type=SPAN_LIST_TYPE),
        }
    )


def _expected(doc_id: str, spans: list | None) -> dict:
    spans = [s for s in spans or [] if s is not None]
    out = assemble_batch(pd.Series([doc_id]), pd.Series([spans])).iloc[0]
    return {
        "markdown": out["markdown"],
        "out_spans": out["out_spans"],
        "n_blocks": int(out["n_blocks"]),
        "profile": out["profile"],
    }


def _run(kernel, batches) -> dict[str, dict]:
    rows = {}
    for out in kernel(iter(batches)):
        assert isinstance(out, pa.RecordBatch)
        for r in out.to_pylist():
            rows[r.pop("doc_id")] = r
    return rows


def _fixture_docs() -> list[tuple[str, list]]:
    return datagen.fixture_docs(include_mega=False)


def test_null_span_element_dropped_in_oracle():
    whole = assemble_batch(
        pd.Series(["md_structure-a", "md_structure-b", "md_structure-c"]),
        pd.Series([[SPAN, None, SPAN2], None, []]),
    )
    clean = assemble_batch(pd.Series(["md_structure-a"]), pd.Series([[SPAN, SPAN2]]))
    assert whole["markdown"].iat[0] == clean["markdown"].iat[0]
    assert whole["out_spans"].iat[0] == clean["out_spans"].iat[0]
    # a null or empty spans array still gives empty markdown and 0 blocks
    assert list(whole["markdown"].iloc[1:]) == ["", ""]
    assert list(whole["n_blocks"].iloc[1:]) == [0, 0]


def test_null_span_element_dropped_through_spark(spark):
    docs = [
        ("md_structure-a", [SPAN, None, SPAN2]),
        ("md_structure-b", None),
        ("pdf_pages-c", [None]),
    ]
    df = spark.createDataFrame(docs, schema=datagen.SPAN_SCHEMA_DDL)
    got = {r["doc_id"]: r.asDict(recursive=True) for r in extract.extract(df).collect()}
    assert set(got) == {d for d, _ in docs}
    for doc_id, spans in docs:
        want = _expected(doc_id, spans)
        assert {k: got[doc_id][k] for k in want} == want


def test_sliced_batch_offsets_not_at_zero():
    docs = _fixture_docs()
    sliced = _batch(docs).slice(3, 7)
    assert sliced.column("spans").offset == 3
    got = _run(extract._make_kernel(), [sliced])
    assert list(got) == [d for d, _ in docs[3:10]]
    for doc_id, spans in docs[3:10]:
        assert got[doc_id] == _expected(doc_id, spans)


def test_zero_row_batch():
    kernel = extract._make_kernel(("json",), include_spans=False)
    assert _run(kernel, [_batch(_fixture_docs()).slice(0, 0)]) == {}


def test_pandas_frame_input():
    """bench.py's skew probe hands the kernel mapInPandas frames."""
    docs = _fixture_docs()
    pdf = pd.DataFrame({"doc_id": [d for d, _ in docs], "spans": [s for _, s in docs]})
    got = _run(extract._make_kernel(), [pdf])
    assert set(got) == {d for d, _ in docs}
    for doc_id, spans in docs:
        assert got[doc_id] == _expected(doc_id, spans)


def test_mixed_batch_with_over_budget_docs(monkeypatch):
    """Normal docs, an over-budget layout doc (segmented) and an
    over-budget markup doc (never segmented) in one batch."""
    docs = _fixture_docs()
    by_id = dict(docs)
    layout = "pdf_pages-big"
    spans_big = [
        {"kind": "text", "text": f"w{i}", "media_ref": "", "offset": (i // 3) * 5 + i % 3}
        for i in range(60)
    ]
    docs.append((layout, spans_big))
    markup = "html_page-00000000"
    budget = len(by_id[markup]) - 1
    monkeypatch.setattr(extract, "MAX_BATCH_SPANS", budget)
    segmented = []
    real = extract._assemble_megadoc

    def spy(doc_id, *args, **kwargs):
        segmented.append(doc_id)
        return real(doc_id, *args, **kwargs)

    monkeypatch.setattr(extract, "_assemble_megadoc", spy)
    got = _run(extract._make_kernel(), [_batch(docs)])
    assert markup not in segmented
    assert layout in segmented
    assert set(got) == {d for d, _ in docs}
    for doc_id, spans in docs:
        assert got[doc_id] == _expected(doc_id, spans)
