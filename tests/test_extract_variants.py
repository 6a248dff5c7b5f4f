"""Extraction variants must be semantically identical: fused renditions ==
standalone UDFs; span-budget slicing and mega routing invisible."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from docstrange_spark import datagen
from docstrange_spark.kernels.assembly import SPAN_LIST_TYPE
from docstrange_spark.operators import extract, renditions


def test_fused_renditions_equal_udfs(spark):
    spans = datagen.fixture_spans(spark)
    fused = {
        r["doc_id"]: (r["json"], r["html"], r["csv"])
        for r in extract.extract(spans, formats=("json", "html", "csv")).collect()
    }
    udf = {
        r["doc_id"]: (r["json"], r["html"], r["csv"])
        for r in renditions.with_renditions(
            extract.extract(spans), formats=("json", "html", "csv")
        ).collect()
    }
    assert fused == udf


def test_span_budget_slicing_invisible(spark, monkeypatch):
    import docstrange_spark.operators.extract as ex_mod

    spans = datagen.fixture_spans(spark, include_mega=True)
    normal = {r["doc_id"]: r["markdown"] for r in extract.extract(spans).collect()}

    monkeypatch.setattr(ex_mod, "MAX_BATCH_SPANS", 100)
    sliced = {r["doc_id"]: r["markdown"] for r in extract.extract(spans).collect()}
    assert normal == sliced


def test_slicer_unit():
    span = {"kind": "text", "text": "t", "media_ref": "", "offset": 0}
    sizes = (10, 10, 200, 10, 500, 10)
    batch = pa.RecordBatch.from_pydict(
        {
            "doc_id": [f"d{i}" for i in range(6)],
            "spans": pa.array([[span] * n for n in sizes], type=SPAN_LIST_TYPE),
        }
    )
    # sliced input: the ListArray's offsets no longer start at 0
    for b in (batch, batch.slice(1, 5)):
        chunks = list(extract._slice_by_span_budget(b, 100))
        # every doc appears exactly once, order preserved
        ids = [d for c in chunks for d in c.column("doc_id").to_pylist()]
        assert ids == b.column("doc_id").to_pylist()
        # oversized docs sit alone in their chunk
        for c in chunks:
            n = c.column("spans").value_lengths().to_numpy()
            assert n.sum() <= 100 or c.num_rows == 1
        assert [c.num_rows for c in chunks][-3:] == [1, 1, 1]


def test_fused_processor_variants_html_gpu_json_cloud(spark):
    """R6/R7 as fused formats: html_gpu is the GPU-badged page
    (gpu_processor.py:60-78 byte format), json_cloud is the cloud flat
    envelope (cloud_processor.py:168-175) around the same canonical
    parse as the json rendition."""
    import json as _json

    from docstrange_spark.kernels import mdhtml

    df = extract.extract(
        datagen.fixture_spans(spark),
        formats=("json", "html", "html_gpu", "json_cloud"),
        include_spans=False,
    )
    rows = df.select("markdown", "json", "html", "html_gpu", "json_cloud").collect()
    assert rows
    for r in rows:
        assert r["html_gpu"] == mdhtml.add_gpu_badge(r["html"])
        assert 'GPU Processed' in r["html_gpu"]
        cloud = _json.loads(r["json_cloud"])
        plain = _json.loads(r["json"])
        assert cloud["format"] == "cloud_flat_json"
        assert cloud["document"] == plain["document"]
        # byte construction matches the operator-level envelope helper
        from docstrange_spark.operators import llm

        assert cloud == llm.cloud_envelope_document(plain["document"])
