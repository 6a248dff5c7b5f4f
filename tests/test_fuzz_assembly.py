"""Property-based robustness for the assembly kernel: arbitrary span
arrays (including unknown kinds, missing fields, duplicate/negative
offsets) must assemble without error, deterministically, with a
coherent block stream."""

import hypothesis.strategies as st
import pandas as pd
import pyarrow as pa
from hypothesis import HealthCheck, given, settings

from docstrange_spark.kernels import assembly

KINDS = st.sampled_from(
    [
        "text", "heading", "list_item", "table_cell", "code", "blockquote",
        "image", "link", "page_break", "script", "style", "tag_open",
        "tag_close", "mystery_kind", "",
    ]
)
TEXT = st.one_of(st.none(), st.text(max_size=20))
REF = st.one_of(
    st.none(),
    st.just(""),
    st.just("h3"),
    st.just("ul:1"),
    st.just("ol:0:2"),
    st.just("r1:c0:t0"),
    st.just("python"),
    st.just("page"),
    st.text(max_size=8),
)
SPAN = st.fixed_dictionaries(
    {
        "kind": KINDS,
        "text": TEXT,
        "media_ref": REF,
        "offset": st.integers(-5, 50),
    }
)
DOC_CLASS = st.sampled_from(
    ["md_structure", "html_page", "pdf_pages", "ocr_noisy", "docx_like", "weird"]
)
DOC = st.tuples(DOC_CLASS, st.lists(SPAN, max_size=25))
BATCH = st.lists(DOC, min_size=1, max_size=6)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(BATCH)
def test_assembly_total_and_deterministic(batch):
    pdf = pd.DataFrame(
        {
            "doc_id": [f"{cls}-{i:08d}" for i, (cls, _) in enumerate(batch)],
            "spans": [spans for _, spans in batch],
        }
    )
    out1 = assembly.assemble_batch(pdf["doc_id"], pdf["spans"])
    out2 = assembly.assemble_batch(pdf["doc_id"], pdf["spans"])
    assert list(out1["markdown"]) == list(out2["markdown"])
    assert list(out1["out_spans"].map(str)) == list(out2["out_spans"].map(str))
    for _, row in out1.iterrows():
        assert isinstance(row["markdown"], str)
        offsets = [s["offset"] for s in row["out_spans"]]
        assert offsets == list(range(len(offsets)))  # dense block order
        assert row["n_blocks"] == len(row["out_spans"])
        # every block's text appears in the markdown
        for s in row["out_spans"]:
            assert s["text"] in row["markdown"]


def test_unknown_kind_becomes_paragraph():
    pdf = pd.DataFrame(
        {
            "doc_id": ["md_structure-00000000"],
            "spans": [[{"kind": "hologram", "text": "future content",
                        "media_ref": "", "offset": 0}]],
        }
    )
    out = assembly.assemble_batch(pdf["doc_id"], pdf["spans"])
    assert out.iloc[0]["markdown"] == "future content"
    assert out.iloc[0]["out_spans"][0]["kind"] == "paragraph"


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.sampled_from(["md_structure", "pdf_pages", "ocr_noisy", "docx_like", "weird"]),
    st.lists(SPAN, min_size=1, max_size=40),
    st.integers(2, 9),
)
def test_segmented_assembly_equals_whole(doc_class, spans, budget):
    """Within-row segmentation invariance on ARBITRARY span streams:
    assembling in run-boundary slices of any budget must be
    byte-identical to assembling the whole document (markup is excluded
    here because the kernel never segments DOM docs)."""
    from docstrange_spark.operators import extract

    doc_id = f"{doc_class}-fuzz"
    whole = assembly.assemble_batch(pd.Series([doc_id]), pd.Series([spans]))
    row = pa.array([spans], type=assembly.SPAN_LIST_TYPE)
    seg = extract._assemble_megadoc(doc_id, row, build_spans=True, budget=budget)
    assert seg["markdown"].iat[0] == whole["markdown"].iat[0]
    assert int(seg["n_blocks"].iat[0]) == int(whole["n_blocks"].iat[0])
    assert seg["out_spans"].iat[0] == whole["out_spans"].iat[0]
