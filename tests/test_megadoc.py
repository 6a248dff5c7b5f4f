"""Within-row segmentation: one document whose span count exceeds the
kernel budget is assembled in run-boundary slices and merged — the
output must be byte-identical to the unsegmented assembly, and a
10^6-span document must flow through Spark end-to-end."""

import pandas as pd
import pyarrow as pa
import pytest

from docstrange_spark.kernels.assembly import (
    SPAN_LIST_TYPE,
    assemble_batch,
    merge_mask,
    span_frame,
)
from docstrange_spark.operators import extract


def _row(spans: list[dict]) -> pa.Array:
    """One document's spans as the one-row ListArray the kernel slices."""
    return pa.array([spans], type=SPAN_LIST_TYPE)


def _frame(doc_id: str, spans: list[dict]) -> pd.DataFrame:
    return span_frame(pd.Series([doc_id]), _row(spans))


def _mixed_layout_doc(n_groups: int) -> list[dict]:
    """Layout-profile doc interleaving every run kind, offsets leaving
    gaps between runs (cut points) but not inside them."""
    spans = []
    off = 0
    for g in range(n_groups):
        spans.append(
            {"kind": "heading", "text": f"part {g}", "media_ref": "h2", "offset": off}
        )
        off += 2
        for j in range(3):  # one 3-span smart-join text run
            spans.append(
                {"kind": "text", "text": f"w{g} x{j} y", "media_ref": "", "offset": off}
            )
            off += 1
        off += 1
        for j in range(2):  # a list run
            spans.append(
                {
                    "kind": "list_item",
                    "text": f"item {g} {j}",
                    "media_ref": "ul:0",
                    "offset": off,
                }
            )
            off += 1
        off += 1
        for r in range(2):  # a 2x2 table per group, distinct table id
            for c in range(2):
                spans.append(
                    {
                        "kind": "table_cell",
                        "text": f"c{g}{r}{c}",
                        "media_ref": f"r{r}:c{c}:t{g}",
                        "offset": off,
                    }
                )
                off += 1
        off += 1
        spans.append(
            {"kind": "code", "text": f"line {g}", "media_ref": "py", "offset": off}
        )
        off += 2
    return spans


@pytest.mark.parametrize("budget", [7, 23, 64])
def test_segmented_equals_unsegmented(budget):
    doc_id = "pdf_pages-seg"
    spans = _mixed_layout_doc(12)
    whole = assemble_batch(pd.Series([doc_id]), pd.Series([spans]))
    seg = extract._assemble_megadoc(doc_id, _row(spans), build_spans=True, budget=budget)
    assert seg["markdown"].iat[0] == whole["markdown"].iat[0]
    assert int(seg["n_blocks"].iat[0]) == int(whole["n_blocks"].iat[0])
    assert seg["out_spans"].iat[0] == whole["out_spans"].iat[0]


def test_cut_never_splits_runs():
    frame = _frame("pdf_pages-cut", _mixed_layout_doc(4))
    merge = merge_mask(frame)
    # with budget 1, every slice boundary must still fall on a run edge
    segs = extract._segments(frame, budget=1)
    assert len(segs) > 1
    assert [s for s, _ in segs[1:]] == [e for _, e in segs[:-1]]
    for s, _ in segs[1:]:
        assert not merge.iat[s]
    # ... and every run edge is one (budget 1 cuts as early as it can)
    assert [s for s, _ in segs] == [i for i in range(len(frame)) if not merge.iat[i]]


def test_single_oversized_run_stays_whole():
    # 50 consecutive-offset text spans = ONE smart-join run; budget 10
    spans = [
        {"kind": "text", "text": f"t{i}", "media_ref": "", "offset": i}
        for i in range(50)
    ]
    segs = extract._segments(_frame("pdf_pages-run", spans), budget=10)
    assert segs == [(0, 50)]  # uncuttable run forms one oversized slice
    seg = extract._assemble_megadoc("pdf_pages-run", _row(spans), True, budget=10)
    whole = assemble_batch(pd.Series(["pdf_pages-run"]), pd.Series([spans]))
    assert seg["markdown"].iat[0] == whole["markdown"].iat[0]


def test_million_span_doc_through_spark(spark):
    """A 10^6-span document (~8x the kernel budget) extracts through the
    real Spark path without failure and with the expected block count."""
    n = 1_000_000
    spans = [
        {
            "kind": "text",
            "text": f"tok{i}",
            "media_ref": "",
            # runs of 4 consecutive offsets, then a gap -> cuttable
            "offset": (i // 4) * 6 + (i % 4),
        }
        for i in range(n)
    ]
    pdf = pd.DataFrame({"doc_id": ["pdf_pages-huge"], "spans": [spans]})
    df = spark.createDataFrame(pdf)
    out = extract.extract(df, include_spans=False).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_blocks"] == n // 4  # one paragraph per 4-span run
    assert row["markdown"].startswith("tok0 tok1 tok2 tok3\n\n")
    assert row["markdown"].endswith("tok999996 tok999997 tok999998 tok999999")


def test_direct_profile_mega_doc_segments_freely():
    """Direct-profile text spans never merge into runs, so consecutive
    offsets must NOT block segmentation (a 10^6-span direct doc would
    otherwise become one oversized slice)."""
    spans = [
        {"kind": "text", "text": f"p{i}", "media_ref": "", "offset": i}
        for i in range(100)
    ]
    segs = extract._segments(_frame("txt_plain-big", spans), budget=10)
    assert len(segs) == 10
    seg = extract._assemble_megadoc("txt_plain-big", _row(spans), True, budget=10)
    whole = assemble_batch(pd.Series(["txt_plain-big"]), pd.Series([spans]))
    assert seg["markdown"].iat[0] == whole["markdown"].iat[0]
    assert seg["out_spans"].iat[0] == whole["out_spans"].iat[0]
