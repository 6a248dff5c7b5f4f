"""Span-stream -> Markdown assembly kernel (O1-O18) — batch-vectorized.

The engine's equivalent of the reference's per-format processors: one
kernel that turns a batch of documents' interleaved span arrays into
Markdown plus the emitted block stream (the golden span-sequence surface).

Processing profile is carried by the ``doc_id`` prefix (the generator's
document class), mirroring how the reference routes by file extension
(``/root/reference/docstrange/extractor.py:336-372``):

- ``markup``  (html_page): DOM rebuild + boilerplate strip + <title>
  promotion (url_processor.py:249-333), then direct rendering with
  whitespace-collapsed text (url_processor.py:335-360);
- ``layout``  (pdf_pages, classify_edge, mega_doc): reading-order sort,
  offset-adjacency paragraph grouping (the offset analog of the 1.5×
  line-height rule, layout_detector.py:85-119), punctuation-aware join
  (:121-170), block classification (:188-239), heading levels (:206-216),
  table-row formatting (:241-253);
- ``ocr``     (ocr_noisy): layout + the lossy OCR post-process applied to
  each joined paragraph before classification (:172-186) — profile-gated
  here where the reference hard-wires it into its OCR path;
- ``direct``  (everything else): spans already carry structure (the DOCX/
  PPTX/Excel analog); docx_like additionally applies the 20-row table cap
  and merged-cell warning (docx_processor.py:127-156).

All regex/string work is pandas-vectorized across the whole Arrow batch;
per-group Python survives only where semantics are inherently per-group
(table grid pivot, punctuation-aware join, DOM walks).
"""

from __future__ import annotations

import re
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from docstrange_spark.kernels import boilerplate, textproc

PROFILE_BY_CLASS = {
    "html_page": "markup",
    "pdf_pages": "layout",
    "classify_edge": "layout",
    "mega_doc": "layout",
    "ocr_noisy": "ocr",
}
RUN_KINDS = {"code", "blockquote", "list_item", "table_cell"}
DROP_KINDS = {"script", "style", "tag_open", "tag_close"}
KNOWN_KINDS = {
    "text", "heading", "list_item", "table_cell", "code", "blockquote",
    "image", "link", "page_break",
} | DROP_KINDS

# table-cell coordinate encoding — the single source for both the
# kernel's vectorized parse and the megadoc segmentation's cut predicate
TABLE_REF_RE = re.compile(r"^r(\d+):c(\d+):t(\d+)(:m)?$")

DOCX_ROW_LIMIT = 20
MERGED_CELL_WARNING = (
    "*Warning: Table contains merged cells which may not render correctly "
    "in markdown.*"
)


def _run_bounds(bids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the contiguous equal-value runs in a monotonic
    block-id array — the slice-reduce primitive for run aggregation."""
    cuts = np.flatnonzero(np.diff(bids)) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [len(bids)]))
    return starts, ends


def doc_class(doc_id: str) -> str:
    return doc_id.split("-", 1)[0]


def profile_of(doc_id: str) -> str:
    return PROFILE_BY_CLASS.get(doc_class(doc_id), "direct")


# ---------------------------------------------------------------------------
# span frame: the flat, profiled, sorted span stream the grouping sees


# element type of the ``spans`` column (datagen.SPAN_SCHEMA_DDL)
SPAN_LIST_TYPE = pa.list_(pa.struct(
    [(n, pa.string()) for n in ("kind", "text", "media_ref")] + [("offset", pa.int32())]
))


def span_frame(doc_ids: pd.Series, spans: pa.Array) -> pd.DataFrame:
    """One row per span of the ``spans`` ListArray (any slice of it),
    read straight from its child arrays — no per-span Python objects
    besides the strings. ``doc_idx`` is the row position in ``doc_ids``.
    A null list counts as empty and a null span element is dropped.
    Then the per-doc profile is applied: markup docs get the DOM strip,
    dropped kinds vanish, unknown kinds become text, rows sort by
    (doc_idx, offset) and table-cell coordinates are parsed."""
    lengths = spans.value_lengths().fill_null(0).to_numpy()
    values = spans.flatten()
    doc_idx = np.repeat(np.arange(len(spans)), lengths)
    # StructArray.flatten (unlike .field) folds the element's null bit
    # into its children, so a null element cannot read as kind ""
    cols = dict(zip((f.name for f in values.type), values.flatten()))
    if values.null_count:
        valid = values.is_valid()
        cols = {k: c.filter(valid) for k, c in cols.items()}
        doc_idx = doc_idx[valid.to_numpy(zero_copy_only=False)]
    flat = pd.DataFrame(
        {
            "kind": cols["kind"].to_pandas(),
            "text": pc.fill_null(cols["text"], "").to_pandas(),
            "media_ref": pc.fill_null(cols["media_ref"], "").to_pandas(),
            "offset": pc.fill_null(cols["offset"], 0).to_numpy().astype(np.int64),
            "doc_idx": doc_idx,
        }
    )
    classes = doc_ids.map(doc_class).to_numpy()
    flat["profile"] = np.array(
        [PROFILE_BY_CLASS.get(c, "direct") for c in classes], dtype=object
    )[doc_idx]
    flat["capped"] = (classes == "docx_like")[doc_idx]

    # -- markup profile: DOM strip per doc, re-inject filtered spans -------
    is_markup = flat["profile"].eq("markup")
    if is_markup.any():
        msorted = flat[is_markup].sort_values(
            ["doc_idx", "offset"], kind="stable"
        )
        # accumulate ALL markup docs' surviving spans into flat tuple
        # lists and build ONE frame — per-doc DataFrames + column
        # assignment dominated this path's profile (~20% of the kernel)
        mrows: list[tuple] = []
        mdocs = msorted["doc_idx"].to_numpy()
        mcols = [msorted[c].to_numpy() for c in ("kind", "text", "media_ref", "offset")]
        for s, e in zip(*_run_bounds(mdocs)):
            d = mdocs[s]
            doc_spans = [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for k, t, m, o in zip(*(c[s:e] for c in mcols))
            ]
            title, content = boilerplate.strip_boilerplate(doc_spans)
            if title:
                mrows.append(("heading", title, "h1", -1, d))
            mrows.extend(
                (sp["kind"], sp["text"], sp["media_ref"], sp["offset"], d)
                for sp in content
            )
        sub = pd.DataFrame(
            mrows, columns=["kind", "text", "media_ref", "offset", "doc_idx"]
        )
        sub["profile"] = "markup"
        sub["capped"] = False
        flat = pd.concat([flat[~is_markup], sub], ignore_index=True)
        # web-text cleanup: collapse intra-line whitespace (O4)
        m = flat["profile"].eq("markup") & flat["kind"].eq("text")
        if m.any():
            flat.loc[m, "text"] = (
                flat.loc[m, "text"].str.split().str.join(" ")
            )

    flat = flat[~flat["kind"].isin(DROP_KINDS)]
    # unknown kinds degrade to paragraphs — the reference's label
    # fallback (neural_document_processor.py:374-383: else -> paragraph)
    unknown = ~flat["kind"].isin(KNOWN_KINDS)
    if unknown.any():
        flat.loc[unknown, "kind"] = "text"
    flat = flat.sort_values(["doc_idx", "offset"], kind="stable").reset_index(drop=True)

    # table-cell coordinates (vectorized parse; only table cells read them)
    tparsed = flat["media_ref"][flat["kind"].eq("table_cell")].str.extract(TABLE_REF_RE)
    for col, group, missing in (("_trow", 0, 0), ("_tcol", 1, 0), ("_tid", 2, -1)):
        flat[col] = (
            pd.to_numeric(tparsed[group], errors="coerce")
            .reindex(flat.index).fillna(missing).astype(int)
        )
    flat["_tmerged"] = tparsed[3].notna().reindex(flat.index, fill_value=False)
    return flat


# ---------------------------------------------------------------------------
# per-span line rendering (vectorized)


def _heading_lines(texts: pd.Series, refs: pd.Series) -> pd.Series:
    """Markdown heading lines: explicit ``h{n}`` media_ref wins (clamped
    to 6, the DOCX rule), a non-numeric ref falls back to h2 (the DOCX
    ``Heading Foo`` fallback), an empty ref infers from word count."""
    explicit = refs.str.extract(r"^h(\d+)$", expand=False)
    inferred = textproc.heading_levels(texts)
    levels = np.where(
        explicit.notna(),
        np.minimum(pd.to_numeric(explicit, errors="coerce").fillna(2).astype(int), 6),
        np.where(refs.eq("") | refs.isna(), inferred, 2),
    ).astype(int)
    return pd.Series(
        ["#" * lv + " " + t.strip() for lv, t in zip(levels, texts.fillna(""))],
        index=texts.index,
    )


def _list_lines(texts: pd.Series, refs: pd.Series) -> pd.Series:
    """List-item lines from ``ul:{indent}`` / ``ol:{indent}:{n}`` refs;
    bare items render as ``- item`` (the layout-path default,
    layout_detector.py:77)."""
    parsed = refs.str.extract(r"^(ul|ol):(\d+)(?::(\d+))?$")
    indent = pd.to_numeric(parsed[1], errors="coerce").fillna(0).astype(int)
    number = parsed[2].fillna("1")
    marker = np.where(parsed[0].eq("ol"), number + ". ", "- ")
    pads = indent.map(lambda n: "  " * int(n))
    return pads.str.cat(pd.Series(marker, index=texts.index)).str.cat(
        texts.fillna("").str.strip()
    )


def _render_simple_lines(flat: pd.DataFrame) -> pd.Series:
    """Vectorized per-span markdown line for every kind that needs no
    group context. text spans pass through raw (layout grouping and
    markup cleaning are applied elsewhere)."""
    kind = flat["kind"]
    text = flat["text"]
    ref = flat["media_ref"]
    line = text.copy()

    m = kind.eq("heading")
    if m.any():
        line.loc[m] = _heading_lines(text[m], ref[m])
    m = kind.eq("list_item")
    if m.any():
        line.loc[m] = _list_lines(text[m], ref[m])
    m = kind.eq("blockquote")
    if m.any():
        line.loc[m] = "> " + text[m].str.strip()
    m = kind.eq("link")
    if m.any():
        line.loc[m] = "[" + text[m] + "](" + ref[m] + ")"
    m = kind.eq("image")
    if m.any():
        line.loc[m] = "![" + text[m] + "](" + ref[m] + ")"
    m = kind.eq("page_break")
    if m.any():
        label = np.where(ref[m].eq("slide"), "## Slide ", "## Page ")
        line.loc[m] = pd.Series(label, index=text[m].index).str.cat(text[m].str.strip())
    return line


# ---------------------------------------------------------------------------
# table grids


def _render_table(
    rows: np.ndarray,
    cols: np.ndarray,
    texts: np.ndarray,
    tid: int,
    capped: bool,
    merged_any: bool,
) -> list[tuple[str, str, str]]:
    """Pivot one table's cell spans (pure numpy arrays — the cell text
    is pre-cleaned batch-wide) into markdown rows. Returns blocks as
    (kind, text, media_ref) — notice lines precede the table like the
    reference emits them as separate content parts."""
    n_rows = int(rows.max()) + 1
    n_cols = int(cols.max()) + 1
    grid = np.full((n_rows, n_cols), "", dtype=object)
    grid[rows, cols] = texts

    blocks: list[tuple[str, str, str]] = []
    if capped and merged_any:
        blocks.append(("notice", MERGED_CELL_WARNING, ""))
    limit = n_rows
    if capped and n_rows > DOCX_ROW_LIMIT:
        limit = DOCX_ROW_LIMIT
        blocks.append(
            (
                "notice",
                f"*Table truncated to first {DOCX_ROW_LIMIT} rows out of {n_rows} total.*",
                "",
            )
        )
    lines = ["| " + " | ".join(grid[0]) + " |"]
    lines.append("| " + " | ".join(["---"] * n_cols) + " |")
    for r in range(1, limit):
        lines.append("| " + " | ".join(grid[r]) + " |")
    blocks.append(("table", "\n".join(lines), f"t{tid}"))
    return blocks


# ---------------------------------------------------------------------------
# main kernel


BLOCK_KIND_BY_SPAN = {
    "heading": "heading",
    "text": "paragraph",
    "list_item": "list",
    "code": "code",
    "blockquote": "blockquote",
    "image": "image",
    "link": "link",
    "page_break": "page_header",
}


def merge_mask(flat: pd.DataFrame) -> pd.Series:
    """True where a span of a ``span_frame`` continues the previous
    span's block: same doc and kind, a run kind (or layout/ocr text),
    and the same code fence / table id, or the next text offset. The
    one run-merge predicate — block grouping here and the mega-doc
    segmentation's cut points both read it."""
    kind = flat["kind"]
    layoutish = flat["profile"].isin(["layout", "ocr"])
    mergeable = kind.isin(RUN_KINDS) | (kind.eq("text") & layoutish)
    aux_same = np.select(
        [kind.eq("code"), kind.eq("table_cell"), kind.eq("text")],
        [
            flat["media_ref"].eq(flat["media_ref"].shift(1)),
            flat["_tid"].eq(flat["_tid"].shift(1)),
            flat["offset"].eq(flat["offset"].shift(1) + 1),
        ],
        default=True,
    )
    return (
        flat["doc_idx"].eq(flat["doc_idx"].shift(1))
        & kind.eq(kind.shift(1))
        & mergeable
        & pd.Series(aux_same, index=flat.index, dtype=bool)
    )


def assemble_batch(
    doc_ids: pd.Series, spans_col: pd.Series, build_spans: bool = True
) -> pd.DataFrame:
    """Assemble a batch given as lists of span dicts — the in-process
    oracle form; the extract kernel calls ``assemble_frame`` on the
    Arrow batch itself. Returns DataFrame (doc_id, markdown, out_spans,
    n_blocks, profile) aligned with the input order. ``out_spans`` is
    the emitted block stream as a list of (kind, text, media_ref,
    offset) dicts — the golden span-sequence surface; pass
    ``build_spans=False`` to skip materializing it (throughput path)."""
    doc_ids = doc_ids.reset_index(drop=True)
    spans = pa.array(list(spans_col), type=SPAN_LIST_TYPE)
    return assemble_frame(doc_ids, span_frame(doc_ids, spans), build_spans)


def assemble_frame(
    doc_ids: pd.Series, flat: pd.DataFrame, build_spans: bool = True
) -> pd.DataFrame:
    """Assemble the docs of a ``span_frame`` (or a slice of one cut
    where ``merge_mask`` is False) into the ``assemble_batch`` output."""
    n_docs = len(doc_ids)
    profiles = doc_ids.map(profile_of).to_numpy()
    flat["block_id"] = (~merge_mask(flat)).cumsum()
    flat["line"] = _render_simple_lines(flat)

    # -- aggregate groups into blocks: vectorized fast paths per kind ------
    out_parts: list[pd.DataFrame] = []

    # singleton kinds never merge into runs: take lines directly, no groupby
    singles = flat[flat["kind"].isin(["heading", "image", "link", "page_break"])]
    if len(singles):
        sg = singles[["block_id", "doc_idx", "kind", "line", "media_ref"]].rename(
            columns={"line": "text"}
        )
        sg["kind"] = sg["kind"].map(BLOCK_KIND_BY_SPAN)
        hm = sg["kind"].eq("heading")
        if hm.any():
            # heading block refs record the rendered level
            sg.loc[hm, "media_ref"] = "h" + (
                sg.loc[hm, "text"].str.extract(r"^(#+)", expand=False)
                .str.len().astype(int).astype(str)
            )
        out_parts.append(sg)

    # run kinds whose markdown is the newline-join of their lines.
    # block_id is a cumsum over the (doc, offset)-sorted frame, so every
    # kind-subset's groups are CONTIGUOUS runs: slice-reduce over numpy
    # arrays instead of pandas python-agg groupby (which materializes a
    # Series per group — measured ~30% of the kernel on this path).
    joinable = flat[flat["kind"].isin(["list_item", "blockquote"])]
    if len(joinable):
        starts, ends = _run_bounds(joinable["block_id"].to_numpy())
        lines = joinable["line"].to_numpy()
        out_parts.append(
            pd.DataFrame(
                {
                    "block_id": joinable["block_id"].to_numpy()[starts],
                    "doc_idx": joinable["doc_idx"].to_numpy()[starts],
                    "kind": [
                        BLOCK_KIND_BY_SPAN[k]
                        for k in joinable["kind"].to_numpy()[starts]
                    ],
                    "text": [
                        "\n".join(lines[s:e]) for s, e in zip(starts, ends)
                    ],
                    "media_ref": "",
                }
            )
        )

    # direct/markup text spans: each its own paragraph block
    direct_text = flat[flat["kind"].eq("text") & ~flat["profile"].isin(["layout", "ocr"])]
    if len(direct_text):
        dt = direct_text[["block_id", "doc_idx", "text"]].copy()
        dt["kind"] = "paragraph"
        dt["media_ref"] = ""
        out_parts.append(dt[["block_id", "doc_idx", "kind", "text", "media_ref"]])

    # layout/ocr text runs: smart join -> (ocr clean) -> classify -> render
    layout_text = flat[flat["kind"].eq("text") & flat["profile"].isin(["layout", "ocr"])]
    if len(layout_text):
        starts, ends = _run_bounds(layout_text["block_id"].to_numpy())
        raw = layout_text["text"].to_numpy()
        joined = pd.DataFrame(
            {
                "block_id": layout_text["block_id"].to_numpy()[starts],
                "doc_idx": layout_text["doc_idx"].to_numpy()[starts],
                "profile": layout_text["profile"].to_numpy()[starts],
                "para": [
                    textproc.smart_join(list(raw[s:e]))
                    for s, e in zip(starts, ends)
                ],
            }
        )
        ocr_mask = joined["profile"].eq("ocr")
        if ocr_mask.any():
            joined.loc[ocr_mask, "para"] = textproc.ocr_postprocess(
                joined.loc[ocr_mask, "para"]
            ).str.strip()
        cls = textproc.classify_blocks(joined["para"])
        levels = textproc.heading_levels(joined["para"])
        heading_md = pd.Series(
            ["#" * lv + " " + t for lv, t in zip(levels, joined["para"])],
            index=joined.index,
        )
        table_md = textproc.format_table_rows(joined["para"])
        joined["text"] = np.select(
            [cls.eq("heading"), cls.eq("list_item"), cls.eq("table_row")],
            [heading_md, "- " + joined["para"], table_md],
            default=joined["para"],
        )
        joined["kind"] = np.select(
            [cls.eq("heading"), cls.eq("list_item"), cls.eq("table_row")],
            ["heading", "list", "table_row"],
            default="paragraph",
        )
        joined["media_ref"] = np.where(
            cls.eq("heading"), "h" + levels.astype(str), ""
        )
        out_parts.append(
            joined.reset_index()[["block_id", "doc_idx", "kind", "text", "media_ref"]]
        )

    # code runs: join lines, wrap in fences (same slice-reduce as above)
    code = flat[flat["kind"].eq("code")]
    if len(code):
        starts, ends = _run_bounds(code["block_id"].to_numpy())
        lines = code["line"].to_numpy()
        langs = code["media_ref"].to_numpy()[starts]
        out_parts.append(
            pd.DataFrame(
                {
                    "block_id": code["block_id"].to_numpy()[starts],
                    "doc_idx": code["doc_idx"].to_numpy()[starts],
                    "kind": "code",
                    "text": [
                        "```" + lang + "\n" + "\n".join(lines[s:e]) + "\n```"
                        for lang, s, e in zip(langs, starts, ends)
                    ],
                    "media_ref": langs,
                }
            )
        )

    # table runs: pivot per table (cell text cleaned batch-wide, the
    # per-table work is numpy-only slice-reduce)
    tables = flat[flat["kind"].eq("table_cell")]
    if len(tables):
        clean = (
            tables["text"].str.replace("\n", " ", regex=False).str.strip().to_numpy()
        )
        bids = tables["block_id"].to_numpy()
        docs_np = tables["doc_idx"].to_numpy()
        caps = tables["capped"].to_numpy()
        rows_np = tables["_trow"].to_numpy()
        cols_np = tables["_tcol"].to_numpy()
        tids = tables["_tid"].to_numpy()
        merged = tables["_tmerged"].to_numpy()
        trows = []
        for s, e in zip(*_run_bounds(bids)):
            for j, (k, t, r) in enumerate(
                _render_table(
                    rows_np[s:e], cols_np[s:e], clean[s:e],
                    tids[s], bool(caps[s]), bool(merged[s:e].any()),
                )
            ):
                # notices order before the table at the same block position
                trows.append(
                    {
                        "block_id": bids[s] + j / 10.0,
                        "doc_idx": int(docs_np[s]),
                        "kind": k,
                        "text": t,
                        "media_ref": r,
                    }
                )
        out_parts.append(pd.DataFrame(trows))

    if out_parts:
        all_blocks = pd.concat(out_parts, ignore_index=True)
        all_blocks = all_blocks.sort_values("block_id", kind="stable")
    else:
        all_blocks = pd.DataFrame(columns=["block_id", "doc_idx", "kind", "text", "media_ref"])

    # -- per-doc assembly: doc_idx is nondecreasing in block_id order, so
    # per-doc reduction is one contiguous slice pass (no pandas groupby)
    markdown: list[str] = [""] * n_docs
    n_blocks: list[int] = [0] * n_docs
    spans_out: list[list[dict[str, Any]]] = [[] for _ in range(n_docs)]
    if len(all_blocks):
        docs_arr = all_blocks["doc_idx"].to_numpy()
        texts_arr = all_blocks["text"].to_numpy()
        if build_spans:
            kinds_arr = all_blocks["kind"].to_numpy()
            refs_arr = all_blocks["media_ref"].to_numpy()
        for s, e in zip(*_run_bounds(docs_arr)):
            d = int(docs_arr[s])
            markdown[d] = "\n\n".join(texts_arr[s:e])
            n_blocks[d] = e - s
            if build_spans:
                spans_out[d] = [
                    {"kind": k, "text": t, "media_ref": r, "offset": j}
                    for j, (k, t, r) in enumerate(
                        zip(kinds_arr[s:e], texts_arr[s:e], refs_arr[s:e])
                    )
                ]

    out = {
        "doc_id": doc_ids.reset_index(drop=True),
        "markdown": pd.Series(markdown, dtype=object),
    }
    if build_spans:
        out["out_spans"] = spans_out
    out["n_blocks"] = pd.Series(n_blocks, dtype="int64")
    out["profile"] = profiles
    return pd.DataFrame(out)
