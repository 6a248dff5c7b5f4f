"""The extraction pipeline: span table -> markdown + block stream
(+ optionally fused renditions).

Scale design (the north rule's partitioning/shuffle/skew clause):

- **salted repartition by xxhash64(doc_id)**: documents spread uniformly
  regardless of doc_id distribution, defusing producer skew (e.g. one
  crawl batch's docs landing in one input file);
- **span-budget batch slicing** (in-kernel): each Arrow batch is cut on
  the cumulative list lengths so no kernel invocation holds more than
  ``MAX_BATCH_SPANS`` spans — a mega-document (100× median span count)
  costs one small sub-batch, not an OOM, at any ``maxRecordsPerBatch``
  setting;
- **optional two-tier mega routing** (``mega_threshold``): documents with
  ``size(spans) >= threshold`` shuffle into their own partition set so a
  straggler mega-doc occupies one task. Off by default — it costs a
  second scan+shuffle, which only pays off when mega docs are both huge
  (>10^5 spans) and frequent; the salted spread plus batch slicing
  handles the common case in one exchange;
- **fused renditions**: ``formats=("json", ...)`` computes renditions
  inside the same Python worker as assembly. Chaining a separate pandas
  UDF would double the Python processes per task (kernel worker + UDF
  worker), oversubscribing CPUs at high parallelism — measured 2×
  slower at local[32] — and ships the markdown through Arrow twice.

The kernel is ``mapInArrow``: it builds its flat span frame from the
``spans`` ListArray's list lengths and child arrays (no per-span Python
dicts) and returns Arrow batches — no per-row Python.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema
from pyspark.sql.types import BooleanType, IntegerType, StringType
from pyspark.sql.types import StructField, StructType

from docstrange_spark.kernels.assembly import (
    SPAN_LIST_TYPE,
    assemble_frame,
    merge_mask,
    profile_of,
    span_frame,
)

_STR = StringType()

# the doc_meta field spec — single source of truth for the fused-kernel
# schema, the kernel's dict extraction, and renditions.META_SCHEMA
META_FIELDS: tuple[tuple[str, object, object], ...] = (
    ("total_sections", IntegerType(), 0),
    ("max_heading_level", IntegerType(), 0),
    ("has_tables", BooleanType(), False),
    ("has_code_blocks", BooleanType(), False),
    ("has_lists", BooleanType(), False),
    ("has_images", BooleanType(), False),
)
META_SCHEMA = StructType([StructField(n, t) for n, t, _ in META_FIELDS])

RENDITION_COLS = {
    "json": StructField("json", _STR),
    "html": StructField("html", _STR),
    "csv": StructField("csv", _STR),
    # processor-selected variants: R6 (GPU-badged page,
    # gpu_processor.py:60-78) and R7 (cloud flat-json envelope,
    # cloud_processor.py:168-175) as first-class fused renditions
    "html_gpu": StructField("html_gpu", _STR),
    "json_cloud": StructField("json_cloud", _STR),
    "meta": StructField("doc_meta", META_SCHEMA),
}

# rendition column emission order (schema construction)
_FORMAT_ORDER = ("json", "html", "csv", "html_gpu", "json_cloud", "meta")

# max spans per kernel invocation (memory ceiling per Python worker)
MAX_BATCH_SPANS = 1 << 17

# the kernel's input batch, for callers that hand it pandas frames
_INPUT_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_LIST_TYPE)])


def _slice_by_span_budget(
    batch: pa.RecordBatch, budget: int
) -> Iterator[pa.RecordBatch]:
    """Consecutive row slices of ``batch`` holding at most ``budget``
    spans each, cut on the cumulative list lengths; a row over the
    budget sits alone in its slice."""
    cum = np.cumsum(batch.column("spans").value_lengths().fill_null(0).to_numpy())
    start = 0
    while start < batch.num_rows:
        base = cum[start - 1] if start else 0
        end = max(start + 1, int(np.searchsorted(cum, base + budget, side="right")))
        yield batch.slice(start, end - start)
        start = end


# ---------------------------------------------------------------------------
# within-row segmentation: ONE document whose span count exceeds the
# budget is assembled in slices of its own span frame and merged
# order-preservingly, so a 10^6-span mega-doc costs a sequence of
# bounded kernel invocations instead of one worker-sized allocation,
# and never becomes Python dicts. Cuts land only where the kernel's own
# ``merge_mask`` is False, so no block straddles a cut and the
# segmented output is byte-identical to the unsegmented one. A single
# run larger than the budget forms one oversized slice (its semantics
# — smart join, grid pivot — need the whole run); markup documents are
# never segmented (the DOM walk needs the whole tag tree).


def _segments(frame: pd.DataFrame, budget: int) -> list[tuple[int, int]]:
    """(start, end) row slices of one document's ``span_frame``: each
    slice but the last holds at least ``budget`` spans and ends at the
    first block start after that."""
    starts = np.flatnonzero(~merge_mask(frame).to_numpy())
    bounds = [0]
    while True:
        j = int(np.searchsorted(starts, bounds[-1] + budget))
        if j == len(starts):
            break
        bounds.append(int(starts[j]))
    bounds.append(len(frame))
    return list(zip(bounds, bounds[1:]))


def _assemble_megadoc(
    doc_id: str, spans: pa.Array, build_spans: bool, budget: int
) -> pd.DataFrame:
    """Assemble the one-row ``spans`` ListArray of ``doc_id`` segment
    by segment."""
    ids = pd.Series([doc_id])
    frame = span_frame(ids, spans)
    md_parts: list[str] = []
    spans_out: list[dict] = []
    n_blocks = 0
    for s, e in _segments(frame, budget):
        part = assemble_frame(
            ids, frame.iloc[s:e].reset_index(drop=True), build_spans=build_spans
        )
        # gate on block count, NOT markdown truthiness: blocks with empty
        # text still occupy join positions (fuzz-found edge)
        if int(part["n_blocks"].iat[0]):
            md_parts.append(part["markdown"].iat[0])
        if build_spans:
            for sp in part["out_spans"].iat[0]:
                spans_out.append({**sp, "offset": n_blocks + sp["offset"]})
        n_blocks += int(part["n_blocks"].iat[0])
    out: dict = {"doc_id": [doc_id], "markdown": ["\n\n".join(md_parts)]}
    if build_spans:
        out["out_spans"] = [spans_out]
    out["n_blocks"] = [n_blocks]
    out["profile"] = [profile_of(doc_id)]
    return pd.DataFrame(out)


def _schema_for(formats: tuple[str, ...], include_spans: bool = True) -> StructType:
    fields = [StructField("doc_id", _STR), StructField("markdown", _STR)]
    if include_spans:
        # the block stream has the input's span element type
        fields.append(StructField("out_spans", from_arrow_type(SPAN_LIST_TYPE)))
    fields += [StructField("n_blocks", IntegerType()), StructField("profile", _STR)]
    return StructType(
        fields + [RENDITION_COLS[f] for f in _FORMAT_ORDER if f in formats]
    )


BASE_SCHEMA = _schema_for(())


def _make_kernel(formats: tuple[str, ...] = (), include_spans: bool = True):
    out_schema = to_arrow_schema(_schema_for(formats, include_spans))

    def kernel(
        batches: Iterator[pa.RecordBatch | pd.DataFrame],
    ) -> Iterator[pa.RecordBatch]:
        # renditions imported lazily so the worker pays only for what it uses
        if formats:
            from docstrange_spark.kernels import mdcsv, mdhtml, mdjson

        def _finish(out: pd.DataFrame) -> pa.RecordBatch:
            if {"json", "meta", "json_cloud"} & set(formats):
                # one parse per doc feeds the JSON rendition, the typed
                # metadata struct, AND the cloud envelope
                parsed = out["markdown"].map(mdjson.parse_markdown)
                if "json" in formats:
                    out["json"] = parsed.map(
                        lambda d: json.dumps(
                            {**d, "format": "structured_json"},
                            ensure_ascii=False,
                            sort_keys=True,
                        )
                    )
                if "json_cloud" in formats:
                    # R7: the cloud processor's flat-json result shape
                    # (cloud_processor.py:168-175) around the same parse
                    out["json_cloud"] = parsed.map(
                        lambda d: json.dumps(
                            {"document": d["document"], "format": "cloud_flat_json"},
                            ensure_ascii=False,
                            sort_keys=True,
                        )
                    )
                if "meta" in formats:
                    out["doc_meta"] = parsed.map(
                        lambda d: {
                            k: d["document"]["metadata"].get(k, dflt)
                            for k, _, dflt in META_FIELDS
                        }
                    )
            if "html" in formats or "html_gpu" in formats:
                # one page render feeds both the plain and badged variants
                pages = out["markdown"].map(mdhtml.markdown_to_html_page)
                if "html" in formats:
                    out["html"] = pages
                if "html_gpu" in formats:
                    # R6: the GPU processor's badged page
                    # (gpu_processor.py:60-78)
                    out["html_gpu"] = pages.map(mdhtml.add_gpu_badge)
            if "csv" in formats:
                out["csv"] = out["markdown"].map(mdcsv.markdown_to_csv)
            return pa.RecordBatch.from_pandas(
                out, schema=out_schema, preserve_index=False
            )

        for batch in batches:
            if isinstance(batch, pd.DataFrame):
                # pandas callers (bench.py's skew probe) convert once here
                batch = pa.RecordBatch.from_pandas(
                    batch[["doc_id", "spans"]],
                    schema=_INPUT_SCHEMA,
                    preserve_index=False,
                )
            if not batch.num_rows:
                continue
            spans = batch.column("spans")
            big = spans.value_lengths().fill_null(0).to_numpy() > MAX_BATCH_SPANS
            if big.any():
                # within-row segmentation for mega docs (markup excluded:
                # the DOM walk needs the whole tag tree)
                doc_ids = batch.column("doc_id").to_pylist()
                is_mega = big & np.array([profile_of(d) != "markup" for d in doc_ids])
                for i in np.flatnonzero(is_mega):
                    yield _finish(
                        _assemble_megadoc(
                            doc_ids[i],
                            spans.slice(i, 1),
                            build_spans=include_spans,
                            budget=MAX_BATCH_SPANS,
                        )
                    )
                batch = batch.filter(pa.array(~is_mega))
            for chunk in _slice_by_span_budget(batch, MAX_BATCH_SPANS):
                ids = chunk.column("doc_id").to_pandas()
                # include_spans=False skips building AND Arrow-shipping the
                # block stream (the fattest column) on the throughput path
                yield _finish(
                    assemble_frame(
                        ids,
                        span_frame(ids, chunk.column("spans")),
                        build_spans=include_spans,
                    )
                )

    return kernel


def extract(
    df: DataFrame,
    parallelism: int | None = None,
    mega_threshold: int | None = None,
    salt: bool = True,
    formats: tuple[str, ...] = (),
    include_spans: bool = True,
) -> DataFrame:
    """Run the extraction kernel over a span table
    ``(doc_id string, spans array<struct<...>>)``.

    Returns ``(doc_id, markdown, out_spans, n_blocks, profile[,
    renditions...])``.

    The kernel is ``mapInArrow``: ``mapInPandas`` would turn every span
    struct into a Python dict before the kernel sees it. On a 4-core
    host (local[4], 10k scaled docs, median of 5) an identity stage over
    the span column took 1.21 s through ``mapInPandas`` and 0.81 s
    through ``mapInArrow``.
    """
    spark = df.sparkSession
    n_part = parallelism or int(spark.conf.get("spark.sql.shuffle.partitions"))
    kernel = _make_kernel(formats, include_spans)
    schema = _schema_for(formats, include_spans)
    base = df.select("doc_id", "spans")

    if not salt:
        return base.mapInArrow(kernel, schema=schema)

    if mega_threshold is None:
        return base.repartition(n_part, F.xxhash64("doc_id")).mapInArrow(
            kernel, schema=schema
        )

    sized = base.select("doc_id", "spans", F.size("spans").alias("_n_spans"))
    small = (
        sized.where(F.col("_n_spans") < mega_threshold)
        .repartition(n_part, F.xxhash64("doc_id"))
        .drop("_n_spans")
    )
    big = (
        sized.where(F.col("_n_spans") >= mega_threshold)
        .repartition(n_part, F.xxhash64("doc_id"))
        .drop("_n_spans")
    )
    return small.mapInArrow(kernel, schema=schema).unionByName(
        big.mapInArrow(kernel, schema=schema)
    )
