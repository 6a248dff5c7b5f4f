"""Rendition operators R1-R5: markdown -> {markdown, text, html, json, csv}.

Pure string->string functions, so they are scalar pandas UDFs (Arrow
batch transfer, regexes compiled once per executor at module import —
the Spark analog of the reference precompiling patterns in ``__init__``,
``/root/reference/docstrange/result.py:19-29,362-371``).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from docstrange_spark.kernels import mdcsv, mdhtml, mdjson

# DataType instances (not DDL strings) so the UDFs are definable at module
# import, before any SparkSession exists on the worker driver


@pandas_udf(StringType())
def md_to_html_body(md: pd.Series) -> pd.Series:
    return md.fillna("").map(mdhtml.markdown_to_html_body)


@pandas_udf(StringType())
def md_to_html_page(md: pd.Series) -> pd.Series:
    return md.fillna("").map(mdhtml.markdown_to_html_page)


@pandas_udf(StringType())
def md_to_json(md: pd.Series) -> pd.Series:
    return md.fillna("").map(
        lambda m: json.dumps(mdjson.extract_data(m), ensure_ascii=False, sort_keys=True)
    )


@pandas_udf(StringType())
def md_to_csv(md: pd.Series) -> pd.Series:
    return md.fillna("").map(mdcsv.markdown_to_csv)


# structured (typed) metadata — lets downstream queries stay relational.
# Field spec shared with the fused extraction kernel (extract.META_FIELDS)
# so the shapes (fused schema, UDF schema, extraction defaults) cannot drift.
from docstrange_spark.operators.extract import META_FIELDS, META_SCHEMA  # noqa: E402


@pandas_udf(META_SCHEMA)
def md_doc_metadata(md: pd.Series) -> pd.DataFrame:
    rows = []
    for m in md.fillna(""):
        meta = mdjson.parse_markdown(m)["document"]["metadata"]
        rows.append({k: meta.get(k, dflt) for k, _, dflt in META_FIELDS})
    return pd.DataFrame(rows, columns=[n for n, _, _ in META_FIELDS])


def with_renditions(extracted: DataFrame, formats: tuple[str, ...] = ("html", "json", "csv")) -> DataFrame:
    """Attach rendition columns to an extracted DataFrame. ``markdown``
    and ``text`` are identity renditions (reference R1/R2)."""
    out = extracted
    if "html" in formats:
        out = out.withColumn("html", md_to_html_page(F.col("markdown")))
    if "json" in formats:
        out = out.withColumn("json", md_to_json(F.col("markdown")))
    if "csv" in formats:
        out = out.withColumn("csv", md_to_csv(F.col("markdown")))
    if "meta" in formats:
        out = out.withColumn("doc_meta", md_doc_metadata(F.col("markdown")))
    return out


@pandas_udf(StringType())
def _json_combine_envelope(payload_lists: pd.Series) -> pd.Series:
    """The reference's multi-file JSON wrapper
    (``cli.py:505-518``): ``{"results": [...], "count": N, "errors": []}``
    serialized with indent=2 and the reference's default ensure_ascii=True
    (non-ASCII escapes as \\uXXXX, byte-identical for non-ASCII corpora).
    Inner documents are our canonical (sorted-keys) parses — an
    intentional deviation from the reference's insertion-order inner
    keys, pinned by the byte-level test in test_combine."""
    return payload_lists.map(
        lambda lst: json.dumps(
            {
                "results": [json.loads(s) for s in lst],
                "count": len(lst),
                "errors": [],
            },
            indent=2,
        )
    )


def combine_documents(extracted: DataFrame, fmt: str = "markdown") -> DataFrame:
    """Multi-document combination, the CLI's multi-file output
    (``/root/reference/docstrange/cli.py:488-538``): markdown/text joined
    with ``\\n\\n---\\n\\n``, html with ``\\n\\n<hr>\\n\\n``, json wrapped
    in the ``{"results", "count", "errors"}`` envelope (indent=2), csv as
    ``=== File {i} ===`` sections where i keeps its position among ALL
    documents and empty-table documents are skipped (``cli.py:523-535``).
    Returns a 1-row DataFrame. Deterministic: documents ordered by
    doc_id."""
    if fmt == "csv":
        # single-output concat: every combine_documents call collapses
        # to ONE row, so the global numbering window is inherently
        # single-partition over the CLI's selected file set (bounded by
        # what a user passes to combine, not the corpus); lit(0)
        # silences the "No Partition Defined" warning
        w = Window.partitionBy(F.lit(0)).orderBy("doc_id")
        numbered = extracted.select("doc_id", "csv").withColumn(
            "i", F.row_number().over(w)
        )
        kept = numbered.where(F.trim(F.col("csv")) != "").select(
            "i",
            F.concat(
                F.lit("=== File "), F.col("i"), F.lit(" ===\n"), F.col("csv")
            ).alias("payload"),
        )
        return kept.agg(
            F.concat_ws(
                "\n\n",
                F.expr(
                    "transform(array_sort(collect_list(struct(i, payload))),"
                    " x -> x.payload)"
                ),
            ).alias("combined"),
            F.count("*").alias("count"),
        )
    if fmt in ("json", "json_cloud"):
        # the cloud-envelope variant combines like json: its payloads
        # are JSON documents, so they belong in the results array
        sorted_payloads = F.expr(
            "transform(array_sort(collect_list(struct(doc_id, payload))),"
            " x -> x.payload)"
        )
        return (
            extracted.select("doc_id", F.col(fmt).alias("payload"))
            .agg(
                sorted_payloads.alias("payloads"),
                F.count("*").alias("count"),
            )
            .select(
                _json_combine_envelope(F.col("payloads")).alias("combined"),
                "count",
            )
        )
    # html_gpu pages join like html (reference <hr> separator)
    sep = "\n\n<hr>\n\n" if fmt in ("html", "html_gpu") else "\n\n---\n\n"
    col = "markdown" if fmt in ("markdown", "text") else fmt
    # array_sort on (doc_id, payload) structs gives a deterministic join
    # order regardless of shuffle arrival order
    return extracted.select("doc_id", F.col(col).alias("payload")).agg(
        F.concat_ws(
            sep,
            F.expr(
                "transform(array_sort(collect_list(struct(doc_id, payload))),"
                " x -> x.payload)"
            ),
        ).alias("combined"),
        F.count("*").alias("count"),
    )
