"""docstrange_spark — a PySpark-native document-to-structured-format engine.

A from-scratch re-expression of the capabilities of smoab/docstrange
(reference read-only at /root/reference) on Apache Spark:

- input: a table of interleaved text+media documents
  ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
- extraction: one Arrow-batched ``mapInArrow`` kernel per partition that
  reads the span ListArray's child arrays directly, tokenizes the span stream, strips DOM boilerplate, orders layout blocks,
  recovers table/heading structure and emits Markdown (the engine IR,
  mirroring the reference's markdown-as-IR design, see
  ``/root/reference/docstrange/result.py:689-702``)
- renditions: Markdown -> structured JSON / HTML / CSV / text as scalar
  pandas UDFs (reference: ``result.py:704-1106``)
- navigation: sections / hierarchy / chunking / search as relational
  DataFrame ops (reference: ``mcp_server_module/server.py:94-337``)
- scale: salted repartitioning by xxhash64(doc_id), mega-document routing,
  per-partition checkpoint manifests with lineage for resume.

No per-row Python UDFs anywhere: kernels are vectorized pandas/NumPy over
Arrow batches.
"""

__version__ = "0.1.0"

from docstrange_spark.session import get_spark  # noqa: F401
