"""Seeded benchmark inputs, generated before any timing and cached.

Span corpora come from ``datagen.scale_spans(seed=...)`` plus
benchmark-owned layout mega-documents longer than the extract kernel's
span budget. Document tables (doc_id, text, lang, source, n_chars) for
the corpus chain come from a generator of this module that reproduces
the measured shape of the sf test data's documents table, near-duplicate
copies included, so the dedup stage has pairs to verify.

Each input is cached under the cache directory, keyed by its spec, the
seed, ``datagen.DATAGEN_VERSION`` and ``INPUTS_VERSION``; its doc and
span counts and content digest live in ``_INPUT.json`` next to the
data (files starting with ``_`` are invisible to Spark and to the
manifest layer's snapshot fingerprint).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from docstrange_spark import datagen
from docstrange_spark.operators import spanize

# bump whenever this module's generators change
INPUTS_VERSION = "b4"

MARKER = "_INPUT.json"

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
SPAN_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPAN_TYPE)])

# document-table shape measured on the sf0.1 test data's documents.parquet
# (5000 docs): 30 distinct words drawn uniformly, 10-99 words per
# original, a language label independent of the text (41% en, 14.75%
# each of zh/es/fr/de), source = src{doc_id % 20}, and 5% of the docs a
# copy of another doc with " dup" appended (a copy may copy a copy, and
# two copies may share an original: 256 verified pairs, 584 LSH
# candidates on that table)
CORPUS_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
N_SOURCES = 20
NEAR_DUP_FRAC = 0.05
MEGA_ID_BASE = 90_000_000  # above every scale_spans index


def cache_key(name: str, spec: dict, seed: int) -> str:
    fp = hashlib.sha1(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:10]
    return f"{name}-s{seed}-{datagen.DATAGEN_VERSION}-{INPUTS_VERSION}-{fp}"


def layout_megadoc(k: int, seed: int, n_spans: int) -> tuple[str, list[dict]]:
    """One layout-profile document of ``n_spans`` text spans in runs of
    1-4 consecutive offsets separated by gaps: the assembly merges each
    run into one paragraph, and the kernel segments the document at the
    gaps when ``n_spans`` exceeds its span budget."""
    rng = np.random.default_rng([seed, k, 7])
    vocab = np.array(datagen.VOCAB)
    n_words = rng.integers(4, 14, n_spans)
    words = vocab[rng.integers(0, len(vocab), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    run_len = rng.integers(1, 5, n_spans)
    gap = np.zeros(n_spans, dtype=np.int64)
    pos, i = 0, 0
    while i < n_spans:  # offset jumps by 2-4 at each run boundary
        i += int(run_len[pos])
        if i < n_spans:
            gap[i] = int(rng.integers(1, 4))
        pos += 1
    offsets = np.arange(n_spans) + np.cumsum(gap)
    spans = []
    start = 0
    for j in range(n_spans):
        spans.append(
            {
                "kind": "text",
                "text": " ".join(words[start : ends[j]]),
                "media_ref": "",
                "offset": int(offsets[j]),
            }
        )
        start = ends[j]
    return f"mega_doc-{MEGA_ID_BASE + k:08d}", spans


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """Documents table (doc_id, text, lang, source, n_chars) with the
    shape of the sf test data; a pure function of (n_docs, seed)."""
    rng = np.random.default_rng([seed, 11])
    vocab = np.array(CORPUS_VOCAB)
    n_words = rng.integers(10, 100, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - n : e]) for e, n in zip(ends, n_words)]
    # each copy takes a doc that is final already (an original or an
    # earlier copy), so every copy keeps its partner
    copies = np.sort(rng.choice(n_docs, int(n_docs * NEAR_DUP_FRAC), replace=False))
    pending = set(copies.tolist())
    for i in copies.tolist():
        pending.discard(i)
        j = i
        while j == i or j in pending:
            j = int(rng.integers(0, n_docs))
        texts[i] = texts[j] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _string_digest(h, arr: pa.Array) -> None:
    h.update("\x1f".join("\x00" if v is None else v for v in arr.to_pylist()).encode())
    h.update(b"\x1e")


def span_digest(path: str) -> tuple[int, int, str]:
    """(docs, spans, sha256) of a span table dir, independent of file
    layout and row order."""
    t = ds.dataset(path, format="parquet").to_table().sort_by("doc_id")
    spans = t["spans"].combine_chunks()
    lengths = pc.fill_null(pc.list_value_length(spans), -1)
    flat = pc.list_flatten(spans)
    h = hashlib.sha256()
    _string_digest(h, t["doc_id"].combine_chunks())
    h.update(np.asarray(lengths, dtype=np.int64).tobytes())
    for field in ("kind", "text", "media_ref"):
        _string_digest(h, pc.struct_field(flat, field))
    h.update(np.asarray(pc.fill_null(pc.struct_field(flat, "offset"), -1), dtype=np.int64).tobytes())
    return t.num_rows, len(flat), h.hexdigest()


def docs_digest(path: str) -> tuple[int, str]:
    t = ds.dataset(path, format="parquet").to_table().sort_by("doc_id")
    h = hashlib.sha256()
    h.update(np.asarray(t["doc_id"], dtype=np.int64).tobytes())
    for col in ("text", "lang", "source"):
        _string_digest(h, t[col].combine_chunks())
    return t.num_rows, h.hexdigest()


def _commit(tmp: str, dst: str, info: dict) -> dict:
    with open(os.path.join(tmp, MARKER), "w") as f:
        json.dump(info, f, indent=1)
    os.replace(tmp, dst)
    return info


def _cached(dst: str) -> dict | None:
    try:
        with open(os.path.join(dst, MARKER)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _fresh_tmp(dst: str) -> str:
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    return tmp


def span_corpus(spark, dst: str, seed: int, n_docs: int, mega_every: int = 0,
                megadocs: int = 0, megadoc_spans: int = 0) -> dict:
    """Span table at ``dst``: ``n_docs`` scaled docs (every
    ``mega_every``-th one a 2000-span document) plus ``megadocs`` layout
    documents of ``megadoc_spans`` spans each."""
    info = _cached(dst)
    if info is not None:
        return info
    tmp = _fresh_tmp(dst)
    datagen.scale_spans(spark, n_docs, seed=seed, mega_every=mega_every).write.parquet(tmp)
    if megadocs:
        rows = [layout_megadoc(k, seed, megadoc_spans) for k in range(megadocs)]
        table = pa.Table.from_pylist(
            [{"doc_id": d, "spans": s} for d, s in rows], schema=SPAN_SCHEMA
        )
        pq.write_table(table, os.path.join(tmp, "part-megadocs.parquet"))
    n, n_spans, digest = span_digest(tmp)
    return _commit(tmp, dst, {"docs": n, "spans": n_spans, "digest": digest, "seed": seed})


def doc_corpus(dst: str, seed: int, n_docs: int) -> dict:
    info = _cached(dst)
    if info is not None:
        return info
    tmp = _fresh_tmp(dst)
    os.makedirs(tmp)
    pq.write_table(
        pa.Table.from_pandas(documents(n_docs, seed), preserve_index=False),
        os.path.join(tmp, "part-00000.parquet"),
    )
    n, digest = docs_digest(tmp)
    return _commit(tmp, dst, {"docs": n, "spans": 0, "digest": digest, "seed": seed})


def spanized_corpus(spark, dst: str, docs_path: str) -> dict:
    """The span table the corpus chain's extract stage sees
    (``spanize`` over a documents table), materialized for the layer
    ladder."""
    info = _cached(dst)
    if info is not None:
        return info
    tmp = _fresh_tmp(dst)
    spanize.spanize(spark.read.parquet(docs_path)).write.parquet(tmp)
    n, n_spans, digest = span_digest(tmp)
    return _commit(tmp, dst, {"docs": n, "spans": n_spans, "digest": digest})
