"""Correctness gate: every check adds to ``attempted`` (docs checked)
and ``failed`` (docs missing, duplicated, unexpected or mismatched);
``failed / attempted`` is the reported ``failed_frac``. A crashed run
or an output digest that differs from its golden fails everything
(``failed_frac`` 1.0)."""

from __future__ import annotations

import hashlib
import json
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

from docstrange_spark.kernels import mdjson
from docstrange_spark.kernels.assembly import assemble_batch

MEGA_MIN_SPANS = 1000  # every input doc at least this long is checked


class Gate:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def fail_all(self, note: str) -> None:
        """A failure no doc count can bound: failed_frac becomes 1.0."""
        self.attempted = max(self.attempted, 1)
        self.failed = self.attempted
        self.notes.append(note)

    def ids_exactly_once(self, expected: list[str], got: list[str], what: str) -> None:
        """Each expected id appears exactly once in ``got``, and nothing else does."""
        counts = Counter(got)
        want = set(expected)
        bad = {d for d in want if counts.get(d, 0) != 1}
        extra = set(counts) - want
        self.attempted += len(want)
        self.failed += min(len(want), len(bad) + len(extra))
        if bad or extra:
            self.notes.append(f"{what}: {len(bad)} missing/duplicated, {len(extra)} unexpected")

    def equal(self, n_docs: int, got, want, what: str) -> None:
        self.attempted += n_docs
        if got != want:
            self.failed += n_docs
            self.notes.append(f"{what}: {str(got)[:80]!r} != {str(want)[:80]!r}")


def read_table(path: str, columns: list[str] | None = None):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def ids_of(path: str, col: str = "doc_id") -> list[str]:
    return read_table(path, [col])[col].to_pylist()


def output_digest(path: str, columns: list[str]) -> str:
    """sha256 over ``columns`` of the output rows sorted by doc_id,
    independent of file layout and partitioning."""
    t = read_table(path, columns).sort_by("doc_id")
    h = hashlib.sha256()
    for col in columns:
        h.update(json.dumps(t[col].to_pylist(), sort_keys=True, ensure_ascii=False).encode())
    return h.hexdigest()


def sample_ids(spans_path: str, seed: int, n: int) -> list[str]:
    """A seeded sample of ``n`` input doc ids plus every doc of at
    least ``MEGA_MIN_SPANS`` spans."""
    t = read_table(spans_path, ["doc_id", "spans"])
    ids = np.array(t["doc_id"].to_pylist(), dtype=object)
    sizes = np.asarray(pc.fill_null(pc.list_value_length(t["spans"]), 0))
    order = np.argsort(ids)
    rng = np.random.default_rng([seed, 5])
    picked = set(ids[order][rng.choice(len(ids), size=min(n, len(ids)), replace=False)])
    picked |= set(ids[sizes >= MEGA_MIN_SPANS])
    return sorted(picked)


def input_rows(spans_path: str, doc_ids: list[str]) -> dict[str, list[dict]]:
    t = ds.dataset(spans_path, format="parquet").to_table(
        filter=pc.field("doc_id").isin(doc_ids)
    )
    return dict(zip(t["doc_id"].to_pylist(), t["spans"].to_pylist()))


def expected_row(doc_id: str, spans: list[dict]) -> dict:
    """One document's output computed by calling the kernels directly
    on that document alone, unsalted, unbatched and unsegmented."""
    a = assemble_batch(pd.Series([doc_id]), pd.Series([spans]), build_spans=False)
    md = a["markdown"].iat[0]
    return {
        "markdown": md,
        "n_blocks": int(a["n_blocks"].iat[0]),
        "profile": a["profile"].iat[0],
        "json": json.dumps(
            {**mdjson.parse_markdown(md), "format": "structured_json"},
            ensure_ascii=False,
            sort_keys=True,
        ),
    }


def check_sample(gate: Gate, spans_path: str, out_path: str, doc_ids: list[str]) -> None:
    """Each sampled doc's row of an ``extract(formats=("json",),
    include_spans=False)`` output equals the direct kernel calls: the
    span-sequence invariant across salting, batching and segmentation."""
    inputs = input_rows(spans_path, doc_ids)
    t = ds.dataset(out_path, format="parquet").to_table(filter=pc.field("doc_id").isin(doc_ids))
    got = {r["doc_id"]: r for r in t.to_pylist()}
    gate.attempted += len(doc_ids)
    for doc_id in doc_ids:
        want = expected_row(doc_id, inputs[doc_id])
        row = got.get(doc_id)
        if row is None or any(row.get(k) != v for k, v in want.items()):
            gate.failed += 1
            gate.notes.append(f"kernel mismatch: {doc_id}")
