"""Column helpers + Structured Streaming pipeline + plan-shape checks
(pushdown/pruning — the scale-hygiene assertions)."""

import time

import pytest
from pyspark.sql import functions as F

from docstrange_spark import datagen
from docstrange_spark import functions as dsf
from docstrange_spark import streaming
from docstrange_spark.operators import extract


def test_span_column_helpers(spark):
    df = datagen.fixture_spans(spark)
    row = (
        df.where(F.col("doc_id").startswith("html_page"))
        .select(
            dsf.span_kind_counts().alias("counts"),
            dsf.drop_boilerplate_spans().alias("clean"),
            dsf.media_refs().alias("refs"),
        )
        .first()
    )
    assert row["counts"]["script"] == 1
    assert all(s["kind"] not in ("script", "style") for s in row["clean"])
    assert "/about" in row["refs"]

    # reading-order sort puts the pdf fixture's out-of-order pair right
    pdf_row = (
        df.where(F.col("doc_id").startswith("pdf_pages"))
        .select(dsf.spans_sorted().alias("s"))
        .first()
    )
    offs = [s["offset"] for s in pdf_row["s"]]
    assert offs == sorted(offs)

    text = (
        df.where(F.col("doc_id").startswith("md_structure"))
        .select(dsf.text_payload().alias("t"))
        .first()["t"]
    )
    assert text.startswith("Main Title This is the introduction")


def test_streaming_extract(spark, tmp_path):
    src = str(tmp_path / "stream_in")
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    datagen.fixture_spans(spark).write.parquet(src)

    stream = streaming.read_span_stream(spark, src, max_files=2)
    assert stream.isStreaming
    q = streaming.run_to_parquet(streaming.extract_stream(stream), out, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    batch = extract.extract(datagen.fixture_spans(spark), salt=False)
    a = {r["doc_id"]: r["markdown"] for r in got.collect()}
    b = {r["doc_id"]: r["markdown"] for r in batch.collect()}
    assert a == b

    # restart with nothing new: exactly-once, no duplicate rows
    q2 = streaming.run_to_parquet(
        streaming.extract_stream(streaming.read_span_stream(spark, src)), out, ckpt
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(out).count() == len(a)


def test_streaming_sessionization(spark, tmp_path):
    """Watermark + session_window: streaming result equals the batch
    result on a bounded input (availableNow drain, complete-on-append
    via parquet sink is not allowed for aggregations — use memory sink)."""
    # the streaming file source needs a directory, not a single file
    ev_dir = str(tmp_path / "events_dir")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").repartition(
        4
    ).write.parquet(ev_dir)
    batch = streaming.sessionize_events(spark.read.parquet(ev_dir))
    b = {(r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()}
    assert len(b) > 10

    def run_stream(watermark: str, name: str):
        stream = (
            spark.readStream.schema(spark.read.parquet(ev_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_dir)
        )
        sess = streaming.sessionize_events(stream, watermark=watermark)
        q = (
            sess.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["user_id"], r["session_start"]): r["n_events"]
            for r in spark.sql(f"select * from {name}").collect()
        }

    # watermark beyond the data's time span: nothing is late -> == batch
    s_all = run_stream("2000 hours", "sessions_all")
    assert s_all == b

    # tight watermark + shuffled file order: late events are dropped —
    # the defining watermark semantic (counts can only shrink)
    s_tight = run_stream("1 hour", "sessions_tight")
    assert all(s_tight.get(k, 0) <= v for k, v in b.items())
    assert sum(s_tight.values()) <= sum(b.values())


def test_streaming_stateful_first_seen_dedup(spark, tmp_path):
    """applyInPandasWithState: across micro-batches, each content hash is
    emitted exactly once with its first (min) doc_id."""
    src = str(tmp_path / "dup_docs")
    rows = [(f"d{i:03d}", f"hash{i % 7}") for i in range(40)]
    spark.createDataFrame(rows, "doc_id string, content_hash string").repartition(
        8
    ).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id string, content_hash string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    out = streaming.streaming_first_seen(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("firstseen")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from firstseen").collect()
    assert len(got) == 7  # one row per distinct hash, across all batches
    assert {r["content_hash"] for r in got} == {f"hash{i}" for i in range(7)}

    # batch fallback agrees on keepers
    batch = {
        r["content_hash"]: r["keeper_doc_id"]
        for r in streaming_batch_keepers(spark, src).collect()
    }
    assert set(batch) == {r["content_hash"] for r in got}


def streaming_batch_keepers(spark, src):
    return streaming.streaming_first_seen(spark.read.parquet(src))


def test_parquet_pushdown_and_pruning(spark, tmp_path):
    """Filters and projections must reach the scan: PushedFilters carries
    the predicate and ReadSchema holds only the selected columns."""
    p = str(tmp_path / "docs")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").write.parquet(p)
    df = (
        spark.read.parquet(p)
        .where(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan
    assert "n_chars" not in plan.split("ReadSchema")[1][:200]


def test_extract_plan_shape(spark):
    """Default plan: ONE salt exchange (hashpartitioning on xxhash64)
    feeding ONE Python kernel stage; two-tier routing doubles both only
    when explicitly requested."""
    plan = (
        extract.extract(datagen.fixture_spans(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "xxhash64(doc_id" in plan
    assert plan.count("MapInArrow") == 1

    plan2 = (
        extract.extract(datagen.fixture_spans(spark), mega_threshold=1000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan2.count("MapInArrow") == 2  # small tier + mega tier


def test_streaming_near_dup_matches_batch(spark, tmp_path):
    """Stateful LSH near-dup over a stream: drained availableNow across
    multiple micro-batches, the emitted pair set must equal the batch
    lsh_candidate_pairs result — cross-batch collisions prove the bucket
    state survives between micro-batches."""
    from pyspark.sql import functions as F

    from docstrange_spark.operators import dedup
    from docstrange_spark.streaming import streaming_near_dup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # duplicate 4 docs so pairs exist, split into TWO files so each
    # original and its duplicate land in different micro-batches
    picked = docs.orderBy("doc_id").limit(4)
    dup = picked.select((F.col("doc_id") + 100_000).alias("doc_id"), "text")
    src = str(tmp_path / "stream_src")
    docs.limit(40).coalesce(1).write.parquet(src)
    dup.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_pairs = streaming_near_dup(stream)
    sink = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "ckpt")
    (
        out_pairs.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(sink).collect()
    }
    batch_corpus = docs.limit(40).unionByName(dup)
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(batch_corpus).collect()
    }
    assert got == expected
    # the planted duplicates collide across micro-batches
    for r in picked.select("doc_id").collect():
        assert (r["doc_id"], r["doc_id"] + 100_000) in expected
        assert (r["doc_id"], r["doc_id"] + 100_000) in got


def test_streaming_near_dup_degenerate_bucket_chains(spark, tmp_path):
    """A degenerate bucket arriving in one micro-batch must not build
    O(n^2) pairs in the state task: above max_bucket_members the batch's
    members are chain-paired (linear output, component preserved)."""
    from pyspark.sql import functions as F

    from docstrange_spark.streaming import streaming_near_dup

    n = 500
    src = str(tmp_path / "degen_src")
    spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text appears on every page of this site").alias("text"),
    ).coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    sink = str(tmp_path / "degen_pairs")
    (
        streaming_near_dup(stream, max_bucket_members=50)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "degen_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in spark.read.parquet(sink).collect()
    }
    # chain pairing: n-1 distinct consecutive links (identical in all 4
    # bands), not C(500,2) ~ 125k pairs
    assert pairs == {(i, i + 1) for i in range(n - 1)}


def test_stateless_curation_ops_run_on_streams(spark, tmp_path):
    """The projection-only curation/quality operators (fineweb_filters,
    pii_scrub, hashed_tf, char_entropy, hash_split) must work UNCHANGED
    over readStream — zero-shuffle projections are streaming-safe by
    construction, and their batch output is the golden answer."""
    from docstrange_spark.operators import curation, text_analysis

    src = str(tmp_path / "docs_in")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.parquet(src)
    schema = docs.schema

    for name, op in [
        ("fineweb", lambda d: text_analysis.fineweb_filters(d)),
        ("pii", lambda d: text_analysis.pii_scrub(d)),
        ("entropy", lambda d: text_analysis.char_entropy(d)),
        ("split", lambda d: curation.hash_split(d).select("doc_id", "split")),
    ]:
        out = str(tmp_path / f"out_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        stream_df = op(spark.readStream.schema(schema).parquet(src))
        assert stream_df.isStreaming
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        exp = sorted(map(tuple, op(docs).collect()))
        assert got == exp, name


def test_clean_stream_matches_batch_chain(spark, tmp_path):
    """streaming.clean_stream (C4 line filter -> PII scrub, text column
    swapped in place) runs unchanged over readStream and its output
    equals the batch operators' clean_text chain applied in sequence —
    batch is the golden answer. Redactable PII is injected so the scrub
    stage provably does work."""
    from pyspark.sql import functions as F

    from docstrange_spark import streaming
    from docstrange_spark.operators import text_analysis

    src = str(tmp_path / "clean_in")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 9 == 0,
                F.concat(
                    F.col("text"),
                    F.lit("\ncontact us at ops@example.com or 10.0.0.1\n"
                          "short line\nrepeated footer line here today\n"
                          "repeated footer line here today"),
                ),
            ).otherwise(F.col("text")),
        )
    )
    docs.write.parquet(src)

    out = str(tmp_path / "clean_out")
    ckpt = str(tmp_path / "clean_ckpt")
    stream_df = streaming.clean_stream(
        spark.readStream.schema(docs.schema).parquet(src)
    )
    assert stream_df.isStreaming
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # golden: the batch operator chain (line_filters then pii_scrub on
    # its clean_text), joined back on doc_id
    lf = text_analysis.line_filters(docs).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    golden = text_analysis.pii_scrub(lf).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out).select("doc_id", "text").collect()
    }
    want = {r["doc_id"]: r["text"] for r in golden.collect()}
    assert got == want
    # the injected PII is actually gone, the duplicate/short lines too
    injected = [t for d, t in got.items() if d % 9 == 0]
    assert injected and all("ops@example.com" not in t for t in injected)
    assert all("10.0.0.1" not in t for t in injected)
    assert all(t.count("repeated footer line here today") == 1 for t in injected)
    assert all("short line" not in t for t in injected)
    # full-row passthrough: non-text columns survive the swap
    assert set(spark.read.parquet(out).columns) == set(docs.columns)
