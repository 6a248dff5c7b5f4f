"""The benchmark's workloads and the layer ladder of its traced mode.

Every workload drives the program only through its public functions
(``session.get_spark``, ``span_table.read_spans``, ``extract.extract``,
``corpus.build_corpus``, ...), on inputs generated from the seed, and
checks the outputs through :mod:`gate`.

A repetition (``rep``) returns ``(wall_s, resumes)``: the wall time
from job start to committed output, and the wall times of the reruns
after a simulated kill until the output is committed again, where the
repetition includes any. ``resume`` adds the resume times measured once
after the repetitions.

``extract_json`` takes ``resume_s`` from the program's resume layer
(``manifest.process_resumable``, the path of the CLI's ``--resume``)
over the same input: its untimed warm-up is a fresh resumable run and
one plain repetition, and after the timed repetitions the newest half
of the waves is deleted and the resume is timed.

``prepare_layers`` adds the inputs of the traced mode's layer
measurements: the span table the extract ladder runs on for the corpus
chain (its spanized documents), and one layout mega-document above the
extract kernel's span budget for the mega-doc path.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time

import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import functions as F

from docstrange_spark import datagen
from docstrange_spark.kernels import mdcsv, mdhtml, mdjson
from docstrange_spark.kernels.assembly import assemble_batch
from docstrange_spark.operators import corpus, dedup, extract, spanize, text_analysis
from docstrange_spark.sources import manifest, span_table

from . import gate as G
from . import inputs
from .harness import WORK, dir_mib, fresh_dir, noop
from .probes import SparkStats, job_group

DEFAULT_SEED = datagen.SEED
GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")
SAMPLE_DOCS = 40  # seeded per-doc kernel checks, plus every mega-doc
MEGA_PROBE_SPANS = extract.MAX_BATCH_SPANS + 4096  # just above the span budget
KERNEL_DOCS = 1500  # docs timed through the in-process kernels
SCALING_DOCS = 600  # docs extracted per scaling level
WARMUP_DOCS = 1000  # corpus_chain's warm-up input
CORPUS_KILLED = ("select", "pack")  # stages whose commit the simulated kill loses


def _now() -> float:
    return time.perf_counter()


def _timed(fn) -> float:
    t = _now()
    fn()
    return _now() - t


def load_golden() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


class Workload:
    name = ""
    digest_cols: list[str] = []

    def __init__(self, seed: int, tracer):
        self.seed = seed
        self.tracer = tracer
        self.out = os.path.join(WORK, "out", self.name)
        self.info: dict = {}
        self.ids: list[str] = []
        self.span_path = ""
        self.docs_path = ""
        self.mega_path = ""
        self.manifest_run: ResumableExtract | None = None

    def _input_dir(self, kind: str, spec: dict) -> str:
        return os.path.join(WORK, "cache", inputs.cache_key(kind, spec, self.seed))

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def prepare_layers(self, spark) -> None:
        spec = {"n_docs": 0, "megadocs": 1, "megadoc_spans": MEGA_PROBE_SPANS}
        self.mega_path = self._input_dir("spans", spec)
        inputs.span_corpus(spark, self.mega_path, self.seed, **spec)

    def warmup(self, spark, gate: G.Gate) -> None:
        raise NotImplementedError

    def rep(self, spark, gate: G.Gate, group: str) -> tuple[float, list[float]]:
        raise NotImplementedError

    def resume(self, spark, gate: G.Gate, group: str) -> list[float]:
        return []

    def final_check(self, gate: G.Gate) -> str:
        """Deep checks on the last repetition's output; returns its digest."""
        raise NotImplementedError

    def golden_check(self, gate: G.Gate, digest: str) -> None:
        if self.seed != DEFAULT_SEED:
            return
        want = load_golden().get(self.name)
        if digest != want:
            gate.fail_all(f"{self.name} output digest {digest} != golden {want}")


class ResumableExtract:
    """extract(json, no spans) over a span table through
    ``manifest.process_resumable``: a fresh run, then a kill of the
    newest half of the waves and the timed resume. Checks the manifest's
    doc and span sums against the input, the buckets redone against the
    ones the kill lost, and the resumed output against the fresh one."""

    def __init__(self, spark, span_path: str, out_dir: str, info: dict, tracer):
        self.spark = spark
        self.span_path = span_path
        self.out = out_dir
        self.info = info
        self.tracer = tracer
        self.snap = span_table.snapshot_id(spark, span_path)
        self.fresh_group = ""
        self.fresh_s = self.plan_s = self.redo_frac = 0.0
        self.waves = 0

    def _run(self) -> dict:
        return manifest.process_resumable(
            span_table.read_spans(self.spark, self.span_path), self.out,
            lambda df: extract.extract(df, formats=("json",), include_spans=False),
            snapshot_id=self.snap,
        )

    def fresh(self, gate: G.Gate, group: str) -> None:
        fresh_dir(self.out)
        self.fresh_group = group
        with job_group(self.spark, group), self.tracer.span("manifest.process_resumable"):
            self.fresh_s = _timed(self._run)
        n = self.info["docs"]
        mdir = os.path.join(self.out, manifest.MANIFEST_DIR)
        m = G.read_table(mdir)
        gate.equal(n, (pc.sum(m["n_docs"]).as_py(), pc.sum(m["n_spans"]).as_py()),
                   (n, self.info["spans"]), "manifest doc and span sums")
        gate.ids_exactly_once(G.ids_of(self.span_path), G.ids_of(self._data()), "resumable output")
        self.waves = len([f for f in os.listdir(mdir) if f.endswith(".parquet")])

    def _data(self) -> str:
        return os.path.join(self.out, manifest.DATA_DIR)

    def kill_and_resume(self, gate: G.Gate, group: str) -> float:
        fresh = G.read_table(self._data()).sort_by("doc_id")
        lost = kill_newest_manifests(self.out)
        with self.tracer.span("manifest.committed_buckets"):
            t0 = _now()
            done = manifest.committed_buckets(self.spark, self.out, self.snap)
            self.plan_s = _now() - t0
        with job_group(self.spark, group), self.tracer.span("manifest.resume"):
            t0 = _now()
            summary = self._run()
            resume_s = _now() - t0
        redone = summary["processed_buckets"]
        self.redo_frac = len(redone) / (len(done) + len(redone))
        n = self.info["docs"]
        gate.equal(n, sorted(redone), sorted(lost), "buckets redone after the kill")
        gate.equal(n, G.read_table(self._data()).sort_by("doc_id").equals(fresh), True,
                   "resumed == fresh output")
        return resume_s


class ExtractJson(Workload):
    """The paper's headline shape: scaled docs (2000-span mega-docs
    inside the span budget) -> extract(json, no spans) -> parquet; the
    same extraction through the resume layer gives ``resume_s``."""

    name = "extract_json"
    spec = {"n_docs": 10000, "mega_every": 2000}
    digest_cols = ["doc_id", "markdown", "n_blocks", "profile", "json"]

    def prepare(self, spark):
        self.span_path = self._input_dir("spans", self.spec)
        self.info = inputs.span_corpus(spark, self.span_path, self.seed, **self.spec)
        self.ids = G.ids_of(self.span_path)

    def warmup(self, spark, gate):
        out = os.path.join(WORK, "out", "extract_json-resumable")
        self.manifest_run = ResumableExtract(spark, self.span_path, out, self.info, self.tracer)
        self.manifest_run.fresh(gate, "manifest.fresh")
        # the resumable run leaves the plain extract -> parquet path cold:
        # the first plain repetition after it ran 5-15% slower than the rest
        with self.tracer.paused():
            self.rep(spark, gate, "warmup.rep")

    def resume(self, spark, gate, group):
        return [self.manifest_run.kill_and_resume(gate, group)]

    def rep(self, spark, gate, group):
        fresh_dir(self.out)
        tr = self.tracer
        with job_group(spark, group):
            t0 = _now()
            with tr.span("span_table.read_spans"):
                src = span_table.read_spans(spark, self.span_path)
            with tr.span("operators.extract"):
                out = extract.extract(src, formats=("json",), include_spans=False)
            with tr.span("sink.write"):
                out.write.mode("overwrite").parquet(self.out)
            wall = _now() - t0
        with tr.span("gate.ids"):
            gate.ids_exactly_once(self.ids, G.ids_of(self.out), self.name)
        return wall, []

    def final_check(self, gate):
        sample = G.sample_ids(self.span_path, self.seed, SAMPLE_DOCS)
        G.check_sample(gate, self.span_path, self.out, sample)
        digest = G.output_digest(self.out, self.digest_cols)
        self.golden_check(gate, digest)
        return digest


class CorpusChain(Workload):
    """``corpus.build_corpus`` over a documents table shaped like the sf0.1
    test data's (near-duplicate copies included); killed after the dedup
    stage commits and resumed."""

    name = "corpus_chain"
    spec = {"n_docs": 5000}
    digest_cols = ["doc_id", "source", "lang_guess", "quality", "split", "shard", "batch_id", "n_tokens"]

    def prepare(self, spark):
        self.docs_path = self._input_dir("docs", self.spec)
        self.info = inputs.doc_corpus(self.docs_path, self.seed, **self.spec)
        docs = G.read_table(self.docs_path, ["doc_id", "text"])
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.ids = [f"doc-{d}" for d in self.texts]

    def prepare_layers(self, spark):
        super().prepare_layers(spark)
        self.span_path = self._input_dir("spanized", self.spec)
        inputs.spanized_corpus(spark, self.span_path, self.docs_path)

    def warmup(self, spark, gate):
        # the first build_corpus of a process is about twice as slow; a
        # smaller input warms the same code paths in less time
        path = self._input_dir("docs", {"n_docs": WARMUP_DOCS})
        inputs.doc_corpus(path, self.seed, WARMUP_DOCS)
        fresh_dir(self.out)
        with job_group(spark, "warmup"), self.tracer.span("corpus.build_corpus"):
            corpus.build_corpus(spark, path, self.out)

    def rep(self, spark, gate, group):
        fresh_dir(self.out)
        tr = self.tracer
        with job_group(spark, group):
            with tr.span("corpus.build_corpus"):
                t0 = _now()
                s = corpus.build_corpus(spark, self.docs_path, self.out)
                wall = _now() - t0
        with tr.span("gate.fresh"):
            gate.equal(len(self.ids), set(s["stages"].values()), {"ran"}, "fresh stages")
            gate.ids_exactly_once(self.ids, G.ids_of(os.path.join(self.out, "extract")), self.name)
            pack = G.read_table(os.path.join(self.out, "pack")).sort_by("doc_id")
            pack_ids = pack["doc_id"].to_pylist()
            unique_from_input = len(set(pack_ids)) == len(pack_ids) and set(pack_ids) <= set(self.ids)
            gate.equal(len(pack_ids), unique_from_input, True, "pack ids unique and from the input")
            for stage in CORPUS_KILLED:
                os.remove(os.path.join(self.out, f"_STAGE_{stage}.json"))
        with job_group(spark, group + ".resume"), tr.span("corpus.build_corpus_resume"):
            t1 = _now()
            s2 = corpus.build_corpus(spark, self.docs_path, self.out)
            resume = _now() - t1
        with tr.span("gate.resumed"):
            want = {st: ("ran" if st in CORPUS_KILLED else "skipped") for st in corpus.STAGES}
            gate.equal(len(self.ids), s2["stages"], want, "resumed stages")
            resumed = G.read_table(os.path.join(self.out, "pack")).sort_by("doc_id")
            gate.equal(len(self.ids), resumed.equals(pack), True, "resumed == fresh pack")
        return wall, [resume]

    def final_check(self, gate):
        ext = G.read_table(os.path.join(self.out, "extract"), ["doc_id", "text"])
        got = dict(zip(ext["doc_id"].to_pylist(), ext["text"].to_pylist()))
        sample = sorted(self.texts)[:: max(1, len(self.texts) // SAMPLE_DOCS)]
        gate.attempted += len(sample)
        for d in sample:
            doc_id = f"doc-{d}"
            spans = spanize.spanize_text(doc_id, self.texts[d])
            md = assemble_batch(pd.Series([doc_id]), pd.Series([spans]), build_spans=False)["markdown"].iat[0]
            if got.get(doc_id) != md:
                gate.failed += 1
                gate.notes.append(f"kernel mismatch: {doc_id}")
        digest = G.output_digest(os.path.join(self.out, "pack"), self.digest_cols)
        self.golden_check(gate, digest)
        return digest


WORKLOADS = {w.name: w for w in (ExtractJson, CorpusChain)}


def kill_newest_manifests(out_dir: str) -> set[int]:
    """Delete the newest half of the ``_manifest`` part files (a kill
    after half of the waves committed); returns the buckets they held."""
    mdir = os.path.join(out_dir, manifest.MANIFEST_DIR)
    parts = sorted(
        (f for f in os.listdir(mdir) if f.endswith(".parquet")),
        key=lambda f: (os.stat(os.path.join(mdir, f)).st_mtime_ns, f),
    )
    lost: set[int] = set()
    for f in parts[len(parts) - len(parts) // 2 :]:
        lost |= set(G.read_table(os.path.join(mdir, f), ["bucket"])["bucket"].to_pylist())
        os.remove(os.path.join(mdir, f))
        crc = os.path.join(mdir, f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return lost


# ---------------------------------------------------------------------------
# traced mode: per-layer metrics, each from calls into the layer's public
# functions with a noop sink, one rung added at a time


def extract_ladder(spark, wl: Workload, gate: G.Gate, out_dir: str) -> tuple[dict, float]:
    """The extraction pipeline over the workload's span table, one layer
    added per rung: scan, salt exchange, identity Arrow handoff,
    assembly, JSON rendition, block stream, HTML+CSV renditions, parquet
    sink. Each layer's time is its rung minus the rung below; the
    mega-doc rung extracts the over-budget probe document and checks it
    against the unsegmented kernel. Returns the metrics and the sink
    rung's time."""
    stats = SparkStats(spark)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tracer = wl.tracer

    def src(path=wl.span_path):
        return span_table.read_spans(spark, path)

    def rung(name: str, make, sink=noop) -> float:
        with job_group(spark, f"ladder.{name}"), tracer.span(f"ladder.{name}"):
            return _timed(lambda: sink(make()))

    def identity(batches):
        yield from batches

    def ext(formats, spans=False, path=wl.span_path):
        return lambda: extract.extract(src(path), formats=formats, include_spans=spans)

    def write(df):
        df.write.mode("overwrite").parquet(fresh_dir(out_dir))

    def salted():
        return src().repartition(n_part, F.xxhash64("doc_id"))

    t = {
        "scan": rung("scan", src),
        "salt": rung("salt", salted),
        "handoff": rung("handoff", lambda: salted().mapInPandas(identity, schema=datagen.SPAN_SCHEMA_DDL)),
        "assembly": rung("assembly", ext(())),
        "json": rung("json", ext(("json",))),
        "out_spans": rung("out_spans", ext(("json",), spans=True)),
        "renditions": rung("renditions", ext(("json", "html", "csv"))),
        "sink": rung("sink", ext(("json",)), sink=write),
    }
    output_mb = dir_mib(out_dir)
    t["megadoc"] = rung("megadoc", ext(("json",), path=wl.mega_path), sink=write)
    G.check_sample(gate, wl.mega_path, out_dir, G.ids_of(wl.mega_path))
    return {
        "span_table.scan_s": t["scan"],
        "span_table.input_mb": dir_mib(wl.span_path),
        "extract.salt_s": t["salt"] - t["scan"],
        "extract.shuffle_write_mb": stats.group("ladder.salt")["shuffle_write_mb"],
        "extract.handoff_s": t["handoff"] - t["salt"],
        "extract.out_spans_s": t["out_spans"] - t["json"],
        "extract.megadoc_s": t["megadoc"],
        "extract.kernel_straggler": stats.group("ladder.json")["kernel_straggler"],
        "assembly.spark_s": t["assembly"] - t["handoff"],
        "mdjson.spark_s": t["json"] - t["assembly"],
        "renditions.spark_s": t["renditions"] - t["json"],
        "sink.write_s": t["sink"] - t["json"],
        "sink.output_mb": output_mb,
    }, t["sink"]


def kernel_rates(span_path: str) -> dict:
    """Single-core throughput of the kernels called in-process on the
    first ``KERNEL_DOCS`` docs (by doc_id) of the span table."""
    t = G.read_table(span_path, ["doc_id", "spans"]).sort_by("doc_id").slice(0, KERNEL_DOCS)
    pdf = t.to_pandas()
    n_spans = int(pc.sum(pc.list_value_length(t["spans"])).as_py() or 0)
    t0 = _now()
    md = assemble_batch(pdf["doc_id"], pdf["spans"], build_spans=False)["markdown"].tolist()
    rates = {"assembly.spans_per_s": n_spans / (_now() - t0)}
    for name, fn in (("mdjson", mdjson.parse_markdown), ("mdhtml", mdhtml.markdown_to_html_page),
                     ("mdcsv", mdcsv.markdown_to_csv)):
        rates[f"{name}.docs_per_s"] = len(md) / _timed(lambda: [fn(m) for m in md])
    return rates


def manifest_metrics(spark, run: ResumableExtract, direct_s: float) -> dict:
    """The resume layer's metrics from the workload's own resumable run
    (on ``extract_json`` its fresh run is the warm-up). ``direct_s`` is
    the ladder's sink rung, the same work without manifests."""
    return {
        "manifest.waves": run.waves,
        "manifest.jobs_per_wave": SparkStats(spark).group(run.fresh_group)["jobs"] / max(run.waves, 1),
        "manifest.overhead_s": run.fresh_s - direct_s,
        "manifest.plan_resume_s": run.plan_s,
        "manifest.redo_frac": run.redo_frac,
    }


def corpus_ladder(spark, wl: CorpusChain) -> dict:
    """``build_corpus`` stage times (from its own ``_STAGE_*.json``
    markers of the workload's last repetition), the
    spanize and signals layers over the committed extract stage, and the
    dedup layers in the order ``dedup.verified_clusters`` composes them:
    minhash signatures, LSH candidate pairs (checkpointed, as the
    program does), the Jaccard re-rank of those pairs (checkpointed),
    connected components over the verified pairs. Each dedup rung but
    the first starts from the previous rung's checkpoint, so its time is
    that layer's own."""
    stats = SparkStats(spark)
    tracer = wl.tracer
    out_dir = wl.out
    m = {"corpus.jobs": stats.group("rep1")["jobs"]}
    for stage in corpus.STAGES:
        with open(os.path.join(out_dir, f"_STAGE_{stage}.json")) as f:
            m[f"corpus.{stage}_s"] = json.load(f)["wall_ms"] / 1000.0
    docs = spark.read.parquet(wl.docs_path)
    cdocs = spark.read.parquet(os.path.join(out_dir, "extract"))
    threshold = corpus.DEFAULTS["jaccard_threshold"]

    def rung(name, action):
        with job_group(spark, f"dedup.{name}"), tracer.span(f"ladder.{name}"):
            t0 = _now()
            val = action()
            return _now() - t0, val

    def checkpointed(df):
        df = df.localCheckpoint(eager=True)
        return df, df.count()

    t_span, _ = rung("spanize", lambda: noop(spanize.spanize(docs)))
    t_sig, _ = rung("signals", lambda: noop(text_analysis.lang_id(
        text_analysis.quality_score(cdocs, keep=("text",)), keep=("quality",))))
    t_mh, _ = rung("minhash", lambda: noop(dedup.minhash_signatures(cdocs)))
    t_lsh, (pairs, n_cand) = rung("lsh", lambda: checkpointed(dedup.lsh_candidate_pairs(cdocs)))
    t_jac, (verified, n_ver) = rung("jaccard", lambda: checkpointed(
        dedup.jaccard_pairs(cdocs, pairs, broadcast_relevant=False)
        .where(F.col("jaccard") >= threshold).select("doc_a", "doc_b")))
    t_cc, _ = rung("cc", lambda: noop(dedup.connected_components(cdocs.select("doc_id"), verified)))
    return {
        **m,
        "spanize.spark_s": t_span,
        "text_analysis.signals_s": t_sig,
        "dedup.minhash_s": t_mh,
        "dedup.lsh_pairs_s": t_lsh - t_mh,
        "dedup.jaccard_s": t_jac,
        "dedup.cc_s": t_cc,
        "dedup.candidate_pairs": n_cand,
        "dedup.verified_pairs": n_ver,
        "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        "dedup.cc_jobs": stats.group("dedup.cc")["jobs"],
    }


def spark_metrics(spark, groups: list[str], wall: float, cores: int) -> dict:
    s = SparkStats(spark).group(*groups)
    return {
        "spark.jobs": s["jobs"],
        "spark.stages": s["stages"],
        "spark.tasks_failed": s["tasks_failed"],
        "spark.executor_run_s": s["executor_run_s"],
        "spark.gc_s": s["gc_s"],
        "spark.shuffle_write_mb": s["shuffle_write_mb"],
        "spark.peak_exec_mem_mb": s["peak_exec_mem_mb"],
        "spark.idle_frac": 1.0 - s["executor_run_s"] / (wall * cores),
    }


MANIFEST_METRICS = ("manifest.waves", "manifest.jobs_per_wave", "manifest.overhead_s",
                    "manifest.plan_resume_s", "manifest.redo_frac")
CORPUS_METRICS = (
    "corpus.jobs", *(f"corpus.{stage}_s" for stage in corpus.STAGES),
    "spanize.spark_s", "text_analysis.signals_s", "dedup.minhash_s", "dedup.lsh_pairs_s",
    "dedup.jaccard_s", "dedup.cc_s", "dedup.candidate_pairs", "dedup.verified_pairs",
    "dedup.verify_yield", "dedup.cc_jobs",
)


def layer_metrics(spark, wl: Workload, gate: G.Gate) -> dict:
    """Every per-layer metric but the session, Spark engine and scaling
    ones. A layer the workload's product path never reaches (the
    manifest layer on ``corpus_chain``, the corpus chain on
    ``extract_json``) reads 0 on all its metrics: a probe run of that
    layer costs 20 s or more of a traced run that must end within
    180 s."""
    work = os.path.join(WORK, "out", "ladder")
    tr = wl.tracer
    with tr.span("layers.extract"):
        m, sink_s = extract_ladder(spark, wl, gate, work)
    with tr.span("layers.kernels"):
        m.update(kernel_rates(wl.span_path))
    with tr.span("layers.manifest"):
        m.update(manifest_metrics(spark, wl.manifest_run, sink_s) if wl.manifest_run
                 else dict.fromkeys(MANIFEST_METRICS, 0.0))
    with tr.span("layers.corpus"):
        m.update(corpus_ladder(spark, wl) if isinstance(wl, CorpusChain)
                 else dict.fromkeys(CORPUS_METRICS, 0.0))
    return m


def scaling(sess, span_path: str, cores: int) -> tuple[float, dict]:
    """docs/s of extract(json, no spans) -> parquet at ``local[cores]``
    over (``cores`` x docs/s at ``local[1]``), on the ~``SCALING_DOCS``
    docs whose ``xxhash64(doc_id)`` falls in one residue class. Each
    level is a fresh session on the same JVM (a fresh process per level
    costs a JVM launch each, which the per-run time limit cannot
    afford), warmed by the session start's own 16-doc extraction; one
    timed run per level."""
    n_docs = G.read_table(span_path, ["doc_id"]).num_rows
    modulus = max(1, math.ceil(n_docs / SCALING_DOCS))
    out = os.path.join(WORK, "out", "scaling")
    rates = {}
    for level in (1, cores):
        sess.restart(cores=level)
        src = span_table.read_spans(sess.spark, span_path).where(
            F.pmod(F.xxhash64("doc_id"), F.lit(modulus)) == 0
        )
        n = src.count()
        fresh_dir(out)
        wall = _timed(lambda: extract.extract(src, formats=("json",), include_spans=False)
                      .write.parquet(out))
        rates[level] = n / wall
    return rates[cores] / (cores * rates[1]), rates


def median(values: list[float]) -> float:
    return statistics.median(values)
