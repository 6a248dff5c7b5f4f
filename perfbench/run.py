#!/usr/bin/env python3
"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload extract_json --seed 42 --seconds 8 --trace 0

Protocol, identical on every commit:

1. cold set-up: process start -> ``session.get_spark`` (which launches
   the JVM) -> Python workers warm (a 16-doc extraction); this is
   ``setup_s``, one sample per process;
2. input generation from ``--seed`` (cached under ``.perfbench/cache``);
3. one untimed warm-up of the workload (for ``extract_json`` the fresh
   run through the resume layer, then one plain repetition, see
   ``workloads``);
4. timed repetitions until ``--seconds`` have passed (at least
   ``MIN_REPS``), one RSS-sampler thread running; ``peak_rss_mb`` is
   the peak summed RSS of the driver and its Python workers over the
   first ``MIN_REPS`` repetitions, so it is taken at the same positions
   however many repetitions fit; the JVM's peak RSS over the same
   repetitions is recorded apart (``spark.jvm_peak_rss_mb`` in a traced
   run), see ``probes.RssSampler`` for why;
5. the workload's resume measurements that follow the repetitions;
6. deep output checks on the last repetition.

The Spark session runs with ``session.get_spark``'s own defaults
(driver heap included); only scratch paths are redirected.

With ``--trace 1`` step 4 is exactly two repetitions, the first
untraced and the second traced (their docs/s difference is the tracing
overhead); after step 6 come the layer ladder, the in-process kernel
rates, the resume layer's metrics, the corpus ladder and the scaling
probe (see
``workloads.layer_metrics`` and ``workloads.scaling``). Spans go
to ``.perfbench/traces/<run_id>.jsonl``.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full record (inputs, host, versions, every repetition), also
appended to ``.perfbench/results.jsonl``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

MIN_REPS = 2  # timed repetitions run even when --seconds has passed


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "docstrange_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(f.encode())
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def host_record(cores: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": harness.nproc(),
        "SPARK_GRAFT_CPUS": cores,
        "git_sha": git_sha(),
        "source_digest": source_digest(),
        "versions": {
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
        },
    }


def run(args, bench: dict) -> tuple[dict, dict]:
    from perfbench import gate as G
    from perfbench import workloads as W
    from perfbench.probes import RssSampler
    from perfbench.tracer import Tracer

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or harness.nproc())
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tracer = Tracer(enabled=bool(args.trace))
    wl = W.WORKLOADS[args.workload](args.seed, tracer)
    gate = G.Gate()
    sess = harness.Session(cores)
    rec: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "run_id": tracer.run_id, **host_record(cores)}
    metrics: dict = {}
    try:
        with tracer.span("run"):
            with tracer.span("session.cold_setup"):
                get0, warm0 = sess.start()
            cold = time.perf_counter() - T_PROCESS
            with tracer.span("inputs"):
                wl.prepare(sess.spark)
                if args.trace:
                    wl.prepare_layers(sess.spark)
            rec["inputs"] = {"docs": wl.info["docs"], "spans": wl.info["spans"],
                             "digest": wl.info["digest"]}
            walls, resumes, peaks, jvm_peaks = [], [], [], []
            with RssSampler() as rss:
                with tracer.span("warmup"):
                    wl.warmup(sess.spark, gate)
                t_start = time.perf_counter()
                while len(walls) < MIN_REPS or (
                    not args.trace and time.perf_counter() - t_start < args.seconds
                ):
                    i = len(walls)
                    rss.reset()
                    with (tracer.span(f"{wl.name}.rep") if args.trace and i == 1 else tracer.paused()):
                        wall, rep_resumes = wl.rep(sess.spark, gate, f"rep{i}")
                    walls.append(wall)
                    resumes.append(rep_resumes)
                    py_peak, jvm_peak = rss.peak_mib()
                    peaks.append(py_peak)
                    jvm_peaks.append(jvm_peak)
                with tracer.span(f"{wl.name}.resume"):
                    resumes.append(wl.resume(sess.spark, gate, "resume"))
            rep1_s = walls[1] + sum(resumes[1])
            resumes = [r for rs in resumes for r in rs]
            with tracer.span("gate.final"):
                rec["output_digest"] = wl.final_check(gate)
            docs = wl.info["docs"]
            rec.update(reps=len(walls), walls=walls, resumes=resumes, setup_s=cold,
                       get_spark_s=get0, worker_warmup_s=warm0, peaks=peaks,
                       jvm_peaks=jvm_peaks)
            if not args.trace:
                metrics = {
                    "docs_per_s": docs / W.median(walls),
                    "setup_s": cold,
                    "resume_s": W.median(resumes),
                    "peak_rss_mb": max(peaks[:MIN_REPS]),
                }
            else:
                spark = sess.spark
                metrics = {
                    "session.cold_setup_s": cold,
                    "session.get_spark_s": get0,
                    "session.worker_warmup_s": warm0,
                    "trace.overhead_frac": 1.0 - walls[0] / walls[1],
                    "spark.jvm_peak_rss_mb": max(jvm_peaks[:MIN_REPS]),
                    **W.spark_metrics(spark, ["rep1", "rep1.resume"], rep1_s, cores),
                    **W.layer_metrics(spark, wl, gate),
                }
                with tracer.span("layers.scaling"):
                    eff, rec["scaling_docs_per_s"] = W.scaling(sess, wl.span_path, cores)
                metrics["extract.scaling_eff"] = eff
    except Exception:
        traceback.print_exc()
        gate.fail_all("crashed")
        rec["crashed"] = True
    finally:
        sess.close()
    if args.trace and tracer.spans:
        metrics["trace.self_over_wall"] = tracer.self_over_wall()
        if metrics["trace.self_over_wall"] > 1.0 + 1e-9:
            gate.fail_all("span self times exceed the wall time")
        os.makedirs(os.path.join(harness.WORK, "traces"), exist_ok=True)
        path = os.path.join(harness.WORK, "traces", f"{tracer.run_id}.jsonl")
        tracer.dump(path)
        rec["trace_file"] = os.path.relpath(path, ROOT)
        rec["self_time_by_span"] = tracer.self_time_by_name()
    rec.update(attempted=gate.attempted, failed=gate.failed, failed_frac=gate.failed_frac,
               notes=gate.notes[:20])
    declared = bench["per_layer" if args.trace else "end_to_end"]
    if not rec.get("crashed"):
        missing = {m["name"] for m in declared} - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    units = {m["name"]: m["unit"] for m in declared}
    result = {
        "correct": gate.failed == 0 and not rec.get("crashed"),
        "attempted": max(gate.attempted, 1),
        "failed": gate.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items() if k in units},
    }
    return result, rec


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = load_benchmark()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    harness.contain()
    try:
        import docstrange_spark  # noqa: F401
    except ImportError as e:
        print(f"the program is not in this checkout: {e}", file=sys.stderr)
        return 1
    result, rec = run(args, bench)
    for k, v in result["metrics"].items():
        print(f"{args.workload}  {k} = {v['value']:.6g} {v['unit']}")
    print(f"{args.workload}  failed_frac = {rec['failed_frac']:.6g} ratio "
          f"({rec['failed']} of {rec['attempted']} docs checked)")
    line = json.dumps(rec, default=str)
    with open(os.path.join(harness.WORK, "results.jsonl"), "a") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
