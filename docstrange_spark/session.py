"""SparkSession factory with scale-oriented defaults.

Tuned for the engine's workload shape: fat array rows (span arrays) moving
through Arrow into pandas kernels, plus ordinary relational fringes.
The same config block is what we would ship to a real cluster via
``spark-submit --py-files``; only ``master`` differs (local[N] here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Span arrays are fat (hundreds of structs per row). 2048 rows/batch
# balances per-batch Python overhead (dominant at high parallelism)
# against memory; the extract kernel additionally slices batches by a
# span budget (MAX_BATCH_SPANS = 128k spans) so mega-documents cannot
# blow executor memory regardless of this setting. (The reference
# processes one doc at a time — /root/reference/docstrange/
# extractor.py:200-225 — so it never faces this; we do.)
# A/B with the mapInArrow kernel on a 4-core host (local[4],
# perfbench extract_json, 5 interleaved rounds, seeds 81-85): median
# docs/s 1024 -> 4675, 2048 -> 5101, 4096 -> 4656; neither other size
# beat 2048 in more than 2 of the 5 rounds. 2048 also stays well under
# the span budget (~40 spans/doc x 2048 ~ 80k spans per batch).
ARROW_MAX_RECORDS = 2048


def get_spark(
    app_name: str = "docstrange_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32. On a real cluster,
    launch via ``scripts/submit.sh`` (spark-submit --py-files): it sets
    ``SPARK_GRAFT_MASTER=inherit`` so the builder leaves ``master`` to
    spark-submit instead of forcing local mode. Any other value of
    ``SPARK_GRAFT_MASTER`` is used verbatim (e.g. a standalone
    ``spark://host:7077`` URL for ad-hoc runs).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = SparkSession.builder.appName(app_name)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    inherit = master == "inherit"
    if not inherit:
        b = b.master(master)
    # Local-machine sizing must not leak onto a cluster: under an
    # inherited master, shuffle parallelism comes from spark-submit
    # --conf / cluster defaults (a local core count would CAP reduce
    # tasks — AQE coalesces below initialPartitionNum, never raises it),
    # and spark.driver.memory is inert once spark-submit has started
    # the driver JVM (submit.sh passes --driver-memory instead).
    if shuffle_partitions is not None or not inherit:
        b = b.config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(cores, 8)),
        )
    if not inherit:
        b = b.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    b = (
        b
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pin event-time semantics: naive parquet timestamps mean the
        # same instant on every driver/executor regardless of host zone
        # (and match DuckDB's epoch_us in the cross-engine oracles)
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS),
        )
        # documents are self-contained: nothing gained from huge scan splits
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # The only unpartitioned windows in this engine are the phase-2
    # re-ranks of the two-phase sharded top-k pattern, which operate on
    # <= n_shards*k survivor rows BY CONSTRUCTION (see PLANS.md). Spark
    # still logs "No Partition Defined for Window" for them — a
    # constant partition key like lit(0) is folded away by Catalyst, so
    # the warning cannot be avoided at the query level. Demote that
    # one logger so the benign bounded case doesn't read as an
    # all-data-to-one-partition red flag in operator logs; genuinely
    # unbounded global windows are forbidden by the repo's plan audit.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.log4j.Logger.getLogger(
            "org.apache.spark.sql.execution.window.WindowExec"
        ).setLevel(jvm.org.apache.log4j.Level.ERROR)
    except Exception:
        pass  # private bridge; cosmetic only — never fail session setup
    return spark
