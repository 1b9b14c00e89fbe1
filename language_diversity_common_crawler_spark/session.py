"""SparkSession factory tuned for the engine.

Defaults are sized for the sandbox (local[N], 128 GiB box) but every knob is
chosen to also be the right *shape* at cluster scale:

- AQE on (coalesce + skew-join splitting) — hot-host skew in the frontier and
  skewed group-bys at 100 TB re-plan at runtime.
- ``spark.sql.shuffle.partitions`` proportional to cores locally; on a real
  cluster this is overridden per-submit (or left to AQE's initial value).
- Arrow enabled with a bounded batch size so pandas-UDF memory stays flat
  regardless of partition size.
- UTC session timezone: determinism bans wall-clock/zone dependence
  (SURVEY.md §7.3).
- Generated-code cache sized to the pipelines' working set
  (``CODEGEN_CACHE_ENTRIES``). One text pass (extract + language ID per
  segment, corpus build, MinHash/KMV/containment) touches ~170 distinct
  whole-stage and expression codegen classes, a crawl round ~65. Spark's
  default cache holds 100, so its LRU evicted every text-pass class
  before the next pass reused it: each pass re-ran ~126-130 Janino
  compiles, and the JVM JIT-compiled every new class again; a crawl
  round after warm-up recompiled 26. With the larger cache (and the class
  names below) a text pass or crawl round after warm-up compiles nothing
  (4-core box, perfbench inputs). 1024 leaves room for one long-lived
  driver that runs crawl, extract and corpus builds. It is a static
  conf: it only takes effect in a session this factory builds, which is
  why ``tune_session`` cannot apply it to a session it is handed.
- Generated class names without the codegen stage id
  (``spark.sql.codegen.useIdInClassName=false``). AQE numbers whole-stage
  codegen stages in the order it re-plans its query stages, which follows
  whichever shuffle finishes first; with the id in the class name the
  same pipeline under another number is a new class and compiles again.
  Measured over four text passes after warm-up: 4, 0, 4, 8 compiles
  with the id, 0, 0, 0, 0 without.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries (Spark's default: 100); see the module
# docstring for the measured working sets this covers
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "ldcc-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) or 32.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 2x cores is a good local default; AQE coalesces down afterwards.
        shuffle_partitions = max(2 * cpus, 8)

    # Shuffle/spill scratch on tmpfs when available: each executor on a
    # real cluster has its own local SSD; in this single-box sandbox all
    # "executors" would otherwise contend on one system disk, which
    # understates shuffle-stage scaling. RAM-disk scratch is the faithful
    # per-executor-local-disk stand-in (126 GiB /dev/shm >> shuffle sizes
    # here). Override with $SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            # only when the tmpfs is actually big (default Docker /dev/shm
            # is 64 MB — spilling there would fail shuffles that plain
            # disk scratch would absorb)
            if st.f_bavail * st.f_frsize >= 32 << 30:
                local_dir = "/dev/shm/ldcc-spark-local"
        except OSError:
            pass

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tunings to an externally provided session
    (the driver passes its own session to ``queries()`` callables)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    except Exception:
        pass  # non-settable at runtime on some builds; defaults are fine
    return spark
