"""Iceberg-native crawl-state backend (north rule: "Iceberg tables of
Common-Crawl-style pages" / snapshot-committed frontier state).

The sandbox ships no Iceberg runtime jar, so :class:`crawl.ParquetStateBackend`
(immutable snapshot dirs + manifest-last markers — the same commit shape)
is the default and the one the test suite drives. This module is the real
Iceberg path for cluster deployments, selected by passing an
:class:`IcebergStateBackend` instead of a checkpoint path to
``crawl.init_crawl`` / ``crawl.run_round`` / ``crawl.crawl_order``.

State mapping (one namespace per crawl):

    {db}.frontier / .scheduled / .seen_delta / .filter
        — one table per physical surface of ``crawl.SURFACE_SCHEMAS``,
          partitioned by ``round``; each write DELETEs the round's
          partition and appends, so a re-run after a crash replaces any
          orphan rows of the uncommitted round instead of duplicating
          them. ``filter`` holds the round's whole filter commit in one
          write: per hash partition, one bitset as ``words
          ARRAY<BIGINT>`` and its lineage metrics. ``bloom``,
          ``bloom_words`` and ``metrics`` are read as column projections
          of it (``crawl.SURFACE_VIEWS``), not tables
    {db}.manifest
        — one row per committed round, appended LAST: the ACID append is
          the commit marker, exactly the role MANIFEST-xxxx.json plays in
          the parquet backend. latest_round = max(round) of this table.

The seen set stays an append-only log of per-round deltas (never a rewrite
of the 10^10-row set); ``read_seen_upto`` is a single partition-pruned scan
(``WHERE round <= k``) instead of the parquet backend's multi-path read.

Deployment: ``spark-submit --packages {ICEBERG_RUNTIME_PACKAGE}
--conf`` pairs from :func:`iceberg_conf` (Hadoop catalog shown; swap
catalog-impl for Glue/REST/Hive). Everything here is plain public Spark
DataFrame API (`writeTo`/`overwritePartitions`/`append`) + Spark SQL DDL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .crawl import SURFACE_SCHEMAS, physical_surface, read_surface

# Spark 4.x / Scala 2.13 runtime artifact for --packages
ICEBERG_RUNTIME_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"

_MANIFEST_SCHEMA = "round INT, n_frontier BIGINT, n_scheduled BIGINT, n_new BIGINT"


def iceberg_conf(
    catalog: str = "crawl", warehouse: str = "s3a://bucket/warehouse"
) -> dict[str, str]:
    """The --conf set that activates an Iceberg Hadoop catalog named
    ``catalog`` (pair with ``--packages ICEBERG_RUNTIME_PACKAGE``)."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }


def iceberg_available(spark: SparkSession, catalog: str = "crawl") -> bool:
    """True iff ``catalog`` is configured as an Iceberg SparkCatalog and the
    runtime class is on the classpath."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if impl != "org.apache.iceberg.spark.SparkCatalog":
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergStateBackend:
    """crawl.* state backend over Iceberg tables (same contract as
    crawl.ParquetStateBackend; see module docstring for the mapping)."""

    def __init__(self, spark: SparkSession, catalog: str = "crawl",
                 db: str = "frontier_state"):
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"Iceberg catalog '{catalog}' is not configured/loadable. "
                f"Submit with --packages {ICEBERG_RUNTIME_PACKAGE} and the "
                f"confs from iceberg_conf('{catalog}', <warehouse>). In "
                "this sandbox (no Iceberg jar) use the default parquet "
                "snapshot backend: pass a checkpoint path string instead."
            )
        self.spark = spark
        self.db = f"{catalog}.{db}"
        self._ensure_tables()

    # -- DDL -----------------------------------------------------------------
    def _ensure_tables(self) -> None:
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.db}")
        for name, cols in SURFACE_SCHEMAS.items():
            if not cols.endswith("round INT"):
                cols += ", round INT"
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {self.db}.{name} "
                f"({cols}) USING iceberg PARTITIONED BY (round)"
            )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.db}.manifest "
            f"({_MANIFEST_SCHEMA}, committed_at TIMESTAMP) USING iceberg"
        )

    # -- state surfaces ------------------------------------------------------
    def write(self, df: DataFrame, k: int, sub: str,
              count: bool = False) -> int | None:
        obs = None
        if count:
            obs = Observation(f"{sub}-{k}")
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        # Replace-not-append for round k. An explicit partition DELETE
        # first (metadata-only drop when nothing matches) — NOT a bare
        # overwritePartitions(): a dynamic partition overwrite with zero
        # input rows overwrites nothing, so a crashed round whose re-run
        # produces an EMPTY surface (budget change, drained frontier)
        # would silently keep the crashed attempt's orphan rows. The
        # round's durability still comes from the manifest append
        # (committed LAST); delete+append being two snapshots is fine —
        # an uncommitted round is re-written wholesale on the next run.
        self.spark.sql(
            f"DELETE FROM {self.db}.{sub} WHERE round = {int(k)}"
        )
        df.withColumn("round", F.lit(k).cast("int")).writeTo(
            f"{self.db}.{sub}"
        ).append()
        return int(obs.get["n"]) if obs is not None else None

    def _read_table(self, k: int, sub: str) -> DataFrame:
        df = self.spark.table(f"{self.db}.{sub}").filter(F.col("round") == k)
        # keep round only where the surface's own schema declares it
        return df if SURFACE_SCHEMAS[sub].endswith("round INT") else (
            df.drop("round"))

    def read(self, k: int, sub: str) -> DataFrame:
        return read_surface(self._read_table, k, sub)

    def exists(self, k: int, sub: str) -> bool:
        return bool(
            self.spark.table(f"{self.db}.{physical_surface(sub)}")
            .filter(F.col("round") == k)
            .limit(1)
            .count()
        )

    def read_seen_upto(self, upto: int) -> DataFrame:
        # one partition-pruned scan of the append-only delta log
        return (
            self.spark.table(f"{self.db}.seen_delta")
            .filter(F.col("round") <= upto)
            .select("url_canon")
        )

    # -- commit protocol -----------------------------------------------------
    def latest_round(self) -> int | None:
        row = self.spark.table(f"{self.db}.manifest").agg(
            F.max("round").alias("r")
        ).collect()[0]
        return None if row["r"] is None else int(row["r"])

    def write_manifest(self, k: int, manifest: dict) -> None:
        # replace-not-append: a re-run of an already-committed round (e.g.
        # init_crawl retried after a crash that followed the append) must
        # not leave duplicate manifest rows for the round
        self.spark.sql(
            f"DELETE FROM {self.db}.manifest WHERE round = {int(k)}"
        )
        self.spark.createDataFrame(
            [(
                int(manifest["round"]),
                int(manifest["n_frontier"]),
                int(manifest["n_scheduled"]),
                int(manifest["n_new"]),
            )],
            _MANIFEST_SCHEMA,
        ).withColumn("committed_at", F.current_timestamp()).writeTo(
            f"{self.db}.manifest"
        ).append()

    def read_manifest(self, k: int) -> dict:
        rows = (
            self.spark.table(f"{self.db}.manifest")
            .filter(F.col("round") == k)
            .collect()
        )
        if not rows:
            raise ValueError(f"round {k} not committed")
        r = rows[0]
        return {
            "round": int(r["round"]),
            "n_frontier": int(r["n_frontier"]),
            "n_scheduled": int(r["n_scheduled"]),
            "n_new": int(r["n_new"]),
        }

    # the state format lives in the manifest table's properties, as
    # "frontier.<key>" entries
    def write_format(self, fmt: dict) -> None:
        props = ", ".join(f"'frontier.{k}' = '{v}'" for k, v in fmt.items())
        self.spark.sql(
            f"ALTER TABLE {self.db}.manifest SET TBLPROPERTIES ({props})"
        )

    def read_format(self) -> dict:
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self.db}.manifest"
        ).collect()
        return {
            r["key"][len("frontier."):]: r["value"]
            for r in rows
            if r["key"].startswith("frontier.")
        }

    def scheduled_with_rounds(self, last: int) -> DataFrame:
        df = self.spark.table(f"{self.db}.scheduled").filter(
            (F.col("round") >= 1) & (F.col("round") <= last)
        )
        if last < 1:
            raise ValueError("no scheduled rounds committed")
        return df
