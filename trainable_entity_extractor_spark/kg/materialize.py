"""Stage F: graph materialization with per-partition lineage + checkpoint
manifests and idempotent replay (north_rule).

Layout (Iceberg-style without the Iceberg runtime, which this container
doesn't ship): every output table is parquet partitioned by
`bucket = pmod(hash(url_or_id), n_buckets)`. A JSON manifest records, per
bucket, row count and an order-insensitive content hash. Because every
stage is a deterministic function of `pages` (seeded generation, pinned
kernels), any failed bucket range can be recomputed and overwritten
in place (dynamic partition overwrite) yielding byte-identical content —
the replay test exercises exactly that.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 16


def with_bucket(df: DataFrame, key: str, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.hash(F.col(key)), F.lit(n_buckets)))


def content_stats(df: DataFrame) -> DataFrame:
    """Per-bucket (count, xor-of-row-hashes) — order-insensitive content
    fingerprint computed distributed (no collect of data)."""
    cols = [c for c in df.columns if c != "bucket"]
    hashed = df.withColumn(
        "_h", F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")
    )
    return hashed.groupBy("bucket").agg(
        F.count("*").alias("rows"),
        # commutative fold = order-insensitive; decimal avoids ANSI long overflow
        F.sum("_h").cast("string").alias("content_sum"),
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    key: str,
    n_buckets: int = DEFAULT_BUCKETS,
    buckets: list[int] | None = None,
) -> dict:
    """Write df bucketed by hash(key); dynamic partition overwrite so a
    replay of a bucket subset only rewrites those directories. Returns the
    manifest dict (also persisted alongside the data)."""
    bucketed = with_bucket(df, key, n_buckets)
    if buckets is not None:
        bucketed = bucketed.filter(F.col("bucket").isin(buckets))

    stats = {int(r["bucket"]): r for r in content_stats(bucketed).collect()}

    # a per-write option: setting the session conf races concurrent writers
    (
        bucketed.repartition("bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )

    manifest_path = Path(path) / "_manifest.json"
    manifest = {
        "table": path,
        "key": key,
        "n_buckets": n_buckets,
        "partitions": {},
        "snapshots": [],
        "current_snapshot": None,
    }
    if manifest_path.exists():
        manifest = json.loads(manifest_path.read_text())
        manifest.setdefault("snapshots", [])
        manifest.setdefault("current_snapshot", None)
    written_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    for b, r in stats.items():
        manifest["partitions"][str(b)] = {
            "rows": int(r["rows"]),
            "content_sum": str(r["content_sum"]) if r["content_sum"] is not None else "0",
            "written_at": written_at,
        }
    # snapshot lineage record (Iceberg-snapshot analog): which buckets
    # this commit touched, their content fingerprints, and the parent
    # snapshot — the queryable per-partition lineage the replay planner
    # and audits read (see lineage_df)
    snapshot_id = len(manifest["snapshots"]) + 1
    manifest["snapshots"].append(
        {
            "id": snapshot_id,
            "parent": manifest["current_snapshot"],
            "written_at": written_at,
            "operation": "replay" if buckets is not None else "overwrite",
            "buckets": {
                str(b): {
                    "rows": int(r["rows"]),
                    "content_sum": str(r["content_sum"]) if r["content_sum"] is not None else "0",
                }
                for b, r in stats.items()
            },
        }
    )
    manifest["current_snapshot"] = snapshot_id
    manifest_path.write_text(json.dumps(manifest, indent=2, sort_keys=True))
    return manifest


def verify_manifest(spark: SparkSession, path: str) -> dict[str, bool]:
    """Recompute per-bucket stats from the stored parquet and compare to the
    manifest — the resume/validation entry point."""
    manifest = json.loads((Path(path) / "_manifest.json").read_text())
    df = spark.read.parquet(path)
    actual = {int(r["bucket"]): r for r in content_stats(df).collect()}
    out = {}
    for b_str, rec in manifest["partitions"].items():
        b = int(b_str)
        ok = (
            b in actual
            and int(actual[b]["rows"]) == rec["rows"]
            and str(actual[b]["content_sum"]) == rec["content_sum"]
        )
        out[b_str] = ok
    return out


def failed_buckets(spark: SparkSession, path: str) -> list[int]:
    return [int(b) for b, ok in verify_manifest(spark, path).items() if not ok]


def lineage_df(spark: SparkSession, path: str) -> DataFrame:
    """Per-partition lineage as a queryable DataFrame: one row per
    (snapshot, bucket) with row counts, content fingerprints and parent
    pointers — `SELECT * FROM lineage WHERE bucket = 7 ORDER BY snapshot`
    answers 'who last rewrote this partition and what did it contain'."""
    manifest = json.loads((Path(path) / "_manifest.json").read_text())
    rows = []
    for snap in manifest.get("snapshots", []):
        for b, rec in snap.get("buckets", {}).items():
            rows.append(
                (
                    int(snap["id"]),
                    snap.get("parent"),
                    snap["written_at"],
                    snap.get("operation", "overwrite"),
                    int(b),
                    int(rec["rows"]),
                    str(rec["content_sum"]),
                )
            )
    return spark.createDataFrame(
        rows,
        "snapshot int, parent int, written_at string, operation string, "
        "bucket int, rows bigint, content_sum string",
    )
