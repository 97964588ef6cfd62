"""Committed-table layer with snapshot/resume semantics (SURVEY.md §2
A3/A4, BASELINE.json:6 "checkpointed to Iceberg so any stage can resume
from the last committed snapshot").

Two backends behind one interface:

- **iceberg** — used when an ``iceberg-spark-runtime`` jar is on the JVM
  classpath (the real-cluster path): ``df.writeTo(...).append()``,
  time-travel reads via ``option("snapshot-id", ...)``.
- **parquet fallback** — this sandbox has no Iceberg jar (SURVEY.md §0),
  so commits are emulated: every write lands in a fresh immutable data
  directory, and a JSON *manifest* naming the complete directory set of
  the snapshot is published via atomic ``os.rename``. Readers list the
  manifest, never the filesystem, so a crashed half-written data dir is
  simply invisible — the same isolation story as Iceberg's metadata
  pointer swap.

Plain (unpartitioned, unbucketed) parquet snapshots record the Spark
schema of what they committed, and ``read`` pins it: a read-back plans
without the footer-sampling schema-inference job. Manifests written
before the ``schema`` key existed read exactly as before (inferred).

Small driver-side commits — the per-stage lineage/metrics audit rows —
arrive as a ``pyarrow.Table``: the parquet backend writes them as one
file with ``pyarrow.parquet`` and publishes them through the same
manifest commit, so an audit append launches no Spark job.

Resume registry: ``(run_id, stage, config_hash) → (table, snapshot_id)``
markers, also atomically renamed into place. A pipeline stage whose
marker exists is skipped and its committed snapshot is read back.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from dedup.session import iceberg_available


def _iceberg_bucket(n_buckets: int, bucket_by: list[str]):
    """Iceberg's ``bucket(N, col)`` transform takes ONE column; hashing
    a column set into buckets has no Iceberg spelling, and making the
    extra columns identity partitions would silently change the layout
    the caller asked for."""
    if len(bucket_by) != 1:
        raise ValueError(
            f"iceberg buckets by exactly one column, got bucket_by={bucket_by}"
        )
    return F.bucket(n_buckets, bucket_by[0])


class TableIO:
    def __init__(self, spark: SparkSession, root: str, backend: str | None = None):
        self.spark = spark
        self.root = root
        if backend is None:
            backend = "iceberg" if iceberg_available(spark) else "parquet"
        self.backend = backend
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_dir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_manifests")

    def _commits_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    @staticmethod
    def _atomic_write_json(path: str, payload: dict) -> None:
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".tmp-")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.rename(tmp, path)  # atomic on POSIX — the commit point

    # -- snapshots ---------------------------------------------------------
    def snapshots(self, table: str) -> list[dict]:
        mdir = self._manifest_dir(table)
        if not os.path.isdir(mdir):
            return []
        out = []
        for name in sorted(os.listdir(mdir)):
            if name.startswith(".") or not name.endswith(".json"):
                continue
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
        return sorted(out, key=lambda s: s["snapshot_id"])

    def latest(self, table: str) -> dict | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    @staticmethod
    def _next_id(prev: dict | None) -> int:
        return (prev["snapshot_id"] + 1) if prev else 0

    def _publish(
        self, table: str, prev: dict | None, mode: str, data_dir: str, **fields
    ) -> int:
        """Commit ``data_dir`` as the next snapshot of ``table`` (appends
        carry the previous snapshot's dirs forward) by atomically renaming
        its manifest into place; returns the snapshot id. The one manifest
        writer every commit path goes through."""
        snapshot_id = self._next_id(prev)
        dirs = [data_dir]
        if mode == "append" and prev:
            dirs = prev["dirs"] + dirs
        manifest = {
            "snapshot_id": snapshot_id,
            "parent": prev["snapshot_id"] if prev else None,
            "mode": mode,
            "dirs": dirs,
            "partition_by": [],
            **fields,
            "committed_at": time.time(),
        }
        self._atomic_write_json(
            os.path.join(self._manifest_dir(table), f"{snapshot_id:012d}.json"),
            manifest,
        )
        return snapshot_id

    # -- bucketed catalog names ---------------------------------------------
    def _catalog_name(self, table: str, snapshot_id: int) -> str:
        """Session-catalog identifier for one bucketed snapshot. Bucket
        metadata has no path-only form in Spark, so every bucketed
        snapshot gets a deterministic catalog entry keyed by warehouse
        root + table + snapshot id: a FRESH session (resume after a
        crash) recreates the same name from the manifest alone."""
        import hashlib

        root8 = hashlib.sha1(os.path.abspath(self.root).encode()).hexdigest()[:8]
        return f"dedup_{root8}_{table}_s{snapshot_id}"

    @staticmethod
    def _schema_ddl(df: DataFrame) -> str:
        return ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )

    def _ensure_bucketed_catalog(self, snap: dict) -> str:
        """Make sure the catalog entry for a bucketed snapshot exists
        (re-registering from the manifest in a fresh session) and return
        its name. The table is EXTERNAL — the manifest owns the data
        lifecycle; the catalog entry is pure join-layout metadata."""
        cat = snap["catalog"]
        if not self.spark.catalog.tableExists(cat):
            cols = ", ".join(f"`{c}`" for c in snap["bucket_by"])
            sort = (
                " SORTED BY (" + ", ".join(f"`{c}`" for c in snap["sort_by"]) + ")"
                if snap.get("sort_by")
                else ""
            )
            self.spark.sql(
                f"CREATE TABLE {cat} ({snap['schema_ddl']}) USING PARQUET "
                f"CLUSTERED BY ({cols}){sort} INTO {snap['n_buckets']} BUCKETS "
                f"LOCATION '{snap['dirs'][0]}'"
            )
        return cat

    # -- write -------------------------------------------------------------
    def write(
        self,
        df: DataFrame | pa.Table,
        table: str,
        mode: str = "append",
        sort_within: list[str] | None = None,
        partition_by: list[str] | None = None,
        bucket_by: list[str] | None = None,
        n_buckets: int = 0,
    ) -> int:
        """Write ``df`` as a new snapshot of ``table``; returns snapshot id.
        ``df`` may also be a ``pyarrow.Table`` of a few driver-side rows
        (the lineage/metrics audit appends): plain appends only, written
        by ``pyarrow.parquet`` as one file — no Spark job — and committed
        through the same manifest publish as a DataFrame append.
        ``sort_within``: optional sortWithinPartitions columns for file
        clustering (H2) before the write.
        ``partition_by``: SURVEY §4.3 physical layout — hive-style
        directory partitioning on the named columns, so reads filtering
        on them prune at the PartitionFilters level (static) and joins
        against a filtered dimension prune dynamically (DPP); plan tests
        pin both. Appends to a partitioned table must repeat the same
        columns (recorded in the manifest, validated here) — mixing
        layouts within one table would silently break partition
        discovery on read.
        ``bucket_by``/``n_buckets``: SURVEY §4.3 co-located-join layout
        as a COMMITTED form — the snapshot's data dir is written via
        ``bucketBy`` (pre-shuffled on the bucket key so each bucket is
        one file, not tasks×buckets small files) and registered as an
        external catalog table; ``read`` returns the bucket-aware
        catalog frame, so same-key same-count consumers (clusters ⋈
        docs on doc_id) SortMergeJoin with zero Exchange on every
        resume. The one-off repartition at commit time is the price
        that deletes the join shuffle for every later consumer.
        Overwrite-mode only (bucketBy cannot append into an existing
        file set); time travel to older snapshots still works — a plain
        parquet read of a bucketed dir is always correct, just not
        exchange-free."""
        # layout-validity checks are BACKEND-INDEPENDENT — code written
        # against the parquet fallback must hit the same guards when
        # the iceberg jar is present
        if bucket_by:
            if mode != "overwrite":
                raise ValueError("bucketed commits are overwrite-only")
            if partition_by:
                raise ValueError("bucket_by and partition_by are exclusive")
        arrow = isinstance(df, pa.Table)
        if arrow and (mode != "append" or sort_within or partition_by or bucket_by):
            raise ValueError("pyarrow.Table commits are plain appends")
        if self.backend == "iceberg":
            parts = []
            if bucket_by:
                parts = [_iceberg_bucket(n_buckets, bucket_by)]
            elif partition_by and mode != "append":
                parts = [F.col(c) for c in partition_by]
            if arrow:
                df = self.spark.createDataFrame(df)
            w = df.writeTo(table)
            if parts:
                w = w.partitionedBy(*parts)
            (w.append() if mode == "append" else w.createOrReplace())
            return -1  # iceberg assigns its own ids; not used locally
        if bucket_by:
            return self._write_bucketed_snapshot(
                df, table, bucket_by, n_buckets, sort_within
            )
        if sort_within:
            df = df.sortWithinPartitions(*sort_within)
        prev = self.latest(table)
        if mode == "append" and prev and prev.get("bucket_by"):
            # a plain append would union unbucketed files into a
            # bucketed snapshot, silently dropping the layout (and the
            # zero-Exchange join physics) on read — fail loudly instead
            raise ValueError(
                f"table {table!r} latest snapshot is bucketed by "
                f"{prev['bucket_by']}; appends would drop the bucket "
                "layout — overwrite with the same bucket_by instead"
            )
        if mode == "append" and prev and prev.get("partition_by", []) != list(
            partition_by or []
        ):
            raise ValueError(
                f"table {table!r} is partitioned by {prev.get('partition_by')}, "
                f"append requested {partition_by}: layouts must match"
            )
        data_dir = os.path.join(self._tdir(table), "data", uuid.uuid4().hex)
        if arrow:
            os.makedirs(data_dir)
            pq.write_table(df, os.path.join(data_dir, "part-00000.snappy.parquet"))
            schema = from_arrow_schema(df.schema)
        else:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(data_dir)
            schema = df.schema
        if partition_by:
            # partition columns are discovered from the directory names
            # on read, so their types are not the frame's: infer instead
            return self._publish(
                table, prev, mode, data_dir, partition_by=list(partition_by)
            )
        return self._publish(
            table, prev, mode, data_dir, schema=schema.jsonValue()
        )

    def _write_bucketed_snapshot(
        self,
        df: DataFrame,
        table: str,
        bucket_by: list[str],
        n_buckets: int,
        sort_within: list[str] | None,
    ) -> int:
        prev = self.latest(table)
        data_dir = os.path.join(self._tdir(table), "data", uuid.uuid4().hex)
        cat = self._catalog_name(table, self._next_id(prev))
        w = (
            df.repartition(n_buckets, *[F.col(c) for c in bucket_by])
            .write.mode("overwrite")
            .option("path", data_dir)
            .bucketBy(n_buckets, *bucket_by)
        )
        if sort_within:
            w = w.sortBy(*sort_within)  # per-bucket-file sort
        self.spark.sql(f"DROP TABLE IF EXISTS {cat}")
        w.saveAsTable(cat)
        return self._publish(
            table, prev, "overwrite", data_dir,
            bucket_by=list(bucket_by),
            n_buckets=n_buckets,
            sort_by=list(sort_within or []),
            catalog=cat,
            schema_ddl=self._schema_ddl(df),
        )

    def compact(
        self,
        table: str,
        target_files: int,
        sort_within: list[str] | None = None,
    ) -> int:
        """Small-file compaction (the Iceberg ``rewrite_data_files``
        analog): rewrite the CURRENT snapshot's rows into
        ``target_files`` evenly-sized files as a new overwrite
        snapshot. Content-identical by construction; earlier snapshots
        stay time-travelable (the manifest chain is append-only, so
        compaction is as crash-safe as any commit). A long-lived
        append-heavy table — the streaming warehouse's docs/edges logs
        — otherwise accretes one file set per microbatch and every
        corpus-linear probe pays the per-file open/footer cost; at real
        scale this runs as a background maintenance job per table."""
        prev = self.latest(table)
        if (prev or {}).get("bucket_by"):
            # a bucketed snapshot is ALREADY one file per bucket (the
            # commit repartitions on the bucket key) — rewriting it
            # would shuffle the whole table to a byte-equivalent layout.
            # No-op: return the current snapshot id.
            return prev["snapshot_id"]
        df = self.read(table)
        out = df.repartition(target_files)
        return self.write(
            out,
            table,
            mode="overwrite",
            sort_within=sort_within,
            partition_by=(prev or {}).get("partition_by") or None,
        )

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_by: list[str],
        n_buckets: int,
        sort_by: list[str] | None = None,
    ) -> None:
        """SURVEY §4.3 bucketed layout — the CO-LOCATED-JOIN surface:
        two tables bucketed by the same key into the same bucket count
        join WITHOUT an exchange on either side (the at-scale answer to
        'this corpus-sized join shuffles every batch'; plan test pins
        the no-Exchange property). Parquet bucketing lives in the
        session catalog (bucket metadata has no path-only form), so
        this is a separate surface from the manifest snapshots: catalog
        table = join layout, manifest = time travel. Iceberg unifies
        the two at real scale (`bucket(N, col)` partition transform on
        the same committed table); the dispatch here forwards to a
        plain ``partitionedBy(bucket(N, col))`` createOrReplace."""
        if self.backend == "iceberg":
            spec = _iceberg_bucket(n_buckets, bucket_by)
            df.writeTo(table).partitionedBy(spec).createOrReplace()
            return
        path = os.path.join(self._tdir(table), "bucketed")
        w = (
            df.write.mode("overwrite")
            .option("path", path)
            .bucketBy(n_buckets, *bucket_by)
        )
        if sort_by:
            w = w.sortBy(*sort_by)
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        w.saveAsTable(table)

    def read_bucketed(self, table: str) -> DataFrame:
        return self.spark.table(table)

    # -- read --------------------------------------------------------------
    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Read a committed snapshot (latest by default). Only manifest-
        listed directories are scanned — uncommitted data is invisible."""
        if self.backend == "iceberg":
            r = self.spark.read.format("iceberg")
            if snapshot_id is not None:
                r = r.option("snapshot-id", str(snapshot_id))
            return r.load(table)
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        if snapshot_id is None:
            snap = snaps[-1]
        else:
            match = [s for s in snaps if s["snapshot_id"] == snapshot_id]
            if not match:
                raise FileNotFoundError(f"{table!r} has no snapshot {snapshot_id}")
            snap = match[0]
        if snap.get("bucket_by"):
            # bucket-aware read through the (re-)registered catalog
            # entry: same-key same-count joins plan with zero Exchange
            return self.spark.table(self._ensure_bucketed_catalog(snap))
        if snap.get("partition_by"):
            # hive-style partition discovery cannot span unrelated data
            # roots (CONFLICTING_DIRECTORY_STRUCTURES) — scan each
            # committed dir as its own partitioned root and union;
            # filters on the partition columns still push into every
            # scan's PartitionFilters through the union
            out = self.spark.read.parquet(snap["dirs"][0])
            for d in snap["dirs"][1:]:
                out = out.unionByName(self.spark.read.parquet(d))
            return out
        if "schema" in snap:
            # the committed schema, pinned: no schema-inference job
            schema = StructType.fromJson(snap["schema"])
            return self.spark.read.schema(schema).parquet(*snap["dirs"])
        return self.spark.read.parquet(*snap["dirs"])

    def exists(self, table: str) -> bool:
        return bool(self.snapshots(table))

    # -- resume registry ----------------------------------------------------
    def _marker_path(self, run_id: str, stage: str, config_hash: str) -> str:
        return os.path.join(
            self._commits_dir(), run_id, f"{stage}-{config_hash}.json"
        )

    def mark_stage(
        self, run_id: str, stage: str, config_hash: str, table: str, snapshot_id: int
    ) -> None:
        self._atomic_write_json(
            self._marker_path(run_id, stage, config_hash),
            {
                "run_id": run_id,
                "stage": stage,
                "config_hash": config_hash,
                "table": table,
                "snapshot_id": snapshot_id,
                "committed_at": time.time(),
            },
        )

    def find_stage(self, run_id: str, stage: str, config_hash: str) -> dict | None:
        p = self._marker_path(run_id, stage, config_hash)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)
