"""Stage checkpoint store: Iceberg when the catalog has it, parquet otherwise.

The reference materializes every phase into a staging table
(build_db.py:206-276 staging→clean; query_db/constants.py:25-33 temp
stage tables) — that materialization is what makes its pipeline
restartable. Here each stage (the ER plan's features, blocks, pairs,
edges, components, clusters; the curation funnel's docs and its filter
stages) is written through this store; the manifest makes
any stage resumable (north rule: "checkpointing each stage … so any
stage is resumable").

In this sandbox no Iceberg jar is on the classpath, so the store degrades
to parquet directories + a JSON manifest with an identical API; on a real
cluster, ``table_format="iceberg"`` writes ``writeTo(...).partitionedBy(
bucket(N, id)).createOrReplace()`` so every stage lands bucketed on ``id``
and the downstream self-joins read co-located buckets. N is not a
setting: each bucketed write derives it from the stage plan's partition
count (floored at the default parallelism), which Spark already sized
from the input bytes and the cores, and records it in the manifest, so
a resume re-registers the table with the count the files were written
with. Lineage rows (per-partition counts + wall time) land next to each
stage.

Keep-list stages: a stage that only filters the rows of an earlier
stage can store just the key of its survivors (``write(..., keep_of=
base)`` of a one-column frame). The manifest records ``base`` and
``key``, and ``read`` serves the stage as the base's rows semi-joined to
the stored keys — the base's columns in the base's order — so the text
is stored once, in the base. A keep-list under
``spark.sql.autoBroadcastJoinThreshold`` (``ccer.session`` sets 64 MB:
~8 M 8-byte ids) makes the read-back a broadcast semi-join with no
exchange over the base. The trade-off: a larger keep-list shuffles the
whole base on every read-back. The key must be unique in the base, or
the read-back returns every row under a kept key.

Resume safety: the manifest records a ``fingerprint`` per stage (caller-
supplied config/input digest). ``exists`` requires (a) the manifest entry,
(b) the stage data to still be present on disk / in the catalog, and
(c) the fingerprint to match when the caller supplies one — so editing the
config or swapping the input invalidates stale checkpoints instead of
silently reusing them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType


def load_manifest(base_dir: str) -> dict:
    """The stage manifest of a store directory (``{"stages": {}}`` when
    nothing has been written there yet)."""
    path = os.path.join(base_dir, "_manifest.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return {"stages": {}}


class StageStore:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        table_format: str = "auto",
        fingerprint: str | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.manifest_path = os.path.join(base_dir, "_manifest.json")
        if table_format == "auto":
            table_format = "iceberg" if self._iceberg_available() else "parquet"
        self.table_format = table_format
        self.fingerprint = fingerprint
        # stage name -> its stored rows as read by this store, so the base
        # of every keep-list read is resolved once (a parquet read infers
        # its schema from a footer, one Spark job per read)
        self._frames: dict[str, DataFrame] = {}

    def _iceberg_available(self) -> bool:
        try:
            return "iceberg" in self.spark.conf.get(
                "spark.sql.extensions", ""
            ).lower()
        except Exception:
            return False

    # ------------------------------------------------------------- manifest
    def _save_manifest(self, manifest: dict) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2, sort_keys=True)
        os.replace(tmp, self.manifest_path)

    def commit(self, record: dict) -> None:
        """Store ``record`` as the manifest's ``commit`` entry in one
        atomic manifest write (a reader sees the old record or this one)."""
        manifest = load_manifest(self.base_dir)
        manifest["commit"] = record
        self._save_manifest(manifest)

    def completed_stages(self) -> list[str]:
        stages = load_manifest(self.base_dir)["stages"]
        return [name for name in stages if self.exists(name)]

    # --------------------------------------------------------------- stages
    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _table_name(self, name: str) -> str:
        """Session-catalog name for a bucketed stage — keyed by workdir so
        two pipelines in one session never collide."""
        digest = hashlib.md5(self.base_dir.encode()).hexdigest()[:8]
        return f"ccer_{name}_{digest}"

    def _data_present(self, name: str) -> bool:
        if self.table_format == "iceberg":
            try:
                return self.spark.catalog.tableExists(f"ccer.{name}")
            except Exception:
                return False
        # parquet: the directory must exist and hold a _SUCCESS marker
        # (a killed write leaves part files without one)
        return os.path.exists(os.path.join(self.path(name), "_SUCCESS"))

    def exists(self, name: str) -> bool:
        meta = load_manifest(self.base_dir)["stages"].get(name, {})
        if not meta.get("complete", False):
            return False
        if not self._data_present(name):
            return False
        if self.fingerprint is not None and meta.get("fingerprint") != self.fingerprint:
            return False
        return not meta.get("base") or self.exists(meta["base"])

    def rows(self, name: str) -> int | None:
        """The row count ``write`` recorded for a stage (None when it was
        never written), read from the manifest without a Spark job."""
        return load_manifest(self.base_dir)["stages"].get(name, {}).get("rows")

    def stage(self, name: str, compute, **write_kwargs) -> DataFrame:
        """The stage runner: reuse ``name`` when it is complete, otherwise
        build its plan with ``compute()`` and ``write`` it. The clock
        starts before ``compute()``: the scorer's eager localCheckpoint
        runs the pairwise crossing while the plan is built, and
        ``duration_sec`` must own that cost (see ``write``)."""
        if self.exists(name):
            return self.read(name)
        start = time.time()
        return self.write(compute(), name, start=start, **write_kwargs)

    def write(
        self,
        df: DataFrame,
        name: str,
        bucket_by: str | None = None,
        start: float | None = None,
        keep_of: str | None = None,
        check=None,
    ) -> DataFrame:
        """Materialize a stage; records lineage (row count, per-partition
        counts, duration) and marks it complete in the manifest. Returns
        the re-read DataFrame so downstream plans start from the scan.

        ``keep_of``: ``df`` is a keep-list over the stage of that name —
        one key column holding the ids of the base rows that survive.
        Only the ids are stored; the manifest records ``base`` and
        ``key``, and the returned frame (like every ``read``) is the
        base semi-joined to them.

        ``check``: called with the re-read stage before the manifest
        marks it complete; an exception refuses the stage, so a resume
        recomputes it instead of trusting it.

        ``bucket_by``: hash-bucket the stage on a join key. Downstream
        equi-joins on that key then read co-located, pre-sorted buckets
        and skip the stage-side exchange entirely (the heavy features
        payload — band keys + sketches — is shuffled once at write time
        instead of once per consuming join). The bucket count, and so
        each consuming join's task count, comes from the data
        (``_bucket_count``) and is recorded in the manifest. Same-session
        reads resolve through the catalog table; a resume in a fresh
        session re-registers it with the manifest's count (``read``)."""
        # ``start``: pass the timestamp from BEFORE the stage's plan was
        # built when the plan construction itself executes work (the
        # scorer's eager localCheckpoint materializes the whole pairwise
        # crossing at plan-build time) — otherwise duration_sec silently
        # excludes the stage's dominant cost (measured: ~50 s of scoring
        # invisible between 'pairs' and 'edges' at 960k pages).
        start = time.time() if start is None else start
        # the files are about to be replaced: a stale "complete" entry
        # must not outlive them if this write or its check fails
        self.invalidate_from(name, [name])
        self._frames.pop(name, None)
        key = None
        if keep_of is not None:
            if len(df.columns) != 1:
                raise ValueError(
                    f"keep-list stage {name!r} must have one key column, got {df.columns}"
                )
            key = df.columns[0]
        bucket_count = None
        if self.table_format == "iceberg":
            writer = df.writeTo(f"ccer.{name}")
            if bucket_by or "id" in df.columns:
                # bucket on the join/shuffle key so stage reads are
                # co-located for the downstream self-joins
                bucket_count = self._bucket_count(df)
                writer = writer.partitionedBy(
                    F.bucket(bucket_count, F.col(bucket_by or "id"))
                )
            writer.createOrReplace()
        elif bucket_by:
            bucket_count = self._bucket_count(df)
            tbl = self._table_name(name)
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(self.path(name), ignore_errors=True)
            (
                # one shuffle to bucket layout now; one file per bucket
                # (repartition first), sorted within — consuming sort-merge
                # joins skip both their exchange and their sort
                df.repartition(bucket_count, F.col(bucket_by))
                .write.mode("overwrite")
                .bucketBy(bucket_count, bucket_by)
                .sortBy(bucket_by)
                .option("path", self.path(name))
                .format("parquet")
                .saveAsTable(tbl)
            )
        else:
            df.write.mode("overwrite").parquet(self.path(name))
        if keep_of is None:
            # re-read with the written schema, top-level fields nullable
            # as a parquet read reports them: inferring it from a footer
            # would cost one Spark job per stage
            schema = StructType(
                [StructField(f.name, f.dataType, True, f.metadata) for f in df.schema]
            )
            stored = out = self._frames[name] = self._read_stored(name, {}, schema)
        else:
            stored, out = self._read_keep_list(name, keep_of, key, {})
        per_partition = self._lineage_counts(name, stored)
        rows = sum(p["rows"] for p in per_partition)
        if check is not None:
            check(out)
        manifest = load_manifest(self.base_dir)
        manifest["stages"][name] = {
            "complete": True,
            "rows": rows,
            "n_partitions": len(per_partition),
            "duration_sec": round(time.time() - start, 3),
            "format": self.table_format,
            "fingerprint": self.fingerprint,
            "bucket_by": bucket_by,
            "bucket_count": bucket_count,
            "base": keep_of,
            "key": key,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._save_manifest(manifest)
        with open(os.path.join(self.base_dir, f"_lineage_{name}.json"), "w") as fh:
            json.dump(
                {"stage": name, "rows": rows, "partitions": per_partition},
                fh,
                indent=2,
            )
        return out

    def _bucket_count(self, df: DataFrame) -> int:
        """Buckets for a stage = its plan's partition count, floored at the
        session's default parallelism. Spark sizes a scan's partition
        count from the input bytes and the cores, so the bucket count
        follows the data (4 files for a few MB on 4 cores, not a fixed
        64). The count is read with adaptive execution off: an adaptive
        plan rooted in a shuffle (``extract_features`` repartitions a
        small input up to the core count) would run that shuffle's map
        stage just to report it; the static plan runs no job."""
        conf = self.spark.conf
        adaptive = conf.get("spark.sql.adaptive.enabled")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            n = df.rdd.getNumPartitions()
        finally:
            conf.set("spark.sql.adaptive.enabled", adaptive)
        return max(n, self.spark.sparkContext.defaultParallelism)

    def _lineage_counts(self, name: str, out: DataFrame) -> list[dict]:
        """Per-partition lineage rows. For parquet stages the counts come
        straight from the file footers (driver-side, zero Spark jobs —
        the previous groupBy(spark_partition_id) re-read every stage it
        had just written, a full extra table scan per stage); the Iceberg
        branch counts through the engine."""
        if self.table_format == "parquet":
            try:
                import glob

                import pyarrow.parquet as pq

                files = sorted(glob.glob(os.path.join(self.path(name), "*.parquet")))
                if files:
                    return [
                        {
                            "partition": i,
                            "file": os.path.basename(f),
                            "rows": pq.ParquetFile(f).metadata.num_rows,
                        }
                        for i, f in enumerate(files)
                    ]
            except Exception:
                pass
        return [
            {"partition": r["p"], "rows": r["rows"]}
            for r in out.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ]

    def read(self, name: str) -> DataFrame:
        """A stage's rows. A keep-list stage (manifest ``base`` and
        ``key``) reads as ``read(base)`` semi-joined to its stored keys,
        with the base's columns in the base's order; any other stage
        reads as stored."""
        meta = load_manifest(self.base_dir)["stages"].get(name, {})
        if meta.get("base"):
            return self._read_keep_list(name, meta["base"], meta["key"], meta)[1]
        if name not in self._frames:
            self._frames[name] = self._read_stored(name, meta)
        return self._frames[name]

    def _read_keep_list(self, name: str, base: str, key: str, meta: dict):
        """(stored keys, base rows semi-joined to them). The keys are read
        with the base's key type, so no job infers their schema."""
        rows = self.read(base)
        schema = StructType([StructField(key, rows.schema[key].dataType)])
        keys = self._read_stored(name, meta, schema)
        return keys, rows.join(keys, key, "left_semi")

    def _read_stored(
        self, name: str, meta: dict, schema: StructType | None = None
    ) -> DataFrame:
        """What ``write`` stored under ``name``; ``meta`` is its manifest
        entry, ``{}`` while ``write`` is still landing it."""
        if self.table_format == "iceberg":
            return self.spark.read.table(f"ccer.{name}")
        try:
            tbl = self._table_name(name)
            if self.spark.catalog.tableExists(tbl):
                return self.spark.read.table(tbl)
            if meta.get("bucket_by"):
                # resume in a fresh session: re-register the external
                # bucketed table over the existing files (bucket ids are
                # encoded in the part-file name suffixes), so resumed
                # plans keep the exchange-free joins
                ddl = self.spark.read.parquet(self.path(name)).schema.toDDL()
                key = meta["bucket_by"]
                self.spark.sql(
                    f"CREATE TABLE {tbl} ({ddl}) USING parquet "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {meta['bucket_count']} BUCKETS "
                    f"LOCATION '{self.path(name)}'"
                )
                return self.spark.read.table(tbl)
        except Exception:
            pass
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(name))

    def invalidate_from(self, name: str, order: list[str]) -> None:
        """Mark ``name`` and all later stages incomplete (re-run policy)."""
        manifest = load_manifest(self.base_dir)
        if name in order:
            for stage in order[order.index(name):]:
                if stage in manifest["stages"]:
                    manifest["stages"][stage]["complete"] = False
        self._save_manifest(manifest)
