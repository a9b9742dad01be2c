"""Format-abstracted table catalog.

The north_rule targets Iceberg tables; this sandbox has no Iceberg
runtime, so the catalog speaks Spark's native file formats (parquet by
default, plus ORC for columnar interchange and JSON-lines / CSV for the
ingest edge) with the SAME call shapes the Iceberg implementation uses —
swapping the format is a ctor argument, not a code change:

| Catalog op | parquet (sandbox) | Iceberg (production) |
|---|---|---|
| read        | `spark.read.parquet(dir)`            | `spark.read.table(name)` |
| overwrite   | `df.write.mode('overwrite').parquet` | `df.writeTo(name).createOrReplace()` |
| append      | `df.write.mode('append').parquet`    | `df.writeTo(name).append()` |
| dyn. partition overwrite | `partitionOverwriteMode=dynamic` | `df.writeTo(name).overwritePartitions()` |
| merge       | read + unionByName + distinct + overwrite | `MERGE INTO` SQL |

Partition columns map to Iceberg partition transforms (identity here;
`bucket(N, doc_id)` in production for the lineage buckets).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


# data-file suffix and default reader/writer options per storage format
_FORMATS = {
    "parquet": (".parquet", {}, {}),
    "orc": (".orc", {}, {}),
    # json = JSON-lines (one object per line) — the interchange format of
    # most public text-corpus releases; columnar pruning does not apply,
    # so production keeps these at the ingest edge and converts to
    # parquet/Iceberg immediately
    "json": (".json", {}, {}),
    # csv: header row on both sides; pass an explicit ``schema`` to read()
    # for type fidelity (CSV has no embedded types)
    "csv": (".csv", {"header": "true"}, {"header": "true"}),
}


class Catalog:
    def __init__(self, spark: SparkSession, base_dir: str, fmt: str = "parquet"):
        if fmt not in _FORMATS:
            raise NotImplementedError(
                f"unsupported catalog format {fmt!r} (available: "
                f"{sorted(_FORMATS)}); the Iceberg mapping is documented "
                "in the module docstring"
            )
        self.spark = spark
        self.base_dir = base_dir
        self.fmt = fmt
        self.ext, self._ropts, self._wopts = _FORMATS[fmt]
        os.makedirs(base_dir, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.exists(p) and any(
            f.endswith(self.ext) for _, _, fs in os.walk(p) for f in fs
        )

    def read(self, name: str, schema: str | None = None) -> DataFrame:
        r = self.spark.read.format(self.fmt).options(**self._ropts)
        if schema:
            r = r.schema(schema)
        elif self.fmt == "csv":
            r = r.option("inferSchema", "true")
        return r.load(self.path(name))

    def _save(self, writer, path: str) -> None:
        writer.format(self.fmt).options(**self._wopts).save(path)

    def overwrite(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        self._save(w, self.path(name))

    def overwrite_partitions(self, df: DataFrame, name: str, partition_by: list[str]) -> None:
        """Replace only the partitions present in df (idempotent per-bucket
        commit — Iceberg ``overwritePartitions``). The dynamic mode is a
        per-write option, so the session conf is never touched and
        concurrent plain ``mode('overwrite')`` writes keep truncate
        semantics."""
        self._save(
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by),
            self.path(name),
        )

    def append(self, df: DataFrame, name: str) -> None:
        self._save(df.write.mode("append"), self.path(name))

    def write_clustered(
        self, df: DataFrame, name: str, cluster_by: list[str], n_files: int | None = None
    ) -> None:
        """Range-clustered write: rows are range-partitioned then sorted
        within each file on ``cluster_by`` (Iceberg: a table SORT ORDER /
        z-order maintenance write). Every file covers a disjoint key
        range, so engines that read parquet min/max footers (Spark,
        DuckDB, Trino, Iceberg planning) skip whole files for selective
        predicates on the cluster key — the difference between touching
        1/1000th and all of a 100 TB table. The range boundaries come
        from Spark's distributed sampling; no driver materialization."""
        n = n_files or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        out = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(*cluster_by)
        self._save(out.write.mode("overwrite"), self.path(name))

    def write_zordered(
        self,
        df: DataFrame,
        name: str,
        col_x: str,
        col_y: str,
        n_files: int | None = None,
        bits: int = 16,
    ) -> None:
        """Z-order (Morton-curve) clustered write on TWO keys — the
        Iceberg ``rewrite_data_files(strategy => 'sort', sort_order =>
        zorder(x, y))`` analogue. ``write_clustered`` gives perfect
        pruning on one key and none on the other; interleaving the bits
        of both keys gives each parquet file a small min/max bounding
        RECTANGLE, so selective predicates on either key (or both) skip
        most files. Keys are min/max-normalized to ``bits`` bits (the
        min/max pass is one 4-scalar aggregate — never a global rank
        window, which would serialize the whole table through one
        partition); the z-value is a pure 2*bits-term integer expression
        (codegen, no UDF), and the write is range-partitioned on z —
        fully distributed, boundaries from Spark's sampler. Heavily
        skewed keys under-fill the curve with linear normalization; at
        production scale substitute distributed-quantile boundaries for
        the min/max scaling, same z expression."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import NumericType

        for c in (col_x, col_y):
            if not isinstance(df.schema[c].dataType, NumericType):
                raise ValueError(
                    f"write_zordered('{name}'): cluster key '{c}' is "
                    f"{df.schema[c].dataType.simpleString()}, not numeric"
                )
        scale = (1 << bits) - 1
        mm = df.agg(
            F.min(col_x).alias("x0"), F.max(col_x).alias("x1"),
            F.min(col_y).alias("y0"), F.max(col_y).alias("y1"),
        ).collect()[0]
        if mm["x0"] is None or mm["y0"] is None:
            raise ValueError(
                f"write_zordered('{name}'): min/max of '{col_x}'/'{col_y}' "
                "is NULL — empty input or all-null cluster key"
            )
        span_x = max(float(mm["x1"]) - float(mm["x0"]), 1e-12)
        span_y = max(float(mm["y1"]) - float(mm["y0"]), 1e-12)
        rx = F.floor(
            (F.col(col_x) - F.lit(float(mm["x0"]))) / span_x * scale
        ).cast("long")
        ry = F.floor(
            (F.col(col_y) - F.lit(float(mm["y0"]))) / span_y * scale
        ).cast("long")
        z = None
        for i in range(bits):
            part = F.shiftleft(F.shiftright(F.col("__rx"), i).bitwiseAND(1), 2 * i) + \
                F.shiftleft(F.shiftright(F.col("__ry"), i).bitwiseAND(1), 2 * i + 1)
            z = part if z is None else z + part
        n = n_files or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        out = (
            df.withColumn("__rx", rx)
            .withColumn("__ry", ry)
            .withColumn("__z", z)
            .repartitionByRange(n, "__z")
            .sortWithinPartitions("__z")
            .drop("__rx", "__ry", "__z")
        )
        self._save(out.write.mode("overwrite"), self.path(name))

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        keys: list[str],
        n_buckets: int,
        sort: bool = True,
    ) -> None:
        """Hash-bucketed table write — the Iceberg ``bucket(N, key)``
        partition transform (the module docstring's lineage-bucket row).
        Two tables bucketed on the same keys with the same N are
        co-located: a join or aggregation on those keys needs NO shuffle
        exchange on either side — at 100 TB that deletes the single
        biggest cost of the doc_id-keyed joins (spans ⋈ media, state ⋈
        catalog). ``sort=True`` also sorts within buckets so SortMergeJoin
        skips its sort. Bucketing metadata lives in the session catalog
        (``saveAsTable``; Spark cannot express bucketing path-only), with
        the data files under this catalog's directory."""
        if self.fmt != "parquet":
            raise NotImplementedError(
                "bucketed writes are parquet-only in this sandbox"
            )
        w = (
            df.write.mode("overwrite")
            .format(self.fmt)
            .option("path", self.path(name))
            .bucketBy(n_buckets, *keys)
        )
        if sort:
            w = w.sortBy(*keys)
        w.saveAsTable(name)

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed table THROUGH the session catalog — a plain
        path read would lose the bucket spec and reintroduce shuffles."""
        return self.spark.table(name)

    def merge_distinct(
        self,
        df: DataFrame,
        name: str,
        order_by: list[str] | None = None,
        single_file: bool = False,
    ) -> None:
        """MERGE-style upsert by full-row distinct; Iceberg: ``MERGE INTO``.

        Fully distributed: the merged result is written to a scratch
        directory, then atomically swapped over the target — the
        read-before-overwrite hazard is solved without ever materializing
        the table on the driver, so this scales to tables far beyond
        driver memory. ``single_file=True`` coalesces to one file for
        tiny dictionary-shaped tables (the alias DB)."""
        merged = (
            self.read(name).unionByName(df).distinct() if self.exists(name) else df.distinct()
        )
        if order_by:
            merged = merged.orderBy(*order_by)
        if single_file:
            merged = merged.coalesce(1)
        self._swap_write(merged, name)

    def merge_upsert(
        self,
        df: DataFrame,
        name: str,
        keys: list[str],
        single_file: bool = False,
    ) -> None:
        """Key-based MERGE: incoming rows REPLACE existing rows with the
        same key (Iceberg ``MERGE INTO ... WHEN MATCHED THEN UPDATE``),
        where ``merge_distinct`` is insert-distinct (a re-arrived row
        with CHANGED non-key values would duplicate the key there).

        One window over the key: incoming beats existing (__src desc),
        duplicate incoming keys break ties deterministically on the
        non-key columns — so re-delivery of the same batch is a no-op
        (idempotent, the exactly-once contract streaming sinks need).
        Distributed scratch-write + atomic swap, same as merge_distinct."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        others = [c for c in df.columns if c not in keys]
        incoming = df.withColumn("__src", F.lit(1))
        merged = (
            self.read(name).withColumn("__src", F.lit(0)).unionByName(incoming)
            if self.exists(name)
            else incoming
        )
        w = Window.partitionBy(*keys).orderBy(
            F.desc("__src"), *[F.desc(c) for c in others]
        )
        merged = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        if single_file:
            merged = merged.coalesce(1)
        self._swap_write(merged, name)

    def _swap_write(self, df: DataFrame, name: str) -> None:
        """Write ``df`` over an existing table it may be reading from:
        scratch-dir write + atomic rename, rollback on failure. Never
        materializes on the driver (Iceberg gets this for free from
        snapshot isolation; plain parquet needs the swap)."""
        target = self.path(name)
        scratch = f"{target}.__swap_{uuid.uuid4().hex[:8]}"
        self._save(df.write.mode("overwrite"), scratch)
        backup = f"{target}.__old_{uuid.uuid4().hex[:8]}"
        if os.path.exists(target):
            os.rename(target, backup)
        try:
            os.rename(scratch, target)
        except OSError:
            if os.path.exists(backup):  # roll back on swap failure
                os.rename(backup, target)
            raise
        shutil.rmtree(backup, ignore_errors=True)

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction (Iceberg ``rewrite_data_files``): rewrite
        the table so each file is ~``target_file_bytes``, preserving rows.

        Streaming appends and per-bucket checkpoint commits accumulate
        thousands of tiny files; at 100 TB that turns every scan into a
        metadata/open() storm and defeats row-group pruning. Compaction
        sizes file count from the table's actual on-disk bytes (driver
        reads only directory metadata, never data), optionally restoring
        the cluster order so min/max file pruning keeps working, and
        commits via the same atomic scratch-dir swap as merge_distinct.
        Returns {files_before, files_after, bytes}."""
        target = self.path(name)
        files_before, total = 0, 0
        for root, _, fs in os.walk(target):
            for f in fs:
                if f.endswith(self.ext):
                    files_before += 1
                    total += os.path.getsize(os.path.join(root, f))
        n = max(1, -(-total // target_file_bytes))  # ceil
        df = self.read(name)
        if cluster_by:
            out = df.repartitionByRange(n, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            out = df.repartition(n)
        self._swap_write(out, name)
        files_after = sum(
            1
            for _, _, fs in os.walk(target)
            for f in fs
            if f.endswith(self.ext)
        )
        return {
            "files_before": files_before,
            "files_after": files_after,
            "bytes": total,
        }

    # ------------------------------------------------ merge-on-read deletes
    #
    # Lightweight path-only variant for plain-Catalog tables (one delete
    # queue, no commit sequencing): right when the table has a single
    # logical writer, e.g. the pipeline's output tables. For sequenced
    # semantics — deletes that only mask data dirs committed BEFORE
    # them, so re-appending a deleted key is visible again — use
    # ``SnapshotCatalog.delete_where`` (sources/snapshots.py), which
    # carries Iceberg v2 sequence numbers.

    def _deletes_dir(self, name: str) -> str:
        # SIBLING of the table dir — inside it, the base reader would
        # pick the delete files up as data
        return self.path(name) + ".deletes"

    def delete_keys(self, keys_df: DataFrame, name: str,
                    key_cols: list[str]) -> None:
        """Merge-on-read EQUALITY DELETE (Iceberg v2 equality-delete
        file): append the doomed keys to a delete table next to the
        base; readers anti-join, writers never touch the base. Cost is
        O(|deletes|) regardless of table size — the point at 100 TB,
        where rewriting the base per delete (copy-on-write) is a full
        table rewrite. Repeated calls accumulate commits; run
        ``apply_deletes`` periodically (the Iceberg
        ``rewrite_position_delete_files`` + major-compaction analogue)."""
        keys_df.select(*key_cols).distinct().write.mode("append").parquet(
            self._deletes_dir(name)
        )

    def delete_where(self, name: str, condition, key_cols: list[str]) -> None:
        """Predicate delete: resolve the condition to keys (one scan,
        filter pushed down), then record them as an equality delete."""
        self.delete_keys(
            self.read(name).filter(condition), name, key_cols
        )

    def read_mor(self, name: str, key_cols: list[str],
                 broadcast_deletes: bool = True) -> DataFrame:
        """Read base MINUS accumulated equality deletes: one left_anti
        join on the key. Delete sets are usually tiny relative to the
        base → broadcast by default (no shuffle of the base); pass
        broadcast_deletes=False after mass deletes and let AQE pick."""
        from pyspark.sql import functions as F

        base = self.read(name)
        d = self._deletes_dir(name)
        if not os.path.exists(d):
            return base
        dels = self.spark.read.parquet(d).distinct()
        if broadcast_deletes:
            dels = F.broadcast(dels)
        return base.join(dels, key_cols, "left_anti")

    def apply_deletes(self, name: str, key_cols: list[str]) -> dict:
        """Major compaction of the delete queue: rewrite the base with
        deletes applied (atomic swap), drop the delete files. Restores
        pure-scan reads until the next delete."""
        d = self._deletes_dir(name)
        if not os.path.exists(d):
            return {"applied": False}
        merged = self.read_mor(name, key_cols)
        self._swap_write(merged, name)
        shutil.rmtree(d, ignore_errors=True)
        return {"applied": True}
