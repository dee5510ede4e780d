"""Per-stage checkpoint tables with config-hash keying and lineage metrics.

Analog of the reference's feature-cache protocol
(/root/reference/duplicate-detector.py:439-451, 2700-2718): an artifact is
reused across runs iff the semantics-affecting config hash matches; its
``deletion_log``-style audit (ref :307-313, 2518-2524) maps to an
append-only ``stage_metrics`` table with per-partition row counts.

``table_format`` selects the storage backend.  The default ``parquet``
lays stage tables out as ``{base}/{config_hash}/{stage}`` directories with
a ``_STAGE_COMPLETE`` marker supplying completion atomicity.  ``iceberg``
(requires the Iceberg runtime jar + catalog — see ``sources/iceberg.py``)
writes each stage as ``dedup.{base}.{stage}_{config_hash}`` where the
snapshot commit itself is the atomicity (the reference's
delete-then-insert transaction, ref :2059-2081, maps the same way).
A stage is recomputed only when its marker/table is absent — crash-resume
skips every completed stage (north-rule requirement; resume test in
tests/test_resume.py).
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duplicate_image_detector_spark.config import PipelineConfig

_log = logging.getLogger(__name__)

_MARKER = "_STAGE_COMPLETE"

STAGE_METRICS_SCHEMA = (
    "stage string, config_hash string, rows_out bigint, n_files int, "
    "wall_ms bigint, recomputed boolean, ts double, partition_rows string"
)


class CacheScope:
    """The one owner of a set of DataFrame caches: ``close`` (also the
    ``with`` exit, error paths included) releases every cache registered
    by ``persist`` or ``adopt``, LIFO, logging a failed release and
    carrying on; ``detach`` hands one over to the caller first."""

    def __init__(self) -> None:
        self._caches: list[DataFrame] = []

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __len__(self) -> int:
        return len(self._caches)

    def persist(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """Persist ``df`` (MEMORY_AND_DISK) and own it; ``eager`` fills
        the cache now, so consumers that read it twice (both sides of a
        self-join) never race to compute it."""
        from pyspark.storagelevel import StorageLevel

        df = self.adopt(df.persist(StorageLevel.MEMORY_AND_DISK))
        if eager:
            df.count()
        return df

    def adopt(self, df: DataFrame) -> DataFrame:
        self._caches.append(df)
        return df

    def detach(self, df: DataFrame) -> DataFrame:
        self._caches = [c for c in self._caches if c is not df]
        return df

    def close(self) -> None:
        while self._caches:
            df = self._caches.pop()
            try:
                df.unpersist()
            except Exception as exc:
                # keep releasing the rest: one failed release must not
                # leak every cache after it
                _log.warning("unpersist of a cache failed: %r", exc)


@dataclass
class CheckpointManager:
    spark: SparkSession
    base_dir: str
    cfg: PipelineConfig
    enabled: bool = True
    # run-level flags that alter stage outputs but live outside
    # PipelineConfig (e.g. enable_substring) — folded into the checkpoint
    # key so a rerun with a flipped flag can never resume stale stages
    extra_key: str = ""
    # "parquet" (default; dirs + _STAGE_COMPLETE markers) or "iceberg"
    # (base_dir is a catalog NAMESPACE; each stage is one table whose
    # snapshot commit is the completion atomicity — sources/iceberg.py)
    table_format: str = "parquet"
    computed_stages: list[str] = field(default_factory=list)
    resumed_stages: list[str] = field(default_factory=list)
    # row counts observed while materializing stages (disabled-mode eager
    # counts and durable-mode rows_out); lets composers derive bounds —
    # e.g. the CC edge-count gate — without re-counting.  Resumed stages
    # are absent (nothing was counted for them).
    stage_rows: dict[str, int] = field(default_factory=dict)
    _metrics: list[dict] = field(default_factory=list)
    # stage caches this manager owns (disabled mode only); callers that
    # run many pipelines in one session call unpersist_all() once the
    # final result is materialized
    _scope: CacheScope = field(default_factory=CacheScope, repr=False)
    # run() is called from concurrent tier threads (plans/pipeline.py
    # parallel_tiers): stage tables/paths are disjoint per stage name, but
    # the metrics buffer + its append-mode table are shared — serialize them
    # (two simultaneous parquet appends to one path share a _temporary
    # staging dir and can clobber each other's task commits)
    _metrics_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False
    )

    def __post_init__(self) -> None:
        if self.table_format not in ("parquet", "iceberg"):
            raise ValueError(f"unknown table_format {self.table_format!r}")
        if self.table_format == "iceberg" and self.enabled:
            from duplicate_image_detector_spark.sources import iceberg

            iceberg.require_iceberg(self.spark)
            if not iceberg.valid_namespace(self.base_dir):
                raise ValueError(
                    f"base_dir {self.base_dir!r} is not a legal Iceberg "
                    "namespace (plain identifier, e.g. 'ckpt_db') — with "
                    "table_format='iceberg' it names a catalog namespace, "
                    "not a filesystem path"
                )

    @property
    def _key(self) -> str:
        key = self.cfg.config_hash()
        if self.extra_key:
            import hashlib

            key = hashlib.sha256(
                (key + "|" + self.extra_key).encode()
            ).hexdigest()[:16]
        return key

    @property
    def root(self) -> str:
        return os.path.join(self.base_dir, self._key)

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _table(self, stage: str) -> str:
        return f"{stage}_{self._key}"

    def is_complete(self, stage: str) -> bool:
        if self.table_format == "iceberg":
            from duplicate_image_detector_spark.sources import iceberg

            return iceberg.table_exists(
                self.spark, self.base_dir, self._table(stage)
            )
        return os.path.exists(os.path.join(self.stage_path(stage), _MARKER))

    def run(self, stage: str, fn, eager: bool = True) -> DataFrame:
        """Return the stage table, computing + persisting it only if its
        checkpoint is missing for this config hash.

        ``eager=False`` (disabled-checkpoint mode only) skips the
        materializing count: the first downstream action fills the cache
        in one pass instead of two.  Safe ONLY for stages whose consumers
        run sequentially — a lazy persist read by parallel branches lets
        them race to compute the stage before the cache fills."""
        if not self.enabled:
            # no durable checkpoint: persist instead (S8 cache analog) so
            # downstream actions don't recompute the whole upstream DAG.
            # Materialize EAGERLY by default: a lazy persist lets parallel
            # join branches of the first action race to compute the same
            # stage 2-3x before the cache fills (measured 120s vs 35s on
            # the sf0.1 pipeline).
            # An operator that returns an already-persisted DataFrame is
            # adopted, not persisted a second time: with no durable copy
            # the manager owns every stage cache until unpersist_all().
            self.computed_stages.append(stage)
            df = fn()
            if df.storageLevel.useMemory or df.storageLevel.useDisk:
                return self._scope.adopt(df)
            df = self._scope.persist(df, eager=False)
            if eager:
                self.stage_rows[stage] = df.count()
            return df
        path = self.stage_path(stage)
        if self.is_complete(stage):
            self.resumed_stages.append(stage)
            return self._read(stage, path)
        t0 = time.time()
        df = fn()
        if self.table_format == "iceberg":
            from duplicate_image_detector_spark.sources import iceberg

            iceberg.write_table(df, self.base_dir, self._table(stage))
        else:
            df.write.mode("overwrite").parquet(path)
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            # the durable table copy supersedes any operator-side cache
            df.unpersist()
        out = self._read(stage, path)
        # per-partition (per-file) lineage counters — the distributed analog
        # of the reference's per-run counters (ref :2744-2770).
        # input_file_name() is empty on DataSourceV2 scans; Iceberg exposes
        # the file through its `_file` metadata column instead.  A
        # test-double V2 catalog (catalog_provider None) has no `_file`
        # column — lineage degrades to a single whole-table counter there.
        if self.table_format == "iceberg":
            from duplicate_image_detector_spark.sources import iceberg

            file_col = (
                F.col("_file")
                if iceberg.catalog_provider(self.spark) == "iceberg"
                else F.lit("catalog")
            )
        else:
            file_col = F.input_file_name()
        part_rows = {
            os.path.basename(r["f"]): int(r["n"])
            for r in out.groupBy(file_col.alias("f"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        wall_ms = int((time.time() - t0) * 1000)
        self.stage_rows[stage] = sum(part_rows.values())
        with self._metrics_lock:
            self._metrics.append(
                {
                    "stage": stage,
                    "config_hash": self.cfg.config_hash(),
                    "rows_out": sum(part_rows.values()),
                    "n_files": len(part_rows),
                    "wall_ms": wall_ms,
                    "recomputed": True,
                    "ts": time.time(),
                    "partition_rows": json.dumps(part_rows, sort_keys=True),
                }
            )
            self._write_metrics()
        if self.table_format == "parquet":
            # iceberg needs no marker: the snapshot commit IS completion
            with open(os.path.join(path, _MARKER), "w") as fh:
                fh.write(json.dumps({"wall_ms": wall_ms}))
        self.computed_stages.append(stage)
        return out

    def _read(self, stage: str, path: str) -> DataFrame:
        if self.table_format == "iceberg":
            from duplicate_image_detector_spark.sources import iceberg

            return iceberg.read_table(
                self.spark, self.base_dir, self._table(stage)
            )
        return self.spark.read.parquet(path)

    def _write_metrics(self) -> None:
        if not self._metrics:
            return
        mdf = self.spark.createDataFrame(
            [tuple(m.values()) for m in self._metrics],
            schema=STAGE_METRICS_SCHEMA,
        )
        if self.table_format == "iceberg":
            from duplicate_image_detector_spark.sources import iceberg

            iceberg.append_table(mdf, self.base_dir, f"stage_metrics_{self._key}")
        else:
            mdf.write.mode("append").parquet(
                os.path.join(self.root, "_stage_metrics")
            )
        self._metrics.clear()

    def stage_metrics(self) -> DataFrame | None:
        if self.table_format == "iceberg":
            from duplicate_image_detector_spark.sources import iceberg

            t = f"stage_metrics_{self._key}"
            if not iceberg.table_exists(self.spark, self.base_dir, t):
                return None
            return iceberg.read_table(self.spark, self.base_dir, t)
        p = os.path.join(self.root, "_stage_metrics")
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)

    def unpersist_all(self) -> None:
        """Release every stage cache this manager created (disabled mode).

        Call after the pipeline's final output is materialized (persisted
        or collected) — otherwise downstream actions recompute the DAG.
        """
        self._scope.close()

    def invalidate(self, stage: str) -> None:
        if self.table_format == "iceberg":
            from duplicate_image_detector_spark.sources import iceberg

            iceberg.drop_table(self.spark, self.base_dir, self._table(stage))
            return
        marker = os.path.join(self.stage_path(stage), _MARKER)
        if os.path.exists(marker):
            os.remove(marker)
