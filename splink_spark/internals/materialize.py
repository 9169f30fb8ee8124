"""Lineage-break / materialization policy.

Reference: splink/internals/spark/database_api.py:289-349 — the Spark backend
breaks lineage at named stages via a configurable menu (persist | checkpoint |
parquet round-trip | delta), with repartition counts derived from
``spark.sql.shuffle.partitions`` (:211-287; BASELINE.md row 9). Long lineage
is the documented Spark bottleneck for the iterative EM/CC loops
(docs/topic_guides/performance/optimising_spark.md).

Native rewrite: a small policy object carrying the same menu. Default method
is ``persist`` for intra-job reuse and ``checkpoint``/``parquet`` for the
iterative loops (plan-size growth is the failure mode there, not recompute).
"""

from __future__ import annotations

import logging
import os
import tempfile
import uuid
import weakref
from dataclasses import dataclass, field
from pyspark.sql import DataFrame
from pyspark import StorageLevel


# every Nth iterative materialization per stage round-trips through parquet
# instead of checkpointing. Spark 3.4+ checkpoint/localCheckpoint snapshot the
# ORIGIN plan's statistics into the resulting LogicalRDD (SPARK-39748); an
# iterative loop whose step joins k checkpointed tables therefore multiplies
# those snapshot sizeInBytes every round — the BigInteger grows ~k x in BITS
# per iteration, and after ~12 rounds stats estimation itself takes minutes
# and OOMs the driver (reproduced on a 500-node CC graph). A parquet
# round-trip resets stats to real file statistics, so the compounding restarts
# from a constant. 4 rounds of compounding keeps the BigInt under ~100k bits,
# where stats math is microseconds.
_STATS_RESET_EVERY = 4

logger = logging.getLogger(__name__)

# every live policy: Spark's CacheManager keys a cache by canonical plan, so
# two linkers over the same input share one cached frame, and a release must
# see the other policies' registered frames before it unpersists
_LIVE_POLICIES: "weakref.WeakSet[MaterializationPolicy]" = weakref.WeakSet()


@dataclass(eq=False)
class MaterializationPolicy:
    """How to break lineage per pipeline stage."""

    method: str = "persist"  # persist | local_checkpoint | checkpoint | parquet
    parquet_dir: str | None = None
    _registry: list[DataFrame] = field(default_factory=list)
    _iterative_counts: dict = field(default_factory=dict)
    _bucketed_tables: list = field(default_factory=list)
    _parquet_paths: list = field(default_factory=list)

    def __post_init__(self) -> None:
        _LIVE_POLICIES.add(self)

    def repartition_count(self, df: DataFrame) -> int:
        """Partitions to spread blocked pairs over before the fuzzy-metric
        stage: the reference's shuffle.partitions / 6
        (spark/database_api.py:211-287), floored at the core count — the
        fraction assumes shuffle.partitions >> cores."""
        from .misc import default_parallelism

        base = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        return max(1, base // 6, default_parallelism(df.sparkSession))

    def materialize(
        self,
        df: DataFrame,
        stage: str = "generic",
        iterative: bool = False,
        eager: bool = True,
    ) -> DataFrame:
        """``iterative=True`` marks a loop-carried table (CC / multi-threshold
        clustering): those MUST truncate lineage, not just cache — with plain
        persist the logical plan still nests the whole history, growing
        per-iteration until planning itself OOMs the driver (the exact Spark
        failure mode the reference breaks lineage for,
        spark/database_api.py:289-349). persist therefore upgrades to
        localCheckpoint inside loops; the reliable methods already truncate.
        """
        if iterative and self.method != "parquet":
            n = self._iterative_counts.get(stage, 0) + 1
            self._iterative_counts[stage] = n
            if n % _STATS_RESET_EVERY == 0:
                return self._parquet_roundtrip(df, stage)
        if self.method == "persist":
            if iterative:
                # on a real cluster localCheckpoint blocks die with their
                # executor mid-loop; prefer the reliable checkpoint whenever
                # the session has a checkpoint dir configured (Spark Connect
                # exposes no sparkContext — fall through to localCheckpoint)
                try:
                    has_ckpt_dir = bool(
                        df.sparkSession.sparkContext.getCheckpointDir()
                    )
                except Exception:
                    has_ckpt_dir = False
                if has_ckpt_dir:
                    return df.checkpoint(eager=True)
                return df.localCheckpoint(eager=True)
            out = self.persist(df, stage)
            if eager:
                out.count()  # force
            # eager=False: stay lazy — the first consumer's job populates the
            # cache as a side effect, saving one full pass over the input
            return out
        if self.method == "local_checkpoint":
            return df.localCheckpoint(eager=True)
        if self.method == "checkpoint":
            return df.checkpoint(eager=True)
        if self.method == "parquet":
            return self._parquet_roundtrip(df, stage)
        raise ValueError(f"unknown materialization method {self.method!r}")

    def persist(self, df: DataFrame, stage: str = "generic") -> DataFrame:
        """Persist ``df`` lazily and register it under ``stage`` for
        ``release`` / ``unpersist_all``, whatever ``method`` is: for frames
        that are re-read rather than lineage breaks."""
        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        out._splink_stage = stage  # type: ignore[attr-defined]
        self._registry.append(out)
        return out

    def release(self, df: DataFrame) -> None:
        """Unpersist one frame ``materialize`` returned, before the policy's
        owner is done with the rest."""
        self._registry = [d for d in self._registry if d is not df]
        self._unpersist(df)

    def _unpersist(self, df: DataFrame) -> None:
        """Unpersist ``df`` unless a frame still registered with a live
        policy has the same semantics in the same session: its cache is
        the same cache."""
        for policy in list(_LIVE_POLICIES):
            for other in policy._registry:
                if other.sparkSession is df.sparkSession and other.sameSemantics(df):
                    return
        df.unpersist()

    def materialize_bucketed(
        self,
        df: DataFrame,
        bucket_cols: list[str],
        num_buckets: int | None = None,
        stage: str = "generic",
        sort: bool = True,
    ) -> DataFrame:
        """Bucketed-table lineage break (SURVEY §7 step 10 scale hardening).

        Writes the frame as a bucketed (and bucket-sorted) table and reads it
        back: one shuffle is paid at write time, and every later equi-join or
        aggregation on ``bucket_cols`` between tables bucketed with the same
        count runs WITHOUT an Exchange (Catalyst recognises the bucket spec as
        the required hash partitioning; with ``sort=True`` the sort-merge
        join's per-side sorts disappear too). At 100 TB this is the lever for
        join keys that recur across stages — the node table re-joined by uid
        in predict's junction step, an indexed base repeatedly probed by
        ``find_matches_to_new_records``, or edge tables consumed by several
        clustering thresholds — where caching doesn't help across jobs but
        co-location does.

        The table is session-scoped (in-memory catalog) with its files under
        ``parquet_dir``; ``unpersist_all()`` drops it and deletes them (an
        external table's files outlive ``DROP TABLE``).
        """
        spark = df.sparkSession
        if num_buckets is None:
            from .misc import default_parallelism

            num_buckets = default_parallelism(spark)
        base = self.parquet_dir or os.path.join(
            tempfile.gettempdir(), "splink_spark_materialize"
        )
        name = f"splink_bucketed_{stage}_{uuid.uuid4().hex}"
        path = os.path.join(base, name)
        writer = (
            df.write.mode("overwrite")
            .option("path", path)
            .bucketBy(num_buckets, *bucket_cols)
        )
        if sort:
            writer = writer.sortBy(*bucket_cols)
        writer.saveAsTable(name)
        self._bucketed_tables.append((spark, name))
        self._parquet_paths.append((spark, path))
        return spark.table(name)

    def _parquet_roundtrip(self, df: DataFrame, stage: str) -> DataFrame:
        """True lineage break with REAL statistics. Downstream plans read the
        files lazily, so they stay until ``unpersist_all()`` deletes them."""
        base = self.parquet_dir or os.path.join(
            tempfile.gettempdir(), "splink_spark_materialize"
        )
        path = os.path.join(base, f"{stage}_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(path)
        self._parquet_paths.append((df.sparkSession, path))
        return df.sparkSession.read.parquet(path)

    def unpersist_all(self) -> None:
        while self._registry:
            df = self._registry.pop()
            try:
                self._unpersist(df)
            except Exception as e:
                logger.warning("could not unpersist the %r frame: %s",
                               getattr(df, "_splink_stage", "unnamed"), e,
                               exc_info=True)
        for spark, name in self._bucketed_tables:
            try:
                spark.sql(f"DROP TABLE IF EXISTS {name}")
            except Exception as e:
                logger.warning("could not drop table %s: %s", name, e,
                               exc_info=True)
        self._bucketed_tables.clear()
        for spark, path in self._parquet_paths:
            try:
                jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
                jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)
            except Exception as e:
                logger.warning("could not delete %s: %s", path, e, exc_info=True)
        self._parquet_paths.clear()
