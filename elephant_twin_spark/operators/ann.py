"""Persistent ANN (IVF) index — approximate nearest neighbor as a
first-class index kind alongside block/bloom/zone/text.

The ad-hoc :mod:`similarity` functions re-fit the quantizer per call;
at 100 TB the quantizer and the cluster assignment are build-time
artifacts, exactly like postings: built once, served many times,
invalidated by source changes. Layout:

    {idx_dir}/centroids/   — nlist rows (cluster, centroid array)
    {idx_dir}/vectors/     — (id, vec, cluster), PARTITIONED BY cluster
    {idx_dir}/index.json   — descriptor (files, checksums, params)

Partitioning the vector table by cluster makes nprobe search a
PARTITION-PRUNED scan: probing 4 of 64 clusters reads 1/16th of the
bytes — the same selectivity-proportional-I/O contract as the block
index, applied to vector search (Hive-style partition pruning on
``cluster=<k>`` directories).

Staleness follows the engine contract (M2): files added/changed since
the build are reported via ``AnnIndex.stale_files()``; searches over a
stale index are answerable but the caller is told (same
"coarser-is-never-wrong" philosophy does NOT hold for ANN — a missing
file's vectors are silently absent — so unlike the block index this
surfaces loudly rather than silently degrading).
"""

from __future__ import annotations

import math
from typing import List, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elephant_twin_spark.operators.pipeline import similarity as sim
from elephant_twin_spark.sources import catalog, fsio


def build_ann_index(
    spark: SparkSession,
    table_path: str,
    vec_column: str,
    id_column: str,
    index_root: str,
    nlist: int = 16,
    max_iter: int = 5,
    seed: int = 42,
) -> str:
    """Fit the coarse quantizer, assign every vector, persist both."""
    idx_dir = catalog.index_dir(index_root, table_path, vec_column, kind="ivf")
    # pre-listing: see build.build_block_index (mid-build file-add race —
    # for ANN especially, a file claimed covered but absent from the
    # vector table would make its vectors silently unsearchable with no
    # stale_files() signal)
    files = fsio.list_data_files(spark, table_path)
    df = fsio.read_parquet(spark, table_path, stats=files)
    centroids = sim.ivf_fit(
        df, vec_column, id_column, k_clusters=nlist, max_iter=max_iter, seed=seed
    )
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    # Stage both data dirs, publish back-to-back before the descriptor
    # (see build.build_block_index: mid-rebuild reader race) — vectors
    # are assigned AGAINST these centroids, so publishing centroids
    # first would pair new centroids with old vectors for the whole
    # assignment pass. The build lease (r13 verdict item 4) matters
    # MOST here: two interleaved pair-builders could publish halves
    # from different epochs, the exact mixed-generation state the
    # epoch markers exist to catch.
    cent_dir, vec_dir = f"{idx_dir}/centroids", f"{idx_dir}/vectors"
    with fsio.build_lease(spark, idx_dir) as lease_owner:
        spark.createDataFrame(
            cent_rows, "cluster int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(fsio.staged_dir(cent_dir))
        assigned = sim.ivf_assign(df, vec_column, centroids).select(
            F.col(id_column).alias("id"),
            F.transform(F.col(vec_column), lambda x: x.cast("double")).alias("vec"),
            # source file carried for incremental refresh (kept/delta drop)
            fsio.file_path_col(F.col("_metadata.file_path")).alias("file"),
            "cluster",
        )
        (
            assigned.repartition("cluster")
            .write.mode("overwrite")
            .partitionBy("cluster")
            .parquet(fsio.staged_dir(vec_dir))
        )
        # paired publish (r12 advisor): one shared epoch stamped into both
        # staged dirs before the renames — a crash BETWEEN the two publishes
        # used to leave new centroids probing old cluster assignments,
        # silently skewing results until the next full rebuild; now readers
        # cross-check the epochs (require_pair_published) and recover_pair
        # finishes the interrupted half from its staged sibling
        fsio.fence_and_publish(spark, idx_dir, lease_owner, [cent_dir, vec_dir])
        desc = catalog.make_descriptor(
            source_path=table_path,
            column=vec_column,
            index_type="IVF",
            num_buckets=nlist,
            files=files,
            options={
                "id_column": id_column,
                "nlist": str(nlist),
                "seed": str(seed),
            },
        )
        catalog.write_descriptor(spark, idx_dir, desc)
    return idx_dir


class AnnIndex:
    """Query handle over a persisted IVF index.

    FRESH-HANDLE CONTRACT (r13 advisor): a handle snapshots the
    descriptor at construction, caches centroids on first use, and
    checks the pair-epoch markers ONCE (:meth:`_ensure_pair`). After a
    rebuild/refresh, construct a NEW handle (what every caller already
    does) or call :meth:`revalidate` — a live handle kept across a
    publish would otherwise mix its cached old centroids with freshly
    re-read new vectors, precisely the skew the markers exist to
    catch. Single writer per index is assumed throughout (enforced by
    the build lease, ``fsio.build_lease``)."""

    def __init__(self, spark: SparkSession, table_path: str, vec_column: str, index_root: str):
        self.spark = spark
        self.table_path = table_path
        self.idx_dir = catalog.index_dir(index_root, table_path, vec_column, kind="ivf")
        self.desc = catalog.read_descriptor(spark, self.idx_dir)
        if self.desc is None:
            raise FileNotFoundError(f"no IVF index at {self.idx_dir}; build_ann_index first")
        self._centroids = None

    def _pair_dirs(self):
        return [f"{self.idx_dir}/centroids", f"{self.idx_dir}/vectors"]

    def _ensure_pair(self) -> None:
        """Pair-epoch gate, checked ONCE per handle: the handle already
        snapshots the descriptor (and caches centroids), so re-probing
        the markers on every call would spend ~6 driver-side FS
        metadata RPCs per search for a state the handle's other cached
        reads could not react to anyway. A new handle (the way every
        caller reacts to refresh/rebuild) re-checks."""
        if not getattr(self, "_pair_ok", False):
            fsio.require_pair_published(self.spark, self._pair_dirs())
            self._pair_ok = True

    def revalidate(self) -> "AnnIndex":
        """Drop every cached read (descriptor, centroids, pair gate) so
        the next call observes the CURRENT published generation —
        equivalent to constructing a fresh handle, for callers that hold
        one long-lived handle across refreshes."""
        self.desc = catalog.read_descriptor(self.spark, self.idx_dir)
        if self.desc is None:
            raise FileNotFoundError(
                f"no IVF index at {self.idx_dir}; build_ann_index first"
            )
        self._centroids = None
        self._pair_ok = False
        return self

    def centroids(self) -> List[List[float]]:
        if self._centroids is None:
            rows = self.spark.read.parquet(f"{self.idx_dir}/centroids").collect()
            self._centroids = [
                list(r["centroid"]) for r in sorted(rows, key=lambda r: r["cluster"])
            ]
        return self._centroids

    def stale_files(self) -> List[str]:
        """Source files added/changed since the build — their vectors are
        NOT searchable until rebuild/refresh (loud, not silent)."""
        live = fsio.list_data_files(self.spark, self.table_path)
        fresh = self.desc.fresh_files(live)
        return sorted({p for p, _, _ in live} - fresh)

    def topk(self, query_vec: Sequence[float], k: int = 10, nprobe: int = 4) -> DataFrame:
        """``(id, cosine)`` — probe the nprobe nearest clusters; the
        cluster filter prunes PARTITIONS of the vector table (only the
        probed ``cluster=<i>`` directories are read)."""
        cents = self.centroids()
        q = [float(x) for x in query_vec]
        qn = math.sqrt(sum(x * x for x in q)) or 1.0

        def cos(c):
            cn = math.sqrt(sum(x * x for x in c)) or 1.0
            return sum(a * b for a, b in zip(q, c)) / (qn * cn)

        probes = sorted(range(len(cents)), key=lambda i: -cos(cents[i]))[:nprobe]
        # pair gate: vectors must carry the SAME epoch as the centroids
        # that just chose the probes — mixing generations is the silent-
        # skew state the epoch markers exist to catch (r12 advisor)
        self._ensure_pair()
        vecs = self.spark.read.parquet(f"{self.idx_dir}/vectors").where(
            F.col("cluster").isin(probes)
        )
        qcol = F.lit([float(x) for x in q])
        dot = F.aggregate(
            F.zip_with(F.col("vec"), qcol, lambda a, b: a * b),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        nrm = F.sqrt(
            F.aggregate(F.col("vec"), F.lit(0.0), lambda s, x: s + x * x)
        )
        scored = vecs.select("id", (dot / (nrm * F.lit(qn))).alias("cosine"))
        return scored.orderBy(F.col("cosine").desc(), F.col("id").asc()).limit(k)

    def knn_join(
        self,
        queries: DataFrame,
        query_id_col: str,
        query_vec_col: str,
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """Batch kNN against the PERSISTED index: queries probe their
        nprobe nearest persisted centroids, candidates come from only
        the probed cluster partitions (the ``cluster.isin`` filter is a
        partition filter on the vector table), exact cosine + windowed
        top-k. ``(query_id, id, cosine, rank)``. Unlike
        :func:`similarity.ivf_knn_join` nothing is refit — many batches
        amortize one build."""
        q_probed = sim.probe_queries(
            queries, query_id_col, query_vec_col, self.centroids(), nprobe
        )
        probed_clusters = [
            r["cluster"] for r in q_probed.select("cluster").distinct().collect()
        ]
        self._ensure_pair()
        vecs = (
            self.spark.read.parquet(f"{self.idx_dir}/vectors")
            .where(F.col("cluster").isin(probed_clusters))
            .select("id", F.col("vec").alias("_cv"), "cluster")
        )
        return sim.probed_knn(vecs, q_probed, k)
