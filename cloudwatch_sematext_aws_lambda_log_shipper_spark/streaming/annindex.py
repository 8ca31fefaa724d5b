"""Streaming IVF-PQ index ingest: maintain the persisted exact-arith
ANN index (operators/ivf_exact.build_ivfpq_index_exact) from a
Structured Streaming source via ``foreachBatch`` — the shape a
production embedding index actually runs (vectors arrive continuously;
the index must stay queryable without a full refit+re-encode per
delivery).

Composition of existing pieces, no new shuffle machinery:
- batch 0 BOOTSTRAPS the index: centroids + PQ codebooks are fit on
  the first delivery and frozen from then on (the FAISS
  train-then-add contract). The build write is a full overwrite, so a
  retried bootstrap is idempotent.
- batch n >= 1 APPENDS (append_ivfpq_index_exact): assign to the
  frozen centroids, encode with the frozen codebooks, land codes and
  normalized vectors as the ``ingest_batch=n`` leafs via DYNAMIC
  partition overwrite — a retried micro-batch replaces its own leafs,
  the same exactly-once idempotence as the streaming near-dup store
  (streaming/neardup.py) and the log-table sink.
- the index stores its normalized vectors beside the codes, so it is
  SELF-CONTAINED: the exact-refine shortlist fetch in query() reads
  the index, not some external table that may lag the stream.

Scale: per batch the work is one narrow normalize+assign+encode pass
over the batch's vectors plus two partitioned writes — no store-sized
reads on the hot path (centroid/codebook sidecars are tiny and read
driver-side). Query cost is unchanged from the batch index: probed
cluster ids become a partition IN-filter on the code table.
Small-file growth is bounded by ``compact`` — the shared
crash-recoverable fold (streaming/neardup._fold_store), checkpoint-
aware so an in-flight batch's leaf is never folded under a retry.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ivf_exact import (
    append_ivfpq_index_exact,
    build_ivfpq_index_exact,
    query_ivfpq_index_exact,
)
from .neardup import _fold_store


class StreamingIVFPQIngest:
    """Micro-batch maintainer of a persisted IVF-PQ index.

    Use ``process_batch`` from a ``foreachBatch`` hook (or call it
    directly in tests/backfills). Batch ids follow the streaming
    engine's: 0 bootstraps (fit + build), n >= 1 appends with the
    quantizer frozen — so replaying a checkpointed stream reproduces
    the index bit-identically (pinned in test_r10.py). The vector
    dimension is read from the first delivery.
    """

    def __init__(
        self,
        index_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_clusters: int = 16,
        m: int = 16,
        n_codes: int = 32,
    ):
        self.index_dir = index_dir
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_clusters = n_clusters
        self.m = m
        self.n_codes = n_codes

    # -- ingest --------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch: bootstrap (batch 0) or frozen-quantizer
        append (batch n, which fails fast if no index was built)."""
        batch_id = int(batch_id)
        if batch_id == 0:
            # bootstrap is a full overwrite: a retry (checkpoint not
            # yet committed) rebuilds from the identical batch, and a
            # fresh-checkpoint replay re-derives the same frozen
            # quantizer from the same first delivery.
            dim = batch_df.select(F.size(self.vec_col)).first()[0]
            build_ivfpq_index_exact(
                batch_df,
                self.index_dir,
                id_col=self.id_col,
                vec_col=self.vec_col,
                n_clusters=self.n_clusters,
                m=self.m,
                n_codes=self.n_codes,
                dim=dim,
            )
            return
        append_ivfpq_index_exact(
            batch_df,
            self.index_dir,
            batch_id=batch_id,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )

    # -- maintenance ----------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        up_to_batch: int | None = None,
        checkpoint_dir: str | None = None,
        target_files: int = 1,
    ) -> dict[str, int]:
        """Fold committed append leafs of BOTH index tables (codes keep
        their ``cluster=`` sub-partitioning so probe pruning survives;
        vectors fold flat). ``checkpoint_dir`` bounds folding at the
        stream's last committed batch — same refusal contract as
        StreamingNearDup.compact. Returns {path: files_before}."""
        if checkpoint_dir is not None:
            from ..control import _last_committed_batch

            up_to_batch = _last_committed_batch(checkpoint_dir)
        out: dict[str, int] = {}
        for table, sub in (("codes", ["cluster"]), ("vectors", None)):
            path = os.path.join(self.index_dir, table)
            n = _fold_store(spark, path, up_to_batch, target_files,
                            partition_by=sub)
            if n:
                out[path] = n
        return out

    # -- search ---------------------------------------------------------

    def query(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 8,
        refine_factor: int = 8,
    ) -> DataFrame:
        """Search the live index; identical semantics/cost shape to
        query_ivfpq_index_exact on a batch-built index (cluster
        partition IN-filter on the code scan, exact refine over the
        shortlist)."""
        return query_ivfpq_index_exact(
            spark,
            self.index_dir,
            queries,
            k=k,
            nprobe=nprobe,
            refine_factor=refine_factor,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
