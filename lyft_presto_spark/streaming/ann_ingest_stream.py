"""Streaming ANN index ingest: new embeddings coded against the FROZEN
coarse codebook and appended to the cell-partitioned index — the streaming
twin of the batch ``sim_ivf_index_upsert`` operator
(queries/similarity_queries.py), matching the ingest-gate discipline
(ingest_gate_stream.py): a standing artifact on the static side, per-batch
work proportional to the batch, exactly-once through idempotent publishes.

Per micro-batch: quantize (the same fix-point xq = round((x+4)*1e6) as the
batch PQ/IVF algebra), one distance round against the BROADCAST codebook
(K*D rows — tiny at any corpus scale), the exact cross-multiplied rational
argmin (bit-identical to ``_pq_assign_cte``'s fold — no floats, no
division), then an append published with ``staging.publish_once``: each
batch lands as a ``batch=<id>`` partition directory, staged under a
dot-prefixed dir (invisible to partition discovery) and renamed into
place. A foreachBatch RETRY of an already-published batch id is a no-op —
the _SUCCESS check makes the sink idempotent, which together with the
checkpoint's offset log is the exactly-once contract.

Scale notes (100 TB): the codebook broadcast is K*D rows regardless of
corpus size; coding work is batch-proportional (the upsert invariant); the
index stays partitioned by cell WITHIN each batch directory, so the
probe's cell predicate still prunes directories (``c=<cell>`` under every
``batch=<id>``); periodic re-cluster of overgrown cells remains the batch
compaction decision (sim_ivf_compaction) — streaming never retrains.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.staging import publish_once

# The same exact-integer algebra as the batch side (similarity_queries):
# fix-point quantization and the cross-multiplied rational argmin.
_XQ = "CAST(round((CAST(x AS DOUBLE) + 4.0) * 1000000, 0) AS BIGINT)"
_TERM = (
    "(CAST(n AS DECIMAL(20,0)) * CAST(xq AS DECIMAL(20,0)) "
    "- CAST(S AS DECIMAL(20,0)))"
)
_CMP = (
    "e.A * acc.n2 < acc.A * e.n2 OR "
    "(e.A * acc.n2 = acc.A * e.n2 AND e.c < acc.c)"
)


def quantized_flat(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Explode embeddings to (vec_id, dim, xq) fix-point postings."""
    return df.select(
        F.col(id_col).alias("vec_id"), F.posexplode(vec_col).alias("pos", "x")
    ).selectExpr("vec_id", "pos + 1 AS dim", f"{_XQ} AS xq")


def code_against_codebook(batch: DataFrame, codebook: DataFrame) -> DataFrame:
    """Code a batch of embeddings against a frozen coarse codebook.

    ``codebook`` carries exact rational centroids (c, d, S, n) — the
    ``ccb2`` artifact the batch upsert trains (corpus-only, staged). One
    broadcast equi-join on the dimension, one partial-aggregated distance
    SUM per (vec, cell), and the exact fold argmin — bit-identical to the
    batch coding, so the streaming index and the batch census agree
    row-for-row. Returns (vec_id, dim, xq, c): the index rows to append.
    """
    flat = quantized_flat(batch)
    cb = F.broadcast(codebook.select("c", "d", "S", "n"))
    dists = (
        flat.join(cb, flat.dim == cb.d)
        .groupBy("vec_id", "c", "n")
        .agg(F.expr(f"CAST(SUM({_TERM} * {_TERM}) AS DECIMAL(38,0))").alias("A"))
        .selectExpr(
            "vec_id", "c", "A",
            "CAST(n AS DECIMAL(20,0)) * CAST(n AS DECIMAL(20,0)) AS n2",
        )
    )
    codes = (
        dists.groupBy("vec_id")
        .agg(F.expr("array_agg(struct(c, A, n2))").alias("arr"))
        .selectExpr(
            "vec_id",
            f"aggregate(slice(arr, 2, size(arr) - 1), element_at(arr, 1), "
            f"(acc, e) -> IF({_CMP}, e, acc)).c AS c",
        )
    )
    return flat.join(codes, "vec_id").select("vec_id", "dim", "xq", "c")


def publish_batch(coded: DataFrame, index_root: str, batch_id: int) -> bool:
    """Atomically publish one coded batch as a ``batch=<id>`` partition.

    Idempotent: a replayed batch id (foreachBatch retry after restart) is
    skipped on the _SUCCESS check, so the sink never duplicates — the
    exactly-once half the checkpoint's offset log cannot provide alone.
    The stage directory is dot-prefixed (partition discovery ignores it),
    and the rename is within one parent, so readers never observe a
    half-written batch. Returns True when this call published.
    """
    return publish_once(
        os.path.join(index_root, f"batch={batch_id}"),
        lambda stage: coded.write.mode("errorifexists").partitionBy("c").parquet(stage),
    )


def ann_ingest_query(stream: DataFrame, codebook: DataFrame, index_root: str,
                     checkpoint: str):
    """Build (not start) the streaming ingest writer.

    foreachBatch codes each micro-batch against the frozen broadcast
    codebook and publishes it atomically; callers pick the trigger
    (availableNow for backfill/drain, processingTime for tailing).
    """
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        publish_batch(code_against_codebook(batch_df, codebook),
                      index_root, batch_id)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
    )


def semantic_gate(batch: DataFrame, codebook: DataFrame,
                  corpus_index: DataFrame, threshold: int) -> DataFrame:
    """Verdict per arriving vector against the standing corpus index.

    The streaming form of the batch ``dedup_semantic_incremental``
    operator (queries/dedup_queries.py) — same algebra, same artifacts:
    the arrival codes against the frozen broadcast codebook, candidates
    are the corpus vectors sharing its cell (equi-join on (c, dim) —
    never all-pairs, never corpus x corpus), and the verdict is the exact
    integer squared-L2 threshold with the best match as the
    lexicographic (d2, corpus vec_id) minimum — bit-identical to the
    batch twin's row_number pick. Returns
    (vec_id, verdict, matched_vec, l2q_dist).

    Like the lexical ingest gate, the decision is against the standing
    corpus SNAPSHOT: two near-identical novel arrivals both admit until
    the index republishes — within-feed dedup is the watermark-state
    concern (dedup_stream), corpus-vs-arrival is this gate's.
    """
    coded = code_against_codebook(batch, codebook)
    b = coded.select(
        F.col("vec_id").alias("vb"), "dim", F.col("xq").alias("xb"), "c"
    )
    cidx = corpus_index.select(
        F.col("vec_id").alias("vc"), "dim", F.col("xq").alias("xc"), "c"
    )
    d = F.col("xb") - F.col("xc")
    best = (
        b.join(cidx, ["c", "dim"])
        .groupBy("vb", "vc")
        .agg(F.sum(d * d).cast("bigint").alias("d2"))
        .where(F.col("d2") <= threshold)
        .groupBy("vb")
        .agg(F.min(F.struct("d2", "vc")).alias("m"))
    )
    return (
        coded.select("vec_id").distinct()
        .join(best, F.col("vec_id") == F.col("vb"), "left")
        .select(
            "vec_id",
            F.when(F.col("m").isNotNull(), F.lit("dup"))
            .otherwise(F.lit("keep"))
            .alias("verdict"),
            F.col("m.vc").cast("bigint").alias("matched_vec"),
            F.col("m.d2").cast("bigint").alias("l2q_dist"),
        )
    )


def gated_ann_ingest_query(stream: DataFrame, codebook: DataFrame,
                           corpus_index: DataFrame, threshold: int,
                           index_root: str, checkpoint: str):
    """Build (not start) the gated streaming index writer: only vectors
    that are semantically NOVEL against the standing corpus enter the
    index — the full admission path (gate + append) per micro-batch,
    published with the same idempotent atomic-rename protocol as the
    ungated ingest (exactly-once across restart)."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = semantic_gate(batch_df, codebook, corpus_index, threshold)
        admitted = batch_df.join(
            verdicts.where("verdict = 'keep'").select("vec_id"), "vec_id"
        )
        publish_batch(code_against_codebook(admitted, codebook),
                      index_root, batch_id)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
    )
