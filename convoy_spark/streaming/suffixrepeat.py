"""Streaming twin of the exact suffix-repeat audit — an append-only
token-position store feeding a PERIODIC batch re-rank, with the
design note on why nothing stronger is exactly mergeable (the round-8
verdict #8 deliverable; the OPQ measured-decline precedent applied to
state design).

**Why per-batch class-id deltas do NOT merge.** The batch operator
(operators/suffix.py) represents "these two corpus positions start
the same ``window``-token sequence" as equality of a CLASS ID built by
prefix doubling: round k+1 keys each position by the pair
(id_k(pos), id_k(pos + 2^k)), the second taken with ``lead()`` over
the per-doc position order, and names each class by its first corpus
occurrence, ``min(struct(doc_id, pos))``. That id is a property of
the whole corpus, not of one batch:

- a batch holding an earlier occurrence of a class (a lower doc_id)
  renames the whole class, and the renaming cascades through all
  log₂(window) doubling rounds, because round k+1's keys are PAIRS of
  round-k ids; even with no renaming, a batch can name its own
  positions only by looking up every round's ids over the whole
  store — a corpus-sized join per round, not a per-batch delta;
- the only batch-local key that survives corpus growth is the window
  CONTENT itself (the ``window``-token sequence), which is
  Θ(window) tokens per position — a window-times blowup of the store.
  Replacing it with a fixed-width content HASH makes the classes
  mergeable and compact but PROBABILISTIC — surrendering exactly the
  exactness contract that distinguishes this operator from the
  sampled span/gram members (span_dedup, substring_dup_pairs);
- the per-doc profile columns (n_repeat_windows, n_crossdoc_windows)
  are not monotone under corpus growth for *other* documents — a new
  batch can turn any existing unique window into a repeat, so every
  stored doc's row is invalidated by any batch: the OUTPUT is not
  incrementally maintainable either, independent of the class-id
  representation.

**What IS exactly mergeable:** the token-position store itself.
Tokenization is per-doc (embarrassingly append-only), so each batch
pays its own tokenize exactly once and appends (doc_id, pos, tok)
rows; the ranking is recomputed over the ACCUMULATED store on demand
— the compaction-style cadence Lee et al. use (suffix arrays are
rebuilt per corpus snapshot, never patched). Cost honesty: the store
is corpus-sized (every token, with its position — the audit's
information-theoretic floor), and each re-rank is the full
prefix-doubling run over it; the streaming win is confined to the
tokenize amortization and the landing-file bookkeeping.

State layout (the indexdrift delta-partition pattern — a replayed
batch overwrites ITS OWN partition idempotently, never double-adds):

- ``deltas/batch-<tag>/positions``: (seq, doc_id, pos, tok) — the
  batch's token positions; written FIRST;
- ``deltas/batch-<tag>/docs``: (seq, doc_id, n_toks) — the batch's
  doc universe (zero-token docs included — the explicit-zero rows of
  the profile need them). Written LAST, so it is the batch's commit
  marker: a crash between the writes replays into an overwrite of
  both.

Stream == batch: :func:`suffix_repeat_over_store` feeds the
accumulated positions into the SAME
:func:`~convoy_spark.operators.suffix.crossdoc_repeat_profile`
definition the catalog query runs, so the profile over a drained
store equals the batch operator over the same corpus bitwise
(tested, any chunking)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from convoy_spark.operators.suffix import (
    REPEAT_WINDOW,
    crossdoc_repeat_profile,
    token_positions,
)

POS_SCHEMA = "seq long, doc_id long, pos int, tok string"
DOCS_SCHEMA = "seq long, doc_id long, n_toks long"


def _read_delta_kind(
    spark: SparkSession,
    deltas_dir: str,
    kind: str,
    schema: str,
    committed_only: bool = False,
) -> DataFrame:
    """Read one kind across batch partitions. With ``committed_only``,
    a partition contributes only when its SIBLING ``docs`` marker (same
    batch-<tag> dir) exists — seq values are NOT commit evidence, since
    two checkpoint lineages into one store can compute the same seq and
    one's marker must not commit the other's torn positions."""
    parts = []
    if os.path.isdir(deltas_dir):
        for b in sorted(os.listdir(deltas_dir)):
            p = os.path.join(deltas_dir, b, kind)
            if os.path.isdir(p) and (
                not committed_only
                or os.path.isdir(os.path.join(deltas_dir, b, "docs"))
            ):
                parts.append(p)
    if not parts:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*parts)


def apply_suffix_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    batch_tag: str,
) -> None:
    """Fold one micro-batch of (doc_id, text): tokenize once, append
    the batch's positions + doc universe to its own delta partition
    (idempotent under replay — the indexdrift seq/commit-marker
    discipline)."""
    base = os.path.join(state_dir, "deltas", f"batch-{batch_tag}")
    pos_path = os.path.join(base, "positions")
    docs_path = os.path.join(base, "docs")

    seq = None
    for own, schema in ((docs_path, DOCS_SCHEMA), (pos_path, POS_SCHEMA)):
        if seq is None and os.path.isdir(own):
            row = spark.read.schema(schema).parquet(own).select("seq").first()
            seq = None if row is None else row.seq
    if seq is None:
        prev = (
            _read_delta_kind(
                spark, os.path.join(state_dir, "deltas"), "docs", DOCS_SCHEMA
            )
            .agg(F.max("seq").alias("m"))
            .first()
            .m
        )
        seq = 0 if prev is None else prev + 1

    pos = token_positions(batch).localCheckpoint()
    pos.select(
        F.lit(seq).cast("long").alias("seq"),
        "doc_id",
        F.col("pos").cast("int"),
        "tok",
    ).write.mode("overwrite").parquet(pos_path)
    universe = (
        batch.select(F.col("doc_id").cast("long"))
        .distinct()
        .join(
            pos.groupBy("doc_id").agg(F.count("*").alias("n_toks")),
            "doc_id",
            "left",
        )
        .select(
            F.lit(seq).cast("long").alias("seq"),
            "doc_id",
            F.coalesce("n_toks", F.lit(0)).cast("long").alias("n_toks"),
        )
    )
    universe.write.mode("overwrite").parquet(docs_path)


def run_incremental_suffix_store(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> None:
    """Drain all document files present into the position store; stop
    when caught up. Re-running with the same checkpoint processes only
    new files."""
    import hashlib

    from convoy_spark.streaming.dedup import stream_docs

    ck_tag = hashlib.blake2s(
        os.path.abspath(checkpoint_dir).encode(), digest_size=8
    ).hexdigest()
    q = (
        stream_docs(spark, landing_dir)
        .writeStream.foreachBatch(
            lambda b, eid: apply_suffix_batch(
                spark, b, state_dir, f"{ck_tag}-{eid}"
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def suffix_repeat_over_store(
    spark: SparkSession, state_dir: str, window: int = REPEAT_WINDOW
) -> DataFrame:
    """The periodic re-rank: run the batch prefix-doubling audit over
    the ACCUMULATED position store. Only COMMITTED batches (the docs
    marker in the SAME batch-<tag> dir — not merely a matching seq,
    which a second checkpoint lineage can collide on) contribute — a
    crash-torn positions partition without its own marker is excluded
    until its replay commits it. Returns the same (doc_id, n_windows,
    n_repeat_windows, n_crossdoc_windows) frame as the catalog query,
    bitwise."""
    deltas = os.path.join(state_dir, "deltas")
    pos = (
        _read_delta_kind(
            spark, deltas, "positions", POS_SCHEMA, committed_only=True
        )
        .select("doc_id", "pos", "tok")
        .localCheckpoint(eager=False)
    )
    universe = (
        _read_delta_kind(spark, deltas, "docs", DOCS_SCHEMA)
        .select("doc_id")
        .distinct()
    )
    return crossdoc_repeat_profile(universe, window, positions=pos)


__all__ = [
    "DOCS_SCHEMA",
    "POS_SCHEMA",
    "apply_suffix_batch",
    "run_incremental_suffix_store",
    "suffix_repeat_over_store",
]
