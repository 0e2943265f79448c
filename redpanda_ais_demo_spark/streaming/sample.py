"""Streaming deterministic uniform sample: maintain the k rows whose
keys hash SMALLEST over everything the stream has ever seen — the
bottom-k / KMV sample as a streaming tracker, i.e. a uniform-without-
replacement sample of the stream's DISTINCT keys in bounded state with
no RNG anywhere.

Why bottom-k and not a classical reservoir: reservoir sampling is
sequential (each arrival's acceptance depends on a running counter and
a random draw), which is both unmergeable across partitions and
impossible to replay deterministically. Hashing gives the same sample
regardless of arrival order, partitioning, or replay — the streaming
analogue of ``operators/sketches.py:kmv_sketch``, and the two agree
exactly: folding any batch split of a stream through this tracker ends
in the SAME k rows a batch kmv_sketch of the union would pick
(pytest-pinned), because "k smallest of a union" is a semilattice fold.

Per micro-batch, on the state-partition loop of ``streaming/tracker.py``
(which states the replay rule; integer state replays BYTE-identically,
the HLL contract, not the KLL epsilon one):
1. collapse the batch to its own bottom-k (distinct keys, portable
   md5-prefix 60-bit hash, per-key payload kept by the deterministic
   (h, key) order),
2. union with the persisted k-row state and keep the union's bottom-k
   — a 2k-row sort, constant work at any stream volume,
3. snapshot the sample size and the k-th smallest hash.

At 100 TB: state is k rows regardless of volume; the only data-sized
work per batch is one distinct + partial top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .tracker import start_tracker


def _hash60(key) -> F.Column:
    """Portable 60-bit hash: first 15 md5 hex chars as a BIGINT — the
    kmv_sketch hash, identical on any engine/run/partitioning."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, 15), 16, 10
    ).cast("long")


def batch_bottom_k(df: DataFrame, key_col: str, payload_col: str, k: int) -> DataFrame:
    """A micro-batch's own bottom-k: one row per distinct key (payload
    tie-broken smallest for determinism), then the k smallest hashes."""
    d = (
        df.select(
            _hash60(F.col(key_col)).alias("h"),
            F.col(key_col).cast("string").alias("key"),
            F.col(payload_col).cast("string").alias("payload"),
        )
        .groupBy("h", "key")
        .agg(F.min("payload").alias("payload"))
    )
    # sort-limit plans as TakeOrderedAndProject (per-partition heaps +
    # a k-row driver merge) — never a single-partition window over the
    # batch's distinct keys
    return d.orderBy("h", "key").limit(k)


def merge_bottom_k(state: DataFrame | None, batch: DataFrame, k: int) -> DataFrame:
    """Keep the k smallest of state ∪ batch — the semilattice fold (at
    most 2k rows in, k out; duplicate keys collapse to one row)."""
    both = batch if state is None else state.unionByName(batch)
    d = both.groupBy("h", "key").agg(F.min("payload").alias("payload"))
    return d.orderBy("h", "key").limit(k)


def start_sample_tracker(
    stream: DataFrame,
    key_col: str,
    payload_col: str,
    state_dir: str,
    snapshots_dir: str,
    checkpoint_dir: str,
    k: int = 256,
) -> StreamingQuery:
    """Start the tracker. Each micro-batch replaces the cumulative
    k-row sample under ``state_dir`` and appends one snapshot row
    (batch_id, sample_size, tau — the k-th smallest hash, from which
    distinct-count ≈ (k−1)·2⁶⁰/tau like the batch KMV) under
    ``snapshots_dir``."""
    if k < 2:
        raise ValueError("k must be >= 2")
    return start_tracker(
        stream, state_dir, snapshots_dir, checkpoint_dir,
        ("h", "key", "payload"),
        lambda b, prior: merge_bottom_k(
            prior, batch_bottom_k(b, key_col, payload_col, k), k
        ),
        lambda state: state.agg(
            F.count(F.lit(1)).cast("long").alias("sample_size"),
            F.max("h").alias("tau"),
        ),
    )
