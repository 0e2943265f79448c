"""Streaming near-duplicate filtering: dedup an incoming document stream
against everything already accepted — the ingest-time form of X2
(`operators/dedup.py` covers the offline form; same MinHash profiles,
same banding, same exact-Jaccard verification).

Shape per micro-batch (foreachBatch):
1. profile the batch (one aggregation — ``minhash_profiles``),
2. LSH-band the batch profiles against (a) themselves and (b) the
   persisted index of previously-accepted profiles — candidates are
   linear, never all-pairs,
3. exact-verify candidates on the stored shingle sets,
4. reject any doc with a verified near-dup of smaller id in the batch
   or any verified match in the index ("first seen wins"),
5. append the survivors' rows and profiles, partitioned by batch id
   with dynamic partition overwrite — a replayed batch overwrites its
   own partition, so recovery is idempotent (effective exactly-once).

Scale notes: the index re-read per batch is a parquet scan pruned only
by the band join; a production deployment bucket-partitions the index
by (band, bucket) so each micro-batch reads matching buckets only, or
keeps the bucket → ids map in a key-value store. The verification join
carries shingle-hash arrays, not text. State lives entirely in the
index files — the streaming query itself is stateless, so there's no
watermark to tune and restarts are trivial.

Index growth is bounded by ``index_retention_batches``: without it the
accepted-profile index grows forever and at 100 TB every micro-batch
eventually rereads an unbounded scan. With retention N, the probe sees
only the N most recent prior batch partitions (partition-pruned read on
``__batch_id``) and older partitions are deleted after the batch's
writes land. Trade-off, stated plainly: a duplicate of a document
accepted more than N batches ago is accepted again — the right contract
for time-local duplication (news bursts, crawl re-fetch windows); for
global history keep retention unset and bucket-partition the index
instead. Deletion is idempotent (removing an absent partition is a
no-op), so replay semantics are unchanged. Index discovery and pruning
go through the Hadoop FileSystem helpers of ``streaming/tracker.py``,
so a file://, hdfs:// or s3a:// index is probed and pruned like a
plain path. The accepted ROWS in
``out_dir`` are never pruned — the index is operational probe state,
not the archive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import dedup
from .tracker import _overwrite_partition, list_state_ids, prune_state_partitions


def _verified_matches(
    new_profiles: DataFrame,
    other_profiles: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    require_smaller_other: bool,
) -> DataFrame:
    """(id, matched_id, jaccard) — verified near-dups of each new doc.

    ``require_smaller_other`` enforces the within-batch "first seen wins"
    rule (only a smaller-id batch doc can displace you); index matches
    are by definition earlier, so the cross check passes False.
    """
    sig_cols = [f"h{i}" for i in range(num_hashes)]
    new_b = dedup.band_buckets(new_profiles.select("id", *sig_cols), num_hashes, bands)
    other_b = dedup.band_buckets(other_profiles.select("id", *sig_cols), num_hashes, bands)
    cond = [new_b["band"] == other_b["band"], new_b["bucket"] == other_b["bucket"]]
    cands = (
        new_b.alias("n")
        .join(other_b.alias("o"), cond)
        .select(F.col("n.id").alias("id"), F.col("o.id").alias("matched_id"))
        .filter(
            F.col("matched_id") < F.col("id")
            if require_smaller_other
            else F.col("matched_id") != F.col("id")
        )
        .distinct()
    )
    pa = new_profiles.select(
        F.col("id"), F.col("shset").alias("set_a"), F.col("sz").alias("size_a")
    )
    pb = other_profiles.select(
        F.col("id").alias("matched_id"), F.col("shset").alias("set_b"), F.col("sz").alias("size_b")
    )
    return (
        cands.join(pa, "id")
        .join(pb, "matched_id")
        .withColumn("common", F.size(F.array_intersect("set_a", "set_b")).cast("long"))
        .withColumn(
            "jaccard", F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id", "matched_id", "jaccard")
    )


def dedup_batch_against_index(
    batch_df: DataFrame,
    index_profiles: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
):
    """Pure batch core (unit-testable without a stream): returns
    (accepted_rows, accepted_profiles, rejections) where rejections is
    (doc_id, matched_id, jaccard, via ∈ {'batch','index'})."""
    profiles = dedup.minhash_profiles(batch_df, id_col, text_col, k, num_hashes)
    internal = _verified_matches(
        profiles, profiles, num_hashes, bands, threshold, require_smaller_other=True
    ).withColumn("via", F.lit("batch"))
    if index_profiles is not None:
        cross = _verified_matches(
            profiles, index_profiles, num_hashes, bands, threshold, require_smaller_other=False
        ).withColumn("via", F.lit("index"))
        matches = internal.unionByName(cross)
    else:
        matches = internal
    # One deterministic rejection row per doc: smallest matched_id wins;
    # `via` breaks the tie when the SAME matched_id is seen through both
    # routes (replay re-reads the current batch's prior-attempt profiles
    # from the index, so 'batch' and 'index' can both surface it — without
    # the tiebreak replayed batches could flip the via column).
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("matched_id", "via")
    rejections = (
        matches.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("id").alias(id_col), "matched_id", "jaccard", "via")
    )
    dropped = rejections.select(id_col)
    accepted_rows = batch_df.join(dropped, id_col, "left_anti")
    accepted_profiles = profiles.join(
        dropped.select(F.col(id_col).alias("id")), "id", "left_anti"
    )
    return accepted_rows, accepted_profiles, rejections


def replay_verdicts(
    docs: DataFrame,
    batch_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_batches: int = 8,
) -> DataFrame:
    """Exact batch replay of the streaming filter's accept/reject
    verdicts over a BOUNDED horizon — the fifth (and last) streaming
    tracker to get a batch-replay-parity pin (ab_monitor, bottom-k,
    quantile, funnel precedents; tests/test_streaming_neardup.py pins
    this equal to the live ``foreachBatch`` run per batch).

    The acceptance recursion is sequential by construction: rejected
    docs never enter the index, so batch N's verdicts depend on the
    accepted SUBSET of batches < N — each replayed batch needs the
    previous ones resolved first. That is why this is bounded
    (``max_batches``, default 8) rather than a declared day-axis query:
    a full ~30-day replay would chain ~30 join-and-filter rounds and be
    the registry's slowest row by 3x (COVERAGE.md §2.61 scoping note).
    Within the bound, each round is the SAME pure batch core the live
    filter runs (``dedup_batch_against_index``), with the accumulated
    accepted profiles standing in for the disk index — so the pinned
    parity also certifies the index's write→read round-trip.

    Output: (batch_id, doc_id, accepted, matched_id, via, jaccard) —
    one row per input doc, matched_id/via/jaccard NULL for accepts.
    """
    bids = [
        r[0]
        for r in docs.select(F.col(batch_col).cast("long")).distinct().orderBy(
            batch_col
        ).limit(max_batches + 1).collect()
    ]
    if len(bids) > max_batches:
        raise ValueError(
            f"replay_verdicts: >{max_batches} batches — the sequential "
            "recursion is bounded-horizon by contract (see docstring)"
        )
    index_profiles: DataFrame | None = None
    out: DataFrame | None = None
    for bid in bids:
        batch_df = docs.filter(F.col(batch_col) == bid).drop(batch_col)
        accepted, profiles, rejections = dedup_batch_against_index(
            batch_df, index_profiles, id_col, text_col, k, num_hashes, bands, threshold
        )
        verdicts = accepted.select(
            F.lit(bid).alias("batch_id"),
            F.col(id_col),
            F.lit(True).alias("accepted"),
            F.lit(None).cast("long").alias("matched_id"),
            F.lit(None).cast("string").alias("via"),
            F.lit(None).cast("double").alias("jaccard"),
        ).unionByName(
            rejections.select(
                F.lit(bid).alias("batch_id"),
                F.col(id_col),
                F.lit(False).alias("accepted"),
                F.col("matched_id").cast("long"),
                "via",
                "jaccard",
            )
        )
        out = verdicts if out is None else out.unionByName(verdicts)
        index_profiles = (
            profiles
            if index_profiles is None
            else index_profiles.unionByName(profiles)
        )
    if out is None:
        raise ValueError("replay_verdicts: no batches in input")
    return out


def start_near_dup_filter(
    docs_stream: DataFrame,
    out_dir: str,
    index_dir: str,
    reject_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    index_retention_batches: int | None = None,
) -> StreamingQuery:
    """Attach the near-dup filter to a streaming document source. Accepted
    rows land in ``out_dir``, their profiles in ``index_dir`` (the
    dedup index), rejections + provenance in ``reject_dir`` — all
    partitioned by batch id with dynamic overwrite for idempotent
    replay. ``index_retention_batches`` bounds the index to the N most
    recent prior batches (see module docstring for the contract)."""
    spark = docs_stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        index = None
        if list_state_ids(spark, index_dir):
            index = spark.read.parquet(index_dir)
            if index_retention_batches is not None:
                # partition-pruned probe: only the retention window is read.
                # >= batch_id - N keeps the replayed batch's own prior
                # attempt visible (the `via` tiebreak depends on it).
                index = index.filter(F.col("__batch_id") >= batch_id - index_retention_batches)
            index = index.drop("__batch_id")
        accepted, profiles, rejections = dedup_batch_against_index(
            batch_df, index, id_col, text_col, k, num_hashes, bands, threshold
        )
        _overwrite_partition(accepted, out_dir, batch_id)
        _overwrite_partition(profiles, index_dir, batch_id)
        _overwrite_partition(rejections, reject_dir, batch_id)
        if index_retention_batches is not None:
            prune_state_partitions(spark, index_dir, batch_id - index_retention_batches)

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName("near_dup_filter")
        .start()
    )
