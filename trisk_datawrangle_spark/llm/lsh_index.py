"""Persisted MinHash-LSH index lifecycle — the continual-ingestion
shape :func:`~trisk_datawrangle_spark.llm.dedup.
minhash_lsh_incremental_pairs` documents but derives inline.

At 100 TB the corpus's shingle and banded tables are precomputed
ONCE and stored; every ingestion batch then probes the stored index
(delta-bands ⋈ index-bands) instead of re-shingling the corpus. This
module materializes exactly those two tables on plain parquet:

``{path}/bands``
    (id, bucket) partitioned by ``(band, bshard)`` where
    ``bshard = pmod(bucket, n_shards)``. A probe's delta touches a
    bounded set of (band, bshard) partitions — at most
    ``bands × n_shards`` — so the index read is PARTITION-PRUNED to
    the delta's collision neighborhoods; untouched shards are never
    scanned (asserted by plan test, tests/test_lsh_index.py).

``{path}/shingles``
    (id, h) distinct shingle hashes partitioned by
    ``ishard = pmod(xxhash64(id), n_shards)``. Exact-Jaccard
    verification needs only the CANDIDATE existing docs' shingles;
    their ishard set (again bounded by ``n_shards``) prunes the
    scan, and an id-level semi-join trims the surviving shards to
    the candidate rows.

``{path}/meta.json``
    the (num_hashes, bands, ngram, n_shards) the index was built
    with — probes read it so a mis-parameterized probe is
    structurally impossible.

Appends go through :func:`~trisk_datawrangle_spark.sources.
incremental.merge_by_key` keyed on the doc id, so re-ingesting a
batch (stream retry, backfill overlap) REPLACES the doc's index rows
instead of duplicating them — and only the touched (band, bshard) /
ishard partitions are rewritten.

Reference parity: the reference has no index lifecycle (it is a
single-node batch tool); this is the scale path for the dedup ladder
(SURVEY.md LLM-ops section), cf. R/prepare_abcd_stress_test_input.R's
run-from-scratch shape.
"""

from __future__ import annotations

import json
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trisk_datawrangle_spark.operators.persist import (
    _persistent_ids,
    tracked_local_checkpoint,
    unpersist_ids,
)
from trisk_datawrangle_spark.llm.dedup import (
    _banded_table,
    _shingle_profile,
    _verify_pairs_two_sided,
    minhash_lsh_dedup_pairs,
)

#: Default shard count for both partition layouts. 64 keeps the
#: directory fan-out tame (bands × 64 leaf dirs) while making a
#: small-delta probe read ~1/64 of each touched band.
DEFAULT_SHARDS = 64


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath, hpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """meta.json via the Hadoop FS API (works on s3://, hdfs://, …;
    a driver-local open() would not)."""
    jvm, hpath, fs = _fs(spark, f"{path}/meta.json")
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(meta, sort_keys=True).encode()))
    finally:
        out.close()


def _read_small_file(jvm, fs, hpath) -> bytes:
    """Whole small file in ONE py4j round-trip. The previous
    per-byte ``stream.read()`` loop paid one driver↔JVM round-trip
    PER BYTE — ~150 round-trips (~100 ms) for a meta.json, on every
    probe of every serving index (guide §1: this showed up as fixed
    per-probe latency in d13/s7 before any Spark job ran).
    commons-io ships with Spark, and ``toByteArray`` drains the
    Hadoop stream JVM-side."""
    stream = fs.open(hpath)
    try:
        return bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()


def read_index_meta(spark: SparkSession, path: str) -> dict:
    jvm, hpath, fs = _fs(spark, f"{path}/meta.json")
    return json.loads(_read_small_file(jvm, fs, hpath).decode())


def _check_id_col(meta: dict, id_col: str, op: str) -> None:
    """meta.json records the id column the index was keyed on; an
    append or probe with a DIFFERENT id column would silently corrupt
    the keying (merge_by_key replaces on the wrong key) — refuse."""
    built_with = meta.get("id_col")
    if built_with is not None and built_with != id_col:
        raise ValueError(
            f"{op}: index was built with id_col={built_with!r} but the "
            f"caller passed id_col={id_col!r}; pass the index's id "
            "column (or rebuild the index) — mixing keys corrupts it"
        )


#: Per-process memo of serving-path reads keyed by (applicationId,
#: index path, kind): ``kind`` is a table name for a relation handle
#: (the DataFrame holds only the file index + schema, ~0.2-0.3 s of
#: driver-side metadata to rebuild for the bands table; every ACTION
#: still reads the parquet files) or ``"model"`` for pq_index's
#: frozen centroid/codebook arrays of one RESOLVED version path.
#: Bounded LRU: a hit moves its entry to the end and an insert past
#: ``_MEMO_CAP`` evicts from the front, so a hot serving entry
#: outlives cold ones in a long-lived process probing many paths.
#: Index tables are mutable in place via the append path, so every
#: mutator (write, append, publish swap) calls
#: :func:`_invalidate_index_relations`; a retrain-and-swap publishes
#: a NEW version dir and never hits a stale entry. Cross-process
#: appends remain governed by the single-writer lifecycle contract.
_MEMO: OrderedDict = OrderedDict()
_MEMO_CAP = 64


def _memo_get(key: tuple):
    hit = _MEMO.get(key)
    if hit is not None:
        _MEMO.move_to_end(key)
    return hit


def _memo_put(key: tuple, value):
    _MEMO[key] = value
    _MEMO.move_to_end(key)
    while len(_MEMO) > _MEMO_CAP:
        _MEMO.popitem(last=False)
    return value


def _read_index_table(spark: SparkSession, path: str, table: str):
    key = (spark.sparkContext.applicationId, path, table)
    df = _memo_get(key)
    if df is None:
        df = _memo_put(key, spark.read.parquet(f"{path}/{table}"))
    return df


def _invalidate_index_relations(path: str) -> None:
    """Drop every memo entry (relations and models) at or under
    ``path`` — called by every mutator of a serving location, so a
    same-process probe after the mutation sees the new file set.
    The match respects the path-separator boundary: mutating
    ``/idx/a`` leaves ``/idx/ab`` alone."""
    p = path.rstrip("/")
    for k in [k for k in _MEMO if k[1] == p or k[1].startswith(p + "/")]:
        del _MEMO[k]


def _index_frames(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    ngram: int,
    n_shards: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bands_frame, shingles_frame, cached_base) with shard
    columns attached. One cached per-doc PROFILE
    (:func:`~trisk_datawrangle_spark.llm.dedup._shingle_profile` —
    sorted distinct-hash array + signature from a single
    no-extra-exchange aggregation, r12) feeds both: the banded table
    is an inline() projection of the signatures, the stored shingle
    rows an explode of the arrays (the store keeps the exploded
    layout — probes prune and re-aggregate only candidate ids).
    The third element is the cached base — callers MUST
    ``unpersist()`` it once their writes land, or a long-running
    ingest loop leaks one cached RDD per micro-batch until GC."""
    prof = _shingle_profile(df, text_col, id_col, ngram, num_hashes).cache()
    banded = _banded_table(
        prof.select("id", "sig"), num_hashes, bands
    ).withColumn("bshard", F.pmod(F.col("bucket"), F.lit(n_shards)))
    shingles = prof.select("id", F.explode("hs").alias("h")).withColumn(
        "ishard", F.pmod(F.xxhash64(F.col("id")), F.lit(n_shards))
    )
    return banded, shingles, prof


def write_lsh_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    n_shards: int = DEFAULT_SHARDS,
) -> None:
    """Bootstrap the persisted index from a corpus frame: one
    shingling pass feeds both tables; each table is one shuffle-free
    write (the partitionBy columns are derived projections)."""
    banded, shingles, sh = _index_frames(
        df, text_col, id_col, num_hashes, bands, ngram, n_shards
    )
    if not banded.head(1):
        # a zero-shingle bootstrap writes NO parquet files under the
        # partitioned layout, so the first probe's read dies on
        # schema inference — refuse up front with the actual fix
        sh.unpersist()
        raise ValueError(
            "write_lsh_index: corpus produced no shingles (empty "
            "frame, or every text shorter than the n-gram); bootstrap "
            "the index from the first non-empty batch instead"
        )
    # repartition on the layout columns so each leaf directory is
    # written by one task (≤1 file per leaf instead of one per
    # (task × leaf) — thousands of KB-sized files otherwise); within
    # a leaf, rows sorted by the probe key for row-group stats
    try:
        (
            banded.repartition("band", "bshard")
            .sortWithinPartitions("bucket")
            .write.mode("overwrite")
            .partitionBy("band", "bshard")
            .parquet(f"{path}/bands")
        )
        (
            shingles.repartition("ishard")
            .sortWithinPartitions("id")
            .write.mode("overwrite")
            .partitionBy("ishard")
            .parquet(f"{path}/shingles")
        )
    finally:
        sh.unpersist()
        _invalidate_index_relations(path)
    _write_meta(
        spark=df.sparkSession,
        path=path,
        meta={
            "num_hashes": num_hashes,
            "bands": bands,
            "ngram": ngram,
            "n_shards": n_shards,
            "id_col": id_col,
        },
    )


def lsh_index_append(
    incoming: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Merge a batch's docs INTO the index (the ingestion step after
    a probe accepts them). Keyed on the doc id via merge_by_key, so
    re-running a batch replaces its rows (idempotent retry) and only
    the touched partitions are rewritten — never the whole index."""
    from trisk_datawrangle_spark.sources.incremental import merge_by_key

    spark = incoming.sparkSession
    path = resolve_index_path(spark, path)
    meta = read_index_meta(spark, path)
    _check_id_col(meta, id_col, "lsh_index_append")
    banded, shingles, sh = _index_frames(
        incoming,
        text_col,
        id_col,
        meta["num_hashes"],
        meta["bands"],
        meta["ngram"],
        meta["n_shards"],
    )
    try:
        merge_by_key(
            spark,
            banded.select("id", "bucket", "band", "bshard"),
            f"{path}/bands",
            keys=["id"],
            partition_by=["band", "bshard"],
        )
        merge_by_key(
            spark,
            shingles.select("id", "h", "ishard"),
            f"{path}/shingles",
            keys=["id"],
            partition_by=["ishard"],
        )
    finally:
        sh.unpersist()
        _invalidate_index_relations(path)


#: r13 marker: the probe no longer pays a separate driver barrier to
#: build the bands-read pruning predicate (scripts/explain_d13_jobs.py
#: keys its barrier labels off this).
_PROBE_FUSED = True


def _pruned_bands_read(
    spark: SparkSession, path: str, probe_banded: DataFrame
) -> DataFrame:
    """Index bands restricted to the partitions the probe can collide
    in — via DYNAMIC partition pruning instead of a collected
    predicate (r13, guide §2.6 fewer driver barriers): a broadcast
    left-semi join on the partition columns lets Spark inject a
    ``dynamicpruningexpression(band IN ..., bshard IN ...)`` into the
    scan, so the probe's first eager action no longer needs a
    separate collect-job just to build the filter — the probe's two
    leading jobs fuse into one driver barrier. The pruned set is the
    same by construction: index rows whose (band, bshard) pair occurs
    in the delta (bounded by bands × n_shards keys, so the broadcast
    is tiny at any corpus size).

    The ``bshard >= 0`` no-op comparison exists for the planner, not
    the data: PartitionPruning only injects the DPP filter when the
    build side shows a "likely selective" predicate, and the cached
    delta profile hides the delta's own filter behind its
    InMemoryRelation. Pinned by tests/test_lsh_index.py (the plan
    must show dynamicpruningexpression on both partition columns, and
    a one-doc probe must read at most ``bands`` leaf partitions)."""
    probe_keys = (
        probe_banded.select("band", "bshard")
        .distinct()
        .filter(F.col("bshard") >= 0)
    )
    index = _read_index_table(spark, path, "bands")
    return index.join(F.broadcast(probe_keys), ["band", "bshard"], "left_semi")


def minhash_lsh_index_pairs(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Dedup an ingestion batch against the PERSISTED index: same
    contract as :func:`~trisk_datawrangle_spark.llm.dedup.
    minhash_lsh_incremental_pairs` — exact-verified cross-set pairs
    ``(id_a existing, id_b incoming, jaccard ≥ threshold)``, ids
    disjoint between batch and corpus — but the existing side comes
    from the stored tables with partition-pruned reads instead of
    being re-derived from the corpus frame.

    Replay safety: the index side is ANTI-JOINED against the
    incoming id set, so if the batch's own docs are already IN the
    index (a checkpoint replay after the append landed but before
    the stream committed), the probe still sees index-minus-batch
    and reproduces the original run's pairs exactly — the id-disjoint
    output contract holds even when the inputs overlap.

    Eager plan (ONE bounded driver collect, ≤ n_shards-sized — r13;
    the pre-r13 shape paid a second collect just to build the bands
    pruning predicate, now injected as dynamic partition pruning
    inside the same job, see :func:`_pruned_bands_read`):
    1. shingle+band the delta inline (one cached pass), read index
       bands DPP-pruned to the delta's (band, bshard) set, drop rows
       keyed by an incoming id (broadcast anti-join on the delta's
       small id set), join on (band, bucket) → candidate pairs
       (cached), collect the candidates' ishard set;
    2. read index shingles pruned to that ishard set, semi-joined to
       candidate ids, exact-verify each side against its own array
       table (existing ids vs batch ids are disjoint, so no union).

    The returned frame is locally checkpointed (self-contained), so
    the per-call caches are unpersisted before returning — a
    long-running ingest loop holds no storage across batches.

    A delta with no collisions reads ZERO shingle partitions and
    returns empty without a verification join."""
    path = resolve_index_path(spark, path)
    meta = read_index_meta(spark, path)
    _check_id_col(meta, id_col, "minhash_lsh_index_pairs")
    n_shards = meta["n_shards"]
    # ONE cached per-doc profile (r12, _shingle_profile): the sorted
    # distinct-hash array, its size and the signature come out of a
    # single no-extra-exchange aggregation over the gram stream —
    # the previous shape cached the exploded distinct (id, h) rows
    # and paid two delta-sized exchanges (the distinct and the
    # signature groupBy) plus a second delta-wide aggregation in the
    # verify stage. The banded table is a cheap inline() projection
    # of the cached profile, so it no longer needs its own cache.
    prof = _shingle_profile(
        incoming, text_col, id_col, meta["ngram"], meta["num_hashes"]
    ).cache()
    banded_in = _banded_table(
        prof.select("id", "sig"), meta["num_hashes"], meta["bands"]
    ).withColumn("bshard", F.pmod(F.col("bucket"), F.lit(n_shards)))

    index_bands = _pruned_bands_read(spark, path, banded_in).join(
        # prof is one row per id — already distinct
        F.broadcast(prof.select("id")), "id", "left_anti"
    )
    cand = (
        index_bands.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(
            banded_in.select(F.col("id").alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .cache()
    )
    try:
        shard_rows = (
            cand.select(
                F.pmod(F.xxhash64(F.col("id_a")), F.lit(n_shards)).alias(
                    "ishard"
                )
            )
            .distinct()
            .collect()
        )
        if not shard_rows:
            return cand.withColumn("jaccard", F.lit(0.0)).limit(
                0
            ).localCheckpoint(eager=True)
        shards = sorted(int(r["ishard"]) for r in shard_rows)
        sh_ex = (
            _read_index_table(spark, path, "shingles")
            .filter(F.col("ishard").isin(*shards))
            .join(
                cand.select(F.col("id_a").alias("id")).distinct(),
                "id",
                "left_semi",
            )
            .select("id", "h")
        )
        # The index side still needs aggregating into per-doc arrays
        # (the store holds exploded (id, h) rows), but only for the
        # ~|candidates| ids the semi-join kept; no distinct first —
        # the stored shingles table is written from a distinct frame
        # with merge_by_key replacing whole ids, and its id set is
        # disjoint from the batch's (the bands anti-join restricted
        # id_a to index-minus-batch ids), so a distinct here would
        # re-shuffle every row for nothing (r12, measured 1.33 s →
        # 0.74 s on the sf0.1 verify stage, identical output).
        arrays_ex = sh_ex.groupBy("id").agg(
            F.sort_array(F.collect_list("h")).alias("hs"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        # The batch side's arrays are ALREADY in the cached profile —
        # narrowed to CANDIDATE ids (r12): the verifier inner-joins
        # to cand's id_a/id_b, so docs that collided with nothing can
        # never reach the output; dropping them up front (a broadcast
        # semi-join against the cached cand) keeps the verify
        # proportional to |candidates|, not |batch| (sf0.1: ~120
        # candidate ids of 2 500 batch docs; at 100 TB the same ratio
        # is the difference between verifying a delta and verifying
        # collisions).
        arrays_b = prof.join(
            cand.select(F.col("id_b").alias("id")).distinct(),
            "id",
            "left_semi",
        ).select("id", "hs", "n_grams")
        # existing ids and batch ids are disjoint (the bands anti-join
        # restricted id_a to index-minus-batch), so each verify side
        # joins its own array table — no union (r13)
        return _verify_pairs_two_sided(
            arrays_ex, arrays_b, cand, threshold
        ).localCheckpoint(eager=True)
    finally:
        prof.unpersist()
        cand.unpersist()


def stream_dedup_ingest(
    stream_df: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
):
    """The full continual-ingestion dedup loop as one streaming
    query: per micro-batch, (1) probe the persisted index for
    near-dup pairs against the existing corpus
    (:func:`minhash_lsh_index_pairs` — partition-pruned, delta cost,
    ``scope='cross'``), (2) find near-dup pairs WITHIN the batch
    itself (:func:`~trisk_datawrangle_spark.llm.dedup.
    minhash_lsh_dedup_pairs` on the batch alone, ``scope='batch'`` —
    two dup docs arriving together must not both pass silently),
    (3) append both verdict sets to ``pairs_path``, (4) merge the
    batch's docs INTO the index (:func:`lsh_index_append`) so later
    batches dedup against them too.

    Exactly-once discipline: the checkpoint makes batch replay
    possible, and every effect is replay-safe — the append is a
    keyed merge (replaces, never duplicates), the pairs write goes
    through a per-batch overwrite directory (``batch_id=N``
    partition, a replayed batch rewrites its own partition), and the
    probe anti-joins the index against the batch's own ids, so a
    replay AFTER the append landed reproduces the identical pairs
    (the within-batch pairs come from the batch frame alone and are
    deterministic).

    Single-writer discipline: each batch takes an exclusive lease
    (``_ingest.lock`` under the index, created with
    ``FileSystem.create(overwrite=false)`` — atomic on HDFS-like
    stores) and releases it when the batch's effects land. Two
    concurrent ingest loops on one index would interleave
    read-modify-write merges and corrupt it; the second writer now
    fails loudly instead (see :func:`acquire_index_lease`).

    Returns the started StreamingQuery (availableNow trigger — batch
    backfills and continuous runs share the path)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # tracked checkpoint: a long-running stream would otherwise
        # pin one batch's worth of checkpoint blocks per micro-batch
        # until driver GC (operators/persist.py)
        batch_df, ckpt_ids = tracked_local_checkpoint(batch_df)
        spark = batch_df.sparkSession
        if not batch_df.head(1):
            unpersist_ids(spark, ckpt_ids)
            return
        lease = acquire_index_lease(
            spark, index_path, owner=f"stream_dedup_ingest batch={batch_id}"
        )
        # everything persisted while this batch runs (the pairs
        # frames come back localCheckpointed) is batch-scoped: free
        # it when the batch's effects have landed. Snapshot-diff
        # attribution — single writer per index is already enforced
        # by the lease, and persist.py documents the single-driver-
        # loop assumption.
        scope_before = _persistent_ids(spark)
        try:
            cross = minhash_lsh_index_pairs(
                spark, index_path, batch_df, text_col, id_col, threshold
            )
            meta = read_index_meta(
                spark, resolve_index_path(spark, index_path)
            )
            within = minhash_lsh_dedup_pairs(
                batch_df,
                text_col,
                id_col,
                num_hashes=meta["num_hashes"],
                bands=meta["bands"],
                ngram=meta["ngram"],
                threshold=threshold,
            )
            pairs = cross.withColumn("scope", F.lit("cross")).unionByName(
                within.withColumn("scope", F.lit("batch"))
            )
            (
                pairs.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(pairs_path)
            )
            lsh_index_append(batch_df, index_path, text_col, id_col)
        finally:
            unpersist_ids(
                spark, _persistent_ids(spark) - scope_before
            )
            unpersist_ids(spark, ckpt_ids)
            release_index_lease(spark, index_path, lease)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def acquire_index_lease(
    spark: SparkSession, index_path: str, owner: str = "unknown"
) -> str:
    """Take the index's exclusive writer lease: atomically create
    ``{index_path}/_ingest.lock`` with ``overwrite=false`` — the
    Hadoop FS primitive that fails (instead of clobbering) when the
    file already exists, on HDFS and local FS alike. Raises a loud,
    actionable error on contention.

    The lock file records its owner so the error can say WHO holds
    it. A crashed writer leaves a stale lock by design (safer than a
    TTL silently letting two writers in); the error message says how
    to clear it after confirming the other writer is dead.

    Returns the lock path (pass it to :func:`release_index_lease`)."""
    lock_path = f"{index_path.rstrip('/')}/_ingest.lock"
    jvm, hpath, fs = _fs(spark, lock_path)
    try:
        out = fs.create(hpath, False)  # overwrite=False: atomic claim
    except Exception:
        holder = "unknown"
        try:
            holder = (
                _read_small_file(jvm, fs, hpath).decode(errors="replace")
                or holder
            )
        except Exception:
            pass
        raise RuntimeError(
            f"acquire_index_lease: {lock_path} is held (owner: "
            f"{holder}). One writer per index — stop the other ingest "
            "loop, or if it crashed, delete the lock file and retry."
        ) from None
    try:
        out.write(bytearray(owner.encode()))
    finally:
        out.close()
    return lock_path


def release_index_lease(
    spark: SparkSession, index_path: str, lock_path: str
) -> None:
    jvm, hpath, fs = _fs(spark, lock_path)
    fs.delete(hpath, False)


def publish_index(spark: SparkSession, staged_path: str, live_path: str) -> None:
    """Swap a freshly-built index into its serving location: the
    retrain-and-swap step of the index lifecycle (build to a staging
    directory with :func:`write_lsh_index` /
    ``pq_index.write_ivf_pq_index``, validate, then publish).

    On HDFS-like filesystems both renames are atomic metadata ops, so
    a reader planning against ``live_path`` sees the old index or the
    new one, never a mix; the retired directory is deleted only after
    the swap lands. Object stores (S3) rename by copy — there, use
    :func:`publish_index_versioned` instead: it writes to a versioned
    path and flips a tiny pointer file, so readers never observe a
    half-copied directory.
    """
    jvm, live, fs = _fs(spark, live_path)
    staged = jvm.org.apache.hadoop.fs.Path(staged_path)
    if not fs.exists(staged):
        raise ValueError(f"publish_index: staged index {staged_path} absent")
    retired = jvm.org.apache.hadoop.fs.Path(live_path + ".retired")
    if fs.exists(retired):
        fs.delete(retired, True)
    had_live = fs.exists(live)
    if had_live and not fs.rename(live, retired):
        raise IOError(f"publish_index: could not retire {live_path}")
    if not fs.rename(staged, live):
        # roll back so the live path never ends up missing
        if had_live:
            fs.rename(retired, live)
        raise IOError(
            f"publish_index: could not publish {staged_path} -> {live_path}"
        )
    if had_live:
        fs.delete(retired, True)
    # the swap mutated what live_path points AT — drop memoized
    # relation/model handles for it (r12)
    _invalidate_index_relations(live_path)


#: Name of the pointer file a versioned index root carries. The file
#: body is the current version's directory name (``v=N``) — one tiny
#: object whose replacement is the only "publish" step readers can
#: observe, so the flip is atomic even where directory renames are
#: copies (S3-style object stores).
CURRENT_POINTER = "CURRENT"


def resolve_index_path(spark: SparkSession, path: str) -> str:
    """Follow a versioned root's pointer file to the current version
    directory; a plain (non-versioned) index path passes through
    unchanged, so every probe/append entrypoint can call this
    unconditionally."""
    pointer = f"{path.rstrip('/')}/{CURRENT_POINTER}"
    jvm, hpath, fs = _fs(spark, pointer)
    if not fs.exists(hpath):
        return path
    version = _read_small_file(jvm, fs, hpath).decode().strip()
    if not version or "/" in version or version.startswith("."):
        raise ValueError(
            f"resolve_index_path: corrupt pointer {pointer!r} -> "
            f"{version!r}; expected a bare version directory name "
            "like 'v=3'"
        )
    return f"{path.rstrip('/')}/{version}"


def _list_versions(fs, jvm, root: str) -> list[int]:
    rpath = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(rpath):
        return []
    out = []
    for st in fs.listStatus(rpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                pass
    return sorted(out)


def publish_index_versioned(
    spark: SparkSession, staged_path: str, root_path: str
) -> str:
    """Object-store-safe retrain-and-swap: move the staged index into
    ``{root_path}/v=N`` (N = one past the newest existing version),
    then atomically flip ``{root_path}/CURRENT`` to name it. Readers
    resolve through :func:`resolve_index_path` (every probe/append in
    this module and ``pq_index`` does), so they see the OLD complete
    version until the pointer lands and the NEW complete version
    after — never a mix, even on stores where the directory move is
    a non-atomic copy: the in-flight ``v=N`` is invisible until the
    one-object pointer write, and already-planned reads keep their
    resolved ``v=N-1`` path, which publish never mutates.

    The staged directory must carry a ``meta.json`` (i.e. be a
    complete index produced by :func:`write_lsh_index` or
    ``pq_index.write_ivf_pq_index``) — validated BEFORE the pointer
    flips, so a botched build can't be published.

    Returns the published version path (``{root_path}/v=N``)."""
    jvm, _, fs = _fs(spark, root_path)
    staged = jvm.org.apache.hadoop.fs.Path(staged_path)
    if not fs.exists(staged):
        raise ValueError(
            f"publish_index_versioned: staged index {staged_path} absent"
        )
    if not fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{staged_path.rstrip('/')}/meta.json")
    ):
        raise ValueError(
            f"publish_index_versioned: {staged_path} has no meta.json — "
            "not a complete index; refusing to publish"
        )
    root = root_path.rstrip("/")
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(root))
    versions = _list_versions(fs, jvm, root)
    n = (versions[-1] + 1) if versions else 1
    vdir = f"{root}/v={n}"
    if not fs.rename(staged, jvm.org.apache.hadoop.fs.Path(vdir)):
        raise IOError(
            f"publish_index_versioned: could not move {staged_path} "
            f"-> {vdir}"
        )
    # flip the pointer: write CURRENT.tmp fully, then one rename. On
    # HDFS the rename is atomic metadata; on an object store it is a
    # single small-object copy+delete — either way a reader sees the
    # complete old pointer or the complete new one.
    tmp = jvm.org.apache.hadoop.fs.Path(f"{root}/{CURRENT_POINTER}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(f"v={n}".encode()))
    finally:
        out.close()
    cur = jvm.org.apache.hadoop.fs.Path(f"{root}/{CURRENT_POINTER}")
    if fs.exists(cur):
        fs.delete(cur, False)
    if not fs.rename(tmp, cur):
        raise IOError(
            f"publish_index_versioned: could not flip {root}/"
            f"{CURRENT_POINTER} to v={n}"
        )
    return vdir


def gc_index_versions(
    spark: SparkSession, root_path: str, keep: int = 2
) -> list[str]:
    """Delete versions older than the newest ``keep`` (the current
    version is always within the newest ``keep``, and in-flight
    readers of the previous version get a grace window as long as
    ``keep >= 2``). Returns the deleted version paths."""
    if keep < 1:
        raise ValueError("gc_index_versions: keep must be >= 1")
    jvm, _, fs = _fs(spark, root_path)
    root = root_path.rstrip("/")
    current = resolve_index_path(spark, root)
    deleted = []
    for v in _list_versions(fs, jvm, root)[:-keep]:
        vdir = f"{root}/v={v}"
        if vdir == current:
            continue  # never delete what the pointer names
        fs.delete(jvm.org.apache.hadoop.fs.Path(vdir), True)
        deleted.append(vdir)
    return deleted
