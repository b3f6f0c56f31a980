"""Mergeable approximate sketches (Tier S 'aggregations' completion).

At 100 TB exact distinct counts and exact quantiles are often the wrong
trade: these operators expose Spark's mergeable sketch aggregates —
HyperLogLog (Apache DataSketches binary sketches that UNION across
shards/days) and GK/KLL-style approximate percentiles. All are
order-independent (register-max / mergeable summaries), so results are
deterministic for a given dataset even though they are approximate.

No reference analogue (the reference's only aggregate surface is the
whole-column summary, cl-data-frame.lisp:63-90).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frame import SparkFrame


def _plain(frame) -> DataFrame:
    return frame.spark_df if isinstance(frame, SparkFrame) else frame


def approx_distinct(frame, col: str, group_cols: Sequence[str] = (),
                    rsd: float = 0.02) -> SparkFrame:
    """HyperLogLog++ distinct-count estimate per group (``rsd`` = target
    relative standard deviation). One partial-aggregating shuffle of
    fixed-size sketch states — #groups x sketch bytes, independent of
    row count."""
    sdf = _plain(frame)
    agg = F.approx_count_distinct(col, rsd=rsd).alias("approx_distinct")
    out = (sdf.groupBy(*group_cols).agg(agg) if group_cols
           else sdf.agg(agg))
    return SparkFrame(out)


def hll_sketch(frame, col: str, group_cols: Sequence[str] = (),
               lg_k: int = 12) -> SparkFrame:
    """DataSketches HLL: returns BOTH the estimate and the binary sketch
    per group. The sketch column is the point: persist it per shard/day
    and ``hll_union_agg`` rolls it up later without rescanning — the
    canonical pre-aggregation pattern for 100 TB distinct-count cubes."""
    sdf = _plain(frame)
    sk = F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("sketch")
    out = (sdf.groupBy(*group_cols).agg(sk) if group_cols
           else sdf.agg(sk))
    out = out.select(*group_cols,
                     F.hll_sketch_estimate("sketch").alias("estimate"),
                     "sketch")
    return SparkFrame(out)


def hll_rollup(sketch_frame, group_cols: Sequence[str] = ()) -> SparkFrame:
    """Merge previously materialized HLL sketches (e.g. per-day partials)
    into coarser groups — a sketch-state union, no raw-data rescan."""
    sdf = _plain(sketch_frame)
    agg = F.hll_union_agg("sketch").alias("sketch")
    out = (sdf.groupBy(*group_cols).agg(agg) if group_cols
           else sdf.agg(agg))
    return SparkFrame(out.select(
        *group_cols, F.hll_sketch_estimate("sketch").alias("estimate"),
        "sketch"))


def approx_quantiles(frame, col: str, probabilities: Sequence[float],
                     group_cols: Sequence[str] = (),
                     accuracy: int = 10_000) -> SparkFrame:
    """Greenwald-Khanna approximate percentiles per group: mergeable
    summaries, one fixed-size-state shuffle. The exact-percentile path
    (``summary.column_summary``) stays the reference-parity default;
    this is the at-scale variant."""
    sdf = _plain(frame)
    agg = F.percentile_approx(
        col, F.array(*[F.lit(float(p)) for p in probabilities]),
        F.lit(accuracy)).alias("quantiles")
    out = (sdf.groupBy(*group_cols).agg(agg) if group_cols
           else sdf.agg(agg))
    return SparkFrame(out)


def kll_quantiles(frame, col: str, probabilities: Sequence[float],
                  group_cols: Sequence[str] = (), k: int = 8000) -> SparkFrame:
    """DataSketches KLL quantile sketch per group: one fixed-size-state
    shuffle, mergeable across shards (see ``kll_rollup``).

    While a group holds <= *k* values the sketch retains all of them and
    every quantile is EXACT (it returns an actual retained value, matching
    ``quantile_disc`` semantics); past capacity it degrades gracefully to
    the KLL error bound. The correctness oracle runs in the exact range.
    """
    sdf = _plain(frame)
    agg = F.expr(f"kll_sketch_agg_double({col}, {int(k)})").alias("sketch")
    out = (sdf.groupBy(*group_cols).agg(agg) if group_cols
           else sdf.agg(agg))
    qs = [F.expr(f"kll_sketch_get_quantile_double(sketch, {float(p)})")
          .alias(f"q{int(p * 100)}") for p in probabilities]
    return SparkFrame(out.select(*group_cols, *qs, "sketch"))


def kll_rollup(sketch_frame, probabilities: Sequence[float],
               group_cols: Sequence[str] = ()) -> SparkFrame:
    """Merge previously materialized KLL sketches (e.g. per-day partials)
    into coarser groups without rescanning raw data.

    ``kll_sketch_merge_double`` is a binary scalar, so the rollup is a
    ``collect_list`` + ``aggregate`` fold per group — fine because the
    folded list holds one fixed-size sketch per merged shard, not rows.
    """
    sdf = _plain(sketch_frame)
    lst = (sdf.groupBy(*group_cols).agg(F.collect_list("sketch").alias("sks"))
           if group_cols else sdf.agg(F.collect_list("sketch").alias("sks")))
    merged = lst.select(
        *group_cols,
        F.expr("aggregate(slice(sks, 2, size(sks)), sks[0], "
               "(acc, x) -> kll_sketch_merge_double(acc, x))").alias("sketch"))
    qs = [F.expr(f"kll_sketch_get_quantile_double(sketch, {float(p)})")
          .alias(f"q{int(p * 100)}") for p in probabilities]
    return SparkFrame(merged.select(*group_cols, *qs, "sketch"))


def theta_distinct(frame, col: str, group_cols: Sequence[str] = (),
                   lg_k: int = 12) -> SparkFrame:
    """DataSketches Theta distinct-count estimate per group. Theta keeps
    every hash until 2^lg_k entries, so low-cardinality groups are exact;
    unlike HLL the retained-hash form also supports set algebra
    (intersection / difference) downstream."""
    sdf = _plain(frame)
    agg = F.expr(f"theta_sketch_agg({col}, {int(lg_k)})").alias("sketch")
    out = (sdf.groupBy(*group_cols).agg(agg) if group_cols
           else sdf.agg(agg))
    return SparkFrame(out.select(
        *group_cols, F.expr("theta_sketch_estimate(sketch)").alias("estimate"),
        "sketch"))


def theta_set_ops(frame, col: str, split_col: str, a_value, b_value,
                  lg_k: int = 12) -> SparkFrame:
    """Set-cardinality algebra between two slices of a table via Theta
    sketches: ``|A|, |B|, |A∪B|, |A∩B|, |A∖B|`` where A/B are the
    distinct *col* values of rows with ``split_col == a_value`` /
    ``b_value`` — the "how much does corpus A overlap corpus B"
    question answered WITHOUT joining raw rows.

    ONE scan builds both sketches (conditional ``theta_sketch_agg``
    over CASE expressions — the agg skips NULLs); the set operations
    run on the two sketch blobs. While each slice's cardinality stays
    under the 2^lg_k retained hashes, every estimate is exact; beyond
    that the error follows the Theta intersection bounds. At 100 TB
    this is the mergeable pattern: per-partition sketches union first,
    intersection last.
    """
    sdf = _plain(frame)

    def side(v):
        return F.expr(
            f"theta_sketch_agg(CASE WHEN {split_col} = '{v}' "
            f"THEN {col} END, {int(lg_k)})")

    row = sdf.agg(side(a_value).alias("ska"), side(b_value).alias("skb"))
    est = "theta_sketch_estimate"
    out = row.select(
        F.expr(f"{est}(ska)").cast("long").alias("n_a"),
        F.expr(f"{est}(skb)").cast("long").alias("n_b"),
        F.expr(f"{est}(theta_union(ska, skb))").cast("long")
        .alias("n_union"),
        F.expr(f"{est}(theta_intersection(ska, skb))").cast("long")
        .alias("n_intersect"),
        F.expr(f"{est}(theta_difference(ska, skb))").cast("long")
        .alias("n_diff"))
    return SparkFrame(out)


def frequent_items(frame, col: str, k: int = 10,
                   group_cols: Sequence[str] = (),
                   candidate_limit: int | None = None) -> SparkFrame:
    """Top-k most frequent values of *col* per group, exact, with a
    deterministic tiebreak (count desc, value asc).

    Plan: partial-aggregating ``groupBy(group, value).count()`` (the
    shuffle carries one row per distinct (group, value) per mapper, never
    raw rows), then a window rank over the slim count table. At 100 TB
    the count table is #distinct-sized — when even that is too wide, pass
    ``candidate_limit=m`` to insert a per-input-partition top-m prefilter
    (Misra-Gries-style): any value with global frequency > N/(m+1) is
    guaranteed by pigeonhole to survive some partition's top-m, so true
    heavy hitters are never lost; the tail below that bound becomes
    approximate. The exact default is what the oracle verifies.
    """
    from pyspark.sql import Window

    sdf = _plain(frame)
    gcols = list(group_cols)
    if candidate_limit is not None:
        part = sdf.select(*gcols, F.col(col),
                          F.spark_partition_id().alias("__pid__"))
        wp = Window.partitionBy("__pid__", *gcols).orderBy(
            F.col("__n__").desc(), F.col(col).asc())
        cand = (part.groupBy("__pid__", *gcols, col)
                .agg(F.count(F.lit(1)).alias("__n__"))
                .withColumn("__rn__", F.row_number().over(wp))
                .filter(F.col("__rn__") <= candidate_limit)
                .select(*gcols, col).distinct())
        sdf = sdf.join(F.broadcast(cand), on=[*gcols, col], how="left_semi")
    counts = (sdf.groupBy(*gcols, col)
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = (Window.partitionBy(*gcols) if gcols else Window.partitionBy()) \
        .orderBy(F.col("cnt").desc(), F.col(col).asc())
    out = (counts.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k))
    return SparkFrame(out)


# ---------------------------------------------------------------------------
# incremental sketch STATE tables (snapshot-backed aggregate state)
# ---------------------------------------------------------------------------

def sketch_state_update(spark, table_dir: str, batch, col: str,
                        group_cols: Sequence[str] = (),
                        lg_k: int = 12,
                        txn: tuple[str, int] | None = None) -> int:
    """Incrementally maintain a per-group distinct-count STATE table:
    merge the BATCH's HLL sketches into the snapshot-backed state and
    publish the merged state as a new version — one scan over the
    batch plus the k-sized state, NEVER a rescan of corpus history.
    The canonical 100 TB pattern for "distinct users/urls/docs per
    group, updated per ingest" — history stays in cold storage, the
    state table is #groups x sketch-bytes forever.

    The state schema is ``(*group_cols, estimate, sketch)``; the
    binary sketch column is the mergeable truth, ``estimate`` a
    convenience projection. A publish race (another ingest landed
    mid-update) is settled by re-reading the new state and retrying —
    sketch union is commutative/idempotent-free-ish ONLY across
    disjoint batches, so the loser must re-merge, not rebase.
    Returns the published version."""
    new = hll_sketch(batch, col, list(group_cols), lg_k=lg_k) \
        .spark_df.select(*group_cols, "sketch")
    from cl_data_frame_spark.sources.snapshots import (
        _retry_commit, snapshot_read, snapshot_write)

    def attempt():                     # racer landed: re-read, re-merge
        try:
            cur = snapshot_read(spark, table_dir).spark_df \
                .select(*group_cols, "sketch")
            both = cur.unionByName(new)
        except FileNotFoundError:
            both = new
        merged = (both.groupBy(*group_cols)
                  .agg(F.hll_union_agg("sketch").alias("sketch"))
                  if group_cols else
                  both.agg(F.hll_union_agg("sketch").alias("sketch")))
        state = merged.select(
            *group_cols,
            F.hll_sketch_estimate("sketch").alias("estimate"),
            "sketch")
        return snapshot_write(state, table_dir, mode="overwrite",
                              num_files=1, txn=txn)
    return _retry_commit(attempt, "sketch state update", table_dir)


def sketch_state_stream_sink(table_dir: str, col: str,
                             group_cols: Sequence[str] = (),
                             app_id: str = "sketch_state",
                             lg_k: int = 12):
    """foreachBatch callable maintaining the sketch state table from a
    STREAM with exactly-once semantics: every update stamps
    ``txn = (app_id, batch_id)``; a replayed micro-batch (Spark's
    at-least-once foreachBatch contract after a crash) sees the
    watermark and returns without merging. HLL union happens to be
    idempotent (register max), so the guard's value here is a clean
    one-commit-per-batch history — but it is the load-bearing
    correctness guard the moment the state carries any
    count-accumulating summary (KLL n, count-min), so the sink keeps
    the same protocol as ``snapshot_stream_sink``."""
    def _sink(batch_df, batch_id: int) -> None:
        from cl_data_frame_spark.sources.snapshots import (
            snapshot_txn_version)
        done = snapshot_txn_version(table_dir, app_id)
        if done is not None and int(batch_id) <= done:
            return
        sketch_state_update(batch_df.sparkSession, table_dir,
                            batch_df, col, group_cols, lg_k=lg_k,
                            txn=(app_id, int(batch_id)))
    return _sink


def kll_state_update(spark, table_dir: str, batch, col: str,
                     group_cols: Sequence[str] = (),
                     k: int = 200,
                     quantiles: Sequence[float] = (0.5, 0.9, 0.99),
                     txn: tuple[str, int] | None = None) -> int:
    """The QUANTILE twin of :func:`sketch_state_update`: maintain
    per-group KLL sketches in a snapshot-backed state table, merged
    per ingest batch — "p50/p90/p99 doc length per source, updated
    per batch" over a 100 TB history whose raw values are never
    rescanned. The state row is ``(*group_cols, n, q_50, ..., sketch)``;
    the binary sketch is the mergeable truth, the quantile columns a
    convenience projection. KLL's rank error (~1.65/sqrt(k) at
    k=200 ≈ 1.3%) applies to the ESTIMATES; the merge itself is the
    DataSketches-exact fold.

    Batch and state merge via a FULL OUTER join on the group key (new
    groups enter, absent groups persist), so one update is one scan of
    the batch plus the k-sized state. Publish races re-read and
    re-merge, mirroring the HLL updater."""
    from cl_data_frame_spark.sources.snapshots import (
        _retry_commit, snapshot_read, snapshot_write)
    gc = list(group_cols)
    sdf = _plain(batch)
    key = gc if gc else ["__all__"]
    prep = sdf if gc else sdf.withColumn("__all__", F.lit(1))
    new = prep.groupBy(*key).agg(
        F.kll_sketch_agg_double(F.col(col).cast("double"), k)
        .alias("__new__"))
    qcols = [F.kll_sketch_get_quantile_double(
        "sketch", F.lit(float(q))).alias(f"q_{int(q * 100)}")
        for q in quantiles]

    def attempt():
        try:
            cur = snapshot_read(spark, table_dir).spark_df
            if not gc:
                # the stored unkeyed state dropped the synthetic key
                cur = cur.withColumn("__all__", F.lit(1))
            cur = cur.select(*key, "sketch")
            both = cur.join(new, on=key, how="full")
            merged = both.select(
                *key,
                F.when(F.col("sketch").isNull(), F.col("__new__"))
                .when(F.col("__new__").isNull(), F.col("sketch"))
                .otherwise(F.kll_sketch_merge_double(
                    "sketch", "__new__")).alias("sketch"))
        except FileNotFoundError:
            merged = new.select(*key,
                                F.col("__new__").alias("sketch"))
        state = merged.select(
            *key, F.kll_sketch_get_n_double("sketch").alias("n"),
            *qcols, "sketch")
        if not gc:
            state = state.drop("__all__")
        return snapshot_write(state, table_dir, mode="overwrite",
                              num_files=1, txn=txn)
    return _retry_commit(attempt, "kll state update", table_dir)
