"""Skew handling: two-phase global ordering primitives.

- :func:`global_index` — global row_number without the single-task sort
  (W4 scale path);
- :func:`link_chunks_salted` — salted two-phase chunk linking for
  pathological conversations.

``link_chunks`` (linking.py) uses one window per conv — correct, O(1)
state per row, but a 20M-chunk conversation is ONE task. This module is
the explicit salted-repartition alternative the engine uses when
conversations are pathological (north-rule requirement): split each
conversation into fixed turn-range blocks (the salt), compute local
window results per (conv, block) — a bounded partition — then combine
with per-block aggregates (counts, length sums, boundary chunk ids),
which is a tiny per-conv window over #blocks rows, broadcast back.

position   = local_row_number + prefix_count(previous blocks)
offset     = local_prefix_len + prefix_len(previous blocks)
prev_chunk = local lag, except block-first rows take the previous
             block's last chunk_id

Result is row-identical to the single-window version (tested), with the
heavy shuffle keyed by (conv_id, block) — parallelism = total_chunks /
block_size regardless of conversation length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .linking import CHUNK_ORDER


def coalesce_for_agg(df: DataFrame, merge_factor: int = 8) -> DataFrame:
    """Bounded coalesce in front of a bounded-key aggregation.

    When a scan feeds a groupBy whose key space is SMALL (hash-trick
    buckets, HLL registers, CMS cells), partial aggregation over many
    small input partitions emits near-distinct keys per task — no
    combining happens before the exchange (guide §2.2/§2.3). Merging
    input partitions makes the map-side combine effective: measured
    1.9 s -> 0.6 s for the HLL/CMS builds and 1.1 s -> 0.4 s for the
    DSIR bucket totals on the bench's 256-partition inputs.

    Scale honesty: a bare coalesce(cores) would merge a 100 TB scan
    into core-count giant tasks. This merges AT MOST ``merge_factor``
    input partitions per task (task size grows <= 8x the split size)
    and never below the default parallelism — on the bench inputs
    (256 partitions, 32 cores) that is exactly coalesce(32); on a
    large cluster scan it stays split-sized within a small factor.
    """
    n_parts = df.rdd.getNumPartitions()
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    target = max(parallelism, -(-n_parts // merge_factor))  # ceil div
    if n_parts > target:
        return df.coalesce(target)
    return df


def spread_for_cpu(
    df: DataFrame, key_col: str, merge_factor: int = 8
) -> DataFrame:
    """Partition layout for CPU-bound per-row work (shingling, hashing,
    fingerprint UDFs): guarantee at least core-count parallelism
    WITHOUT paying a full exchange when the input is already spread.

    The dedup family used an unconditional ``repartition(parallelism,
    id)`` here — correct for the motivating case (a text corpus
    arriving in a few fat partitions), but on an input that already
    has >= parallelism partitions the hash exchange is pure overhead
    (measured: the repartition of the bench's 256-partition 50k-doc
    corpus cost ~3 s of the ~4 s shingle stage; the per-row work after
    it is identical under any row placement). So: too few partitions
    -> hash repartition (splits fat inputs, the old behavior);
    enough partitions -> the bounded :func:`coalesce_for_agg` merge
    (no shuffle, never below core count, task growth <= merge_factor).

    Only safe for partition-independent downstream computation — all
    callers here are per-row transforms feeding exact aggregations.

    Known trade-off: an input with enough partitions but skewed row
    counts (say 256 partitions with most rows in one) keeps its skew —
    the coalesce merges partitions, it does not move rows — so one fat
    task can straggle the CPU-bound stage, where the old unconditional
    repartition rebalanced it. Repartition such an input first.
    """
    n_parts = df.rdd.getNumPartitions()
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if n_parts < parallelism:
        return df.repartition(parallelism, key_col)
    return coalesce_for_agg(df, merge_factor=merge_factor)


def global_index(
    df: DataFrame,
    order_cols: list,
    index_col: str = "doc_index",
    partitions: int | None = None,
) -> DataFrame:
    """W4 scale path — global ``row_number() OVER (ORDER BY ...)`` without
    the single-task global sort.

    ``Window.orderBy`` with no partition key funnels the whole input
    through ONE task (Spark plans an Exchange SinglePartition); correct,
    but a straggler at 100x data. Two-phase equivalent:

    1. ``repartitionByRange`` on the order key + ``sortWithinPartitions``
       — the only shuffle, fully parallel; range partition i precedes
       range partition j for i < j, so the global order is (pid,
       local_rank);
    2. ``monotonically_increasing_id`` encodes exactly (pid << 33) +
       local_rank, giving the within-partition rank with NO second
       shuffle and no Python;
    3. per-partition counts (a tiny ≤ #partitions-row aggregate) are
       collected and turned into prefix offsets, joined back broadcast
       (provably bounded by the partition count);
    4. index = offset[pid] + local_rank + 1.

    The ``localCheckpoint`` pins the (sampled, hence nondeterministic)
    range boundaries so the counts job and the final job see identical
    partitions. ``order_cols`` must be a total order for the output to
    be deterministic (same contract as the window version).
    """
    out, _total = global_rank(df, order_cols, rank_col=index_col,
                              partitions=partitions)
    return out


def global_rank(
    df: DataFrame,
    order_cols: list,
    rank_col: str = "_grank",
    partitions: int | None = None,
) -> "tuple[DataFrame, int]":
    """Two-phase global 1-based rank (the :func:`global_index` engine),
    returning ``(df + rank_col, total_row_count)``. The total falls out
    of the per-partition counts collect for free, so callers that need
    both (equi-depth binning computes ntile bins from rank and N) pay
    zero extra jobs. See :func:`global_index` for the plan shape — one
    range shuffle, no ``Exchange SinglePartition``."""
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(p, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    counts = (
        ranged.groupBy(F.shiftrightunsigned("_mid", 33).alias("_pid"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], acc))
        acc += r["_n"]
    # explicit schema: empty input must not hit schema inference
    off_df = spark.createDataFrame(offsets, "_pid long, _offset long")
    out = (
        ranged.withColumn("_pid", F.shiftrightunsigned("_mid", 33))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(
            rank_col,
            (
                F.col("_offset")
                + F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
                + 1
            ).cast("long"),
        )
        .drop("_mid", "_pid", "_offset")
    )
    return out, acc


def link_chunks_salted(chunks: DataFrame, block_turns: int = 8192) -> DataFrame:
    """Salted equivalent of linking.link_chunks (same output columns)."""
    salted = chunks.withColumn(
        "_blk", (F.col("turn_idx") / block_turns).cast("long")
    )
    wl = Window.partitionBy("conv_id", "_blk").orderBy(*CHUNK_ORDER)
    local = (
        salted.withColumn("_lpos", F.row_number().over(wl))
        .withColumn(
            "_loff",
            F.coalesce(
                F.sum("length").over(wl.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn("_lprev", F.lag("chunk_id").over(wl))
    )

    # per-block aggregates: tiny (one row per (conv, block))
    blocks = local.groupBy("conv_id", "_blk").agg(
        F.count(F.lit(1)).alias("_bn"),
        F.sum("length").alias("_blen"),
        F.max_by("chunk_id", F.struct(*CHUNK_ORDER)).alias("_blast"),
    )
    wb = Window.partitionBy("conv_id").orderBy("_blk")
    block_prefix = blocks.select(
        "conv_id",
        "_blk",
        F.coalesce(
            F.sum("_bn").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("_pcount"),
        F.coalesce(
            F.sum("_blen").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("_plen"),
        F.lag("_blast").over(wb).alias("_prev_last"),
    )

    # no broadcast hint: block_prefix has >= one row per conversation, so
    # at corpus scale it must stay a shuffle join (AQE broadcasts it when
    # runtime stats say it is actually small)
    joined = local.join(block_prefix, ["conv_id", "_blk"])
    return (
        joined.withColumn("position", (F.col("_lpos") + F.col("_pcount")).cast("int"))
        .withColumn("content_offset", (F.col("_loff") + F.col("_plen")).cast("long"))
        .withColumn(
            "prev_chunk_id", F.coalesce(F.col("_lprev"), F.col("_prev_last"))
        )
        .withColumn("is_first", F.col("position") == 1)
        .drop("_blk", "_lpos", "_loff", "_lprev", "_pcount", "_plen", "_prev_last")
    )


def key_skew_report(
    df: DataFrame, key_cols: "list[str]", top_k: int = 20
) -> DataFrame:
    """Hot-key diagnostics: the top_k heaviest key groups with their
    share of the table — (rank, <key_cols...>, cnt, frac_ppm,
    cum_frac_ppm).

    This is the measurement that DECIDES the skew strategy before a
    big join/agg ships: keys above ~1/parallelism of the table need
    salting (link_chunks_salted) or AQE skew-join, the rest can shuffle
    normally. Fractions are integer PARTS-PER-MILLION (floor division)
    so the report is bit-stable across engines and partitionings.

    Shape: one map-side-combined groupBy over the key (the same
    shuffle the operator being diagnosed would pay, which is the
    honest cost of measuring it) and a top_k that plans as
    TakeOrdered; the cumulative column is a window over top_k rows
    only. The total is a 1-row broadcast.
    """
    if top_k < 1:
        raise ValueError(f"need top_k >= 1, got {top_k}")
    if not key_cols:
        raise ValueError("need at least one key column")
    clash = {"cnt", "total", "rank", "frac_ppm", "cum_frac_ppm"}.intersection(
        key_cols
    )
    if clash:
        # the same fail-fast convention as sampling's generated-column
        # guards: an ambiguous 'cnt'/'total' binding would otherwise
        # surface as an opaque analysis error (or a wrong silent bind)
        raise ValueError(
            f"key column(s) {sorted(clash)} collide with generated columns"
        )
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    top = (
        counts.orderBy(F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols])
        .limit(int(top_k))
        .crossJoin(F.broadcast(total))
    )
    w = Window.orderBy(F.col("cnt").desc(), *[F.col(c).asc() for c in key_cols])
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        *key_cols,
        F.col("cnt").cast("long").alias("cnt"),
        F.expr("(cnt * 1000000) div total").cast("long").alias("frac_ppm"),
        F.expr(
            "(sum(cnt) OVER (ORDER BY cnt DESC, "
            + ", ".join(f"{c} ASC" for c in key_cols)
            + " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000)"
            " div total"
        )
        .cast("long")
        .alias("cum_frac_ppm"),
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    hot_keys: "list",
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with STATIC salting of the listed hot keys — the skew
    fix for when runtime splitting can't help: AQE's skew-join only
    fires on sort-merge joins and is defeated by bucketed/pre-shuffled
    inputs or by a build side that replicates a single hot hash
    partition. Supply ``hot_keys`` from :func:`key_skew_report`.

    Mechanics: hot LEFT rows get a deterministic salt in [0, n_salt)
    (xxhash64 of the whole row — any distribution works for
    correctness, this one is reproducible); hot RIGHT rows are
    replicated once per salt; the hot branch joins on (key, salt) so
    the hottest key fans across n_salt reducers instead of one; cold
    rows take the plain join. Row-identical to the unsalted join
    (tested), supports inner and left joins.

    Side discipline: put the SKEWED many-rows-per-key side on the
    LEFT (it gets spread by the salt) and the few-rows-per-key side
    on the RIGHT (it pays the n_salt replication). Reversed, each hot
    (key, salt) reducer still receives every hot right row — 8x the
    shuffle volume and zero skew relief.

    100 TB shape: replication cost = |hot right rows| * n_salt —
    bounded because hot_keys are FEW by construction (they came from a
    top-k report); everything else is the join you already paid for.
    """
    if n_salt < 2:
        raise ValueError(f"need n_salt >= 2, got {n_salt}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    if not hot_keys:
        raise ValueError("hot_keys must be non-empty (use a plain join)")
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(f"column collision: {sorted(overlap)}")

    # coalesce: isin(NULL) is NULL, which would drop NULL-keyed rows
    # from BOTH branches (a left join must keep them — in cold, where
    # the equi-join treats them as unmatched anyway)
    is_hot_l = F.coalesce(F.col(left_key).isin(hot_keys), F.lit(False))
    is_hot_r = F.coalesce(F.col(right_key).isin(hot_keys), F.lit(False))

    left_hot = left.filter(is_hot_l).withColumn(
        "_salt", F.pmod(F.xxhash64(*left.columns), F.lit(n_salt))
    )
    right_hot = right.filter(is_hot_r).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    hot = left_hot.join(
        right_hot,
        (left_hot[left_key] == right_hot[right_key])
        & (left_hot["_salt"] == right_hot["_salt"].cast("long")),
        how,
    ).select(*[left_hot[c] for c in left.columns],
             *[right_hot[c] for c in right.columns])
    cold = left.filter(~is_hot_l).join(
        right.filter(~is_hot_r),
        F.col(left_key) == F.col(right_key),
        how,
    ).select(*left.columns, *right.columns)
    return hot.unionByName(cold)
