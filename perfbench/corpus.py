"""Seeded transcript corpus for the benchmark.

The package's generator (``sources.transcripts``) hashes a fixed seed into
every row, so two corpora differ only by which conversation ids they hold.
A benchmark seed therefore selects a disjoint conversation-id range and
takes consecutive conversations from it until a turn budget is met; the
rows themselves come from the public ``conv_length`` / ``turn_row``. The
generator's skew is kept: Zipf-weighted entity aliases and every 40th
conversation 50x long.

Sizing by turns instead of conversations keeps the amount of work nearly
equal across seeds (one long conversation is worth ~40 short ones).
"""

from __future__ import annotations

import random
from typing import Iterator, List, Tuple

import pandas as pd

from context_aware_rag_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    conv_length,
    turn_row,
)

# conversation ids per seed: seeds never share a conversation
SEED_STRIDE = 1_000_000
LONG_EVERY = 40  # conv_length makes conv_i % 40 == 7 ~50x long


def plan(seed: int, target_turns: int) -> List[Tuple[int, int]]:
    """(conversation id, turns taken) pairs of the seed's corpus: consecutive
    conversations from ``seed * SEED_STRIDE`` until exactly ``target_turns``
    turns are held. Only the last conversation may be cut short (to a
    prefix of its turns), so every seed gets the same turn count."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    if not 0 < target_turns < SEED_STRIDE:
        raise ValueError(f"target_turns must be in (0, {SEED_STRIDE}), got {target_turns}")
    out, conv, left = [], seed * SEED_STRIDE, target_turns
    while left > 0:
        n = min(conv_length(conv), left)
        out.append((conv, n))
        left -= n
        conv += 1
    return out


def balanced_slices(convs: List[Tuple[int, int]], n_slices: int) -> List[List[Tuple[int, int, int]]]:
    """Split the plan into ``n_slices`` runs of equal turn counts, as
    (conversation id, first turn, end turn) ranges. A long conversation
    may span slices, as it spans the splits of a table read by size."""
    total = sum(n for _, n in convs)
    bounds = [total * (i + 1) // n_slices for i in range(n_slices)]
    slices: List[List[Tuple[int, int, int]]] = [[] for _ in range(n_slices)]
    pos, k = 0, 0
    for conv, n in convs:
        lo = 0
        while lo < n:
            while pos >= bounds[k]:
                k += 1
            hi = min(n, lo + bounds[k] - pos)
            slices[k].append((conv, lo, hi))
            pos += hi - lo
            lo = hi
    return slices


def conversation_rows(conv_i: int, n_turns: int) -> List[Tuple]:
    return [turn_row(conv_i, t) for t in range(n_turns)]


def generate(spark, seed: int, target_turns: int, partitions: int):
    """The seed's corpus as a DataFrame of ``partitions`` equal slices,
    rows expanded on the executors (not checkpointed)."""
    slices = balanced_slices(plan(seed, target_turns), partitions)
    cols = [f.name for f in TRANSCRIPT_SCHEMA.fields]

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for slice_i in pdf["id"]:
                rows = [turn_row(c, t) for c, lo, hi in slices[int(slice_i)]
                        for t in range(lo, hi)]
                out = pd.DataFrame(rows, columns=cols)
                yield out.assign(ts=out["ts"].astype("datetime64[us, UTC]"))

    return spark.range(0, len(slices), 1, len(slices)).mapInPandas(
        expand, schema=TRANSCRIPT_SCHEMA
    )


def oracle_sample(seed: int, target_turns: int, n_short: int = 6) -> List[Tuple[int, int]]:
    """Plan entries checked against the reference oracle: ``n_short``
    seeded picks among the ordinary conversations plus the first long
    one."""
    convs = plan(seed, target_turns)
    rng = random.Random(seed)
    short = [c for c in convs if c[0] % LONG_EVERY != 7]
    long_ = [c for c in convs if c[0] % LONG_EVERY == 7][:1]
    return sorted(rng.sample(short, min(n_short, len(short))) + long_)
