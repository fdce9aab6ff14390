"""Misra–Gries heavy hitters with an exact bounded-exchange verify stage.

The sketch tier (dq/sketch, dq/bloom) answers distinct-count/membership;
this module answers the other classic stream question — which tokens are
most frequent — without ever shuffling the token VOCABULARY. At 100 TB the
token vocabulary is ~10^9+ keys, so the naive ``groupBy(token).count()``
top-k pays a corpus-vocabulary-wide exchange. Misra–Gries (1982; merged
per Agarwal et al. 2012, "Mergeable summaries") keeps a bounded dict of
``capacity`` counters per task: any token with true count > n/(capacity+1)
is GUARANTEED present in the merged summary, and each kept counter
undercounts by at most n/(capacity+1).

Two-stage exact top-k built on that guarantee (the winnow/minhash
candidates→verify pattern):

1. candidates — one Arrow pass (mapInPandas) producing per-task MG
   summaries (≤ capacity rows each), merged by a hash-agg over ≤
   tasks×capacity rows. Nothing corpus-sized crosses an exchange.
2. verify — broadcast the candidate set back over the token stream
   (broadcast hash join, no shuffle of tokens), exact-count ONLY the
   candidates; the exchange carries at most tasks×capacity keys instead
   of the vocabulary. Deterministic top-k by (cnt DESC, token ASC) is a
   TakeOrderedAndProject.

Whenever every true top-k token's count exceeds n/(capacity+1) — i.e.
the capacity is sized to the head of the Zipf curve, not the vocabulary —
stage 2's result EQUALS the exact global top-k, which is what makes the
query DuckDB-oracle-able bit-for-bit (plain SQL top-k over all tokens).
pytest pins the guarantee on a planted large-vocab Zipf stream where the
cap actually trips (the gate corpus vocabulary is smaller than the
capacity, so the sketch is exact there by construction).

Tokenization matches the corpus-wide convention (dq/textstats: lower,
split on whitespace, drop empties). The Python splitter is pinned to the
Java/RE2 ``\\s`` ASCII class — Python's own ``\\s`` also matches unicode
spaces, which would make candidate tokens drift from the verify stage's
Spark-side split.
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---- shared constants (dq.oracles generates SQL from these) ----------------

MG_CAPACITY = 4096   # per-task counters; guarantee threshold = n/(cap+1)
HH_TOP_K = 20

# Java \s == RE2 \s == this ASCII class (Python's \s would add unicode).
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def count_tokens_batch(texts: pd.Series) -> Counter:
    """Exact token counts for one Arrow batch — the pytest twin of the
    Spark-side lower/split/filter tokenizer."""
    c: Counter = Counter()
    for t in texts:
        if t is None or (isinstance(t, float) and pd.isna(t)):
            continue
        c.update(w for w in _WS_RE.split(str(t).lower()) if w)
    return c


def mg_merge_into(state: dict[str, int], counts: Counter, capacity: int) -> None:
    """Merge exact batch counts into a Misra–Gries state in place.

    Mergeable-summaries reduction: add, then if more than ``capacity``
    counters survive, subtract the (capacity+1)-th largest value from all
    and drop the non-positive. Each reduction subtracts at most
    (weight seen so far)/(capacity+1) from any counter — the classic MG
    bound survives arbitrary merge trees (Agarwal et al. 2012 §3).
    """
    for tok, n in counts.items():
        state[tok] = state.get(tok, 0) + n
    if len(state) > capacity:
        vals = sorted(state.values(), reverse=True)
        m = vals[capacity]  # (capacity+1)-th largest
        for tok in list(state):
            nv = state[tok] - m
            if nv > 0:
                state[tok] = nv
            else:
                del state[tok]


def mg_summaries(
    df: DataFrame, text_col: str = "text", capacity: int = MG_CAPACITY
) -> DataFrame:
    """(token, cnt): one Misra–Gries summary per task, ≤ capacity rows
    each. cnt is a LOWER bound on the token's true count within the task
    (undercount ≤ task-tokens/(capacity+1)). Per-task content depends on
    batch order — only the guarantee is deterministic, which is why the
    gate never reads this frame directly (the verify stage re-counts
    exactly)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[str, int] = {}
        for pdf in batches:
            mg_merge_into(state, count_tokens_batch(pdf[text_col]), capacity)
        yield pd.DataFrame(
            {"token": list(state.keys()), "cnt": list(state.values())}
        ).astype({"cnt": "int64"})

    return df.select(text_col).mapInPandas(op, "token string, cnt bigint")


def heavy_hitter_candidates(
    df: DataFrame, text_col: str = "text", capacity: int = MG_CAPACITY
) -> DataFrame:
    """(token, mg_lb): merged summary — every token with true corpus count
    > n/(capacity+1) is present; mg_lb never overcounts. The hash-agg runs
    over ≤ tasks×capacity rows, never the vocabulary."""
    return (
        mg_summaries(df, text_col, capacity)
        .groupBy("token")
        .agg(F.sum("cnt").alias("mg_lb"))
    )


def tokens_col(text_col: str = "text"):
    """The corpus tokenizer (dq/textstats convention) as an array column."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    return F.filter(F.split(F.lower(text), r"\s+"), lambda w: w != F.lit(""))


def heavy_hitter_topk(
    df: DataFrame,
    text_col: str = "text",
    k: int = HH_TOP_K,
    capacity: int = MG_CAPACITY,
) -> DataFrame:
    """(token, cnt): exact top-k tokens, computed without a vocabulary-wide
    exchange — MG candidates broadcast back over the token stream, exact
    counts for candidates only, deterministic (cnt DESC, token ASC) pick."""
    cands = heavy_hitter_candidates(df, text_col, capacity).select("token")
    # explode_outer, not explode: InferFiltersFromGenerate would inline the
    # whole split tree into a size()>0 filter below a plain explode
    # (CLAUDE.md trap); the inner candidate join drops the NULL rows anyway.
    toks = df.select(F.explode_outer(tokens_col(text_col)).alias("token"))
    exact = (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return exact.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)
