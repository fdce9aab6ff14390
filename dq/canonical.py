"""Canonical-URL chain resolution by pointer doubling.

Training-data-pipeline addition beyond the reference's table-level DQ scope.
Web pages declare ``rel=canonical`` targets that themselves declare further
canonicals (mirror -> syndication -> origin); a crawl-consolidation pass must
resolve every page to its terminal canonical BEFORE url-keyed dedup, or the
chain's interior pages dedup against the wrong key. Chains can be long, so
the sequential walk is replaced by pointer doubling (pointer jumping):

    p'(i) = p(p(i))        d'(i) = d(i) + d(p(i))

which converges in O(log max-chain-depth) rounds — the classic parallel
list-ranking recipe (same family as the large-star/small-star components in
dq/dedup.py). A pointer whose target is missing from the corpus is treated
as terminal (the target wasn't crawled — it still becomes the dedup key).

Scale shape (100 TB notes): each round is ONE self equi-join of the narrow
(doc_id, ptr, depth) frame — 24 B/row — followed by localCheckpoint (the
iterative-loop lineage lesson, CLAUDE.md: persist alone doubles the logical
plan per round and analysis goes exponential). The round's moved-pointer
count is an ``Observation`` on that checkpoint, not a separate count job.
Round count is logarithmic in the deepest chain; non-convergence past
``max_iter`` raises loudly instead of returning partial roots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# ---- shared constants (dq.oracles generates SQL from these) ----------------

CANON_CHAIN_MOD = 8   # doc_id % MOD == 0 is a chain root; others point to id-1


def planted_canonical_edges(
    docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, ptr) planted canonical graph: chains of depth up to
    CANON_CHAIN_MOD - 1 (doc i points to i - 1 unless i is a root)."""
    did = F.col(id_col)
    return docs.select(
        did.alias("doc_id"),
        F.when(did % CANON_CHAIN_MOD == 0, did).otherwise(did - 1).alias("ptr"),
    )


def resolve_canonical(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(doc_id, root_id, depth): terminal canonical + hop count per doc.

    Pointer doubling with missing-target-as-terminal semantics: the round's
    left join substitutes (ptr, 0) when ptr has no outgoing row, so a
    dangling canonical settles as its own root.
    """
    cur = edges.select(
        "doc_id",
        F.col("ptr").cast("bigint").alias("ptr"),
        (F.col("ptr") != F.col("doc_id")).cast("bigint").alias("depth"),
    ).localCheckpoint()
    for _ in range(max_iter):
        hop = cur.select(
            F.col("doc_id").alias("ptr"),
            F.col("ptr").alias("_ptr2"),
            F.col("depth").alias("_d2"),
        )
        moved = Observation()
        nxt = (
            cur.join(hop, "ptr", "left")
            .select(
                "doc_id",
                F.coalesce("_ptr2", F.col("ptr")).alias("ptr"),
                (F.col("depth") + F.coalesce("_d2", F.lit(0))).alias("depth"),
                (F.coalesce("_ptr2", F.col("ptr")) != F.col("ptr")).alias(
                    "_moved"
                ),
            )
            .observe(moved, F.count_if("_moved").alias("n"))
            .localCheckpoint()
        )
        cur = nxt.drop("_moved")
        # only zero/non-zero is read: a retried task counted twice cannot
        # change the decision
        if moved.get["n"] == 0:
            return cur.select(
                "doc_id", F.col("ptr").alias("root_id"), "depth"
            )
    raise RuntimeError(
        f"canonical resolution did not converge in {max_iter} doubling rounds"
    )
