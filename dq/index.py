"""Inverted-index construction: capped per-term posting lists.

Training-data-pipeline addition beyond the reference's table-level DQ scope
(reference: qualitativo/*.scala profiles scalar columns; it has no retrieval
tier). A dedup/decontamination/retrieval stack over a web corpus needs an
inverted index — term -> (document frequency, total term frequency, the
top-K postings by in-document frequency). This is the batch build of that
index with the posting list capped at ``POSTINGS_K`` and the vocabulary
restricted to terms seen in at least ``POSTINGS_MIN_DF`` documents (the
long-tail hapax vocabulary is noise for retrieval and dominates the output
row count otherwise).

Scale shape (100 TB notes): an inverted index inherently shuffles the
token->doc pairs — that exchange is the job. What must NOT happen is a hot
term ("the": ~every doc) serializing through one task: the per-term top-K
is the shared dq.skew.topk, ranked on the (term, doc_id, tf) frame BEFORE
any term-keyed join, so the term exchange sits between the map-side and
the final WindowGroupLimit — a hot term reaches its reducer as <= K rows
per input partition regardless of df (plan-pinned by the registry sweep).
The df/tf_total stats are a map-side-combinable hash-agg over the same
reduced frame.
Output rows are flattened (term, rank) postings, not arrays — the driver
gate's canonicalizer hashes scalars only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dq.dedup import tokens_col
from dq.skew import topk

# ---- shared constants (dq.oracles generates SQL from these) ----------------

POSTINGS_K = 3             # postings kept per term
POSTINGS_MIN_DF = 4        # vocabulary floor: term must appear in >= df docs

# BM25 retrieval (bm25_topk); k1 = 6/5, b = 3/4 are baked into the integer
# tf-normalization below — change them there, not here
BM25_K = 10                                          # result-list depth
BM25_SCALE = 1_000_000                               # scores in micro-units
BM25_QUERY_TERMS = ("dup", "query", "vector", "batch")  # df spread: rare->hot


def term_doc_tf(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, tf) reduced frame — the index's one big exchange.

    explode_outer + isNotNull on the OUTPUT column (the
    InferFiltersFromGenerate guard, CLAUDE.md); tokens from the shared
    lowercased-whitespace tokenizer so the DuckDB twin reuses
    _WORDS_LOWER_NS verbatim.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(
            tokens_col(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("term"),
    ).where(F.col("term").isNotNull())
    return toks.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )


def term_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = POSTINGS_K,
    min_df: int = POSTINGS_MIN_DF,
) -> DataFrame:
    """(term, df_docs, tf_total, post_rank, doc_id, tf) capped postings.

    Ranking order is total: (tf DESC, doc_id ASC) — ties impossible, so the
    result is exactly ``row_number() OVER (PARTITION BY term ORDER BY tf
    DESC, doc_id) <= k`` (the DuckDB twin). The rank runs on the narrow tf
    frame before the stats join: ranking after a term-keyed join would
    reuse that join's term partitioning, leaving no exchange for the
    map-side cap to sit below. The df floor drops whole terms, so capping
    first changes no row; df/tf_total attach to <= k rows per term.
    """
    tf = term_doc_tf(docs, id_col, text_col)
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_docs"),
        F.sum("tf").cast("bigint").alias("tf_total"),
    ).where(F.col("df_docs") >= min_df)
    ranked = topk(tf, ["term"], [F.col("tf").desc(), F.col("doc_id")], k, "post_rank")
    return ranked.join(stats, "term").select(
        "term", "df_docs", "tf_total", "post_rank", "doc_id", "tf"
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = BM25_K,
    scale: int = BM25_SCALE,
) -> DataFrame:
    """Integer-exact BM25 top-k retrieval (Robertson & Zaragoza 2009) for a
    fixed query-term set — the retrieval consumer of the inverted-index
    tier, e.g. decontamination lookups or targeted corpus audits.

    Exact rational arithmetic so the DuckDB twin is bit-identical:

    - tf normalization with k1 = 6/5, b = 3/4 cleared of fractions by
      multiplying through by ``10 * total_len`` (avgdl = total_len/n_docs
      never materializes as a double)::

          tf_norm_micro = 22*tf*L * scale DIV (10*tf*L + 3*L + 9*dl*N)

      which equals ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` floored
      to micro-units (= scale at tf=1, dl=avgdl).
    - rational idf ``(N + 1) * 1000 DIV (df + 1)`` — the log-free variant
      keeps int64 exactness; production BM25 takes ``ln`` of the same
      ratio, a per-term monotone transform (documented deviation, the
      dq/dsir.py pattern). int64 envelope: 22*tf*L*scale needs
      tf*L < 4e11, i.e. fine to ~millions of docs per run shard; past
      that, production scores in doubles after this integer twin pins the
      semantics.

    Scale shape (100 TB notes): the query-term filter lands BEFORE every
    join, so only matching postings (|q| terms * df docs) ever shuffle —
    the corpus-sized frames reduce to (term,doc,tf) and (doc,dl) hash-aggs
    first. The global top-k is the keyless dq.skew.topk, which plans as
    TakeOrderedAndProject: each partition keeps its k best before the
    single-partition merge. Ties impossible: order is (score DESC, doc_id).
    """
    tf = term_doc_tf(docs, id_col, text_col)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    n_frame = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    len_frame = tf.agg(F.sum("tf").cast("bigint").alias("total_len"))
    matched = tf.where(F.col("term").isin(list(query_terms)))
    dfreq = matched.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    m = (
        matched.join(F.broadcast(dfreq), "term")
        .join(dl.hint("shuffle_hash"), "doc_id")
        .crossJoin(F.broadcast(n_frame))
        .crossJoin(F.broadcast(len_frame))
    )
    contrib = F.expr(
        f"((n_docs + 1) * 1000 DIV (df + 1)) * "
        f"(22 * tf * total_len * {scale} "
        f"DIV (10 * tf * total_len + 3 * total_len + 9 * dl * n_docs)) "
        f"DIV 1000"
    )
    s = m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
        F.sum(contrib).cast("bigint").alias("score_micro"),
    )
    ranked = topk(s, [], [F.col("score_micro").desc(), F.col("doc_id")], k, "bm_rank")
    return ranked.select("bm_rank", "doc_id", "n_terms_matched", "score_micro")
