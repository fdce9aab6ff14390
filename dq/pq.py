"""Product quantization (PQ) for the embedding tier.

Jégou, Douze & Schmid 2011 ("Product quantization for nearest neighbor
search"): split each D-dim vector into M subvectors, k-means each subspace
independently, store a vector as its M nearest-centroid ids. At 100 TB the
raw float32 embedding column IS the storage problem (64 dims × 4 B ≈ 256 B
/doc → tens of TB); PQ codes are M small ints (~M bytes), a ~30× shrink,
and asymmetric-distance (ADC) search scans codes + a per-query lookup
table instead of raw vectors.

Engine-portable exact formulation (the DuckDB twin reproduces every code
bit-for-bit), reusing dq.clustering's integer Lloyd recipe:

- vectors quantized to int64 (floor(x*1000), dq.similarity.quantized_vec);
- ALL M subspaces train in ONE DataFrame program — the subspace id is a
  grouping key, not a Python loop: explode to (vec, sub, subvector), seed
  per-subspace centroids from ``vec_id % PQ_CENT_MOD == 0``, and each
  Lloyd round is a single broadcast-join + argmin + floor-mean update
  keyed by (sub, cid). M never multiplies the plan depth;
- assignment = exact integer squared-L2 argmin, ties -> lowest cid;
  update = element-wise floor(sum/count) (exactness argument:
  dq/clustering.py module docstring);
- ADC: per query, the (sub, cid) -> d2 table is Q×M×K rows, folded into a
  composite-key map and BROADCAST; the code scan computes each (query,
  vector) distance as one array fold over the M codes — the corpus never
  shuffles, exactly the brute_force_topk contract with codes in place of
  vectors.

Scale shapes (100 TB notes):
- training touches (N×M) subvector rows but every exchange is narrow:
  argmin exchanges one row per (vec, sub); the update agg is keyed by
  (sub, cid, pos) ≤ M×K×D/M rows. Centroids stay a M×K-row broadcast.
- In production PQ codebooks are trained on a SAMPLE (the paper uses
  ~100k vectors) and applied corpus-wide; ``pq_train`` takes any frame,
  so pass ``emb.sample(...)`` — encoding is a single broadcast-join pass.
- the ADC candidate frame is Q×N rows like the oracled brute-force scan;
  the GEMM-style mapInPandas variant (dq.similarity
  brute_force_topk_vectorized) is the drop-in shape once Q×N stops
  fitting a window — codes being M small ints is what makes that scan
  cache-resident.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dq.similarity import quantized_vec, sq_l2_unrolled
from dq.skew import topk

# ---- shared constants (dq.oracles generates SQL from these) ----------------

PQ_M = 8          # subspaces
PQ_SUB = 8        # dims per subspace (EMB_DIM / PQ_M)
PQ_CENT_MOD = 50  # per-subspace seeds: vec_id % 50 == 0 (10 cells at gate)
PQ_ITERS = 2      # Lloyd rounds per subspace (same budget as dq.clustering)
PQ_KEY_BASE = 1 << 20  # composite (sub, cid) map key = sub * BASE + cid


def _subvectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(_id, _sub, _sv): one row per (vector, subspace).

    Two-select staging: _q materializes BEFORE the slice array so the
    posexplode's generator sees a real column, not M copies of the
    quantize tree (CLAUDE.md HOF-capture trap)."""
    staged = emb.select(
        F.col(id_col).alias("_id"), quantized_vec(F.col(vec_col)).alias("_q")
    )
    slices = F.array(
        *[F.slice("_q", s * PQ_SUB + 1, PQ_SUB) for s in range(PQ_M)]
    )
    return staged.select("_id", F.posexplode(slices).alias("_sub", "_sv"))


def _assign(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """(_id, _sub, _sv, _cid, _d2): nearest centroid within each subspace,
    ties -> lowest cid. Broadcast centroids, map-side-combinable
    min(struct) — one narrow exchange row per (vec, sub)."""
    d2 = sq_l2_unrolled("_sv", "_cq", PQ_SUB)
    scored = subs.join(F.broadcast(cents), "_sub").select(
        "_id", "_sub", "_sv", "_cid", d2.alias("_d2")
    )
    return (
        scored.groupBy("_id", "_sub")
        .agg(F.min(F.struct("_d2", "_cid")).alias("_best"), F.first("_sv").alias("_sv"))
        .select(
            "_id", "_sub", "_sv",
            F.col("_best._cid").alias("_cid"), F.col("_best._d2").alias("_d2"),
        )
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New per-subspace centroids: element-wise floor-mean."""
    comp = assigned.select("_sub", "_cid", F.posexplode("_sv").alias("_pos", "_v"))
    sums = comp.groupBy("_sub", "_cid", "_pos").agg(
        F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    return (
        sums.withColumn("_m", F.floor(F.col("_s") / F.col("_n")).cast("bigint"))
        .groupBy("_sub", "_cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                lambda s: s["_m"],
            ).alias("_cq")
        )
    )


def pq_train(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_mod: int = PQ_CENT_MOD,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """(_sub, _cid, _cq): the M per-subspace codebooks after ``iters``
    exact Lloyd rounds — a M×K-row frame, broadcastable everywhere."""
    subs = _subvectors(emb, id_col, vec_col)
    cents = subs.where(F.col("_id") % cent_mod == 0).select(
        "_sub", F.col("_id").alias("_cid"), F.col("_sv").alias("_cq")
    )
    if not cents.head(1):
        raise ValueError(
            f"no seed vectors: no {id_col} is a multiple of cent_mod="
            f"{cent_mod} — empty codebooks would encode nothing"
        )
    for _ in range(iters):
        # localCheckpoint per round — same lineage-doubling lesson as
        # dq.clustering.kmeans_assign / dedup.connected_components_star.
        cents = _update(_assign(subs, cents)).localCheckpoint()
    return cents


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, sub_id, code, sq_dist): each vector's nearest-centroid id
    per subspace plus the exact integer quantization error — the long-form
    PQ code table (M rows per vector, each a handful of ints)."""
    assigned = _assign(_subvectors(emb, id_col, vec_col), codebooks)
    return assigned.select(
        F.col("_id").alias("vec_id"),
        F.col("_sub").cast("bigint").alias("sub_id"),
        F.col("_cid").cast("bigint").alias("code"),
        F.col("_d2").cast("bigint").alias("sq_dist"),
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_mod: int = PQ_CENT_MOD,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """(query_id, neighbor_id, rank, adc_d2): asymmetric-distance top-k.

    The per-query (sub, cid) -> d2 lookup table (Q×M×K rows) folds into a
    composite-key map and broadcasts; each corpus code row costs one
    M-element fold. Self-matches excluded; ties -> lowest neighbor_id
    (the brute_force_topk contract). element_at (not try_element_at) on
    purpose: a missing key means the codes and table came from different
    codebooks, which must fail loudly, not sum to NULL."""
    codebooks = pq_train(emb, id_col, vec_col, cent_mod, iters).localCheckpoint()
    codes = pq_encode(emb, codebooks, id_col, vec_col)
    karr = codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub_id", "code"))),
            lambda s: s["sub_id"] * PQ_KEY_BASE + s["code"],
        ).alias("_karr")
    )

    qsubs = _subvectors(queries, id_col, vec_col)
    d2 = sq_l2_unrolled("_sv", "_cq", PQ_SUB)
    dtab = (
        qsubs.join(F.broadcast(codebooks), "_sub")
        .select(
            F.col("_id").alias("query_id"),
            (F.col("_sub") * PQ_KEY_BASE + F.col("_cid")).alias("_key"),
            d2.alias("_d2"),
        )
        .groupBy("query_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("_key", "_d2"))).alias("_dmap"))
    )

    adc = F.aggregate(
        F.col("_karr"),
        F.lit(0).cast("bigint"),
        lambda acc, kk: acc + F.element_at(F.col("_dmap"), kk),
    )
    scored = (
        karr.crossJoin(F.broadcast(dtab))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc_d2"))
    )
    ranked = topk(scored, ["query_id"], [F.col("adc_d2").asc(), F.col("neighbor_id")], k, "rank")
    return ranked.select("query_id", "neighbor_id", "rank", "adc_d2")
