"""Embedding clustering + semantic dedup (k-means / SemDeDup tier).

Training-data-pipeline addition beyond the reference's table-level DQ scope
(reference computes row/dup metrics only; no vector operators). Published
semantics followed: SemDeDup (Abbas et al. 2023) k-means-clusters the
embedding space so near-duplicate search is pairwise *within a cluster*
instead of O(n^2) over the corpus, then drops all but one of each
high-cosine group.

Engine-portable exact formulation (the DuckDB twin reproduces every
assignment bit-for-bit):

- vectors quantized to int64 (floor(x*1000), dq.similarity.quantized_vec);
- init centroids = vectors with ``vec_id % KM_CENT_MOD == 0`` (deterministic
  seeding — k-means++ is rand()-driven and engine-local);
- KM_ITERS Lloyd rounds: assignment = exact integer squared-L2 argmin
  (ties -> lowest centroid id); update = element-wise floor(sum/count).
  The division is int/int in IEEE doubles: components are bounded by
  ~2e3*corpus, far inside 2^53, and a rational with denominator <= count
  can't sit within one double ULP below an integer, so floor() is exact in
  both engines;
- SemDeDup drop rule: within a cluster, a vector is dropped when some
  LOWER-id member has quantized cosine >= SEMDEDUP_TAU with it (the
  "keep one per near-dup group" greedy from the paper, made deterministic;
  the cosine test is the sqrt-free integer cross-multiplication from
  dq.similarity.quantized_cosine_pairs).

Scale shapes (100 TB notes):
- Centroids stay a k-row frame and are BROADCAST into every assignment —
  the corpus side never shuffles its vectors for scoring; the argmin is a
  ``groupBy(_id).agg(min(struct(d2, cid)))`` with map-side partial
  reduction, so each assignment exchange carries ONE narrow row per vector
  (id, best, vec) rather than k candidate rows.
- The update step posexplodes to (cid, pos, component) — k*dim-keyed
  uniform agg with map-side partials; its exchange is tiny.
- KM_ITERS is a small constant (2): the lineage stays shallow, no
  checkpoint needed (contrast dq/dedup.connected_components_star, which
  must localCheckpoint its unbounded loop).
- SemDeDup's intra-cluster pairwise join is equi on (cluster id, sub-split);
  cost is sum(c_i^2) with every c_i <= SEMDEDUP_MAX_CLUSTER — at LAION
  scale the paper runs 50k clusters so per-cluster work stays fixed, and
  when k-means still yields a mega-cluster (routine on web embeddings) the
  vec_id sub-split enforces the bound instead of trusting it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dq.similarity import quantized_vec, sq_l2_col, sq_l2_unrolled

# ---- shared constants (dq.oracles generates SQL from these) ----------------

KM_CENT_MOD = 50      # init centroids: vec_id % 50 == 0  (10 cells at gate)
KM_ITERS = 2          # Lloyd rounds before the final assignment
SEMDEDUP_TAU = 0.3    # intra-cluster near-dup cosine (matches the pair-
                      # mining tier's EMB_PAIR_MIN_COSINE; the gate corpus
                      # has no >=0.8 pairs, so the paper's 0.9x thresholds
                      # would be vacuous here)
# Pairwise-join cluster-size bound: k-means on web embeddings routinely
# yields one mega-cluster, and the intra-cluster equi-join is O(c^2) per
# cluster — at 1e9 docs in one cell that is effectively a cartesian.
# Clusters above this size are sub-split by vec_id % ceil(size/cap) BEFORE
# the pairwise join, so per-join-key fan-out stays ~cap^2. Documented
# recall trade: near-dup pairs STRADDLING two sub-splits of a mega-cluster
# are not compared (SemDeDup's own contract is that k scales with the
# corpus so clusters stay small; the cap enforces the bound when k-means
# fails to). Below the cap the split is the identity (one sub-cell), so
# gate-scale output — and the DuckDB oracle, which encodes the uncapped
# form — is bit-identical; the cap path is pytest-pinned on a planted
# mega-cluster.
SEMDEDUP_MAX_CLUSTER = 4096


def _assign(base: DataFrame, cents: DataFrame, dim: int | None = None) -> DataFrame:
    """(_id, _q, _cid, _d2): nearest centroid per vector, ties -> low cid.

    Broadcast centroids + map-side-combinable min(struct) — one narrow
    exchange row per vector, never k candidate rows. With a known ``dim``
    the L2 is a flat codegen sum instead of an interpreted HOF fold
    (bit-identical; integer adds are order-free).
    """
    d2 = (
        sq_l2_unrolled("_q", "_cq", dim)
        if dim
        else sq_l2_col(F.col("_q"), F.col("_cq"))
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "_id", "_q", "_cid", d2.alias("_d2")
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.min(F.struct("_d2", "_cid")).alias("_best"),
            F.first("_q").alias("_q"),
        )
        .select("_id", "_q", F.col("_best._cid").alias("_cid"),
                F.col("_best._d2").alias("_d2"))
    )


def _update(assigned: DataFrame) -> DataFrame:
    """New centroids: element-wise floor-mean of each cluster's vectors."""
    comp = assigned.select("_cid", F.posexplode("_q").alias("_pos", "_v"))
    sums = comp.groupBy("_cid", "_pos").agg(
        F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    return (
        sums.withColumn("_m", F.floor(F.col("_s") / F.col("_n")).cast("bigint"))
        .groupBy("_cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                lambda s: s["_m"],
            ).alias("_cq")
        )
    )


def kmeans_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_mod: int = KM_CENT_MOD,
    iters: int = KM_ITERS,
    dim: int | None = None,
) -> DataFrame:
    """(vec_id, cluster_id, sq_dist) after ``iters`` exact Lloyd rounds.

    cluster_id is the stable id of the seeding vector; sq_dist is the
    exact integer squared L2 to the final centroid.
    """
    base = emb.select(
        F.col(id_col).alias("_id"), quantized_vec(F.col(vec_col)).alias("_q")
    )
    cents = base.where(F.col("_id") % cent_mod == 0).select(
        F.col("_id").alias("_cid"), F.col("_q").alias("_cq")
    )
    if not cents.head(1):
        raise ValueError(
            f"no seed vectors: no {id_col} is a multiple of cent_mod="
            f"{cent_mod} — an empty centroid set would silently assign "
            "nothing (and semdedup_keep would drop every vector)"
        )
    for _ in range(iters):
        # localCheckpoint each round: the centroid frame is k rows, but its
        # lineage contains every previous round — without the cut, each
        # broadcast build re-executes the whole prior chain (measured 3x
        # wall at sf0.1; same lesson as dedup.connected_components_star).
        cents = _update(_assign(base, cents, dim)).localCheckpoint()
    return _assign(base, cents, dim).select(
        F.col("_id").alias("vec_id"),
        F.col("_cid").cast("bigint").alias("cluster_id"),
        F.col("_d2").cast("bigint").alias("sq_dist"),
    )


def semdedup_keep(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = SEMDEDUP_TAU,
    cent_mod: int = KM_CENT_MOD,
    iters: int = KM_ITERS,
    dim: int | None = None,
    max_cluster_size: int | None = SEMDEDUP_MAX_CLUSTER,
) -> DataFrame:
    """(vec_id, cluster_id, keep_semantic): SemDeDup survivor flags.

    A vector is dropped when a lower-id member of its own cluster (and,
    for clusters past ``max_cluster_size``, of its own SUB-SPLIT — see
    :data:`SEMDEDUP_MAX_CLUSTER`) has quantized cosine >= tau with it;
    every cluster therefore keeps at least its lowest-id member of each
    near-dup group. The capped keep set is a SUPERSET of the uncapped one
    (splitting only removes comparisons), and is identical whenever every
    cluster fits the cap — the gate/oracle regime.
    """
    base = emb.select(
        F.col(id_col).alias("vec_id"), quantized_vec(F.col(vec_col)).alias("_q")
    ).withColumn(
        "_n2",
        F.aggregate(
            F.transform("_q", lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ),
    )
    assign = kmeans_assign(emb, id_col, vec_col, cent_mod, iters, dim).select(
        "vec_id", "cluster_id"
    )
    # Materialize (vec_id, _q, _n2, cluster_id) ONCE: the pair mining
    # self-joins this frame and the final flags join it again — without the
    # cut, the whole Lloyd chain is analyzed and executed 3x in one plan
    # (measured 2-3x wall at bench scale). At cluster scale this is the
    # clustering output one would persist anyway before pair mining
    # (~0.5 KB/vector, executor-local storage).
    side = base.join(assign, "vec_id").localCheckpoint()
    # cluster-size bound: sub-split oversized clusters by vec_id modulo the
    # number of cap-sized sub-cells. The size frame is one row per CLUSTER
    # (k rows) — broadcast; ids are effectively uniform over residues, so
    # each (cluster, sub) join key holds ~cap vectors and the pairwise
    # fan-out per key is ~cap^2 instead of c^2. n_sub == 1 below the cap,
    # i.e. the join degenerates to the exact uncapped form.
    if max_cluster_size is not None:
        sizes = side.groupBy("cluster_id").agg(
            F.ceil(F.count(F.lit(1)) / max_cluster_size).cast("bigint").alias("_nsub")
        )
        side = side.join(F.broadcast(sizes), "cluster_id").withColumn(
            "_sub", F.pmod(F.col("vec_id"), F.greatest(F.col("_nsub"), F.lit(1)))
        )
    else:
        side = side.withColumn("_sub", F.lit(0))
    a = side.select(
        F.col("cluster_id").alias("_ca"), F.col("_sub").alias("_sa"),
        F.col("vec_id").alias("_ida"),
        F.col("_q").alias("_qa"), F.col("_n2").alias("_na2"),
    )
    b = side.select(
        F.col("cluster_id").alias("_cb"), F.col("_sub").alias("_sb"),
        F.col("vec_id").alias("_idb"),
        F.col("_q").alias("_qb"), F.col("_n2").alias("_nb2"),
    )
    # HOF fold on purpose: the dot lands in the join's post-condition AND
    # the project (pushdown evaluates it up to 3x), where the unrolled tree
    # is ~5x slower (A/B at sf0.1: 5.3 s vs 1.0 s exec). ``dim`` only
    # accelerates the Lloyd assigns inside kmeans_assign.
    dot = F.aggregate(
        F.zip_with("_qa", "_qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    t2 = float(tau) * float(tau)
    dropped = (
        a.join(
            b,
            (F.col("_ca") == F.col("_cb"))
            & (F.col("_sa") == F.col("_sb"))
            & (F.col("_ida") < F.col("_idb")),
        )
        .select(F.col("_idb").alias("vec_id"), dot.alias("_dot"), "_na2", "_nb2")
        .where(
            (F.col("_dot") > 0)
            & (
                F.col("_dot").cast("double") * F.col("_dot").cast("double")
                >= F.lit(t2)
                * F.col("_na2").cast("double")
                * F.col("_nb2").cast("double")
            )
        )
        .select("vec_id")
        .distinct()
        .withColumn("_drop", F.lit(True))
    )
    return (
        side.select("vec_id", "cluster_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            (~F.coalesce(F.col("_drop"), F.lit(False))).alias("keep_semantic"),
        )
    )
