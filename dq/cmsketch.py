"""Count-Min sketch over the token stream — fully cross-engine-exact.

CM (Cormode & Muthukrishnan, "An improved data stream summary: the
count-min sketch and its applications", J. Algorithms 2005): a d x w
integer counter matrix; every occurrence of x increments C[r][h_r(x)] for
each row r; the point estimate is min_r C[r][h_r(x)] — always an
OVERestimate, error <= 2n/w with probability 1 - 2^-d under pairwise-
independent row hashes. Completes the sketch tier's frequency corner:
KMV answers distinct/overlap, GK quantiles, Bloom membership, Misra-Gries
exact heavy hitters — CM answers "how often is x" for EVERY x in O(d*w)
state.

Scale shape: the build is ONE hash-aggregate over (row, position) keys —
d*w bounded output rows (4 x 512 here), and partial aggregation IS the
sketch merge: each map task's combine produces its partition's sketch,
the final agg adds them — the same + merge a 1000-executor deployment
uses across days (pytest pins sketch(A ∪ B) == sketch(A) + sketch(B)).
Estimation touches only the probe set x d rows against a <= d*w-row
broadcast.

Engine portability (why this sketch is ORACLED when HLL/GK are rows-only):
h_r(x) = ((poly(x) * A_r + B_r) mod P) mod w over the shared 31-ary
polynomial token hash (dq.classifier.token_hash, P = 1e9+7) — exact int64
on both engines: poly < P ~ 2^30 and A_r < 2^31 keep every product under
2^61. DuckDB's no-init list_reduce coincides with Spark's fold-from-0
because 0*31 + c1 = c1 (the classifier-tier identity, gate-proven).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dq.classifier import POLY_MOD, token_hash

# ---- shared constants (dq.oracles generates SQL from these) ----------------

CM_W = 512                    # counters per row
# affine row salts (a, b): a odd, nonzero mod P — a pairwise-independent-
# style family; d = len(CM_SALTS)
CM_SALTS = [(1, 0), (1103515245, 12345), (69069, 362437), (214013, 2531011)]
CM_PROBE_MIN_CNT = 50         # probe tokens: exact count at/above this


def cm_positions(h: Column) -> Column:
    """The d-element array of row positions h_r(x) for an (already
    poly-hashed) token value; array index = row r."""
    return F.array(*[((h * F.lit(a) + F.lit(b)) % POLY_MOD) % CM_W for a, b in CM_SALTS])


def cm_sketch(tokens: DataFrame, token_col: str = "w") -> DataFrame:
    """(r, pos, cnt): the d x w counter matrix of the token stream.

    The poly hash is staged as a real column (one HOF fold per occurrence),
    then d affine transforms fan out via posexplode of a constant-size
    array — safe against InferFiltersFromGenerate (the inferred size>0
    filter constant-folds, the banding lesson). One exchange, keyed by
    (r, pos) — uniform by construction, <= d*w result rows.
    """
    staged = tokens.select(token_hash(F.col(token_col)).alias("_h"))
    return (
        staged.select(F.posexplode(cm_positions(F.col("_h"))).alias("r", "pos"))
        .groupBy("r", "pos")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_estimates(sketch: DataFrame, probes: DataFrame, token_col: str = "w") -> DataFrame:
    """(token, cm_est) for each probe token: min over the d row counters.

    ``sketch`` is <= d*w rows — broadcast; a probe row fans out to exactly
    d lookup rows. A position the stream never touched has no sketch row:
    its counter is 0, so the min is 0 (coalesced after the left join) —
    matching the dense-matrix semantics for never-seen tokens.
    """
    staged = probes.select(
        F.col(token_col).alias("token"), token_hash(F.col(token_col)).alias("_h")
    )
    fan = staged.select("token", F.posexplode(cm_positions(F.col("_h"))).alias("r", "pos"))
    return (
        fan.join(F.broadcast(sketch), ["r", "pos"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )


# ---- AMS second-moment (F2) sketch -----------------------------------------

# cubic sign hashes (a3, a2, a1, a0): AMS needs 4-WISE independent signs
# for E[Z²] = F2 — degree-3 polynomials over the prime field give exactly
# that (an affine-parity family was measured 83% off on the gate corpus —
# the independence theory is load-bearing, not decoration). k sizes the
# ESTIMATOR error, not the bias: Var(Z²) ~ 2·F2² for any stream, so the
# mean of k estimators carries relative std ~ sqrt(2/k) — k = 64 gives
# ~18%. Salts are generated from one deterministic LCG so both engines
# (and the oracle generator) share the identical family.
AMS_K = 64
_AMS_GEN_MUL, _AMS_GEN_ADD, _AMS_GEN_MOD = 1103515245, 12345, 2**31 - 1


def _ams_salts(k: int = AMS_K) -> list[tuple[int, int, int, int]]:
    out, s = [], 20260821
    for _ in range(k):
        q = []
        for _ in range(4):
            s = (s * _AMS_GEN_MUL + _AMS_GEN_ADD) % _AMS_GEN_MOD
            q.append(s)
        # a3 must be nonzero mod P for true degree 3
        if q[0] % POLY_MOD == 0:
            q[0] = 1
        out.append(tuple(q))
    return out


AMS_SALTS = _ams_salts()


def ams_f2_sketch(tokens: DataFrame, token_col: str = "w") -> DataFrame:
    """(j, z): the k linear AMS counters Z_j = Σ_occurrences s_j(token),
    s_j ∈ {+1,-1} (Alon-Matias-Szegedy STOC'96). Z_j² estimates
    F2 = Σ_w f_w² — the SELF-JOIN SIZE of the token stream, the statistic
    that prices every dup-tier equi-join before running it. Like the CM
    build: one bounded hash-agg whose partial aggregation IS the merge
    (counters add across shards/days — pytest-pinned), k rows of state.

    s_j(w) = parity of (a3·h³ + a2·h² + a1·h + a0) mod P with the powers
    REDUCED mod P between multiplications: h < P ~ 2^30 keeps every
    intermediate under 2^62, exact int64 on both engines. Exact to ~9e18
    occurrences per counter; the SQUARE overflows past ~3e9 tokens — at
    that scale keep the k counters and square in decimal/float at read
    time (the counters, not the squares, are the mergeable state).
    """
    h = F.col("_h")
    h2 = (h * h) % POLY_MOD
    h3 = (h2 * h) % POLY_MOD
    staged = tokens.select(token_hash(F.col(token_col)).alias("_h")).select(
        "_h", h2.alias("_h2"), h3.alias("_h3")
    )

    def sign(a3: int, a2: int, a1: int, a0: int):
        return F.lit(1) - 2 * (
            (
                (F.col("_h3") * F.lit(a3) + F.col("_h2") * F.lit(a2)) % POLY_MOD
                + F.col("_h") * F.lit(a1)
                + F.lit(a0)
            )
            % POLY_MOD
            % 2
        )

    # k parallel SUM aggregates instead of a k-wide explode: the explode
    # form pushes k rows per occurrence through an exchange (measured 7 s
    # at sf0.1); here each occurrence is ONE row with k codegen int ops,
    # partials combine map-side, and the 1 x k result reshapes to (j, z)
    # afterward — the minhash_signatures k-min-aggs lesson applied to sums.
    row = staged.agg(
        *[F.sum(sign(*q)).cast("bigint").alias(f"_z{j}") for j, q in enumerate(AMS_SALTS)]
    )
    return row.select(
        F.posexplode(F.array(*[F.col(f"_z{j}") for j in range(len(AMS_SALTS))])).alias(
            "j", "z"
        )
    )


def ams_f2_estimate(sketch: DataFrame) -> DataFrame:
    """(ams_f2,): MEAN of the k squared counters (integer DIV k — exact
    and order-free). Mean, not median-of-squares: Z² is χ²-shaped, whose
    median sits near 0.45x its mean, so a median estimator is ~2x biased
    low BY CONSTRUCTION — the unbiasedness lives in the expectation."""
    k = len(AMS_SALTS)
    return sketch.agg(
        F.expr(f"sum(z * z) div {k}").cast("bigint").alias("ams_f2")
    )


def ams_f2_report(tokens: DataFrame, token_col: str = "w") -> DataFrame:
    """(exact_f2, ams_f2, err_ppm) in ONE pass: the comparison row the
    gate query ships. Since exact F2 needs the per-token frequency table
    anyway, the counters are computed on it too — Z_j = Σ_w s_j(w)·f_w
    equals the per-occurrence stream sum exactly, with one poly fold per
    DISTINCT token instead of per occurrence (measured 2x at sf0.1).
    The pure stream form (:func:`ams_f2_sketch`) remains the scale path:
    at 10^12 tokens the sketch's whole point is to SKIP this vocabulary-
    sized group-by; here the exact side forces it regardless."""
    freq = tokens.groupBy(F.col(token_col).alias("w")).agg(
        F.count(F.lit(1)).alias("_f")
    )
    h = F.col("_h")
    h2 = (h * h) % POLY_MOD
    h3 = (h2 * h) % POLY_MOD
    staged = freq.select(
        "_f", token_hash(F.col("w")).alias("_h")
    ).select("_f", "_h", h2.alias("_h2"), h3.alias("_h3"))

    def sign(a3: int, a2: int, a1: int, a0: int):
        return F.lit(1) - 2 * (
            (
                (F.col("_h3") * F.lit(a3) + F.col("_h2") * F.lit(a2)) % POLY_MOD
                + F.col("_h") * F.lit(a1)
                + F.lit(a0)
            )
            % POLY_MOD
            % 2
        )

    k = len(AMS_SALTS)
    row = staged.agg(
        F.sum(F.col("_f") * F.col("_f")).cast("bigint").alias("exact_f2"),
        *[
            F.sum(sign(*q) * F.col("_f")).cast("bigint").alias(f"_z{j}")
            for j, q in enumerate(AMS_SALTS)
        ],
    )
    zsq_expr = " + ".join(f"_z{j} * _z{j}" for j in range(k))
    return row.select(
        "exact_f2",
        F.expr(f"({zsq_expr}) div {k}").cast("bigint").alias("ams_f2"),
    ).select(
        "exact_f2",
        "ams_f2",
        F.expr("(abs(ams_f2 - exact_f2) * 1000000) div exact_f2")
        .cast("bigint")
        .alias("err_ppm"),
    )
