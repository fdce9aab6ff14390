"""Web link graph: outlink extraction, domain edges, quantized PageRank.

Corpus-quality pipelines use link-graph centrality as a document-quality
prior (Common Crawl publishes harmonic-centrality domain ranks; OPIC-style
crawl frontiers weight by link mass). This module mines hrefs out of the
html column, aggregates a (src_domain, dst_domain, weight) edge list, and
runs a fixed number of integer-quantized PageRank iterations — every step
an equi-join / hash-agg, bit-reproduced by the DuckDB oracle.

Engine portability: ranks are integers scaled by RANK_SCALE; the damped
update is ``BASE + (DAMP_NUM * S) DIV DAMP_DEN`` with per-edge
contributions ``(r * w) DIV out_w`` — integral division on both engines
(all values positive), so no float drift across iterations.

Scale shape (100 TB notes): href extraction is a codegen regexp over the
already-scanned html (no extra pass); the edge list aggregates to
O(domains^2 <<) rows; PageRank then iterates over the DOMAIN graph —
millions of nodes, not documents — with broadcast-sized rank frames,
localCheckpoint-truncated lineage per round, and a shuffle keyed on
domain. Document-level PageRank at 10^12 nodes would instead partition
edges by src and co-partition ranks (GraphX/Pregel shape); the domain
rollup is the standard corpus-quality variant and keeps the iteration
cheap at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---- shared constants (dq.oracles generates SQL from these) ----------------

LINK_DOMAINS = 20        # synthetic universe = the documents table's sources
LINK_HUB = 0             # every doc's last link -> src0 (a hub, so the
                         # graph is skewed like real webgraphs)
LINK_MULTS = (2, 3)      # pseudo-random targets: src[(doc_id * m) % 20]
HREF_RE = r'href="([^"]*)"'
DOMAIN_RE = r"://([^/]+)"  # scheme-agnostic host (pages use doc://)

RANK_SCALE = 1_000_000   # r0 = SCALE per node
DAMP_NUM, DAMP_DEN = 85, 100
RANK_BASE = RANK_SCALE - (DAMP_NUM * RANK_SCALE) // DAMP_DEN  # 150000
PAGERANK_ITERS = 3

# TrustRank (Gyongyi et al. 2004): teleport mass restricted to a vetted
# seed set — spam domains far from every seed decay toward zero trust.
# Seeds avoid the planted hub (src0) so trust FLOWS there, not from there.
TRUST_SEED_DOMAINS = ("src3", "src11")
TRUST_ITERS = PAGERANK_ITERS

# HITS (Kleinberg 1999): mutually-reinforcing hub/authority scores. The
# integer port max-normalizes each vector to RANK_SCALE per half-round —
# sum-normalization would collapse every score to ~SCALE/n at web scale
# (integer DIV rounds millions of domains to 0), while max-norm keeps the
# full [0, SCALE] dynamic range at any graph size.
HITS_ITERS = PAGERANK_ITERS


def out_link_urls(doc_id: Column) -> Column:
    """Deterministic outlink urls for one doc (see module constants)."""
    targets = [
        F.concat(F.lit("doc://src"), ((doc_id * m) % LINK_DOMAINS).cast("string"))
        for m in LINK_MULTS
    ] + [F.lit(f"doc://src{LINK_HUB}")]
    return F.array(*[F.concat(t, F.lit("/out/"), doc_id.cast("string")) for t in targets])


def extract_links_col(html_col: Column) -> Column:
    """All href values in an html document (codegen regexp, no UDF)."""
    return F.regexp_extract_all(F.decode(html_col, "UTF-8"), F.lit(HREF_RE), 1)


def domain_col(url: Column) -> Column:
    return F.regexp_extract(url, DOMAIN_RE, 1)


def domain_edges(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """(src_domain, dst_domain, weight): the domain-level link graph mined
    from html. posexplode of a small constant-degree array — the inferred
    size(arr)>0 filter constant-folds (see CLAUDE.md explode note)."""
    links = pages.select(
        domain_col(F.col(url_col)).alias("src_domain"),
        F.explode_outer(extract_links_col(F.col(html_col))).alias("_link"),
    ).where(F.col("_link").isNotNull())
    return (
        links.select("src_domain", domain_col(F.col("_link")).alias("dst_domain"))
        .groupBy("src_domain", "dst_domain")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


# anchor-text mining: planted vocabulary (oracle SQL generated from these)
ANCHOR_VOCAB = ("download", "news", "login", "article", "profile", "search")
ANCHOR_RE = r'<a href="([^"]*)">([^<]*)</a>'
ANCHOR_TOP_K = 3


def anchor_html_col(doc_id: Column) -> Column:
    """Deterministic html snippet with NON-empty anchors for the anchor-text
    tier (the flagship's rendered pages keep anchors empty on purpose — the
    extraction byte-invariant — so this tier plants its own frame): link m
    of doc d points at src[(d*m)%20] with anchor word VOCAB[(d*m)%|V|]."""
    parts = []
    for m in LINK_MULTS:
        href = F.concat(
            F.lit("doc://src"),
            ((doc_id * m) % LINK_DOMAINS).cast("string"),
            F.lit("/out/"),
            doc_id.cast("string"),
        )
        vocab = F.array(*[F.lit(w) for w in ANCHOR_VOCAB])
        term = F.element_at(vocab, ((doc_id * m) % len(ANCHOR_VOCAB) + 1).cast("int"))
        parts += [F.lit('<a href="'), href, F.lit('">'), term, F.lit("</a>")]
    return F.concat(F.lit("<nav>"), *parts, F.lit("</nav>"))


def anchor_terms(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """(dst_domain, term, n_mentions): how the web describes each target —
    the classic link-text quality/relevance prior (anchor text weighs more
    than on-page text in ranking literature).

    Both capture groups of ANCHOR_RE are extracted with codegen
    regexp_extract_all over the already-scanned html, zipped and exploded;
    the exchange then carries (domain, term) pairs only — ~30 B/anchor,
    never the page. Aggregation is a uniform hash-agg: anchor vocabulary
    per domain is bounded, so partials combine map-side.
    """
    h = F.col(html_col)
    pairs = F.arrays_zip(
        F.regexp_extract_all(h, F.lit(ANCHOR_RE), 1).alias("href"),
        F.regexp_extract_all(h, F.lit(ANCHOR_RE), 2).alias("term"),
    )
    ex = pages.select(F.explode_outer(pairs).alias("p")).where(
        F.col("p.term").isNotNull() & (F.col("p.term") != "")
    )
    return (
        ex.select(domain_col(F.col("p.href")).alias("dst_domain"), F.col("p.term").alias("term"))
        .groupBy("dst_domain", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_mentions"))
    )


def top_anchor_terms(terms: DataFrame, k: int = ANCHOR_TOP_K) -> DataFrame:
    """Top-k anchor terms per target domain, deterministic rank
    (n_mentions DESC, term ASC) — the window runs over the aggregated
    (domain, term) table, never the row set."""
    from dq.skew import topk

    order = [F.col("n_mentions").desc(), F.col("term").asc()]
    ranked = topk(terms, ["dst_domain"], order, k, "term_rank")
    return ranked.withColumn("term_rank", F.col("term_rank").cast("bigint"))


def pagerank(
    edges: DataFrame,
    iters: int = PAGERANK_ITERS,
    scale: int = RANK_SCALE,
    checkpoint: bool = True,
) -> DataFrame:
    """(domain, rank): integer-quantized PageRank after ``iters`` rounds.

    Leaky formulation (dangling mass not redistributed — standard for
    quality-prior use); r_{t+1}(v) = BASE + (85 * S_v) DIV 100 with
    S_v = sum over in-edges of (r_u * w) DIV out_u. Deterministic and
    engine-portable: integral division, order-free integer sums.
    """
    if checkpoint:
        # materialize the domain graph ONCE: the loop joins edges every
        # round, and without this each round re-runs the upstream href
        # mining over the full corpus (3 extra 100-TB scans at scale;
        # measured 3.5 s -> ~1.5 s at sf0.1). O(domains^2) rows — cheap.
        edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src_domain").alias("domain"))
        .unionByName(edges.select(F.col("dst_domain").alias("domain")))
        .distinct()
    )
    outw = edges.groupBy("src_domain").agg(F.sum("weight").alias("out_w"))
    base = scale - (DAMP_NUM * scale) // DAMP_DEN
    r = nodes.select("domain", F.lit(scale).cast("bigint").alias("rank"))
    for _ in range(iters):
        contribs = (
            edges.join(r, edges["src_domain"] == r["domain"])
            .join(outw, "src_domain")
            .select(
                F.col("dst_domain").alias("domain"),
                F.expr("(rank * weight) DIV out_w").alias("_c"),
            )
            .groupBy("domain")
            .agg(F.sum("_c").alias("_s"))
        )
        r = nodes.join(contribs, "domain", "left").select(
            "domain",
            (
                F.lit(base).cast("bigint")
                + F.expr(f"({DAMP_NUM} * coalesce(_s, 0)) DIV {DAMP_DEN}")
            ).alias("rank"),
        )
        if checkpoint:
            # domain-count rows; cut per-round lineage (CLAUDE.md iterative-loop rule)
            r = r.localCheckpoint()
    return r


def trustrank(
    edges: DataFrame,
    seeds: tuple[str, ...] = TRUST_SEED_DOMAINS,
    iters: int = TRUST_ITERS,
    scale: int = RANK_SCALE,
    checkpoint: bool = True,
) -> DataFrame:
    """(domain, trust, is_seed): integer-quantized TrustRank after ``iters``
    rounds — PageRank's damped update with the teleport/base mass
    restricted to the vetted seed set (Gyongyi, Garcia-Molina & Pedersen
    2004, "Combating Web Spam with TrustRank"). Un-normalized convention:
    each seed's base is RANK_BASE and r0(seed) = scale (same per-node
    figures as dq PageRank, so the two columns are directly comparable);
    non-seeds start and teleport at zero, so a domain no seed can reach
    holds trust 0 after any number of rounds — the spam-demotion signal a
    crawl frontier or quality prior thresholds on.

    Same scale shape as :func:`pagerank`: the iteration runs on the DOMAIN
    graph (edges localCheckpointed once so no round re-mines hrefs from the
    corpus), every step an equi-join / hash-agg on integer values —
    bit-reproduced by the DuckDB unrolled-CTE twin.
    """
    if checkpoint:
        edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src_domain").alias("domain"))
        .unionByName(edges.select(F.col("dst_domain").alias("domain")))
        .distinct()
    )
    outw = edges.groupBy("src_domain").agg(F.sum("weight").alias("out_w"))
    base = scale - (DAMP_NUM * scale) // DAMP_DEN
    seed_col = F.col("domain").isin(list(seeds))
    r = nodes.select(
        "domain",
        F.when(seed_col, F.lit(scale)).otherwise(F.lit(0)).cast("bigint").alias("trust"),
    )
    for _ in range(iters):
        contribs = (
            edges.join(r, edges["src_domain"] == r["domain"])
            .join(outw, "src_domain")
            .select(
                F.col("dst_domain").alias("domain"),
                F.expr("(trust * weight) DIV out_w").alias("_c"),
            )
            .groupBy("domain")
            .agg(F.sum("_c").alias("_s"))
        )
        r = nodes.join(contribs, "domain", "left").select(
            "domain",
            (
                F.when(seed_col, F.lit(base)).otherwise(F.lit(0)).cast("bigint")
                + F.expr(f"({DAMP_NUM} * coalesce(_s, 0)) DIV {DAMP_DEN}")
            ).cast("bigint").alias("trust"),
        )
        if checkpoint:
            r = r.localCheckpoint()
    return r.select("domain", "trust", seed_col.alias("is_seed"))


def hits(
    edges: DataFrame,
    iters: int = HITS_ITERS,
    scale: int = RANK_SCALE,
    checkpoint: bool = True,
) -> DataFrame:
    """(domain, hub, auth): integer-quantized weighted HITS (Kleinberg
    1999, "Authoritative Sources in a Hyperlinked Environment") after
    ``iters`` rounds. Per round: auth(v) = Σ hub(u)·w(u,v) over in-edges,
    then hub(u) = Σ auth(v)·w(u,v) over out-edges, each half-round
    max-normalized to ``scale`` with integral division (see HITS_ITERS
    note) — all values non-negative integers, so Spark ``DIV`` == DuckDB
    ``//`` and the unrolled-CTE twin reproduces every round bit-for-bit.

    Scale shape: identical to :func:`pagerank` — the iteration runs on the
    DOMAIN graph (edges localCheckpointed once), every step an equi-join /
    hash-agg on integers; the per-half-round max is ONE scalar row,
    broadcast back via crossJoin (no driver round-trip in the plan).
    Overflow headroom: hub ≤ scale (1e6) × edge weight × in-degree summed —
    a domain with 10^6 in-edges of avg weight 10^3 peaks at 10^15 < 2^63.
    """
    if checkpoint:
        edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src_domain").alias("domain"))
        .unionByName(edges.select(F.col("dst_domain").alias("domain")))
        .distinct()
    )
    h = nodes.select("domain", F.lit(scale).cast("bigint").alias("hub"))
    a = None
    for _ in range(iters):
        auth_raw = (
            edges.join(h, edges["src_domain"] == h["domain"])
            .select(F.col("dst_domain").alias("domain"), (F.col("hub") * F.col("weight")).alias("_r"))
            .groupBy("domain")
            .agg(F.sum("_r").alias("_raw"))
        )
        a = (
            nodes.join(auth_raw, "domain", "left")
            .crossJoin(F.broadcast(auth_raw.agg(F.max("_raw").alias("_mx"))))
            .select(
                "domain",
                F.coalesce(F.expr(f"(_raw * {scale}) DIV _mx"), F.lit(0))
                .cast("bigint")
                .alias("auth"),
            )
        )
        if checkpoint:
            a = a.localCheckpoint()
        hub_raw = (
            edges.join(a, edges["dst_domain"] == a["domain"])
            .select(F.col("src_domain").alias("domain"), (F.col("auth") * F.col("weight")).alias("_r"))
            .groupBy("domain")
            .agg(F.sum("_r").alias("_raw"))
        )
        h = (
            nodes.join(hub_raw, "domain", "left")
            .crossJoin(F.broadcast(hub_raw.agg(F.max("_raw").alias("_mx"))))
            .select(
                "domain",
                F.coalesce(F.expr(f"(_raw * {scale}) DIV _mx"), F.lit(0))
                .cast("bigint")
                .alias("hub"),
            )
        )
        if checkpoint:
            h = h.localCheckpoint()
    return h.join(a, "domain")


# ---- triangles / clustering coefficient ------------------------------------

LPA_ITERS = 3  # synchronous label-propagation rounds (oracle unrolls these)


def undirected_edges(edges: DataFrame) -> DataFrame:
    """(a, b, w): the canonical a < b undirected simple graph — self-loops
    dropped, both directions' weights summed. One hash-agg on the already
    domain-sized edge list."""
    sym = edges.where(F.col("src_domain") != F.col("dst_domain")).select(
        F.least("src_domain", "dst_domain").alias("a"),
        F.greatest("src_domain", "dst_domain").alias("b"),
        "weight",
    )
    return sym.groupBy("a", "b").agg(F.sum("weight").alias("w"))


def triangle_stats(edges: DataFrame, checkpoint: bool = True) -> DataFrame:
    """(domain, degree, tri_cnt, wedge_cnt, clustering): exact per-node
    triangle counts and local clustering coefficient.

    Degree-ORIENTED enumeration (the MapReduce-era trick, Cohen 2009 /
    Suri-Vassilvitskii WWW'11): orient every undirected edge from its
    (deg, name)-smaller endpoint to the larger, turning the graph into a
    DAG whose out-degrees are O(sqrt(m)); wedges form only at each
    triangle's SMALLEST vertex, so a hub of degree h contributes h^2
    wedges at its *low-degree neighbors*, never h^2 rows on its own key —
    the skew bound that makes web-graph triangle counting feasible (a
    naive wedge join at the hub is the h^2 hot key). Closure is an
    equi-join back to the canonical edge list; each triangle is counted
    exactly once (its two larger vertices cannot emit it). The DuckDB twin
    counts triangles the NAIVE way — a triple self-join over a < b < c —
    so the gate certifies the orientation scheme enumerates precisely the
    same triangle set. Clustering = tri / C(deg, 2): division of exact
    integers, engine-portable.
    """
    und = undirected_edges(edges)
    if checkpoint:
        # consumed by degrees, wedges, and closure: materialize the
        # domain-sized list once (the pagerank edges lesson)
        und = und.localCheckpoint()
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = und.join(
        deg.select(F.col("v").alias("a"), F.col("deg").alias("_da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("deg").alias("_db")), "b")
    lower_first = F.struct(F.col("_da"), F.col("a")) < F.struct(F.col("_db"), F.col("b"))
    oriented = e.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("x"),
    )
    o1 = oriented.select("u", F.col("x").alias("_v"))
    o2 = oriented.select("u", F.col("x").alias("_w"))
    wedges = o1.join(o2, "u").where(F.col("_v") < F.col("_w"))
    tri = wedges.join(
        und.select(F.col("a").alias("_v"), F.col("b").alias("_w")), ["_v", "_w"]
    )
    tn = (
        tri.select(F.explode(F.array("u", "_v", "_w")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("_tri"))
    )
    return deg.join(tn, "v", "left").select(
        F.col("v").alias("domain"),
        F.col("deg").cast("bigint").alias("degree"),
        F.coalesce("_tri", F.lit(0)).cast("bigint").alias("tri_cnt"),
        F.expr("(deg * (deg - 1)) div 2").cast("bigint").alias("wedge_cnt"),
        F.when(
            F.col("deg") >= 2,
            F.coalesce("_tri", F.lit(0)).cast("double")
            / F.expr("(deg * (deg - 1)) div 2"),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def lpa_communities(
    edges: DataFrame, iters: int = LPA_ITERS, checkpoint: bool = True
) -> DataFrame:
    """(domain, community): synchronous weighted label propagation
    (Raghavan et al. 2007), ``iters`` fixed rounds, fully deterministic —
    each node adopts the label with the largest incident edge weight,
    smallest label on ties (min over the (-weight, label) struct: an
    exact-integer argmax both engines order identically). Initial label =
    own name. Fixed synchronous rounds instead of run-to-convergence keeps
    the op oracle-able (the DuckDB twin unrolls the same rounds) and
    bounded on adversarial graphs (sync LPA can oscillate forever on
    bipartite structures).

    Scale shape: per round one join of the label table onto the adjacency
    list + two map-side-combinable hash-aggs — no windows, no collect;
    label frames are domain-count rows, localCheckpoint-cut per round
    (the CLAUDE.md iterative-loop rule).
    """
    und = undirected_edges(edges)
    adj = und.select(F.col("a").alias("v"), F.col("b").alias("n"), "w").unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"), "w")
    )
    if checkpoint:
        adj = adj.localCheckpoint()
    labels = adj.select("v").distinct().select("v", F.col("v").alias("lbl"))
    for _ in range(iters):
        votes = (
            adj.join(
                labels.select(F.col("v").alias("n"), F.col("lbl").alias("_nl")), "n"
            )
            .groupBy("v", "_nl")
            .agg(F.sum("w").alias("_wt"))
        )
        pick = votes.groupBy("v").agg(
            F.min(F.struct((-F.col("_wt")).alias("nw"), F.col("_nl").alias("l"))).alias(
                "_m"
            )
        )
        labels = pick.select("v", F.col("_m.l").alias("lbl"))
        if checkpoint:
            labels = labels.localCheckpoint()
    return labels.select(F.col("v").alias("domain"), F.col("lbl").alias("community"))


# ---- DeepWalk-style random-walk corpus -------------------------------------

DEEPWALK_STEPS = 4   # walk length beyond the start node
DEEPWALK_WALKS = 2   # walks per start node


def deepwalk_corpus(
    edges: DataFrame,
    steps: int = DEEPWALK_STEPS,
    walks: int = DEEPWALK_WALKS,
    checkpoint: bool = True,
) -> DataFrame:
    """(start, walk_no, seq): deterministic DeepWalk-style random-walk
    sequences over the directed domain graph (Perozzi et al. KDD 2014 —
    the corpus-generation step that turns a graph into skip-gram training
    text; node2vec generalizes the transition rule). "Random" is the
    shared integer LCG (dq.sampling constants) seeded from the poly hash
    of the start name + walk number: every transition is
    ``idx = state mod out_degree`` over the node's dst-sorted neighbor
    list, then ``state' = (state*MUL + ADD) mod SAMPLE_MOD`` — exact
    int64 arithmetic both engines, so the full walk table is bit-exact
    and the DuckDB twin unrolls the steps as join CTEs.

    Dead ends (a node with no out-edges) self-absorb: the left join
    misses, the walk stays put — same semantics in the twin. Scale
    shape: the neighbor index (row_number per src over its dst-sorted
    adjacency, degree attached) materializes once (localCheckpoint — the
    pagerank edges lesson) and each step is one equi-join of the
    walk frame (nodes x walks rows) against it; walk count scales the
    frame, never the join fan-out (exactly one match per row).
    """
    from dq.classifier import token_hash
    from dq.sampling import LCG_ADD, LCG_MUL, SAMPLE_MOD
    from pyspark.sql import Window

    adj = edges.select("src_domain", "dst_domain").distinct()
    wd = Window.partitionBy("src_domain").orderBy("dst_domain")
    idx = (
        adj.select(
            "src_domain", "dst_domain", (F.row_number().over(wd) - 1).alias("_i")
        )
        .join(
            adj.groupBy("src_domain").agg(F.count(F.lit(1)).alias("_deg")),
            "src_domain",
        )
    )
    if checkpoint:
        idx = idx.localCheckpoint()
    starts = idx.select(F.col("src_domain").alias("start")).distinct()
    cur = starts.select(
        "start",
        F.explode(F.array(*[F.lit(w) for w in range(1, walks + 1)])).alias("walk_no"),
    ).select(
        "start",
        F.col("walk_no").cast("int").alias("walk_no"),
        F.col("start").alias("_cur"),
        (
            ((token_hash(F.col("start")) + F.col("walk_no")) * F.lit(LCG_MUL) + F.lit(LCG_ADD))
            % F.lit(SAMPLE_MOD)
        ).alias("_st"),
        F.col("start").alias("seq"),
    )
    for k in range(steps):
        # per-step column aliases: the walk frame's lineage contains idx,
        # so re-joining the bare idx trips the ambiguous-self-join check
        si = idx.select(
            F.col("src_domain").alias(f"_s{k}"),
            F.col("dst_domain").alias(f"_d{k}"),
            F.col("_i").alias(f"_i{k}"),
            F.col("_deg").alias(f"_g{k}"),
        )
        j = cur.join(
            si,
            (cur["_cur"] == si[f"_s{k}"])
            & (si[f"_i{k}"] == cur["_st"] % si[f"_g{k}"]),
            "left",
        )
        nxt = F.coalesce(si[f"_d{k}"], cur["_cur"])
        cur = j.select(
            cur["start"],
            cur["walk_no"],
            nxt.alias("_cur"),
            ((cur["_st"] * F.lit(LCG_MUL) + F.lit(LCG_ADD)) % F.lit(SAMPLE_MOD)).alias(
                "_st"
            ),
            F.concat(cur["seq"], F.lit("->"), nxt).alias("seq"),
        )
    return cur.select("start", "walk_no", "seq")


SKIPGRAM_WINDOW = 2  # context radius over the walk sequence


def skipgram_pairs(walks: DataFrame, window: int = SKIPGRAM_WINDOW) -> DataFrame:
    """(center, context, pair_cnt): the skip-gram co-occurrence pairs the
    DeepWalk corpus exists to feed (word2vec's training unit) — every
    (node, neighbor-within-window) pair across all walk sequences,
    counted. Two staged explodes: positions first (posexplode of the
    split sequence), then the bounded context range (explode of a
    constant-width integer sequence; element reads are O(1) on the row's
    array — no lambda captures the split tree). The count agg is the only
    exchange, keyed by node pairs."""
    lst = walks.select(F.split("seq", "->").alias("_l"))
    pos = lst.select("_l", F.posexplode("_l").alias("_i0", "center"))
    j = F.explode(
        F.sequence(
            F.greatest(F.lit(1), F.col("_i0") + 1 - window),
            F.least(F.size("_l"), F.col("_i0") + 1 + window),
        )
    )
    fan = pos.select("_l", (F.col("_i0") + 1).alias("_i1"), "center", j.alias("_j"))
    return (
        fan.where(F.col("_j") != F.col("_i1"))
        .select("center", F.element_at("_l", F.col("_j")).alias("context"))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_cnt"))
    )
