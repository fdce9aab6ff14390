"""DuckDB oracle SQL for every SQL-expressible query in ``dq.queries``.

The SQL strings are BUILT from the same Python constants the Spark
implementations use (band edges/labels, stopword lists, scrub patterns,
thresholds), so the two sides cannot drift. Determinism notes mirror
dq/queries.py: cents quantization before sums, integer-derived double
divisions only, identical tie-breaks on every rank.

Queries with no entry here (minhash/simhash/embedding LSH, UDF pipeline)
are genuinely non-SQL-expressible (xxhash64 / blake2b / model state); the
correctness gate checks them rows-only.
"""

from __future__ import annotations

from dq.heuristics import STOPWORDS, SYMBOL_CLASS, THRESHOLDS
from dq.queries import (
    ANN_IVF_CENT_MOD,
    ANN_IVF_NPROBE,
    ANN_K,
    ANN_QUERY_MOD,
    INCR_BATCH_MOD,
    INCR_RECRAWL_MOD,
    INCR_RECRAWL_OFFSET,
    NEAR_CLUSTER_MIN_JACCARD,
    EMB_DIM,
    EMB_PAIR_MIN_COSINE,
    EMB_SRP_BITS,
    EMB_SRP_SEED,
    PRICE_POINTS,
    VALUE_RANGES,
    GATE_MISSING_DT,
    HOT_KEY_MIN_FRACTION,
    JACCARD_SHINGLE_N,
    LANG_HINT_STOPWORDS,
    PLANT_EXACT_MOD,
    PLANT_EXACT_OFFSET,
    PLANT_NEAR_MOD,
    PLANT_NEAR_OFFSET,
    PCT_POINTS,
    PLANT_NEAR_SUFFIX,
    PII_PLANT_IP_MOD,
    PII_PLANT_PARTS,
    RECENT_DT_CUTOFF,
    PRICE_BAND_EDGES,
    PRICE_BAND_LABELS,
    REMEDIATION_EXCLUDED,
    REMEDIATION_MANIFEST,
    VALUE_BAND_EDGES,
    VALUE_BAND_LABELS,
)
from dq.scrub import SCRUB_RULES
from dq.textstats import (
    BPE_FIXED_MERGES,
    BPE_PAIR_TOP_K,
    BPE_SPLIT_PATTERN,
    BPE_WORD_MAX_LEN,
    BPE_WORD_MIN_LEN,
    FERTILITY_BP_SCALE,
)

_DT = "strftime(ts, '%Y%m%d')"

# planted-dup base table (exact_dedup_survivors / ngram_jaccard_pairs share
# it with dq.queries._docs_with_planted_dups via the PLANT_* constants)
_PLANTED_BASE = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_EXACT_OFFSET}, text FROM documents WHERE doc_id % {PLANT_EXACT_MOD} = 0
  UNION ALL
  SELECT doc_id + {PLANT_NEAR_OFFSET}, text || '{PLANT_NEAR_SUFFIX}' FROM documents WHERE doc_id % {PLANT_NEAR_MOD} = 0
"""


def _sql_list(items: list[str]) -> str:
    inner = ", ".join("'" + s.replace("'", "''") + "'" for s in items)
    return f"[{inner}]"


def _band_case(col: str, edges: list[float], labels: list[str]) -> str:
    parts = [f"WHEN {col} IS NULL THEN NULL",
             f"WHEN {col} <= {edges[0]!r} THEN '{labels[0]}'"]
    for i in range(1, len(edges)):
        parts.append(f"WHEN {col} <= {edges[i]!r} THEN '{labels[i]}'")
    whens = " ".join(parts)
    return f"CASE {whens} ELSE '{labels[len(edges)]}' END"


def _scrub_chain(col: str) -> str:
    out = col
    for _, pat, rep in SCRUB_RULES:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{rep}', 'g')"
    return out


def _sq(s: str) -> str:
    return s.replace("'", "''")


def _boiler_case(expr: str) -> str:
    """CASE over ``expr`` (a 0..n-1 rotation) -> BOILERPLATE_LINES[i]."""
    from dq.lines import BOILERPLATE_LINES

    whens = " ".join(
        f"WHEN {i} THEN '{_sq(s)}'" for i, s in enumerate(BOILERPLATE_LINES)
    )
    return f"CASE {expr} {whens} END"


def _multiline_pieces() -> tuple[str, str, str]:
    """(header, body, footer) SQL exprs mirroring dq.lines.multiline_docs."""
    from dq.lines import BODY_PERIOD_MOD, BOILERPLATE_LINES

    n = len(BOILERPLATE_LINES)
    header = _boiler_case(f"doc_id % {n}")
    body = (
        f"CASE WHEN doc_id % {BODY_PERIOD_MOD} = 0"
        f" THEN coalesce(text, '') || '.' ELSE coalesce(text, '') END"
    )
    footer = _boiler_case(f"(doc_id + 1) % {n}")
    return header, body, footer


def _line_dedup_sql() -> str:
    from dq.lines import FOOTER_MOD, LINE_DUP_MIN_DOCS

    header, body, footer = _multiline_pieces()
    n_lines = f"CASE WHEN d.doc_id % {FOOTER_MOD} = 0 THEN 3 ELSE 2 END"
    return f"""
WITH l AS (
  SELECT doc_id, 1 AS pos, {header} AS line FROM documents
  UNION ALL SELECT doc_id, 2 AS pos, {body} AS line FROM documents
  UNION ALL SELECT doc_id, 3 AS pos, {footer} AS line FROM documents
            WHERE doc_id % {FOOTER_MOD} = 0
), hot AS (
  SELECT line FROM l GROUP BY line
  HAVING count(DISTINCT doc_id) >= {LINE_DUP_MIN_DOCS}
), kept AS (
  SELECT doc_id, pos, line FROM l WHERE line NOT IN (SELECT line FROM hot)
), re AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST({n_lines} AS BIGINT) AS n_lines,
       CAST({n_lines} - COALESCE(re.n_kept, 0) AS BIGINT) AS n_dropped,
       COALESCE(re.text_clean, '') AS text_clean
FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id
"""


def _dup_line_metrics_sql() -> str:
    """Twin of dq.lines.dup_line_stats over the planted multi-line corpus:
    groups by the raw line (the Spark side groups by xxhash64(line) — a
    pure key substitution), identical exact-int fractions."""
    from dq.lines import FOOTER_MOD
    from dq.queries import DUP_LINE_PLANT_MOD

    header, body, footer = _multiline_pieces()
    return f"""
WITH l AS (
  SELECT doc_id, {header} AS line FROM documents
  UNION ALL SELECT doc_id, {body} AS line FROM documents
  UNION ALL SELECT doc_id, {footer} AS line FROM documents
            WHERE doc_id % {FOOTER_MOD} = 0
  UNION ALL SELECT doc_id, {body} AS line FROM documents
            WHERE doc_id % {DUP_LINE_PLANT_MOD} = 0
), per AS (
  SELECT doc_id, line, length(line) AS len, count(*) AS c
  FROM l WHERE line IS NOT NULL GROUP BY doc_id, line
), agg AS (
  SELECT doc_id,
         sum(c) AS n_lines,
         sum(c) - count(*) AS n_dup_lines,
         sum(c * len) AS tot_chars,
         sum((c - 1) * len) AS dup_chars
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
       CAST(coalesce(n_dup_lines, 0) AS BIGINT) AS n_dup_lines,
       CASE WHEN coalesce(n_lines, 0) = 0 THEN 0.0
            ELSE n_dup_lines::DOUBLE / n_lines::DOUBLE END AS dup_line_frac,
       CASE WHEN coalesce(tot_chars, 0) = 0 THEN 0.0
            ELSE dup_chars::DOUBLE / tot_chars::DOUBLE END AS dup_line_char_frac
FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
"""


def _c4_line_filter_sql() -> str:
    from dq.lines import (
        C4_BANNED_RE,
        C4_MIN_WORDS_PER_LINE,
        C4_TERMINAL_RE,
        FOOTER_MOD,
    )

    header, body, footer = _multiline_pieces()
    short = (
        "len(list_filter(regexp_split_to_array(l, '[\\s\\x0b]+'), x -> x <> ''))"
        f" < {C4_MIN_WORDS_PER_LINE}"
    )
    unterminated = f"NOT regexp_matches(l, '{_sq(C4_TERMINAL_RE)}')"
    banned = f"regexp_matches(lower(l), '{_sq(C4_BANNED_RE)}')"
    # keep = none of the three rules fire
    kept = (
        f"list_filter(lines, l -> NOT ({short})"
        f" AND regexp_matches(l, '{_sq(C4_TERMINAL_RE)}') AND NOT ({banned}))"
    )
    return f"""
WITH ml AS (
  SELECT doc_id,
         CASE WHEN doc_id % {FOOTER_MOD} = 0
              THEN [{header}, {body}, {footer}]
              ELSE [{header}, {body}] END AS lines
  FROM documents
)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(list_filter(lines, l -> {short})) AS BIGINT) AS n_short,
  CAST(len(list_filter(lines, l -> {unterminated})) AS BIGINT) AS n_unterminated,
  CAST(len(list_filter(lines, l -> {banned})) AS BIGINT) AS n_banned,
  CAST(len({kept}) AS BIGINT) AS n_kept,
  COALESCE(array_to_string({kept}, chr(10)), '') AS text_c4
FROM ml
"""


def _tfidf_sql() -> str:
    from dq.textstats import TFIDF_TOP_K

    return f"""
WITH w AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '')) AS term
  FROM documents
), t AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2
), d AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY term
), r AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(row_number() OVER (PARTITION BY t.doc_id
              ORDER BY t.tf DESC, d.df ASC, t.term ASC) AS INT) AS term_rank
  FROM t JOIN d USING (term)
)
SELECT doc_id, term, tf, df, term_rank FROM r WHERE term_rank <= {TFIDF_TOP_K}
"""


def _url_expr(id_sql: str = "doc_id") -> str:
    """SQL expr mirroring dq.urlstats.url_expr, parameterized over the
    doc-id expression exactly like the Column-level twin."""
    from dq.urlstats import (
        TRACKING_QUERY,
        BANNED_MOD,
        BANNED_PATH_TOKENS,
        COLD_DOMAINS,
        HOT_DOMAIN,
        HOT_MOD,
        HOT_REM,
        QUERY_MOD,
    )

    cold_whens = " ".join(
        f"WHEN {i} THEN '{_sq(d)}'" for i, d in enumerate(COLD_DOMAINS)
    )
    domain = (
        f"CASE WHEN {id_sql} % {HOT_MOD} < {HOT_REM} THEN '{_sq(HOT_DOMAIN)}' "
        f"ELSE CASE {id_sql} % {len(COLD_DOMAINS)} {cold_whens} END END"
    )
    tok_whens = " ".join(
        f"WHEN {i} THEN '{_sq(t)}'" for i, t in enumerate(BANNED_PATH_TOKENS)
    )
    seg = (
        f"CASE WHEN {id_sql} % {BANNED_MOD} = 0 "
        f"THEN (CASE {id_sql} % {len(BANNED_PATH_TOKENS)} {tok_whens} END) || '/' "
        f"ELSE '' END"
    )
    query = f"CASE WHEN {id_sql} % {QUERY_MOD} = 0 THEN '{_sq(TRACKING_QUERY)}' ELSE '' END"
    return (
        f"'https://' || {domain} || '/' || {seg} || 'item-' || "
        f"CAST({id_sql} AS VARCHAR) || {query}"
    )


def _domain_hot_stats_sql() -> str:
    from dq.urlstats import DOMAIN_RE, HOT_SHARE_PCT

    return f"""
WITH u AS (
  SELECT doc_id, {_url_expr()} AS url, lang FROM documents
), per AS (
  SELECT regexp_extract(url, '{DOMAIN_RE}', 1) AS domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM u GROUP BY 1
), t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents)
SELECT domain, n_docs, n_langs,
       CAST(floor(n_docs * 10000 / total) AS BIGINT) AS share_bp,
       (n_docs * 100 >= {HOT_SHARE_PCT} * total) AS is_hot
FROM per, t
"""


def _crawl_base_sql() -> str:
    """Old/new planted-snapshot CTEs, twin of dq.crawldiff.planted_snapshots
    + crawl_diff. The fingerprint is the dedup tier's shared null-safe form
    (zero-byte sentinel, dq.dedup.fingerprint_col): NULL text || suffix
    stays NULL on both engines, so changed-NULL rows diff as unchanged."""
    from dq.crawldiff import (
        CHANGED_MOD,
        CHANGED_REM,
        CHANGED_SUFFIX,
        NEW_DROP_MOD,
        NEW_DROP_REM,
        OLD_DROP_MOD,
        OLD_DROP_REM,
        STATUS_ADDED,
        STATUS_CHANGED,
        STATUS_REMOVED,
        STATUS_UNCHANGED,
    )

    return f"""
WITH base AS (
  SELECT doc_id, {_url_expr()} AS url, text FROM documents
), old AS (
  SELECT url, sha256(coalesce(text, chr(0))) AS old_fp
  FROM base WHERE doc_id % {OLD_DROP_MOD} <> {OLD_DROP_REM}
), new AS (
  SELECT url,
         sha256(coalesce(
           CASE WHEN doc_id % {CHANGED_MOD} = {CHANGED_REM}
                THEN text || '{_sq(CHANGED_SUFFIX)}' ELSE text END, chr(0)
         )) AS new_fp
  FROM base WHERE doc_id % {NEW_DROP_MOD} <> {NEW_DROP_REM}
), diff AS (
  SELECT coalesce(old.url, new.url) AS url, old_fp, new_fp,
         CASE WHEN old_fp IS NULL THEN '{_sq(STATUS_ADDED)}'
              WHEN new_fp IS NULL THEN '{_sq(STATUS_REMOVED)}'
              WHEN old_fp = new_fp THEN '{_sq(STATUS_UNCHANGED)}'
              ELSE '{_sq(STATUS_CHANGED)}' END AS status
  FROM old FULL OUTER JOIN new ON old.url = new.url
)
"""


def _crawl_diff_sql() -> str:
    return _crawl_base_sql() + "SELECT url, old_fp, new_fp, status FROM diff"


def _crawl_diff_summary_sql() -> str:
    return (
        _crawl_base_sql()
        + "SELECT status, CAST(count(*) AS BIGINT) AS n_urls FROM diff GROUP BY status"
    )


def _url_rules_filter_sql() -> str:
    from dq.urlstats import BANNED_PATH_TOKENS, BLOCKED_DOMAINS, DOMAIN_RE

    blocked_list = ", ".join(f"'{_sq(d)}'" for d in BLOCKED_DOMAINS)
    banned_re = "/(" + "|".join(BANNED_PATH_TOKENS) + ")/"
    return f"""
WITH u AS (
  SELECT doc_id, {_url_expr()} AS url FROM documents
), f AS (
  SELECT doc_id, url,
         regexp_extract(url, '{DOMAIN_RE}', 1) AS domain,
         regexp_replace(url, '{DOMAIN_RE}', '', 'g') AS path
  FROM u
)
SELECT doc_id, url, domain,
       (domain IN ({blocked_list})) AS is_blocked_domain,
       regexp_matches(path, '{_sq(banned_re)}') AS has_banned_path,
       regexp_matches(url, '\\?') AS has_query,
       (NOT domain IN ({blocked_list})
        AND NOT regexp_matches(path, '{_sq(banned_re)}')
        AND NOT regexp_matches(url, '\\?')) AS keep
FROM f
"""


def _dataset_splits_sql() -> str:
    from dq.sampling import LCG_ADD, LCG_MUL, SAMPLE_MOD, SPLIT_EDGES

    whens = " ".join(
        f"WHEN bkt < {edge} THEN '{name}'" for name, edge in SPLIT_EDGES[:-1]
    )
    return f"""
WITH b AS (
  SELECT doc_id, lang,
         (doc_id * {LCG_MUL} + {LCG_ADD}) % {SAMPLE_MOD} AS bkt
  FROM documents
)
SELECT doc_id, lang, CAST(bkt AS BIGINT) AS sample_bucket,
       CASE {whens} ELSE '{SPLIT_EDGES[-1][0]}' END AS split
FROM b
"""


def _doc_chunks_sql() -> str:
    """Twin of dq.sampling.chunk_docs: same start-offset arithmetic (range
    end-exclusive ≡ the Spark sequence + start<n filter), 1-based
    list_slice bounds clamped to the word count."""
    from dq.sampling import CHUNK_SIZE, CHUNK_STRIDE

    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[\\s\\x0b]+'), x -> x <> '') AS words
  FROM documents WHERE text IS NOT NULL
), s AS (
  SELECT doc_id, words, unnest(range(0, len(words), {CHUNK_STRIDE})) AS st
  FROM w
)
SELECT doc_id,
       CAST(st // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(least({CHUNK_SIZE}, len(words) - st) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(words, st + 1, least(st + {CHUNK_SIZE}, len(words))), ' ')
         AS chunk_text
FROM s
"""


def _url_canonical_sql() -> str:
    """Twin of dq.urlstats.url_canonicalize over the decorated-neighbor
    corpus: same shared rule chain ('g' flag per DuckDB), same structural
    scheme+host lowercasing."""
    from dq.queries import CANON_VARIANT_MOD, CANON_VARIANT_REM
    from dq.urlstats import URL_CANON_RULES, URL_HEAD_RE

    base_id = (
        f"(CASE WHEN doc_id % {CANON_VARIANT_MOD} = {CANON_VARIANT_REM} "
        f"THEN doc_id - 1 ELSE doc_id END)"
    )
    u0 = _url_expr(base_id)
    head0 = f"regexp_extract(u0, '{_sq(URL_HEAD_RE)}', 1)"
    decorated = (
        f"CASE WHEN doc_id % {CANON_VARIANT_MOD} = {CANON_VARIANT_REM} "
        f"THEN upper({head0}) || regexp_replace(u0, '{_sq(URL_HEAD_RE)}', '', 'g') || '#ref' "
        f"ELSE u0 END"
    )
    chain = "url"
    for _, pat, rep in URL_CANON_RULES:
        chain = f"regexp_replace({chain}, '{_sq(pat)}', '{_sq(rep)}', 'g')"
    head = f"regexp_extract(s, '{_sq(URL_HEAD_RE)}', 1)"
    return f"""
WITH u AS (
  SELECT doc_id, u0 FROM (SELECT doc_id, {u0} AS u0 FROM documents)
), d AS (
  SELECT doc_id, {decorated} AS url FROM u
), c0 AS (
  SELECT doc_id, url, {chain} AS s FROM d
), c AS (
  SELECT doc_id, url,
         CASE WHEN {head} = '' THEN s
              ELSE lower({head}) || regexp_replace(s, '{_sq(URL_HEAD_RE)}', '', 'g')
         END AS url_canon
  FROM c0
)
SELECT doc_id, url, url_canon, (url_canon <> url) AS changed,
       CAST(count(*) OVER (PARTITION BY url_canon) AS BIGINT) AS n_same_canon
FROM c
"""


def _contamination_sql() -> str:
    from dq.contamination import BENCH_DOC_MOD, CONTAM_FLAG_BP, CONTAM_NGRAM_N

    n = CONTAM_NGRAM_N
    gram = " || ' ' || ".join(f"words[i+{j}]" for j in range(n))
    grams = (
        f"CASE WHEN len(words) >= {n} THEN "
        f"list_transform(range(1, len(words) - {n} + 2), i -> {gram}) "
        f"ELSE [] END"
    )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id, {grams} AS grams FROM w
), bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % {BENCH_DOC_MOD} = 0
), ev AS (
  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams, grams
  FROM g WHERE doc_id % {BENCH_DOC_MOD} <> 0
), hits AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM (SELECT doc_id, unnest(grams) AS gram FROM ev) e
  JOIN bench USING (gram)
  GROUP BY e.doc_id
), scored AS (
  SELECT ev.doc_id, ev.n_grams, COALESCE(hits.n_hits, 0) AS n_hits
  FROM ev LEFT JOIN hits USING (doc_id)
)
SELECT doc_id, n_grams, n_hits,
       CAST(CASE WHEN n_grams > 0
                 THEN floor(n_hits * 10000 / n_grams) ELSE 0 END AS BIGINT)
         AS contamination_bp,
       (CASE WHEN n_grams > 0
             THEN floor(n_hits * 10000 / n_grams) ELSE 0 END)
         >= {CONTAM_FLAG_BP} AS is_contaminated
FROM scored
"""


def _dup_span_sql() -> str:
    from dq.dedup import DUP_SPAN_FLAG_BP, DUP_SPAN_NGRAM_N

    n = DUP_SPAN_NGRAM_N
    gram = " || ' ' || ".join(f"words[i+{j}]" for j in range(n))
    grams = (
        f"CASE WHEN len(words) >= {n} THEN "
        f"list_transform(range(1, len(words) - {n} + 2), i -> {gram}) "
        f"ELSE [] END"
    )
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id, {grams} AS grams FROM w
), pairs AS (
  SELECT DISTINCT doc_id, unnest(grams) AS gram FROM g
), shared AS (
  SELECT gram FROM pairs GROUP BY gram HAVING count(*) >= 2
), ns AS (
  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM pairs p JOIN shared USING (gram)
  GROUP BY p.doc_id
), base AS (
  SELECT doc_id, CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams
  FROM g
), scored AS (
  SELECT base.doc_id, base.n_distinct_grams,
         COALESCE(ns.n_shared, 0) AS n_shared_grams
  FROM base LEFT JOIN ns USING (doc_id)
)
SELECT doc_id, n_distinct_grams, n_shared_grams,
       CAST(CASE WHEN n_distinct_grams > 0
                 THEN floor(n_shared_grams * 10000 / n_distinct_grams)
                 ELSE 0 END AS BIGINT) AS dup_span_bp,
       (CASE WHEN n_distinct_grams > 0
             THEN floor(n_shared_grams * 10000 / n_distinct_grams)
             ELSE 0 END) >= {DUP_SPAN_FLAG_BP} AS is_dup_heavy
FROM scored
"""


def _stratified_sample_sql() -> str:
    from dq.sampling import (
        LCG_ADD,
        LCG_MUL,
        SAMPLE_MOD,
        STRATA_BP,
        STRATA_DEFAULT_BP,
    )

    whens = " ".join(
        f"WHEN '{_sq(k)}' THEN {v}" for k, v in sorted(STRATA_BP.items())
    )
    rate = f"CASE lang {whens} ELSE {STRATA_DEFAULT_BP} END"
    bucket = f"(doc_id * {LCG_MUL} + {LCG_ADD}) % {SAMPLE_MOD}"
    return f"""
SELECT doc_id, lang,
       CAST({bucket} AS BIGINT) AS sample_bucket,
       CAST({rate} AS BIGINT) AS keep_rate_bp,
       ({bucket} < {rate}) AS sampled
FROM documents
"""


def _temperature_sample_sql() -> str:
    """Twin of dq.sampling.temperature_sample: integer radicand, IEEE sqrt,
    floor — isqrt-exact on both engines (radicand <= TEMP_SCALE << 2^52)."""
    from dq.sampling import LCG_ADD, LCG_MUL, SAMPLE_MOD, TEMP_SCALE

    bucket = f"(doc_id * {LCG_MUL} + {LCG_ADD}) % {SAMPLE_MOD}"
    return f"""
WITH c AS (
  SELECT coalesce(lang, chr(0)) AS strata, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
), m AS (
  SELECT min(n_docs) AS n_min FROM c
), r AS (
  SELECT strata,
         CAST(floor(sqrt(({TEMP_SCALE} * n_min) // n_docs)) AS BIGINT)
           AS keep_rate_bp
  FROM c, m
)
SELECT d.doc_id, d.lang,
       CAST({bucket.replace('doc_id', 'd.doc_id')} AS BIGINT) AS sample_bucket,
       r.keep_rate_bp,
       ({bucket.replace('doc_id', 'd.doc_id')} < r.keep_rate_bp) AS sampled
FROM documents d JOIN r ON coalesce(d.lang, chr(0)) = r.strata
"""


def _domain_cap_sql() -> str:
    from dq.sampling import DOMAIN_CAP_K
    from dq.urlstats import DOMAIN_RE

    return f"""
WITH u AS (
  SELECT doc_id, {_url_expr()} AS url FROM documents
), d AS (
  SELECT doc_id, regexp_extract(url, '{DOMAIN_RE}', 1) AS domain FROM u
), r AS (
  SELECT doc_id, domain,
         CAST(row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS INT)
           AS domain_rank
  FROM d
)
SELECT doc_id, domain, domain_rank FROM r WHERE domain_rank <= {DOMAIN_CAP_K}
"""


def _token_packing_sql() -> str:
    from dq.sampling import PACK_TOKEN_BUDGET

    return f"""
WITH t AS (
  -- coalesce twin of whitespace_token_count: NULL text counts 0 tokens
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {PACK_TOKEN_BUDGET}) AS BIGINT) AS bin_id
FROM t
"""


def _script_profiles_sql() -> str:
    """Twin of dq.textstats.script_profile over the planted multi-script
    corpus. The SCRIPT_CLASSES patterns are literal-char ranges (no \\u
    escapes), so the same strings are valid Java AND RE2 regexes; counts
    are codepoint arithmetic (length - length-after-removal) on both
    engines, and dominance ties break in SCRIPT_CLASSES order."""
    from dq.textstats import (
        SCRIPT_CLASSES,
        SCRIPT_PLANT_MOD,
        SCRIPT_SNIPPET_REPEAT,
        SCRIPT_SNIPPETS,
    )

    snip_whens = " ".join(
        f"WHEN {i} THEN '{_sq(s)}'" for i, s in enumerate(SCRIPT_SNIPPETS)
    )
    planted = (
        f"CASE WHEN doc_id % {SCRIPT_PLANT_MOD} = 0 "
        f"THEN coalesce(text, '') || ' ' || "
        f"repeat(CASE doc_id % {len(SCRIPT_SNIPPETS)} {snip_whens} END, "
        f"{SCRIPT_SNIPPET_REPEAT}) ELSE text END"
    )
    counts = ", ".join(
        f"CAST(length(coalesce(text, '')) - "
        f"length(regexp_replace(coalesce(text, ''), '{cls}', '', 'g')) "
        f"AS BIGINT) AS n_{name}"
        for name, cls in SCRIPT_CLASSES
    )
    m = "greatest(" + ", ".join(f"n_{name}" for name, _ in SCRIPT_CLASSES) + ")"
    dom_whens = " ".join(
        f"WHEN n_{name} = {m} THEN '{name}'" for name, _ in SCRIPT_CLASSES
    )
    cols = ", ".join(f"n_{name}" for name, _ in SCRIPT_CLASSES)
    return f"""
WITH t AS (
  SELECT doc_id, {planted} AS text FROM documents
), c AS (
  SELECT doc_id, {counts} FROM t
)
SELECT doc_id, {cols},
       CASE WHEN {m} = 0 THEN 'none' {dom_whens} END AS dominant_script
FROM c
"""


def _token_weight_sql() -> str:
    """Per-token hashed weight expression shared by the classifier twins
    (bound variable ``w``) — mirrors dq.classifier.token_weight."""
    from dq.classifier import POLY_MOD, POLY_MUL, TOXIC_WEIGHT_MICRO, WEIGHT_SPAN
    from dq.scrub import TOXIC_WORDS

    tox = ", ".join(f"'{_sq(t)}'" for t in TOXIC_WORDS)
    poly = (
        "list_reduce(list_transform(string_split(w, ''), "
        "c -> CAST(ascii(c) AS BIGINT)), "
        f"(a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD})"
    )
    return (
        f"CASE WHEN w IN ({tox}) THEN {TOXIC_WEIGHT_MICRO} "
        f"ELSE ({poly} % {WEIGHT_SPAN}) - {WEIGHT_SPAN // 2} END"
    )


def _dup_span_removed_sql() -> str:
    """Twin of dq.dedup.dup_span_removal: grams by raw string (the engine's
    incremental hash-of-hashes is a key substitution, injective because
    whitespace-split tokens contain no spaces), coverage via a correlated
    NOT EXISTS range test. Positions are 1-based here, 0-based in Spark —
    both sides use their own base consistently."""
    from dq.dedup import DUP_SPAN_NGRAM_N as n

    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'),
                     x -> x <> '') AS words
  FROM documents
), g AS (
  SELECT doc_id, unnest(range(1, greatest(len(words) - {n} + 2, 1))) AS s, words
  FROM w
), g2 AS (
  SELECT doc_id, s,
         lower(array_to_string(list_slice(words, s, s + {n - 1}), ' ')) AS gram
  FROM g
), shared AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g2)
  GROUP BY gram HAVING count(*) >= 2
), st AS (
  SELECT doc_id, s FROM g2 JOIN shared USING (gram)
), tok AS (
  SELECT doc_id, unnest(range(1, len(words) + 1)) AS i, words FROM w
), t2 AS (
  SELECT doc_id, i, words[i] AS tok FROM tok
), kept AS (
  SELECT t2.doc_id, t2.i, t2.tok FROM t2
  WHERE NOT EXISTS (SELECT 1 FROM st
                    WHERE st.doc_id = t2.doc_id
                      AND st.s <= t2.i AND t2.i < st.s + {n})
), re AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY i) AS txt
  FROM kept GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.words) AS BIGINT) AS n_tokens,
       CAST(len(w.words) - coalesce(re.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(re.txt, '') AS text_despanned
FROM w LEFT JOIN re USING (doc_id)
"""


def _lang_confusion_sql() -> str:
    """Twin of dq.queries.lang_confusion: the hint CTE is the verified
    lang_hint_sql construction (argmax = row_number over h DESC, lang DESC,
    matching Spark's array_max struct pick), then a plain (lang, hint)
    rollup with exact-int shares."""
    return f"""
WITH w AS (
  SELECT doc_id, lang AS decl, {_WORDS_LOWER} AS words FROM documents
), langs(lang, sw) AS (VALUES {_lang_values()}),
hits AS (
  SELECT doc_id, decl, lang, len(list_filter(words, x -> list_contains(sw, x))) AS h
  FROM w CROSS JOIN langs
), r AS (
  SELECT doc_id, decl, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
  FROM hits
), per AS (
  SELECT decl AS lang, lang AS lang_hint, CAST(count(*) AS BIGINT) AS n_docs
  FROM r WHERE rn = 1 GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS lang_total FROM per GROUP BY lang
)
SELECT per.lang, per.lang_hint, per.n_docs, tot.lang_total,
       per.n_docs::DOUBLE / tot.lang_total::DOUBLE AS cell_frac
FROM per JOIN tot USING (lang)
"""


def _doclen_percentiles_by_lang_sql() -> str:
    """Twin of dq.queries.doclen_percentiles_by_lang — the
    qualitativo_percentiles histogram-cumulative pick, keyed by lang over
    whitespace token counts."""
    from dq.queries import PCT_POINTS

    toks = (
        "len(list_filter(regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'), "
        "x -> x <> ''))"
    )
    picks = ",\n".join(
        f"       CAST(min(CASE WHEN cum >= CAST(ceil({p!r} * n) AS BIGINT) "
        f"THEN c END) AS BIGINT) AS p{tag}_tokens"
        for tag, p in PCT_POINTS
    )
    return f"""
WITH h AS (
  SELECT lang, CAST({toks} AS BIGINT) AS c, count(*) AS cnt
  FROM documents GROUP BY 1, 2
), r AS (
  SELECT lang, c,
         sum(cnt) OVER (PARTITION BY lang ORDER BY c
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS n
  FROM h
)
SELECT lang,
{picks}
FROM r GROUP BY lang
"""


def _vocab_stats_sql() -> str:
    """Twin of dq.textstats.vocab_stats_by_lang: identical hash-agg
    formulation; the top term is min(term) among max-count terms (the
    tfidf-verified binary string ordering); doubles are final divisions of
    exact integers only."""
    return f"""
WITH w AS (
  SELECT lang,
         unnest({_WORDS_LOWER_NS}) AS term
  FROM documents
), t AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1, 2
), a AS (
  SELECT lang,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab_size,
         CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         CAST(max(cnt) AS BIGINT) AS top_cnt
  FROM t GROUP BY lang
), tp AS (
  SELECT t.lang, min(t.term) AS top_token
  FROM t JOIN a USING (lang) WHERE t.cnt = a.top_cnt GROUP BY t.lang
), d AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
)
SELECT d.lang, d.n_docs,
       CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.vocab_size, 0) AS BIGINT) AS vocab_size,
       CAST(coalesce(a.n_hapax, 0) AS BIGINT) AS n_hapax,
       CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
            ELSE a.vocab_size::DOUBLE / a.n_tokens::DOUBLE END AS type_token_ratio,
       CASE WHEN coalesce(a.vocab_size, 0) = 0 THEN 0.0
            ELSE a.n_hapax::DOUBLE / a.vocab_size::DOUBLE END AS hapax_frac,
       coalesce(tp.top_token, '') AS top_token,
       CAST(coalesce(a.top_cnt, 0) AS BIGINT) AS top_cnt,
       CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0.0
            ELSE a.top_cnt::DOUBLE / a.n_tokens::DOUBLE END AS top_share
FROM d LEFT JOIN a USING (lang) LEFT JOIN tp USING (lang)
"""


def _domain_boilerplate_sql() -> str:
    """Twin of dq.queries.domain_boilerplate: anti-join on the raw
    (source, line) pair (the engine's xxhash64(source, line) is a key
    substitution); threshold is the same integer cross-multiplication."""
    from dq.lines import (
        BOILERPLATE_LINES,
        DOMAIN_BANNER_PREFIX,
        DOMAIN_BANNER_SUFFIX,
        DOMAIN_BOILER_FRAC_DEN,
        DOMAIN_BOILER_FRAC_NUM,
        DOMAIN_BOILER_MIN_DOCS,
    )

    n = len(BOILERPLATE_LINES)
    banner = (
        f"'{_sq(DOMAIN_BANNER_PREFIX)}' || source || '{_sq(DOMAIN_BANNER_SUFFIX)}'"
    )
    rotating = _boiler_case(f"doc_id % {n}")
    return f"""
WITH l AS (
  SELECT doc_id, source, 1 AS pos, {banner} AS line FROM documents
  UNION ALL SELECT doc_id, source, 2 AS pos, {rotating} AS line FROM documents
  UNION ALL SELECT doc_id, source, 3 AS pos, coalesce(text, '') AS line
            FROM documents
), dom AS (
  SELECT source, count(*) AS dom_docs FROM documents GROUP BY source
), hot AS (
  SELECT l.source, l.line FROM l JOIN dom USING (source)
  GROUP BY l.source, l.line, dom.dom_docs
  HAVING count(DISTINCT doc_id) >= {DOMAIN_BOILER_MIN_DOCS}
     AND count(DISTINCT doc_id) * {DOMAIN_BOILER_FRAC_DEN}
         >= dom.dom_docs * {DOMAIN_BOILER_FRAC_NUM}
), kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l LEFT JOIN hot ON l.source = hot.source AND l.line = hot.line
  WHERE hot.line IS NULL
), re AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(3 AS BIGINT) AS n_lines,
       CAST(3 - COALESCE(re.n_kept, 0) AS BIGINT) AS n_dropped,
       COALESCE(re.text_clean, '') AS text_clean
FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id
"""


def _dsir_selection_sql() -> str:
    """Twin of dq.queries.dsir_selection. Same shared constants
    (DSIR_BUCKETS/SCALE/TARGET_LANG/SELECT_K, POLY_MUL/MOD); the selection
    is the plain ``row_number() OVER (ORDER BY imp DESC, doc_id) <= k``
    form the engine's histogram-threshold pick is equivalent to by
    construction. All ratio arithmetic is nonnegative int64, so DuckDB's
    flooring ``//`` equals Spark's truncating ``DIV``."""
    from dq.classifier import POLY_MOD, POLY_MUL
    from dq.dsir import DSIR_BUCKETS, DSIR_SCALE, DSIR_SELECT_K, DSIR_TARGET_LANG

    poly = (
        "list_reduce(list_transform(string_split(gram, ''), "
        "c -> CAST(ascii(c) AS BIGINT)), "
        f"(a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD})"
    )
    return f"""
WITH w AS (
  SELECT doc_id, coalesce(lang = '{DSIR_TARGET_LANG}', FALSE) AS is_target,
         {_WORDS_LOWER_NS} AS words
  FROM documents
), g AS (
  SELECT doc_id, is_target,
         unnest(list_concat(words,
             list_transform(range(1, greatest(len(words), 1)),
                 i -> words[i] || ' ' || words[i + 1]))) AS gram
  FROM w
), h AS (
  SELECT doc_id, is_target, ({poly}) % {DSIR_BUCKETS} AS bucket FROM g
), o AS (
  SELECT doc_id, bucket, bool_or(is_target) AS is_target,
         CAST(count(*) AS BIGINT) AS cnt
  FROM h GROUP BY doc_id, bucket
), pb AS (
  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS raw_b,
         CAST(coalesce(sum(CASE WHEN is_target THEN cnt END), 0) AS BIGINT) AS tgt_b
  FROM o GROUP BY bucket
), tot AS (
  SELECT CAST(sum(raw_b) AS BIGINT) AS raw_total,
         CAST(sum(tgt_b) AS BIGINT) AS tgt_total
  FROM pb
), r AS (
  SELECT bucket,
         ((tgt_b + 1) * (raw_total + {DSIR_BUCKETS}) * {DSIR_SCALE})
           // ((raw_b + 1) * (tgt_total + {DSIR_BUCKETS})) AS ratio_micro
  FROM pb, tot
), s AS (
  SELECT o.doc_id, CAST(sum(o.cnt) AS BIGINT) AS n_grams,
         CAST(sum(o.cnt * r.ratio_micro) AS BIGINT) AS wsum
  FROM o JOIN r USING (bucket) GROUP BY o.doc_id
), wts AS (
  SELECT d.doc_id, CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
         CAST(coalesce(s.wsum // s.n_grams, {DSIR_SCALE}) AS BIGINT) AS imp_micro
  FROM documents d LEFT JOIN s USING (doc_id)
)
SELECT doc_id, n_grams, imp_micro,
       (row_number() OVER (ORDER BY imp_micro DESC, doc_id) <= {DSIR_SELECT_K})
         AS selected
FROM wts
"""


def _quality_classifier_sql() -> str:
    from dq.classifier import KEEP_TAU_MICRO

    weight = _token_weight_sql()
    return f"""
WITH t AS (SELECT doc_id, {_WORDS_LOWER_NS} AS words FROM documents)
SELECT doc_id,
       CAST(len(words) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(words, w -> {weight})), 0)
            AS BIGINT) AS score_micro,
       (CAST(coalesce(list_sum(list_transform(words, w -> {weight})), 0)
             AS BIGINT) >= {KEEP_TAU_MICRO} * len(words)) AS keep_quality
FROM t
"""


def _dup_ngram_sql() -> str:
    """Twin of dq.textstats.dup_ngram_char_stats over the self-concat
    planted corpus: groups by the raw gram (Spark groups by xxhash64 — key
    substitution); NULL text and <n-word docs report 0 grams / 0.0."""
    from dq.queries import DUP_NGRAM_PLANT_MOD
    from dq.textstats import DUP_NGRAM_N

    n = DUP_NGRAM_N
    return f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % {DUP_NGRAM_PLANT_MOD} = 0 THEN text || ' ' || text
              ELSE text END AS text
  FROM documents
), w AS (
  SELECT doc_id, {_WORDS_LOWER} AS words FROM t WHERE text IS NOT NULL
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words) - {n - 2}),
                i -> array_to_string(list_slice(words, i, i + {n - 1}), ' '))) AS gram
  FROM w WHERE len(words) >= {n}
), per AS (
  SELECT doc_id, gram, length(gram) AS len, count(*) AS c
  FROM g GROUP BY doc_id, gram
), agg AS (
  SELECT doc_id, sum(c) AS n_grams, sum(c * len) AS tot,
         sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dup
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
       CASE WHEN coalesce(a.tot, 0) = 0 THEN 0.0
            ELSE a.dup::DOUBLE / a.tot::DOUBLE END AS dup_ngram_char_frac
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def _nfc_normalized_sql() -> str:
    """Twin of dq.normalize over the planted decomposed suffix: DuckDB's
    utf8proc and CPython's unicodedata share the frozen UAX#15 NFC tables
    (agreement pytest-pinned on combining marks / jamo / singletons)."""
    from dq.queries import NFC_PLANT_MOD, NFC_PLANT_SUFFIX

    suffix = NFC_PLANT_SUFFIX.replace("'", "''")
    return f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % {NFC_PLANT_MOD} = 0 THEN text || '{suffix}'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       nfc_normalize(text) AS text_nfc,
       coalesce(nfc_normalize(text) <> text, FALSE) AS changed
FROM t
"""


def _ccnet_buckets_sql() -> str:
    """Twin of dq.classifier.ccnet_buckets. DuckDB's ``//`` floors while
    Spark's ``DIV`` truncates toward zero — the rate is computed on the
    absolute sum and re-signed so both engines truncate identically."""
    from dq.classifier import CCNET_RATE_SCALE

    weight = _token_weight_sql()
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_WORDS_LOWER_NS} AS words FROM documents
), s AS (
  SELECT doc_id, lang,
         CAST(len(words) AS BIGINT) AS n,
         CAST(coalesce(list_sum(list_transform(words, w -> {weight})), 0)
              AS BIGINT) AS sm
  FROM t
), rated AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN n = 0 THEN 0
                   WHEN sm < 0 THEN -(((-sm) * {CCNET_RATE_SCALE}) // n)
                   ELSE (sm * {CCNET_RATE_SCALE}) // n END AS BIGINT) AS rate_nano
  FROM s
), hist AS (
  SELECT lang, rate_nano, count(*) AS cnt FROM rated GROUP BY 1, 2
), cum AS (
  SELECT lang, rate_nano,
         sum(cnt) OVER (PARTITION BY lang ORDER BY rate_nano) AS c,
         sum(cnt) OVER (PARTITION BY lang) AS ntot
  FROM hist
), edges AS (
  SELECT lang,
         min(CASE WHEN c >= (ntot + 2) // 3 THEN rate_nano END) AS e1,
         min(CASE WHEN c >= (2 * ntot + 2) // 3 THEN rate_nano END) AS e2
  FROM cum GROUP BY lang
)
SELECT r.doc_id, r.lang, r.rate_nano,
       CASE WHEN r.rate_nano <= e.e1 THEN 'tail'
            WHEN r.rate_nano <= e.e2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM rated r JOIN edges e USING (lang)
"""


_WORDS = "list_filter(regexp_split_to_array(text, '[\\s\\x0b]+'), x -> x <> '')"
_WORDS_LOWER = "list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '')"
# NULL-safe twin of the above for operators whose Spark side coalesces
# NULL text to '' (classifier/ccnet): n_tokens 0, never NULL/-1
_WORDS_LOWER_NS = "list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[\\s\\x0b]+'), x -> x <> '')"
_LINES = "regexp_split_to_array(text, '\\n')"
_STOPS = _sql_list(STOPWORDS)


def _heuristics_cte(from_sql: str = "documents", id_col: str = "doc_id") -> str:
    """Per-doc metric CTE mirroring dq.heuristics.with_heuristic_metrics,
    parameterized over the source relation and row key so the SAME metric
    SQL serves both the documents-table query and the composed pipeline
    oracle (pipeline_keep_sql keys by url over a pages CTE)."""
    stop_hits = f"list_filter(words, x -> list_contains({_STOPS}, lower(x)))"
    return f"""
base0 AS (
  SELECT {id_col}, coalesce(text, '') AS text FROM {from_sql}
), base AS (
  SELECT {id_col}, text, {_WORDS} AS words, {_LINES} AS lines FROM base0
), m AS (
  SELECT {id_col},
    CAST(len(words) AS BIGINT) AS n_words,
    CASE WHEN len(words) > 0
         THEN CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words)
         ELSE 0.0 END AS mean_word_len,
    CASE WHEN length(text) > 0
         THEN CAST(length(text) - length(regexp_replace(text, '{SYMBOL_CLASS}', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS symbol_ratio,
    CASE WHEN len(words) > 0
         THEN CAST(len({stop_hits}) AS DOUBLE) / len(words)
         ELSE 0.0 END AS stop_ratio,
    CAST(len(list_distinct(list_transform({stop_hits}, x -> lower(x)))) AS BIGINT) AS n_distinct_stops,
    CASE WHEN len(lines) > 0
         THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
         ELSE 0.0 END AS dup_line_ratio,
    CASE WHEN len(lines) > 0
         THEN CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS DOUBLE) / len(lines)
         ELSE 0.0 END AS ellipsis_line_ratio,
    CASE WHEN len(words) > 0
         THEN CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-zÀ-ÿ]'))) AS DOUBLE) / len(words)
         ELSE 0.0 END AS alpha_word_ratio
  FROM base
)"""


def _keep_pred(t: dict | None = None) -> str:
    t = t or THRESHOLDS
    return (
        f"(n_words >= {t['min_words']} AND n_words <= {t['max_words']}"
        f" AND mean_word_len >= {t['min_mean_word_len']!r} AND mean_word_len <= {t['max_mean_word_len']!r}"
        f" AND symbol_ratio <= {t['max_symbol_ratio']!r}"
        f" AND stop_ratio >= {t['min_stop_ratio']!r}"
        f" AND n_distinct_stops >= {t['min_distinct_stops']}"
        f" AND dup_line_ratio <= {t['max_dup_line_ratio']!r}"
        f" AND ellipsis_line_ratio <= {t['max_ellipsis_line_ratio']!r}"
        f" AND alpha_word_ratio >= {t['min_alpha_word_ratio']!r})"
    )


def _manifest_values() -> str:
    return ", ".join(
        f"('{b}', '{t}', '{d}', '{c}', '{f}')" for b, t, d, c, f in REMEDIATION_MANIFEST
    )


def _lang_values() -> str:
    return ", ".join(
        f"('{lang}', {_sql_list(sw)})" for lang, sw in LANG_HINT_STOPWORDS.items()
    )


def _embedding_pairs_lsh_sql() -> str:
    """SRP-LSH candidate mining twin: integer hyperplanes generated from the
    SAME numpy constants as dq.similarity.quantized_srp_signature, so bucket
    membership — not just the verify predicate — is bit-identical."""
    from dq.similarity import quantized_hyperplanes

    planes = quantized_hyperplanes(EMB_DIM, EMB_SRP_BITS, EMB_SRP_SEED)
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(list_zip(qv, "
        f"[{', '.join(str(int(w)) for w in planes[b])}]::BIGINT[]), p -> p[1] * p[2])) >= 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(EMB_SRP_BITS)
    )
    n_chunks = EMB_SRP_BITS // 4
    chunk_ids = ", ".join(str(c) for c in range(n_chunks))
    t2 = EMB_PAIR_MIN_COSINE * EMB_PAIR_MIN_COSINE
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
), n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2,
         CAST({bit_terms} AS BIGINT) AS sig
  FROM q
), c AS (
  SELECT vec_id, ((sig >> (4 * u.chunk_id)) & 15) AS chunk, u.chunk_id
  FROM n, unnest([{chunk_ids}]) AS u(chunk_id)
), pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM c a JOIN c b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.vec_id < b.vec_id
), scored AS (
  SELECT p.id_a, p.id_b,
         CAST(list_sum(list_transform(list_zip(na.qv, nb.qv), z -> z[1] * z[2])) AS BIGINT) AS qdot,
         na.n2 AS na2, nb.n2 AS nb2
  FROM pairs p
  JOIN n na ON na.vec_id = p.id_a
  JOIN n nb ON nb.vec_id = p.id_b
)
SELECT id_a, id_b, qdot FROM scored
WHERE qdot > 0
  AND CAST(qdot AS DOUBLE) * CAST(qdot AS DOUBLE)
      >= {t2!r} * CAST(na2 AS DOUBLE) * CAST(nb2 AS DOUBLE)
"""


def _kmeans_cte() -> str:
    """Shared CTE chain reproducing dq.clustering.kmeans_assign bit-for-bit:
    quantize -> seed centroids -> KM_ITERS (assign, floor-mean update)
    rounds -> final assignment ``af`` (vec_id, qv, cid, d2)."""
    from dq.clustering import KM_CENT_MOD, KM_ITERS
    from dq.queries import EMB_DIM

    d2 = (
        "CAST(list_sum(list_transform(list_zip(a.qv, c.cq), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )

    def assign(name: str, cents: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, qv, cid, d2 FROM (
    SELECT a.vec_id, a.qv, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY {d2}, c.cid) AS rn
    FROM q a CROSS JOIN {cents} c
  ) WHERE rn = 1
)"""

    parts = [
        """q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
)""",
        f"c0 AS (SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id % {KM_CENT_MOD} = 0)",
    ]
    for r in range(KM_ITERS):
        parts.append(assign(f"a{r}", f"c{r}"))
        parts.append(f"""u{r} AS (
  SELECT cid, i AS pos, CAST(floor(sum(qv[i]) / count(*)) AS BIGINT) AS m
  FROM a{r} CROSS JOIN unnest(range(1, {EMB_DIM + 1})) AS t(i)
  GROUP BY cid, i
)""")
        parts.append(
            f"c{r + 1} AS (SELECT cid, list(m ORDER BY pos) AS cq FROM u{r} GROUP BY cid)"
        )
    parts.append(assign("af", f"c{KM_ITERS}"))
    return "WITH " + ",\n".join(parts)


def _kmeans_clusters_sql() -> str:
    return f"""{_kmeans_cte()}
SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, d2 AS sq_dist FROM af
"""


def _semdedup_sql() -> str:
    from dq.clustering import SEMDEDUP_TAU

    t2 = SEMDEDUP_TAU * SEMDEDUP_TAU
    return f"""{_kmeans_cte()},
n AS (
  SELECT vec_id, qv, cid,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM af
), drops AS (
  SELECT DISTINCT b.vec_id FROM n a JOIN n b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS BIGINT) > 0
    AND CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS DOUBLE)
        * CAST(list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) AS DOUBLE)
        >= {t2!r} * CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)
)
SELECT af.vec_id, CAST(af.cid AS BIGINT) AS cluster_id,
       (af.vec_id NOT IN (SELECT vec_id FROM drops)) AS keep_semantic
FROM af
"""


def _ngram_jaccard_sql() -> str:
    """Exact 3-gram Jaccard for the planted dup pairs (string shingles) —
    used standalone and nested as the edge source of near_dup_clusters."""
    return f"""
WITH base AS ({_PLANTED_BASE}),
pairs AS (
  SELECT doc_id AS id_a, doc_id + {PLANT_EXACT_OFFSET} AS id_b
  FROM documents WHERE doc_id % {PLANT_EXACT_MOD} = 0
  UNION ALL
  SELECT doc_id, doc_id + {PLANT_NEAR_OFFSET}
  FROM documents WHERE doc_id % {PLANT_NEAR_MOD} = 0
), w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS words
  FROM base
), sh AS (
  SELECT doc_id,
         CASE WHEN len(words) >= {JACCARD_SHINGLE_N}
              THEN list_distinct(list_transform(range(1, len(words) - {JACCARD_SHINGLE_N - 2}),
                   i -> array_to_string(list_slice(words, i, i + {JACCARD_SHINGLE_N - 1}), ' ')))
              ELSE [coalesce(array_to_string(words, ' '), '')] END AS s
  FROM w
)
SELECT p.id_a, p.id_b,
       CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
            THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s)))
            ELSE 0.0 END AS jaccard
FROM pairs p
JOIN sh a ON a.doc_id = p.id_a
JOIN sh b ON b.doc_id = p.id_b
"""


def _pipeline_keep_sql() -> str:
    """Composed flagship oracle: heuristics + scrub + exact-dedup gates over
    the docs_as_pages shape, keyed by url — hash-checks the pipeline's
    decision WIRING, not just its pieces. The dedup twin of the engine's
    (fingerprint, url) unit join: with unique urls, a row is a non-survivor
    iff its url is not the minimal url of its text cluster."""
    from dq.pipeline import DOCS_CONFIG
    from dq.queries import PAGES_URL_PREFIX, PAGES_URL_SEP

    keep = _keep_pred(DOCS_CONFIG.thresholds)
    return f"""
WITH pages AS (
  SELECT '{PAGES_URL_PREFIX}' || source || '{PAGES_URL_SEP}' || CAST(doc_id AS VARCHAR) AS url, text
  FROM documents
), {_heuristics_cte(from_sql="pages", id_col="url")},
s AS (
  SELECT url, {_scrub_chain("text")} IS DISTINCT FROM text AS pii_found FROM pages
), d AS (
  SELECT url, url <> min(url) OVER (PARTITION BY text) AS is_exact_dup FROM pages
)
SELECT m.url,
       {keep} AS keep_heuristic,
       d.is_exact_dup,
       s.pii_found,
       ({keep} AND NOT d.is_exact_dup) AS keep
FROM m JOIN s USING (url) JOIN d USING (url)
"""


def _pipeline_funnel_sql() -> str:
    """Gate-combination funnel: the flagship CTEs grouped by the three
    boolean gates (composes _pipeline_keep_sql's already-oracled wiring)."""
    body = _pipeline_keep_sql()
    return f"""
WITH flags AS ({body})
SELECT keep_heuristic, is_exact_dup, pii_found,
       CAST(count(*) AS BIGINT) AS n_docs
FROM flags GROUP BY 1, 2, 3
"""


def _bloom_ledger_probe_sql() -> str:
    """Bloom-filter twin of dq.bloom over the incremental-dedup batches:
    k bit positions per sha256 fingerprint from disjoint 8-hex-char slices,
    words = bit_or of 1<<(pos%32) grouped by pos//32, probe = bool_and of
    the k bit tests; exact membership rides along as the truth column."""
    from dq.bloom import BLOOM_K, BLOOM_M_BITS, WORD_BITS

    pos = (
        f"(('0x' || substr(fp, 1 + 8 * (i - 1), 8))::BIGINT % {BLOOM_M_BITS})"
    )
    return f"""
WITH b1 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MOD} = 0
), b2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0
  UNION ALL
  SELECT doc_id + {INCR_RECRAWL_OFFSET}, text FROM documents
  WHERE doc_id % {INCR_RECRAWL_MOD} = 0
), ledger AS (
  SELECT DISTINCT sha256(coalesce(text, chr(0))) AS fp FROM b1
), words AS (
  SELECT pos // {WORD_BITS} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {WORD_BITS} AS INT)) AS bits
  FROM (
    SELECT {pos} AS pos
    FROM ledger CROSS JOIN unnest(range(1, {BLOOM_K + 1})) AS t(i)
  )
  GROUP BY 1
), probe AS (
  SELECT doc_id, sha256(coalesce(text, chr(0))) AS fp FROM b2
), probe_pos AS (
  SELECT doc_id, {pos} AS pos
  FROM probe CROSS JOIN unnest(range(1, {BLOOM_K + 1})) AS t(i)
), hits AS (
  SELECT p.doc_id,
         (w.bits IS NOT NULL
          AND ((w.bits >> CAST(p.pos % {WORD_BITS} AS INT)) & 1) = 1) AS hit
  FROM probe_pos p LEFT JOIN words w ON w.word_idx = p.pos // {WORD_BITS}
), maybe AS (
  SELECT doc_id, bool_and(hit) AS bloom_maybe FROM hits GROUP BY doc_id
), truth AS (
  SELECT p.doc_id, (l.fp IS NOT NULL) AS in_ledger
  FROM probe p LEFT JOIN ledger l ON l.fp = p.fp
)
SELECT CAST(m.doc_id AS BIGINT) AS doc_id, m.bloom_maybe, t.in_ledger
FROM maybe m JOIN truth t USING (doc_id)
"""


def _paragraph_bloom_dedup_sql() -> str:
    """Twin of dq.lines.paragraph_bloom_dedup over the multiline corpus:
    batch-1 paragraphs seed the same hex-slice Bloom words; each batch-2
    paragraph's k bit tests AND into the drop verdict; survivors re-join in
    position order. Same word/position arithmetic as the bloom_ledger twin."""
    from dq.bloom import BLOOM_K, BLOOM_M_BITS, WORD_BITS
    from dq.lines import FOOTER_MOD
    from dq.queries import INCR_BATCH_MOD

    header, body, footer = _multiline_pieces()
    pos = f"(('0x' || substr(fp, 1 + 8 * (i - 1), 8))::BIGINT % {BLOOM_M_BITS})"
    n_lines = f"CASE WHEN d.doc_id % {FOOTER_MOD} = 0 THEN 3 ELSE 2 END"
    return f"""
WITH l AS (
  SELECT doc_id, 1 AS lpos, {header} AS line FROM documents
  UNION ALL SELECT doc_id, 2 AS lpos, {body} AS line FROM documents
  UNION ALL SELECT doc_id, 3 AS lpos, {footer} AS line FROM documents
            WHERE doc_id % {FOOTER_MOD} = 0
), seedfps AS (
  SELECT DISTINCT sha256(line) AS fp FROM l WHERE doc_id % {INCR_BATCH_MOD} = 0
), words AS (
  SELECT pos // {WORD_BITS} AS word_idx,
         bit_or(1::BIGINT << CAST(pos % {WORD_BITS} AS INT)) AS bits
  FROM (
    SELECT {pos} AS pos
    FROM seedfps CROSS JOIN unnest(range(1, {BLOOM_K + 1})) AS t(i)
  )
  GROUP BY 1
), probe AS (
  SELECT doc_id, lpos, line, sha256(line) AS fp FROM l
  WHERE doc_id % {INCR_BATCH_MOD} <> 0
), probe_pos AS (
  SELECT doc_id, lpos, {pos} AS pos
  FROM probe CROSS JOIN unnest(range(1, {BLOOM_K + 1})) AS t(i)
), verdicts AS (
  SELECT pp.doc_id, pp.lpos,
         bool_and(w.bits IS NOT NULL
                  AND ((w.bits >> CAST(pp.pos % {WORD_BITS} AS INT)) & 1) = 1
         ) AS maybe
  FROM probe_pos pp LEFT JOIN words w ON w.word_idx = pp.pos // {WORD_BITS}
  GROUP BY pp.doc_id, pp.lpos
), re AS (
  SELECT p.doc_id, count(*) AS n_kept,
         string_agg(p.line, chr(10) ORDER BY p.lpos) AS text_clean
  FROM probe p JOIN verdicts v ON p.doc_id = v.doc_id AND p.lpos = v.lpos
  WHERE NOT v.maybe
  GROUP BY p.doc_id
)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST({n_lines} AS BIGINT) AS n_paras,
       CAST({n_lines} - COALESCE(re.n_kept, 0) AS BIGINT) AS n_flagged,
       COALESCE(re.text_clean, '') AS text_clean
FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id
WHERE d.doc_id % {INCR_BATCH_MOD} <> 0
"""


def _dup_cluster_histogram_sql() -> str:
    """Family-size histogram over the planted-replica corpus: grouping by
    the raw text ≡ the Spark side's null-safe fingerprint key (pure
    substitution, line_dedup precedent); share is integer cross-multiplied
    basis points — no doubles cross engines."""
    from dq.queries import HIST_PLANT_MOD_A, HIST_PLANT_MOD_B

    return f"""
WITH corpus AS (
  SELECT text FROM documents
  UNION ALL SELECT text FROM documents WHERE doc_id % {HIST_PLANT_MOD_A} = 0
  UNION ALL SELECT text FROM documents WHERE doc_id % {HIST_PLANT_MOD_B} = 0
), fams AS (
  SELECT count(*) AS cluster_size FROM corpus GROUP BY coalesce(text, chr(0))
), tot AS (
  SELECT count(*) AS total FROM corpus
), hist AS (
  SELECT cluster_size, count(*) AS n_clusters FROM fams GROUP BY cluster_size
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
       CAST((cluster_size * n_clusters * 10000) // total AS BIGINT) AS share_bp
FROM hist CROSS JOIN tot
"""


def _kmv_corpus_overlap_sql() -> str:
    """KMV twin of dq.sketch over the incremental batches: same 15-hex-char
    hash, same sort-limit sketches, same single-division estimates (the
    (k-1)*M numerator is embedded as one precomputed double literal on both
    engines, so the doubles are bit-identical)."""
    from dq.sketch import KMV_HEX_CHARS, KMV_K, KMV_M

    num = repr(float(KMV_K - 1) * float(KMV_M))
    h = f"('0x' || substr(sha256(coalesce(text, chr(0))), 1, {KMV_HEX_CHARS}))::BIGINT"
    return f"""
WITH b1 AS (
  SELECT text FROM documents WHERE doc_id % {INCR_BATCH_MOD} = 0
), b2 AS (
  SELECT text FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0
  UNION ALL
  SELECT text FROM documents WHERE doc_id % {INCR_RECRAWL_MOD} = 0
), sa AS (
  SELECT DISTINCT {h} AS h FROM b1 ORDER BY h LIMIT {KMV_K}
), sb AS (
  SELECT DISTINCT {h} AS h FROM b2 ORDER BY h LIMIT {KMV_K}
), su AS (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) ORDER BY h LIMIT {KMV_K}
), ea AS (
  SELECT count(*) AS n_sketch_a, max(h) AS kth_min_a FROM sa
), eb AS (
  SELECT count(*) AS n_sketch_b, max(h) AS kth_min_b FROM sb
), inter AS (
  SELECT count(*) AS x FROM su JOIN sa USING (h) JOIN sb USING (h)
), nu AS (
  SELECT count(*) AS n FROM su
)
SELECT
  CAST(n_sketch_a AS BIGINT) AS n_sketch_a,
  kth_min_a,
  CASE WHEN n_sketch_a < {KMV_K} THEN n_sketch_a::DOUBLE
       ELSE {num} / kth_min_a::DOUBLE END AS est_distinct_a,
  CAST(n_sketch_b AS BIGINT) AS n_sketch_b,
  kth_min_b,
  CASE WHEN n_sketch_b < {KMV_K} THEN n_sketch_b::DOUBLE
       ELSE {num} / kth_min_b::DOUBLE END AS est_distinct_b,
  CAST(x AS BIGINT) AS inter_in_union_sketch,
  x::DOUBLE / n::DOUBLE AS jaccard_est
FROM ea, eb, inter, nu
"""


def _user_sessions_sql() -> str:
    """Twin of dq.sessions.session_rollup: same (ts, event_id) tie-broken
    window, date_diff('second') for both the gap test and the span (exact
    bigints on both engines), cents quantized before summing."""
    from dq.sessions import SESSION_GAP_SECONDS

    w = "PARTITION BY user_id ORDER BY ts, event_id"
    return f"""
WITH s AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER ({w}) IS NULL
                OR date_diff('second', lag(ts) OVER ({w}), ts) > {SESSION_GAP_SECONDS}
              THEN 1 ELSE 0 END AS new_s,
         event_id
  FROM events
), t AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM s
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS span_sec,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents_total
FROM t GROUP BY 1, 2
"""


def _link_edges_ctes() -> str:
    """Edge-list CTEs for the webgraph twins: DuckDB rebuilds the pages'
    deterministic outlinks from the dq.webgraph constants (the Spark side
    mines them back out of the rendered html with a regexp — the oracle
    checks the whole render→extract→aggregate chain). A NULL-text page
    renders NULL html (dq.synth.render_html_col), so it has no outlinks."""
    from dq.webgraph import LINK_DOMAINS, LINK_HUB, LINK_MULTS

    docs = "FROM documents WHERE text IS NOT NULL"
    selects = [
        f"SELECT source AS src_domain,"
        f" 'src' || CAST((doc_id * {m}) % {LINK_DOMAINS} AS VARCHAR) AS dst_domain"
        f" {docs}"
        for m in LINK_MULTS
    ] + [f"SELECT source AS src_domain, 'src{LINK_HUB}' AS dst_domain {docs}"]
    union = "\n  UNION ALL\n  ".join(selects)
    return f"""links AS (
  {union}
), edges AS (
  SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS weight
  FROM links GROUP BY 1, 2
)"""


def _anchor_top_terms_sql() -> str:
    """Twin of dq.webgraph anchor_terms + top_anchor_terms: rebuild the
    (dst_domain, term) pairs from the vocabulary arithmetic (the Spark side
    regex-extracts them back out of the planted html), aggregate, and take
    the deterministic top-K per domain."""
    from dq.webgraph import ANCHOR_TOP_K, ANCHOR_VOCAB, LINK_DOMAINS, LINK_MULTS

    vocab_whens = " ".join(
        f"WHEN {i} THEN '{_sq(w)}'" for i, w in enumerate(ANCHOR_VOCAB)
    )
    selects = [
        f"SELECT 'src' || CAST((doc_id * {m}) % {LINK_DOMAINS} AS VARCHAR) AS dst_domain,"
        f" CASE (doc_id * {m}) % {len(ANCHOR_VOCAB)} {vocab_whens} END AS term"
        f" FROM documents"
        for m in LINK_MULTS
    ]
    union = "\n  UNION ALL\n  ".join(selects)
    return f"""
WITH pairs AS (
  {union}
), agg AS (
  SELECT dst_domain, term, CAST(count(*) AS BIGINT) AS n_mentions
  FROM pairs GROUP BY 1, 2
)
SELECT dst_domain, term, n_mentions,
       CAST(row_number() OVER (
         PARTITION BY dst_domain ORDER BY n_mentions DESC, term ASC
       ) AS BIGINT) AS term_rank
FROM agg
QUALIFY term_rank <= {ANCHOR_TOP_K}
"""


def _pagerank_ctes() -> tuple[str, str]:
    """(CTE chain, final relation name) for the unrolled integer PageRank:
    DuckDB's ``//`` and Spark's ``DIV`` agree on positive integers, so
    every round's ranks are bit-identical. Shared by the standalone
    pagerank twin and the per-page prior join-back."""
    from dq.webgraph import DAMP_DEN, DAMP_NUM, PAGERANK_ITERS, RANK_BASE, RANK_SCALE

    rounds = []
    prev = "r0"
    for i in range(1, PAGERANK_ITERS + 1):
        rounds.append(
            f"""c{i} AS (
  SELECT e.dst_domain AS domain, sum((r."rank" * e.weight) // o.out_w) AS s
  FROM edges e JOIN {prev} r ON e.src_domain = r.domain
  JOIN outw o ON e.src_domain = o.src_domain
  GROUP BY 1
), r{i} AS (
  SELECT n.domain,
         CAST({RANK_BASE} + ({DAMP_NUM} * coalesce(c.s, 0)) // {DAMP_DEN} AS BIGINT) AS "rank"
  FROM nodes n LEFT JOIN c{i} c USING (domain)
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(rounds)
    ctes = f"""{_link_edges_ctes()},
nodes AS (
  SELECT src_domain AS domain FROM edges
  UNION
  SELECT dst_domain AS domain FROM edges
), outw AS (
  SELECT src_domain, CAST(sum(weight) AS BIGINT) AS out_w FROM edges GROUP BY 1
), r0 AS (
  SELECT domain, CAST({RANK_SCALE} AS BIGINT) AS "rank" FROM nodes
),
{chain}"""
    return ctes, prev


def _domain_pagerank_sql() -> str:
    ctes, final = _pagerank_ctes()
    return f"""
WITH {ctes}
SELECT domain, "rank" FROM {final}
"""


def _page_rank_prior_sql() -> str:
    """Per-page prior: the domain rank joined back onto every url."""
    from dq.queries import PAGES_URL_PREFIX, PAGES_URL_SEP

    ctes, final = _pagerank_ctes()
    return f"""
WITH {ctes}
SELECT '{PAGES_URL_PREFIX}' || d.source || '{PAGES_URL_SEP}' || d.doc_id AS url,
       r."rank" AS domain_rank
FROM documents d JOIN {final} r ON r.domain = d.source
"""


def _token_drift_sql() -> str:
    """Twin of dq.crawldiff.token_drift_topk over the planted snapshot pair.
    Every term is integer-exact: counts, DIV basis points, cross-multiplied
    drift (DuckDB's BIGINT sums widen to HUGEINT — the final CASTs pin the
    BIGINT the Spark side emits)."""
    from dq.crawldiff import (
        CHANGED_MOD,
        CHANGED_REM,
        CHANGED_SUFFIX,
        DRIFT_TOP_K,
        NEW_DROP_MOD,
        NEW_DROP_REM,
        OLD_DROP_MOD,
        OLD_DROP_REM,
    )

    tok = (
        "unnest(list_filter(regexp_split_to_array(lower(coalesce({t}, '')), "
        "'[\\s\\x0b]+'), x -> x <> ''))"
    )
    new_text = (
        f"CASE WHEN doc_id % {CHANGED_MOD} = {CHANGED_REM} "
        f"THEN text || '{_sq(CHANGED_SUFFIX)}' ELSE text END"
    )
    return f"""
WITH old_t AS (
  SELECT {tok.format(t="text")} AS token
  FROM documents WHERE doc_id % {OLD_DROP_MOD} <> {OLD_DROP_REM}
), new_t AS (
  SELECT {tok.format(t=new_text)} AS token
  FROM documents WHERE doc_id % {NEW_DROP_MOD} <> {NEW_DROP_REM}
), co AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_old FROM old_t GROUP BY token
), cn AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_new FROM new_t GROUP BY token
), j AS (
  SELECT coalesce(co.token, cn.token) AS token,
         coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
  FROM co FULL OUTER JOIN cn ON co.token = cn.token
), tot AS (
  SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
         CAST(sum(n_new) AS BIGINT) AS t_new FROM j
)
SELECT token, n_old, n_new,
       CAST((n_old * 10000) // t_old AS BIGINT) AS old_bp,
       CAST((n_new * 10000) // t_new AS BIGINT) AS new_bp,
       CAST(abs(n_old * t_new - n_new * t_old) AS BIGINT) AS drift_score
FROM j, tot
ORDER BY drift_score DESC, token ASC
LIMIT {DRIFT_TOP_K}
"""


def _pii_type_counts_sql() -> str:
    """Twin of queries.pii_type_counts: per-rule doc-hit counts over the
    SAME planted text construction as scrub_pii, patterns straight from
    SCRUB_RULES (one shared list — never hand-duplicate). regexp_matches is
    a partial-match search like Spark's rlike; CASE folds the NULL-text
    three-valued result to 0 on both engines."""
    planted = (
        f"text || '{_sq(PII_PLANT_PARTS[0])}' || CAST(doc_id AS VARCHAR)"
        f" || '{_sq(PII_PLANT_PARTS[1])}'"
        f" || CAST(doc_id % {PII_PLANT_IP_MOD} AS VARCHAR)"
        f" || '{_sq(PII_PLANT_PARTS[2])}'"
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS pii_type, CAST(SUM(CASE WHEN regexp_matches(p, "
        f"'{_sq(pat)}') THEN 1 ELSE 0 END) AS BIGINT) AS n_docs FROM planted"
        for name, pat, _ in SCRUB_RULES
    )
    return f"WITH planted AS (SELECT {planted} AS p FROM documents)\n{arms}"


def _soft404_sql() -> str:
    """Twin of queries.soft404_filter: the title is CONSTRUCTED from the
    same shared constants the Spark side renders into html and re-extracts
    (the render->extract chain itself is byte-checked by the flagship)."""
    from dq.extract import SOFT404_MIN_WORDS, SOFT404_TITLE_PHRASES, SOFT404_TITLE_RE
    from dq.queries import SOFT404_MOD, SOFT404_REM

    phrases = "[" + ", ".join(f"'{_sq(p)}'" for p in SOFT404_TITLE_PHRASES) + "]"
    return f"""
WITH t AS (
  SELECT doc_id,
         lower(CASE WHEN doc_id % {SOFT404_MOD} = {SOFT404_REM}
               THEN {_url_expr()} || ' - '
                    || list_element({phrases},
                         CAST(doc_id % {len(SOFT404_TITLE_PHRASES)} AS INT) + 1)
               ELSE {_url_expr()} END) AS title,
         CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'),
              x -> x <> '')) AS BIGINT) AS n_words
  FROM documents
)
SELECT doc_id, title, n_words,
       regexp_matches(title, '{_sq(SOFT404_TITLE_RE)}') AS is_error_title,
       (n_words < {SOFT404_MIN_WORDS}) AS is_thin,
       (NOT regexp_matches(title, '{_sq(SOFT404_TITLE_RE)}')
        AND n_words >= {SOFT404_MIN_WORDS}) AS keep
FROM t
"""


def _snapshot_dedup_rates_sql() -> str:
    """Twin of dq.snapshots.snapshot_dedup_rates over the planted crawls.
    Groups by the text itself (null-safe via the chr(0) sentinel, the
    fingerprint_col contract): grouping by sha2(text) ≡ grouping by text."""
    from dq.snapshots import (
        N_SNAPSHOTS,
        SNAP_RECRAWL_MOD,
        SNAP_REPLICA_OFFSET,
        SNAP_WITHIN_MOD,
    )

    return f"""
WITH planted AS (
  SELECT doc_id % {N_SNAPSHOTS} AS snap, doc_id, text FROM documents
  UNION ALL
  SELECT doc_id % {N_SNAPSHOTS}, doc_id + {SNAP_REPLICA_OFFSET}, text
  FROM documents WHERE doc_id % {SNAP_WITHIN_MOD} = 0
  UNION ALL
  SELECT least(doc_id % {N_SNAPSHOTS} + 1, {N_SNAPSHOTS - 1}),
         doc_id + {2 * SNAP_REPLICA_OFFSET}, text
  FROM documents WHERE doc_id % {SNAP_RECRAWL_MOD} = 0
), per AS (
  SELECT snap, coalesce(text, chr(0)) AS t, CAST(count(*) AS BIGINT) AS cnt
  FROM planted GROUP BY 1, 2
), firsts AS (
  SELECT t, min(snap) AS first_snap FROM per GROUP BY 1
)
SELECT CAST(snap AS BIGINT) AS snap,
       CAST(sum(cnt) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS scoped_survivors,
       CAST(sum(cnt) - count(*) AS BIGINT) AS within_dup_docs,
       CAST(coalesce(sum(CASE WHEN f.first_snap < snap THEN 1 END), 0)
            AS BIGINT) AS prior_dup_shas,
       CAST(count(*)
            - coalesce(sum(CASE WHEN f.first_snap < snap THEN 1 END), 0)
            AS BIGINT) AS new_shas
FROM per JOIN firsts f USING (t) GROUP BY snap
"""


def _snapshot_drift_bands_sql() -> str:
    """Twin of dq.snapshots.snapshot_drift_bands. Nonnegative int64
    arithmetic throughout, so DuckDB's flooring // equals Spark's DIV."""
    from dq.snapshots import DRIFT_BAND_CHARS, DRIFT_BAND_MAX, DRIFT_SCALE

    return f"""
WITH b AS (
  SELECT least(CAST(floor(coalesce(n_chars, 0) / {DRIFT_BAND_CHARS}) AS BIGINT),
               {DRIFT_BAND_MAX}) AS band,
         doc_id % 2 = 1 AS is_b
  FROM documents
)
SELECT band,
       CAST(coalesce(sum(CASE WHEN NOT is_b THEN 1 END), 0) AS BIGINT) AS n_a,
       CAST(coalesce(sum(CASE WHEN is_b THEN 1 END), 0) AS BIGINT) AS n_b,
       CAST(coalesce(sum(CASE WHEN is_b THEN 1 END), 0)
            - coalesce(sum(CASE WHEN NOT is_b THEN 1 END), 0) AS BIGINT) AS delta,
       CAST((coalesce(sum(CASE WHEN is_b THEN 1 END), 0) + 1) * {DRIFT_SCALE}
            // (coalesce(sum(CASE WHEN NOT is_b THEN 1 END), 0) + 1) AS BIGINT)
         AS ratio_micro
FROM b GROUP BY band
"""


def _term_postings_sql() -> str:
    """Twin of dq.index.term_postings: the same plain row_number() <= k
    rank (total order, no ties); the engine ranks before the df-floor join,
    which drops whole terms, so the order of the two is immaterial."""
    from dq.index import POSTINGS_K, POSTINGS_MIN_DF

    return f"""
WITH w AS (
  SELECT doc_id, unnest({_WORDS_LOWER_NS}) AS term FROM documents
), tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2
), st AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df_docs,
         CAST(sum(tf) AS BIGINT) AS tf_total
  FROM tf GROUP BY 1 HAVING count(*) >= {POSTINGS_MIN_DF}
), r AS (
  SELECT term, doc_id, tf,
         CAST(row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id)
              AS INT) AS post_rank
  FROM tf WHERE term IN (SELECT term FROM st)
)
SELECT r.term, st.df_docs, st.tf_total, r.post_rank, r.doc_id, r.tf
FROM r JOIN st USING (term) WHERE r.post_rank <= {POSTINGS_K}
"""


def _site_keep_rollup_sql() -> str:
    """Twin of dq.queries.site_keep_rollup: composes _pipeline_keep_sql's
    already-oracled flagship CTEs, rolled up on the url authority."""
    from dq.queries import PAGES_URL_PREFIX, SITE_KEEP_PCT

    return f"""
WITH flags AS ({_pipeline_keep_sql()})
SELECT regexp_extract(url, '{PAGES_URL_PREFIX}([^/]+)', 1) AS site,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_keep,
       CAST(coalesce(sum(CASE WHEN keep THEN 1 END), 0) * 1000000 // count(*)
            AS BIGINT) AS keep_rate_micro,
       (coalesce(sum(CASE WHEN keep THEN 1 END), 0) * 100
        >= {SITE_KEEP_PCT} * count(*)) AS site_keep
FROM flags GROUP BY 1
"""


def _threshold_sweep_sql() -> str:
    """Twin of dq.queries.heuristic_threshold_sweep: one UNION ALL branch
    per grid value, each evaluating _keep_pred with min_words overridden —
    generated from the same SWEEP_MIN_WORDS / DOCS_CONFIG constants."""
    from dq.pipeline import DOCS_CONFIG
    from dq.queries import SWEEP_MIN_WORDS

    branches = []
    for g in SWEEP_MIN_WORDS:
        pred = _keep_pred({**DOCS_CONFIG.thresholds, "min_words": g})
        branches.append(
            f"SELECT CAST({g} AS BIGINT) AS min_words,\n"
            f"       CAST(coalesce(sum(CASE WHEN {pred} THEN 1 END), 0)"
            f" AS BIGINT) AS n_pass\nFROM m"
        )
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH {_heuristics_cte()},
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
sweep AS ({union})
SELECT s.min_words, tot.n_docs, s.n_pass,
       CAST(s.n_pass * 1000000 // tot.n_docs AS BIGINT) AS pass_rate_micro
FROM sweep s, tot
"""


def _ngram_lm_counts_sql() -> str:
    """Twin of dq.lm.kn_bigram_table. Same bigram construction as the DSIR
    twin; nonnegative int64 arithmetic so // equals DIV."""
    from dq.lm import LM_DISCOUNT_MILLI, LM_MIN_COUNT, LM_SCALE

    return f"""
WITH w AS (
  SELECT {_WORDS_LOWER_NS} AS words FROM documents
), g AS (
  SELECT unnest(list_transform(range(1, greatest(len(words), 1)),
             i -> words[i] || ' ' || words[i + 1])) AS gram
  FROM w
), o AS (
  SELECT string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2
  FROM g
), types AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1, 2
), l AS (
  SELECT w1, CAST(sum(cnt) AS BIGINT) AS c_w1,
         CAST(count(*) AS BIGINT) AS right_types_w1
  FROM types GROUP BY 1
), r AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS left_types_w2 FROM types GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS total_types FROM types
)
SELECT t.w1, t.w2, t.cnt, l.c_w1, l.right_types_w1, r.left_types_w2,
       CAST(greatest(1000 * t.cnt - {LM_DISCOUNT_MILLI}, 0) * {LM_SCALE}
            // (1000 * l.c_w1) AS BIGINT) AS p_kn_micro,
       CAST({LM_DISCOUNT_MILLI} * l.right_types_w1 * {LM_SCALE}
            // (1000 * l.c_w1) AS BIGINT) AS lambda_micro,
       CAST(r.left_types_w2 * {LM_SCALE} // tot.total_types AS BIGINT)
         AS cont_micro
FROM types t JOIN l USING (w1) JOIN r USING (w2), tot
WHERE t.cnt >= {LM_MIN_COUNT}
"""


def _winnow_fps_ctes(from_sql: str = "documents") -> str:
    """CTE chain ending in ``fps(doc_id, fp)`` — twin of
    dq.winnow.winnowing_fps over an arbitrary (doc_id, text) relation: same
    tokenizer, same 31-ary char polynomial (the DSIR twin's form),
    inclusive-bound list slices matching Spark's truncating F.slice."""
    from dq.classifier import POLY_MOD, POLY_MUL
    from dq.winnow import WINNOW_K, WINNOW_W

    poly = (
        "list_reduce(list_transform(string_split(gr, ''), "
        "c -> CAST(ascii(c) AS BIGINT)), "
        f"(a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD})"
    )
    return f"""wt AS (
  SELECT doc_id, {_WORDS_LOWER_NS} AS words FROM {from_sql}
), wg AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(words) - {WINNOW_K} + 1, 0) + 1),
             i -> array_to_string(words[i:i + {WINNOW_K} - 1], ' ')) AS grams
  FROM wt
), wh AS (
  SELECT doc_id, list_transform(grams, gr -> ({poly})) AS hashes FROM wg
), wmi AS (
  SELECT doc_id,
         list_transform(
             range(1, (CASE WHEN len(hashes) = 0 THEN 0
                       ELSE greatest(len(hashes) - {WINNOW_W} + 1, 1) END) + 1),
             i -> list_aggregate(hashes[i:i + {WINNOW_W} - 1], 'min')) AS mins
  FROM wh
), fps AS (
  SELECT doc_id, CAST(unnest(list_distinct(mins)) AS BIGINT) AS fp FROM wmi
)"""


def _winnowing_fps_sql() -> str:
    """Twin of dq.winnow.winnowing_fps (see _winnow_fps_ctes)."""
    return f"""
WITH {_winnow_fps_ctes()}
SELECT doc_id, fp FROM fps
"""


def _winnow_dup_pairs_sql() -> str:
    """Twin of dq.winnow.winnow_candidate_pairs over the planted-dup corpus.
    NOT-EXISTS (not NOT IN) for the hot-fp filter — fp is never NULL, but
    the anti-join form can't be NULL-poisoned by a future edit."""
    from dq.winnow import WINNOW_FP_MAX_DOCS, WINNOW_MIN_SHARED, WINNOW_SCALE

    return f"""
WITH base AS ({_PLANTED_BASE}),
{_winnow_fps_ctes("base")},
hot AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) > {WINNOW_FP_MAX_DOCS}
), kept AS (
  SELECT * FROM fps f WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.fp = f.fp)
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps FROM kept GROUP BY 1
), p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_fps
  FROM kept a JOIN kept b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.shared_fps,
       sa.n_fps AS n_fps_a, sb.n_fps AS n_fps_b,
       CAST(p.shared_fps * {WINNOW_SCALE} // least(sa.n_fps, sb.n_fps)
            AS BIGINT) AS overlap_micro
FROM p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


def _canonical_walk_ctes() -> str:
    """Shared recursive-walk CTE chain (e → walk → resolved): the
    sequential twin of dq.canonical's pointer doubling (max-depth row per
    doc is the terminal). Reused by canonical_chains AND
    canonical_content_audit so the walk is generated once."""
    from dq.canonical import CANON_CHAIN_MOD

    return f"""e AS (
  SELECT doc_id,
         CASE WHEN doc_id % {CANON_CHAIN_MOD} = 0 THEN doc_id
              ELSE doc_id - 1 END AS ptr
  FROM documents
), walk AS (
  SELECT doc_id, ptr AS cur, CAST(ptr <> doc_id AS BIGINT) AS depth FROM e
  UNION ALL
  SELECT w.doc_id, e2.ptr, w.depth + 1
  FROM walk w JOIN e e2 ON w.cur = e2.doc_id
  WHERE e2.ptr <> w.cur
), resolved AS (
  SELECT doc_id, CAST(arg_max(cur, depth) AS BIGINT) AS root_id,
         CAST(max(depth) AS BIGINT) AS depth
  FROM walk GROUP BY doc_id
)"""


def _canonical_chains_sql() -> str:
    """Twin of dq.canonical: the shared recursive walk, terminal row out."""
    return f"""
WITH RECURSIVE {_canonical_walk_ctes()}
SELECT doc_id, root_id, depth FROM resolved
"""


def _canonical_content_audit_sql() -> str:
    """Twin of queries.canonical_content_audit: the shared walk joined to
    the raw text — count(DISTINCT coalesce(text, chr(0))) ≡ counting the
    null-safe sha2 fingerprints (the fingerprint_col contract)."""
    return f"""
WITH RECURSIVE {_canonical_walk_ctes()},
g AS (
  SELECT r.root_id,
         CAST(count(*) AS BIGINT) AS n_pages,
         CAST(count(DISTINCT coalesce(d.text, chr(0))) AS BIGINT) AS n_contents,
         CAST(max(r.depth) AS BIGINT) AS max_depth
  FROM resolved r JOIN documents d USING (doc_id)
  GROUP BY r.root_id
)
SELECT root_id, n_pages, n_contents, max_depth,
       (n_contents <= 1) AS is_consistent
FROM g
"""


def _near_dup_cc_ctes() -> str:
    """Shared recursive-CTE chain (jp → edges → verts → reach → cc) — the
    connected-components twin of dq.dedup.connected_components_star over
    the verified pair graph (cluster id = min reachable vertex id; edge set
    identical because the jaccard doubles are bit-identical cross-engine).
    Reused by near_dup_clusters AND near_dup_survivors so the cluster math
    is generated once, never hand-duplicated."""
    thresh = repr(NEAR_CLUSTER_MIN_JACCARD)
    return f"""jp AS ({_ngram_jaccard_sql()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM jp WHERE jaccard >= {thresh}
  UNION
  SELECT id_b, id_a FROM jp WHERE jaccard >= {thresh}
), verts AS (
  SELECT DISTINCT src AS id FROM edges
), reach(id, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id
), cc AS (
  SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
  FROM reach GROUP BY id
)"""


def _near_dup_survivors_sql() -> str:
    """Twin of queries.near_dup_survivors: the shared cluster CTE chain
    joined to the token_counts twin over the same planted base; the
    longest-wins/lowest-id argmax via row_number — bit-exact because both
    the token counts and the ids are exact integers."""
    return f"""
WITH RECURSIVE {_near_dup_cc_ctes()},
pb AS ({_PLANTED_BASE}),
toks AS (
  -- coalesce twin of whitespace_token_count: NULL text counts 0 tokens
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM pb
), ranked AS (
  SELECT cc.cluster_id, cc.doc_id, toks.n_tokens,
         row_number() OVER (PARTITION BY cc.cluster_id
                            ORDER BY toks.n_tokens DESC, cc.doc_id ASC) AS rk
  FROM cc JOIN toks ON toks.doc_id = cc.doc_id
)
SELECT cluster_id,
       CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT) AS survivor_id,
       CAST(max(CASE WHEN rk = 1 THEN n_tokens END) AS BIGINT) AS survivor_tokens,
       CAST(count(*) AS BIGINT) AS cluster_size
FROM ranked GROUP BY cluster_id
"""


ORACLES: dict[str, str] = {
    "volumetria_partition_counts": f"""
SELECT {_DT} AS dt_foto,
       CAST(count(*) AS BIGINT) AS qtde_registros,
       CAST(count(DISTINCT user_id) AS BIGINT) AS qtde_usuarios
FROM events GROUP BY 1
""",
    "volumetria_gate_failure": f"""
SELECT 'testdata' AS banco, 'events' AS tabela, '{GATE_MISSING_DT}' AS dt_foto,
       'ts' AS var_nome_campo, '2' AS var_formato_dt_foto,
       CAST(0 AS BIGINT) AS status
FROM (SELECT count(*) AS c FROM events WHERE {_DT} = '{GATE_MISSING_DT}')
WHERE c = 0
""",
    "volumetria_recent_by_type": f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS qtde
FROM events
WHERE {_DT} >= '{RECENT_DT_CUTOFF}' AND event_type <> 'error'
GROUP BY event_type
""",
    "dup_metric_text": """
-- NULL counts as ONE distinct group (the Spark side groups by a null-safe
-- fingerprint, so all-NULL rows form a single cluster; SQL's
-- count(DISTINCT) would ignore them)
SELECT CAST(count(*) AS BIGINT) AS qtde1,
       CAST(count(DISTINCT text)
            + (CASE WHEN count(*) > count(text) THEN 1 ELSE 0 END) AS BIGINT) AS qtde2,
       CAST(count(*) - count(DISTINCT text)
            - (CASE WHEN count(*) > count(text) THEN 1 ELSE 0 END) AS BIGINT) AS diferenca
FROM documents
""",
    "dup_metric_full_row": """
WITH d AS (SELECT count(*) AS n FROM (SELECT DISTINCT * FROM documents)),
     a AS (SELECT count(*) AS n FROM documents)
SELECT CAST(a.n AS BIGINT) AS qtde1, CAST(d.n AS BIGINT) AS qtde2,
       CAST(a.n - d.n AS BIGINT) AS diferenca
FROM a, d
""",
    "dup_by_source": """
SELECT source,
       CAST(count(*) AS BIGINT) AS qtde1,
       CAST(count(DISTINCT text) AS BIGINT) AS qtde2,
       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS diferenca
FROM documents GROUP BY source
""",
    "asof_latest_order": """
WITH o AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS last_orderkey,
         strftime(o_orderdate, '%Y%m%d') AS last_orderdate
  FROM orders WHERE o_custkey % 7 <> 0 GROUP BY 1, 2
)
SELECT e.event_id, o.last_orderkey, o.last_orderdate
FROM events e ASOF LEFT JOIN o
  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
    "events_in_value_ranges": f"""
WITH ranges(range_name, lo, hi) AS (VALUES {", ".join(f"('{n}', {lo!r}, {hi!r})" for n, lo, hi in VALUE_RANGES)})
SELECT range_name, CAST(count(*) AS BIGINT) AS qtde,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events e JOIN ranges r ON e.value > r.lo AND e.value <= r.hi
GROUP BY range_name
""",
    "junta_consolidate": """
WITH hist AS (
  SELECT 'testdata' AS banco, 'orders' AS tabela,
         strftime(o_orderdate, '%Y%m') AS dt_foto, '20260101' AS dt_processamento,
         CAST(count(*) AS BIGINT) AS qtde_registros, '1' AS fonte
  FROM orders WHERE o_orderstatus = 'F' GROUP BY 3
), aux AS (
  SELECT 'testdata' AS banco, 'orders' AS tabela,
         strftime(o_orderdate, '%Y%m') AS dt_foto, '20260101' AS dt_processamento,
         CAST(count(*) AS BIGINT) AS qtde_registros, '2' AS fonte
  FROM orders WHERE strftime(o_orderdate, '%Y%m') LIKE '1995%' GROUP BY 3
)
SELECT * FROM hist h
WHERE NOT EXISTS (SELECT 1 FROM aux a WHERE a.dt_foto = h.dt_foto)
UNION ALL SELECT * FROM aux
""",
    "anchor_left_join": f"""
WITH counts AS (
  SELECT {_DT} AS dt_foto, CAST(count(*) AS BIGINT) AS qtde FROM events GROUP BY 1
), spine AS (
  SELECT DISTINCT {_DT} AS dt_foto FROM events
  UNION ALL SELECT '{GATE_MISSING_DT}'
)
SELECT s.dt_foto, c.qtde FROM spine s LEFT JOIN counts c USING (dt_foto)
""",
    "remediation_flip": f"""
WITH manifest(banco, tabela, dt_foto, var_nome_campo, var_formato_dt_foto) AS (
  VALUES {_manifest_values()}
), present AS (SELECT DISTINCT {_DT} AS dt_foto FROM events)
SELECT m.banco, m.tabela, m.dt_foto, m.var_nome_campo, m.var_formato_dt_foto,
       CAST(CASE WHEN p.dt_foto IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS status
FROM manifest m LEFT JOIN present p USING (dt_foto)
WHERE m.tabela NOT IN ({", ".join("'" + t + "'" for t in REMEDIATION_EXCLUDED)})
""",
    "qualitativo_value_bands": f"""
SELECT event_type,
       {_band_case("value", VALUE_BAND_EDGES, VALUE_BAND_LABELS)} AS valor_faixa,
       CAST(count(*) AS BIGINT) AS valor_faixa_qtde
FROM events GROUP BY 1, 2
""",
    "qualitativo_price_bands": f"""
SELECT l_returnflag,
       {_band_case("l_extendedprice", PRICE_BAND_EDGES, PRICE_BAND_LABELS)} AS valor_faixa,
       CAST(count(*) AS BIGINT) AS valor_faixa_qtde
FROM lineitem GROUP BY 1, 2
""",
    "qualitativo_conditional_aggs": """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS orders_all,
       CAST(count(DISTINCT CASE WHEN l_discount > 0.05 THEN l_orderkey END) AS BIGINT) AS hi_disc_orders,
       CAST(sum(CASE WHEN l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS hi_tax_lines,
       CAST(sum(CASE WHEN l_discount > 0.05
                     THEN CAST(floor(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS hi_disc_cents
FROM lineitem GROUP BY l_returnflag
""",
    "qualitativo_profile_ratios": """
SELECT l_returnflag,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(sum(l_quantity) AS BIGINT) AS qty_total,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS cents_per_order
FROM lineitem GROUP BY l_returnflag
""",
    "revenue_by_region": """
SELECT r.r_name, strftime(o.o_orderdate, '%Y') AS order_year,
       CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""",
    "qualitativo_price_cohorts": "SELECT l_returnflag, "
    + ", ".join(
        f"CAST(count(DISTINCT CASE WHEN l_extendedprice > {p!r} THEN l_orderkey END) AS BIGINT) AS orders_gt_p{i}, "
        f"CAST(sum(CASE WHEN l_extendedprice > {p!r} THEN CAST(floor(l_extendedprice * 100) AS BIGINT) END) AS BIGINT) AS cents_gt_p{i}"
        for i, p in enumerate(PRICE_POINTS)
    )
    + " FROM lineitem GROUP BY l_returnflag",
    # histogram cumulative pick — the window runs over O(distinct cents)
    # histogram rows, mirroring the Spark shape (same discrete value as the
    # row_number formulation: first bucket whose cum count reaches ceil(p*n))
    "qualitativo_percentiles": "\n".join(
        [
            """
WITH h AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS c,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
), r AS (
  SELECT l_returnflag, c,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY c
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY l_returnflag) AS n
  FROM h
)
SELECT l_returnflag,"""
        ]
        + [
            f"       CAST(min(CASE WHEN cum >= CAST(ceil({p!r} * n) AS BIGINT) THEN c END) AS BIGINT) AS p{tag}_cents"
            + ("," if i < len(PCT_POINTS) - 1 else "")
            for i, (tag, p) in enumerate(PCT_POINTS)
        ]
        + ["FROM r GROUP BY l_returnflag"]
    ),
    "top_users_by_value": """
SELECT user_id, CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY user_id
ORDER BY cents DESC, user_id LIMIT 10
""",
    "salted_distinct_users": """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS user_id_distinct
FROM events GROUP BY event_type
""",
    "hot_event_types": f"""
WITH t AS (SELECT CAST(count(*) AS BIGINT) AS c FROM events),
g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1)
SELECT g.event_type, g.n, g.n / t.c AS fraction
FROM g, t
WHERE g.n >= greatest(CAST(floor(t.c * {HOT_KEY_MIN_FRACTION!r}) AS BIGINT), 2)
""",
    "heuristic_metrics": "WITH "
    + _heuristics_cte()
    + f"""
SELECT doc_id, n_words, mean_word_len, symbol_ratio, stop_ratio,
       n_distinct_stops, alpha_word_ratio,
       {_keep_pred()} AS keep_heuristic
FROM m
""",
    "scrub_pii": f"""
WITH planted AS (
  SELECT doc_id,
         text || '{_sq(PII_PLANT_PARTS[0])}' || CAST(doc_id AS VARCHAR)
              || '{_sq(PII_PLANT_PARTS[1])}'
              || CAST(doc_id % {PII_PLANT_IP_MOD} AS VARCHAR)
              || '{_sq(PII_PLANT_PARTS[2])}' AS ptext
  FROM documents
)
SELECT doc_id,
       {_scrub_chain("ptext")} AS text_scrubbed,
       {_scrub_chain("ptext")} IS DISTINCT FROM ptext AS pii_found
FROM planted
""",
    "token_counts": f"""
SELECT doc_id,
       CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'),
                            x -> x <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(coalesce(text, ''), '{BPE_SPLIT_PATTERN}'))
            AS BIGINT) AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_len
FROM documents
""",
    "quality_scores": f"""
WITH b AS (
  SELECT doc_id, text, {_WORDS} AS words, {_LINES} AS lines,
         length(regexp_replace(text, '[^A-Za-zÀ-ÿ]', '', 'g')) AS alpha_chars
  FROM documents
)
SELECT doc_id,
  ((CASE WHEN len(words) BETWEEN 50 AND 5000 THEN 1.0
         WHEN len(words) BETWEEN 10 AND 10000 THEN 0.5 ELSE 0.0 END)
   + (CASE WHEN len(lines) > 0
           THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '[.!?]$'))) AS DOUBLE) / len(lines)
           ELSE 0.0 END)
   + (CASE WHEN length(text) > 0
           THEN CAST(alpha_chars AS DOUBLE) / length(text) ELSE 0.0 END)
  ) / 3.0 AS quality
FROM b
""",
    "lang_hint_sql": f"""
WITH w AS (
  SELECT doc_id, {_WORDS_LOWER} AS words FROM documents
), langs(lang, sw) AS (VALUES {_lang_values()}),
hits AS (
  SELECT doc_id, lang, len(list_filter(words, x -> list_contains(sw, x))) AS h
  FROM w CROSS JOIN langs
), r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
  FROM hits
)
SELECT doc_id, lang AS lang_hint FROM r WHERE rn = 1
""",
    "repetition_metrics": """
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS words
  FROM documents
), g2 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(words)),
         i -> words[i] || ' ' || words[i+1])) AS g
  FROM w WHERE len(words) >= 2
), a2 AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS tot,
         CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS frac
  FROM (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2) GROUP BY doc_id
), g3 AS (
  SELECT doc_id, unnest(list_transform(range(1, len(words) - 1),
         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS g
  FROM w WHERE len(words) >= 3
), a3 AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS tot,
         CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS frac
  FROM (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2) GROUP BY doc_id
)
SELECT w.doc_id,
       COALESCE(a2.tot, 0) AS n_bigrams,
       COALESCE(a2.frac, 0.0) AS top_bigram_frac,
       COALESCE(a3.tot, 0) AS n_trigrams,
       COALESCE(a3.frac, 0.0) AS top_trigram_frac
FROM w LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
""",
    "doc_fingerprints": """
SELECT doc_id,
       sha256(coalesce(array_to_string(list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> ''), ' '), '')) AS fingerprint
FROM documents
""",
    "tfidf_top_terms": _tfidf_sql(),
    "line_dedup_global": _line_dedup_sql(),
    "dup_line_metrics": _dup_line_metrics_sql(),
    "c4_line_filter": _c4_line_filter_sql(),
    "domain_hot_stats": _domain_hot_stats_sql(),
    "url_rules_filter": _url_rules_filter_sql(),
    "url_canonical_dups": _url_canonical_sql(),
    "crawl_snapshot_diff": _crawl_diff_sql(),
    "crawl_diff_summary": _crawl_diff_summary_sql(),
    "contamination_scores": _contamination_sql(),
    "script_profiles": _script_profiles_sql(),
    "stratified_sample": _stratified_sample_sql(),
    "temperature_sampled": _temperature_sample_sql(),
    "domain_cap_quota": _domain_cap_sql(),
    "token_budget_packing": _token_packing_sql(),
    "doc_chunks": _doc_chunks_sql(),
    "dataset_splits": _dataset_splits_sql(),
    "quality_classifier": _quality_classifier_sql(),
    "ccnet_quality_buckets": _ccnet_buckets_sql(),
    "nfc_normalized": _nfc_normalized_sql(),
    "dup_ngram_metrics": _dup_ngram_sql(),
    "corpus_report": """
WITH w AS (
  SELECT lang, text,
         len(list_filter(regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'),
             x -> x <> '')) AS toks
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) - count(text) AS BIGINT) AS n_null_text,
       CAST(sum(toks) AS BIGINT) AS tok_sum,
       sum(toks)::DOUBLE / count(*)::DOUBLE AS mean_tokens,
       CAST(count(text) - count(DISTINCT text) AS BIGINT) AS n_dup_rows
FROM w GROUP BY lang
""",
    "dup_span_fractions": _dup_span_sql(),
    "exact_dedup_survivors": f"""
WITH base AS ({_PLANTED_BASE})
SELECT CAST(min(doc_id) AS BIGINT) AS survivor_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM base GROUP BY text
""",
    "ngram_jaccard_pairs": _ngram_jaccard_sql(),
    # connected components over the verified pair graph — recursive CTE
    # twin of the engine's large-star/small-star alternation (shared CTE
    # chain, see _near_dup_cc_ctes)
    "near_dup_clusters": f"""
WITH RECURSIVE {_near_dup_cc_ctes()}
SELECT doc_id, cluster_id FROM cc
""",
    "pipeline_keep_sql": _pipeline_keep_sql(),
    "pipeline_funnel": _pipeline_funnel_sql(),
    # ledger twin on raw text (sha2 is content-injective for the oracle's
    # purposes): batch-2 non-survivor = within-batch rank loser OR content
    # present in batch 1 (the ledger holds exactly b1's distinct fps).
    # documents.text has no NULLs (the engine's sentinel cluster and SQL's
    # NULL-dropping IN would otherwise diverge).
    "incremental_dedup_batch2": f"""
WITH b1 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MOD} = 0
), b2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0
  UNION ALL
  SELECT doc_id + {INCR_RECRAWL_OFFSET}, text FROM documents
  WHERE doc_id % {INCR_RECRAWL_MOD} = 0
), r AS (
  SELECT doc_id, text,
         rank() OVER (PARTITION BY coalesce(text, chr(0)) ORDER BY doc_id) AS rk
  FROM b2
)
SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id
FROM r
WHERE rk > 1 OR coalesce(text, chr(0)) IN
      (SELECT coalesce(text, chr(0)) FROM b1)
""",
    # Bloom twin: identical bit math from sha256 hex slices — Spark's
    # conv(substr,16,10) == DuckDB's ('0x'||substr)::BIGINT (both positive
    # 32-bit values), same words, same probe verdicts.
    "bloom_ledger_probe": _bloom_ledger_probe_sql(),
    "paragraph_bloom_dedup": _paragraph_bloom_dedup_sql(),
    "dup_cluster_histogram": _dup_cluster_histogram_sql(),
    "kmv_corpus_overlap": _kmv_corpus_overlap_sql(),
    "domain_link_edges": f"""
WITH {_link_edges_ctes()}
SELECT src_domain, dst_domain, weight FROM edges
""",
    "anchor_top_terms": _anchor_top_terms_sql(),
    "domain_pagerank": _domain_pagerank_sql(),
    "user_sessions": _user_sessions_sql(),
    "page_rank_prior": _page_rank_prior_sql(),
    "embedding_pairs_exact": _embedding_pairs_lsh_sql(),
    "kmeans_clusters": _kmeans_clusters_sql(),
    "semdedup_flags": _semdedup_sql(),
    "ann_topk_ivf": f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, qv AS cq FROM q WHERE vec_id % {ANN_IVF_CENT_MOD} = 0
), corpus_assign AS (
  SELECT vec_id, qv, cid FROM (
    SELECT a.vec_id, a.qv, c.cid,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT), c.cid) AS rn
    FROM q a CROSS JOIN cents c
  ) WHERE rn = 1
), query_probe AS (
  SELECT vec_id, qv, cid FROM (
    SELECT a.vec_id, a.qv, c.cid,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT), c.cid) AS rn
    FROM q a CROSS JOIN cents c
    WHERE a.vec_id % {ANN_QUERY_MOD} = 0
  ) WHERE rn <= {ANN_IVF_NPROBE}
), scored AS (
  SELECT qp.vec_id AS query_id, ca.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(qp.qv, ca.qv), z -> z[1] * z[2])) AS BIGINT) AS score
  FROM query_probe qp JOIN corpus_assign ca USING (cid)
  WHERE ca.vec_id <> qp.vec_id
), r AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, score FROM r WHERE rnk <= {ANN_K}
""",
    "ann_topk_bruteforce": f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % {ANN_QUERY_MOD} = 0
), c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         CAST(list_sum(list_transform(list_zip(q.qv, c.cv),
              p -> CAST(floor(CAST(p[1] AS DOUBLE) * 1000) AS BIGINT)
                 * CAST(floor(CAST(p[2] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
  FROM q, c WHERE c.neighbor_id <> q.query_id
), r AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rnk
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, score FROM r WHERE rnk <= {ANN_K}
""",
    "token_drift_topk": _token_drift_sql(),
    "soft404_filter": _soft404_sql(),
    "pii_type_counts": _pii_type_counts_sql(),
    "dsir_selection": _dsir_selection_sql(),
    "domain_boilerplate": _domain_boilerplate_sql(),
    "vocab_stats": _vocab_stats_sql(),
    "lang_confusion": _lang_confusion_sql(),
    "doclen_percentiles_by_lang": _doclen_percentiles_by_lang_sql(),
    "dup_span_removed": _dup_span_removed_sql(),
    "snapshot_dedup_rates": _snapshot_dedup_rates_sql(),
    "snapshot_drift_bands": _snapshot_drift_bands_sql(),
    "term_postings": _term_postings_sql(),
    "site_keep_rollup": _site_keep_rollup_sql(),
    "heuristic_threshold_sweep": _threshold_sweep_sql(),
    "ngram_lm_counts": _ngram_lm_counts_sql(),
    "winnowing_fps": _winnowing_fps_sql(),
    "winnow_dup_pairs": _winnow_dup_pairs_sql(),
    "canonical_chains": _canonical_chains_sql(),
}

# round-5 addition: survivor pick per near-dup family (longest wins, ties
# to the lowest doc_id) — composes the shared cluster CTE chain with the
# token_counts twin.
ORACLES["near_dup_survivors"] = _near_dup_survivors_sql()


def _html_render_sql() -> str:
    """The byte-pinned html render as ONE SQL string expression, generated
    from the dq.synth scaffold constants (HTML_ESCAPES chain + pre/post
    fragments) — shared by every twin that needs the rendered page
    (markup_density, meta_robots_filter), never hand-duplicated. The
    per-paragraph wrap is expressed as one newline replace: esc() never
    touches chr(10), so '<p>' || replace(esc(text), chr(10), '</p><p>')
    || '</p>' is character-identical to escape-each-paragraph-then-join."""
    from dq.synth import (
        HTML_ESCAPES,
        HTML_FOOT,
        HTML_POST_PARS,
        HTML_POST_TITLE,
        HTML_PRE_TITLE,
    )

    def esc(expr: str) -> str:
        out = expr
        for s, r in HTML_ESCAPES:
            out = f"replace({out}, '{_sq(s)}', '{_sq(r)}')"
        return out

    pars = (
        "'<p>' || replace(" + esc("coalesce(text, '')") + ", chr(10), '</p><p>') || '</p>'"
    )
    return (
        f"'{_sq(HTML_PRE_TITLE)}' || {esc(_url_expr())} || '{_sq(HTML_POST_TITLE)}'\n"
        f"         || {pars} || '{_sq(HTML_POST_PARS)}' || '{_sq(HTML_FOOT)}'"
    )


def _markup_density_sql() -> str:
    """Twin of queries.markup_density: rebuilds the html render as a STRING
    in SQL via the shared _html_render_sql generator, so the character
    counts are length-exact against the Catalyst renderer."""
    html = _html_render_sql()
    return f"""
WITH h AS (
  SELECT doc_id, coalesce(text, '') AS t,
         {html} AS html
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(length(html) AS BIGINT) AS html_chars,
         CAST(length(t) AS BIGINT) AS text_chars,
         CAST(length(html) - length(replace(html, '<', '')) AS BIGINT) AS n_tags
  FROM h
)
SELECT doc_id, html_chars, text_chars, n_tags,
       CAST(((html_chars - text_chars) * 10000) // html_chars AS BIGINT) AS markup_bp
FROM m
"""


# round-5 addition: markup-density quality signal — the render tier's
# length-exact cross-engine check (SQL render generated from the shared
# dq.synth scaffold constants).
ORACLES["markup_density"] = _markup_density_sql()


def _vocab_coverage_sql() -> str:
    """Twin of dq.textstats.vocab_coverage: identical count-level-histogram
    formulation; all arithmetic is exact-integer truncating division (both
    engines truncate toward zero, probed), so the curve is bit-exact."""
    from dq.textstats import VOCAB_COVERAGE_TARGETS_BP

    targets = ", ".join(str(b) for b in VOCAB_COVERAGE_TARGETS_BP)
    return f"""
WITH w AS (
  SELECT unnest({_WORDS_LOWER_NS}) AS term FROM documents
), vocab AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY term
), lvl AS (
  SELECT cnt, CAST(count(*) AS BIGINT) AS n_types FROM vocab GROUP BY cnt
), cum AS (
  SELECT cnt, n_types,
         CAST(coalesce(sum(cnt * n_types) OVER (ORDER BY cnt DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_before,
         CAST(coalesce(sum(n_types) OVER (ORDER BY cnt DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS types_before
  FROM lvl
), tot AS (
  SELECT CAST(sum(cnt * n_types) AS BIGINT) AS total_tokens,
         CAST(sum(n_types) AS BIGINT) AS total_types
  FROM lvl
), x AS (
  SELECT cum.*, tot.total_tokens, tot.total_types, t.target_bp,
         (tot.total_tokens * t.target_bp + 9999) // 10000 AS need
  FROM cum, tot, (SELECT CAST(unnest([{targets}]) AS BIGINT) AS target_bp) t
), hit AS (
  SELECT *, (need - tok_before + cnt - 1) // cnt AS k
  FROM x WHERE tok_before < need AND tok_before + cnt * n_types >= need
)
SELECT target_bp,
       CAST(types_before + k AS BIGINT) AS vocab_size,
       CAST(tok_before + k * cnt AS BIGINT) AS covered_tokens,
       CAST(((tok_before + k * cnt) * 10000) // total_tokens AS BIGINT)
         AS coverage_bp,
       total_tokens, total_types
FROM hit
"""


# round-5 addition: tokenizer vocabulary-coverage curve (count-level
# histogram pick — exact integers, no vocabulary sort).
ORACLES["vocab_coverage_cutoffs"] = _vocab_coverage_sql()


def _qws_ctes() -> str:
    """The quality_weighted_sample twin as a reusable CTE chain ending in
    ``qwk`` (doc_id, n_tokens, score_micro, ptoken_micro, keep_bp,
    sample_bucket) — shared by the sample query and the calibration audit,
    generated once from the dq.sampling/classifier constants."""
    from dq.sampling import LCG_ADD, LCG_MUL, QW_HI_MICRO, QW_LO_MICRO, SAMPLE_MOD

    weight = _token_weight_sql()
    span = QW_HI_MICRO - QW_LO_MICRO
    return f"""qwt AS (SELECT doc_id, {_WORDS_LOWER_NS} AS words FROM documents),
qws AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(words, w -> {weight})), 0)
              AS BIGINT) AS score_micro
  FROM qwt
), qwp AS (
  SELECT *, CASE WHEN n_tokens = 0 THEN 0
                 ELSE score_micro // n_tokens END AS ptoken_micro
  FROM qws
), qwk AS (
  SELECT *,
         greatest(0, least(10000,
             ((ptoken_micro - {QW_LO_MICRO}) * 10000) // {span})) AS keep_bp,
         (doc_id * {LCG_MUL} + {LCG_ADD}) % {SAMPLE_MOD} AS sample_bucket
  FROM qwp
)"""


def _quality_weighted_sample_sql() -> str:
    """Twin of dq.sampling.quality_weighted_sample: the classifier score
    twin's token-weight lambda + the shared LCG bucket, with the ramp in
    exact truncating integer division (both engines truncate toward zero,
    probed — ptoken_micro and the pre-clamp ramp can both go negative)."""
    return f"""
WITH {_qws_ctes()}
SELECT doc_id, n_tokens, score_micro,
       CAST(ptoken_micro AS BIGINT) AS ptoken_micro,
       CAST(keep_bp AS BIGINT) AS keep_bp,
       CAST(sample_bucket AS BIGINT) AS sample_bucket,
       sample_bucket < keep_bp AS sampled
FROM qwk
"""


# round-5 addition: soft quality filtering (score-proportional keep via the
# shared LCG bucket — composes the classifier and sampler twins).
ORACLES["quality_weighted_sample"] = _quality_weighted_sample_sql()

# round-5 addition: canonical-group content-consistency audit (shared
# recursive-walk CTE + null-safe content grouping).
ORACLES["canonical_content_audit"] = _canonical_content_audit_sql()

# round-5 addition: BPE pair-count table (dq.textstats.bpe_pair_table twin).
# DuckDB range(1, n) is [1, n) — the same index set as Spark's inclusive
# sequence(1, length-1); both substrings are character-based in both engines.
# round-5 addition: Dice-coefficient collocation mining
# (dq.textstats.collocation_dice_topk twin; same constants). DuckDB
# range(1, n) is empty for n <= 1, so 0/1-token docs contribute no bigrams
# — matching the Spark side's word_ngrams_col empty-array guard.
def _collocation_sql() -> str:
    from dq.textstats import COLLOC_BP_SCALE, COLLOC_MIN_COUNT, COLLOC_TOP_K

    return f"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[\\s\\x0b]+'),
                     x -> x <> '') AS w
  FROM documents
), uc AS (
  SELECT t, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t
), big AS (
  SELECT w[CAST(i AS INTEGER)] AS w1, w[CAST(i AS INTEGER) + 1] AS w2
  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks)
), bc AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_count
  FROM big GROUP BY w1, w2
  HAVING count(*) >= {COLLOC_MIN_COUNT}
)
SELECT b.w1, b.w2, b.pair_count,
       u1.c AS left_count, u2.c AS right_count,
       CAST((2 * {COLLOC_BP_SCALE} * b.pair_count) // (u1.c + u2.c)
            AS BIGINT) AS dice_bp
FROM bc b
JOIN uc u1 ON b.w1 = u1.t
JOIN uc u2 ON b.w2 = u2.t
ORDER BY dice_bp DESC, b.w1, b.w2
LIMIT {COLLOC_TOP_K}
"""


ORACLES["collocation_topk"] = _collocation_sql()


# round-5 addition: Flesch reading ease in integer millipoints
# (dq.textstats.readability_scores twin, generated from the same patterns
# and band edges; floor-division order pinned on both sides).
def _readability_cte(prefix: str = "") -> str:
    """The Flesch millipoint CTE pair ({prefix}m, {prefix}s) — prefixed so
    composed oracles (filter_agreement) can mix it with _heuristics_cte,
    whose own CTEs already claim the names base/m."""
    from dq.textstats import SENTENCE_PATTERN, SYLLABLE_PATTERN

    return f"""{prefix}m AS (
  SELECT doc_id,
         greatest(1, CAST(len(list_filter(
             regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'),
             x -> x <> '')) AS BIGINT)) AS n_words,
         greatest(1, CAST(len(regexp_extract_all(coalesce(text, ''),
             '{SENTENCE_PATTERN}')) AS BIGINT)) AS n_sentences,
         CAST(len(regexp_extract_all(coalesce(text, ''),
             '{SYLLABLE_PATTERN}')) AS BIGINT) AS n_syllable_groups
  FROM documents
), {prefix}s AS (
  SELECT *, CAST(206835 - (1015 * n_words) // n_sentences
                        - (84600 * n_syllable_groups) // n_words
                 AS BIGINT) AS flesch_mp
  FROM {prefix}m
)"""


def _readability_sql() -> str:
    from dq.textstats import READABILITY_BANDS, READABILITY_FLOOR_BAND

    # wrap outward over ASCENDING edges so the outermost CASE checks the
    # highest edge first — the same check order as the Spark side
    band = f"'{READABILITY_FLOOR_BAND}'"
    for edge, label in sorted(READABILITY_BANDS):
        band = f"CASE WHEN flesch_mp >= {edge} THEN '{label}' ELSE ({band}) END"
    return f"""
WITH {_readability_cte()}
SELECT doc_id, n_words, n_sentences, n_syllable_groups, flesch_mp,
       {band} AS band
FROM s
"""


ORACLES["readability_scores"] = _readability_sql()


# round-5 addition: keep-signal agreement audit (dq.queries.filter_agreement
# twin). The three flag CTEs compose the already-oracled signal twins
# (_heuristics_cte + _keep_pred, the classifier weight expression, the
# readability CTE); the kappa fragment comes from the SAME
# dq.queries.kappa_sql generator, only the integer-div operator differs
# (both engines truncate toward zero — probed).
def _filter_agreement_sql() -> str:
    from dq.classifier import KEEP_TAU_MICRO
    from dq.queries import (
        AGREEMENT_PAIRS,
        AGREEMENT_READABLE_MIN_MP,
        kappa_sql,
    )

    weight = _token_weight_sql()
    pos = ", ".join(
        f"CAST(sum(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS pos_{c}"
        for c in ("keep_h", "keep_c", "keep_r")
    )
    agrees = ", ".join(
        f"CAST(sum(CASE WHEN {ca} = {cb} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS agree_{ca}_{cb}"
        for _, _, ca, cb in AGREEMENT_PAIRS
    )
    rows = " UNION ALL ".join(
        f"SELECT '{na}' AS signal_a, '{nb}' AS signal_b, n AS n_docs,"
        f" agree_{ca}_{cb} AS n_agree, pos_{ca} AS pos_a, pos_{cb} AS pos_b,"
        f" {kappa_sql('n', f'agree_{ca}_{cb}', f'pos_{ca}', f'pos_{cb}', div_op='//')}"
        " AS kappa_bp FROM agg"
        for na, nb, ca, cb in AGREEMENT_PAIRS
    )
    return f"""
WITH {_heuristics_cte()},
hf AS (SELECT doc_id, {_keep_pred()} AS keep_h FROM m),
cf AS (
  SELECT doc_id,
         (CAST(coalesce(list_sum(list_transform({_WORDS_LOWER_NS},
                                                w -> {weight})), 0) AS BIGINT)
          >= {KEEP_TAU_MICRO} * len({_WORDS_LOWER_NS})) AS keep_c
  FROM documents
),
{_readability_cte(prefix="rd")},
rf AS (SELECT doc_id, flesch_mp >= {AGREEMENT_READABLE_MIN_MP} AS keep_r
       FROM rds),
flags AS (
  SELECT hf.doc_id, keep_h, keep_c, keep_r
  FROM hf JOIN cf USING (doc_id) JOIN rf USING (doc_id)
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n, {pos}, {agrees} FROM flags
)
SELECT * FROM ({rows})
ORDER BY signal_a, signal_b
"""


ORACLES["filter_agreement"] = _filter_agreement_sql()


# round-5 addition: UniMax language-budget water-filling
# (dq.sampling.unimax_allocation twin, generated from the same constants).
# The saturation flag's failure is monotone for ascending caps, so the
# saturated set is the flag-sum prefix m — see the Spark docstring's proof.
def _unimax_sql() -> str:
    from dq.sampling import (
        UNIMAX_BP_SCALE,
        UNIMAX_BUDGET_MULT,
        UNIMAX_EPOCH_CAP,
    )

    alloc = (
        "CASE WHEN k <= m THEN cap_tokens"
        " ELSE ((budget - sat_total) // (n - m))"
        "      + (CASE WHEN k - m <= ((budget - sat_total) % (n - m))"
        "         THEN 1 ELSE 0 END) END"
    )
    return f"""
WITH dt AS (
  SELECT lang,
         CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '[\\s\\x0b]+'),
                              x -> x <> '')) AS BIGINT) AS t
  FROM documents
), base AS (
  SELECT lang, CAST(sum(t) AS BIGINT) AS n_tokens,
         CAST({UNIMAX_EPOCH_CAP} * sum(t) AS BIGINT) AS cap_tokens
  FROM dt GROUP BY lang
), ranked AS (
  SELECT lang, n_tokens, cap_tokens,
         row_number() OVER (ORDER BY cap_tokens, lang) AS k,
         sum(cap_tokens) OVER (ORDER BY cap_tokens, lang
                               ROWS UNBOUNDED PRECEDING) AS prefix,
         count(*) OVER () AS n,
         CAST({UNIMAX_BUDGET_MULT} * sum(n_tokens) OVER () AS BIGINT) AS budget
  FROM base
), flagged AS (
  SELECT *, CASE WHEN cap_tokens * (n - k + 1)
                      <= budget - (prefix - cap_tokens)
                 THEN 1 ELSE 0 END AS sat
  FROM ranked
), agg AS (
  SELECT *, sum(sat) OVER () AS m,
         sum(sat * cap_tokens) OVER () AS sat_total
  FROM flagged
)
SELECT lang, n_tokens, cap_tokens,
       CAST({alloc} AS BIGINT) AS alloc_tokens,
       k <= m AS saturated,
       CAST(CASE WHEN n_tokens > 0
                 THEN ({UNIMAX_BP_SCALE} * ({alloc})) // n_tokens
                 ELSE 0 END AS BIGINT) AS alloc_epochs_bp
FROM agg
ORDER BY lang
"""


ORACLES["unimax_lang_budget"] = _unimax_sql()


# round-5 addition: the BPE APPLY fold. DuckDB list_reduce has no initial-
# value form, so each symbol is wrapped as a single-element list — the first
# element becomes the fold init and the accumulator type is list<varchar>,
# making the reduction the IDENTICAL greedy left fold as Spark's
# F.aggregate step in dq.textstats._merge_step (generated from the same
# BPE_FIXED_MERGES constants).
def _bpe_fold_sql() -> str:
    expr = "string_split(word, '')"
    for l, r in BPE_FIXED_MERGES:
        expr = (
            f"list_reduce(list_transform({expr}, s -> [s]), "
            f"(acc, x) -> CASE WHEN acc[-1] = '{l}' AND x[1] = '{r}' "
            f"THEN list_append(acc[1:len(acc)-1], '{l}{r}') "
            f"ELSE list_append(acc, x[1]) END)"
        )
    return expr


ORACLES["bpe_token_fertility"] = f"""
WITH toks AS (
  SELECT lang,
         unnest(regexp_extract_all(coalesce(text, ''), '{BPE_SPLIT_PATTERN}'))
         AS word
  FROM documents
), vocab AS (
  SELECT lang, word, count(*) AS freq
  FROM toks
  WHERE length(word) BETWEEN {BPE_WORD_MIN_LEN} AND {BPE_WORD_MAX_LEN}
  GROUP BY lang, word
), seg AS (
  SELECT lang, freq, len({_bpe_fold_sql()}) AS n_toks FROM vocab
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST(sum(freq) AS BIGINT) AS n_word_occurrences,
       CAST(sum(freq * n_toks) AS BIGINT) AS n_tokens,
       CAST(({FERTILITY_BP_SCALE} * sum(freq * n_toks)) // sum(freq) AS BIGINT)
           AS fertility_bp
FROM seg
GROUP BY lang
ORDER BY lang
"""

ORACLES["bpe_pair_counts"] = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(coalesce(text, ''), '{BPE_SPLIT_PATTERN}'))
         AS word
  FROM documents
), vocab AS (
  SELECT word, count(*) AS freq
  FROM toks
  WHERE length(word) BETWEEN {BPE_WORD_MIN_LEN} AND {BPE_WORD_MAX_LEN}
  GROUP BY word
), pos AS (
  SELECT word, freq, unnest(range(1, length(word))) AS i FROM vocab
)
SELECT substring(word, CAST(i AS INTEGER), 1) AS left_sym,
       substring(word, CAST(i AS INTEGER) + 1, 1) AS right_sym,
       CAST(sum(freq) AS BIGINT) AS pair_count
FROM pos
GROUP BY 1, 2
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT {BPE_PAIR_TOP_K}
"""


def _split_leakage_sql() -> str:
    """Twin of queries.split_leakage_check: the leak-plant base (copies
    under LEAK_COPY_* remixed ids — NOT the dedup tier's 10^4-multiple
    offsets, which shift the split bucket by zero), the LCG split buckets
    from dq.sampling constants, and content grouping by
    coalesce(text, chr(0)) — the fingerprint_col contract (grouping by
    sha2 of the sentinel-coalesced text ≡ grouping by the text itself).
    Copies of NULL texts stay NULL in both engines, so they co-cluster
    with their sources."""
    from dq.queries import LEAK_COPY_MOD, LEAK_COPY_OFFSET
    from dq.sampling import (
        LCG_ADD,
        LCG_MUL,
        LEAK_SCALE,
        SAMPLE_MOD,
        SPLIT_EDGES,
        SPLIT_PAIRS,
    )

    whens = " ".join(
        f"WHEN bkt < {edge} THEN '{name}'" for name, edge in SPLIT_EDGES[:-1]
    )
    names = [n for n, _ in SPLIT_EDGES]
    n_cols = ",\n         ".join(
        f"sum(CASE WHEN split = '{n}' THEN 1 ELSE 0 END) AS n_{n}" for n in names
    )
    g_cols = []
    for a, b in SPLIT_PAIRS:
        tag = f"{a[0]}{b[0]}"
        g_cols.append(
            f"coalesce(sum(CASE WHEN n_{a} > 0 AND n_{b} > 0 THEN 1 ELSE 0 END), 0)"
            f" AS sh_{tag}"
        )
        g_cols.append(
            f"coalesce(sum(CASE WHEN n_{a} > 0 THEN n_{b} ELSE 0 END), 0) AS lk_{tag}"
        )
    g_cols.extend(f"coalesce(sum(n_{n}), 0) AS tot_{n}" for n in names)
    g_sql = ",\n         ".join(g_cols)
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{a}|{b}' AS pair,
       CAST(sh_{a[0]}{b[0]} AS BIGINT) AS shared_contents,
       CAST(lk_{a[0]}{b[0]} AS BIGINT) AS leaked_eval_docs,
       CAST(tot_{b} AS BIGINT) AS eval_docs,
       CAST(CASE WHEN tot_{b} > 0
                 THEN lk_{a[0]}{b[0]} * {LEAK_SCALE} // tot_{b}
                 ELSE 0 END AS BIGINT) AS leak_bp
FROM g"""
        for a, b in SPLIT_PAIRS
    )
    return f"""
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {LEAK_COPY_OFFSET}, text FROM documents
  WHERE doc_id % {LEAK_COPY_MOD} = 0
),
s AS (
  SELECT coalesce(text, chr(0)) AS t,
         CASE {whens} ELSE '{SPLIT_EDGES[-1][0]}' END AS split
  FROM (SELECT text,
               (doc_id * {LCG_MUL} + {LCG_ADD}) % {SAMPLE_MOD} AS bkt
        FROM planted)
), per AS (
  SELECT t, {n_cols}
  FROM s GROUP BY t
), g AS (
  SELECT {g_sql}
  FROM per
)
{arms}
"""


# round-5 addition: cross-split exact-content leakage audit (the GPT-3
# appendix-C contamination failure applied to one's own held-out splits).
ORACLES["split_leakage_check"] = _split_leakage_sql()


def _training_order_sql() -> str:
    """Twin of queries.training_order_shuffle: same independent-LCG shard
    + within-shard row_number (doc_id tie-break = total order, so the
    window is engine-independent) + round-robin interleave arithmetic.
    doc_id is nonnegative, so %% equals Spark's pmod."""
    from dq.sampling import N_ORDER_SHARDS, ORDER_ADD, ORDER_MUL, SAMPLE_MOD

    return f"""
WITH k AS (
  SELECT doc_id,
         (doc_id * {ORDER_MUL} + {ORDER_ADD}) % {SAMPLE_MOD} AS order_key
  FROM documents
), s AS (
  SELECT doc_id, order_key, order_key % {N_ORDER_SHARDS} AS shard FROM k
), r AS (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY shard ORDER BY order_key, doc_id)
           AS pos
  FROM s
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(pos AS BIGINT) AS pos_in_shard,
       CAST((pos - 1) * {N_ORDER_SHARDS} + shard AS BIGINT) AS global_pos
FROM r
"""


# round-5 addition: reproducible global training order without a global
# sort (round-robin interleave of independently hash-mixed shards).
ORACLES["training_order_shuffle"] = _training_order_sql()


def _meta_robots_sql() -> str:
    """Twin of queries.meta_robots_filter: the shared _html_render_sql
    render, the same </head> tag injection by doc_id residue, and the same
    dialect-subset extraction regex. regexp_extract returns '' on no match
    in BOTH engines (probed), so every boolean is two-valued."""
    from dq.queries import (
        HEAD_CLOSE,
        ROBOTS_BENIGN_REM,
        ROBOTS_BENIGN_TAG,
        ROBOTS_MOD,
        ROBOTS_NOINDEX_REM,
        ROBOTS_NOINDEX_TAG,
        ROBOTS_RE,
    )

    html = _html_render_sql()
    return f"""
WITH h AS (
  SELECT doc_id,
         replace({html},
                 '{_sq(HEAD_CLOSE)}',
                 CASE WHEN doc_id % {ROBOTS_MOD} = {ROBOTS_NOINDEX_REM}
                        THEN '{_sq(ROBOTS_NOINDEX_TAG)}'
                      WHEN doc_id % {ROBOTS_MOD} = {ROBOTS_BENIGN_REM}
                        THEN '{_sq(ROBOTS_BENIGN_TAG)}'
                      ELSE '' END || '{_sq(HEAD_CLOSE)}') AS html
  FROM documents
), c AS (
  SELECT doc_id,
         coalesce(regexp_extract(html, '{_sq(ROBOTS_RE)}', 1), '')
           AS robots_content
  FROM h
)
SELECT doc_id, robots_content,
       length(robots_content) > 0 AS has_robots_meta,
       contains(lower(robots_content), 'noindex') AS noindex,
       contains(lower(robots_content), 'nofollow') AS nofollow,
       NOT contains(lower(robots_content), 'noindex') AS keep
FROM c
"""


# round-5 addition: robots-meta crawl-compliance filter over the in-plan
# render (the second length-exact consumer of the shared render twin).
ORACLES["meta_robots_filter"] = _meta_robots_sql()


def _robots_txt_sql() -> str:
    """Twin of queries.robots_txt_filter: the same rule VALUES generated
    from dq.urlstats.ROBOTS_TXT_RULES, the same score = prefix_len * 2 +
    allow integer argmax (unmatched defaults to 1 = len 0 / allow), so the
    longest-match + allow-on-tie decision is pure max() in both engines."""
    from dq.urlstats import DOMAIN_RE, ROBOTS_TXT_RULES, URL_PATH_RE

    values = ", ".join(
        f"('{_sq(d)}', '{_sq(p)}', {a})" for d, p, a in ROBOTS_TXT_RULES
    )
    return f"""
WITH u AS (
  SELECT doc_id, {_url_expr()} AS url FROM documents
), p AS (
  SELECT doc_id,
         regexp_extract(url, '{DOMAIN_RE}', 1) AS domain,
         regexp_extract(url, '{URL_PATH_RE}', 1) AS path
  FROM u
), r(r_domain, prefix, allow) AS (VALUES {values}),
j AS (
  SELECT doc_id, domain, path,
         CASE WHEN prefix IS NOT NULL THEN length(prefix) * 2 + allow
              ELSE 1 END AS s
  FROM p LEFT JOIN r ON domain = r_domain AND starts_with(path, prefix)
), g AS (
  SELECT doc_id, domain, path, max(s) AS s FROM j GROUP BY 1, 2, 3
)
SELECT doc_id, domain, path,
       CAST(s // 2 AS BIGINT) AS matched_len,
       s % 2 = 1 AS allowed
FROM g
"""


# round-5 addition: robots.txt longest-match interpreter (RFC 9309
# crawl-compliance gate; integer-argmax decision, bit-exact).
ORACLES["robots_txt_filter"] = _robots_txt_sql()


def _classifier_calibration_sql() -> str:
    """Twin of queries.classifier_calibration: composes the shared
    quality_weighted_sample CTE chain (_qws_ctes) with the heuristics CTE +
    keep predicate — both generated from the same constants as the Spark
    side. All integer DIV/`//` (truncation parity probed, including the
    possibly-negative gap)."""
    from dq.queries import CAL_BANDS, _cal_thresholds

    width = 10_000 // CAL_BANDS
    return f"""
WITH {_heuristics_cte()},
h AS (
  SELECT doc_id, CASE WHEN {_keep_pred(_cal_thresholds())} THEN 1 ELSE 0 END AS k
  FROM m
),
{_qws_ctes()},
j AS (
  SELECT least({CAL_BANDS - 1}, keep_bp // {width}) AS band, keep_bp, k
  FROM qwk JOIN h USING (doc_id)
), g AS (
  SELECT band, count(*) AS n_docs, sum(keep_bp) AS sbp, sum(k) AS nk
  FROM j GROUP BY band
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sbp // n_docs AS BIGINT) AS mean_predicted_bp,
       CAST(nk AS BIGINT) AS n_heuristic_keep,
       CAST(nk * 10000 // n_docs AS BIGINT) AS observed_keep_bp,
       CAST(sbp // n_docs - nk * 10000 // n_docs AS BIGINT) AS gap_bp
FROM g
"""


# round-5 addition: soft-classifier calibration audit (reliability diagram
# vs the hard heuristic rules; composes two existing oracled twins).
ORACLES["classifier_calibration"] = _classifier_calibration_sql()


def _lm_doc_scores_sql() -> str:
    """Twin of dq.lm.kn_doc_scores: the _ngram_lm_counts_sql bigram/marginal
    construction restricted to the train slice, occurrence-joined against
    the held-out slice, per-doc integer means, tercile cutoffs from the
    cumulative distinct-mean histogram. All nonnegative int64, // == DIV."""
    from dq.lm import (
        LM_BANDS,
        LM_DISCOUNT_MILLI,
        LM_MIN_COUNT,
        LM_SCALE,
        LM_TRAIN_MOD,
        LM_UNK_MICRO,
    )

    head, mid, tail = LM_BANDS
    return f"""
WITH w AS (
  SELECT doc_id, {_WORDS_LOWER_NS} AS words FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(words), 1)),
             i -> words[i] || ' ' || words[i + 1])) AS gram
  FROM w
), o AS (
  SELECT doc_id, string_split(gram, ' ')[1] AS w1, string_split(gram, ' ')[2] AS w2
  FROM g
), tr AS (
  SELECT w1, w2 FROM o WHERE doc_id % {LM_TRAIN_MOD} = 0
), sc AS (
  SELECT doc_id, w1, w2 FROM o WHERE doc_id % {LM_TRAIN_MOD} <> 0
), types AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY 1, 2
), l AS (
  SELECT w1, CAST(sum(cnt) AS BIGINT) AS c_w1,
         CAST(count(*) AS BIGINT) AS right_types_w1
  FROM types GROUP BY 1
), lam AS (
  SELECT w1, c_w1,
         CAST({LM_DISCOUNT_MILLI} * right_types_w1 * {LM_SCALE}
              // (1000 * c_w1) AS BIGINT) AS lambda_micro
  FROM l
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS total_types FROM types
), cont AS (
  SELECT w2, CAST(count(*) * {LM_SCALE} // tot.total_types AS BIGINT)
           AS cont_micro
  FROM types, tot GROUP BY w2, tot.total_types
), pr AS (
  SELECT t.w1, t.w2,
         CAST(greatest(1000 * t.cnt - {LM_DISCOUNT_MILLI}, 0) * {LM_SCALE}
              // (1000 * l.c_w1) AS BIGINT) AS p_kn_micro
  FROM types t JOIN l USING (w1)
  WHERE t.cnt >= {LM_MIN_COUNT}
), ps AS (
  SELECT sc.doc_id,
         CASE WHEN pr.p_kn_micro IS NOT NULL
              THEN pr.p_kn_micro
                   + ((lam.lambda_micro * cont.cont_micro) // {LM_SCALE})
              WHEN lam.lambda_micro IS NOT NULL
                   AND cont.cont_micro IS NOT NULL
              THEN greatest((lam.lambda_micro * cont.cont_micro)
                            // {LM_SCALE}, {LM_UNK_MICRO})
              WHEN cont.cont_micro IS NOT NULL THEN cont.cont_micro
              ELSE {LM_UNK_MICRO} END AS p_micro
  FROM sc
  LEFT JOIN pr ON sc.w1 = pr.w1 AND sc.w2 = pr.w2
  LEFT JOIN lam ON sc.w1 = lam.w1
  LEFT JOIN cont ON sc.w2 = cont.w2
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
  FROM ps GROUP BY 1
), perdoc AS (
  SELECT d.doc_id,
         CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(coalesce(a.sum_p_micro, 0) AS BIGINT) AS sum_p_micro,
         CAST(coalesce(a.sum_p_micro, 0)
              // greatest(coalesce(a.n_bigrams, 0), 1) AS BIGINT)
           AS avg_p_micro
  FROM (SELECT doc_id FROM documents WHERE doc_id % {LM_TRAIN_MOD} <> 0) d
  LEFT JOIN agg a USING (doc_id)
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_scored FROM perdoc
), hist AS (
  SELECT avg_p_micro AS v, CAST(count(*) AS BIGINT) AS c
  FROM perdoc GROUP BY 1
), cum AS (
  SELECT v, sum(c) OVER (ORDER BY v DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_ge
  FROM hist
), cuts AS (
  SELECT max(CASE WHEN cum_ge >= (nn.n_scored + 2) // 3 THEN v END)
           AS head_cut,
         max(CASE WHEN cum_ge >= (2 * nn.n_scored + 2) // 3 THEN v END)
           AS mid_cut
  FROM cum, nn
)
SELECT p.doc_id, p.n_bigrams, p.sum_p_micro, p.avg_p_micro,
       CASE WHEN p.avg_p_micro >= cuts.head_cut THEN '{head}'
            WHEN p.avg_p_micro >= cuts.mid_cut THEN '{mid}'
            ELSE '{tail}' END AS lm_band
FROM perdoc p, cuts
"""


# round-5 addition: CCNet-style held-out KN document scoring + terciles
# (closes the train->score loop over the ngram_lm_counts tables).
ORACLES["lm_doc_scores"] = _lm_doc_scores_sql()


def _bm25_topk_sql() -> str:
    """Twin of dq.index.bm25_topk: same rational idf and cleared-fraction
    tf normalization, the same plain row_number() top-k (ties impossible on
    (score DESC, doc_id))."""
    from dq.index import BM25_K, BM25_QUERY_TERMS, BM25_SCALE

    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return f"""
WITH w AS (
  SELECT doc_id, {_WORDS_LOWER_NS} AS words FROM documents
), t AS (
  SELECT doc_id, unnest(words) AS term FROM w
), tf AS (
  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), lt AS (
  SELECT CAST(sum(tf) AS BIGINT) AS total_len FROM tf
), q AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM tf WHERE term IN ({terms}) GROUP BY 1
), m AS (
  SELECT tf.doc_id, tf.tf, dl.dl, q.df
  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
), s AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_matched,
         CAST(sum(((nn.n_docs + 1) * 1000 // (df + 1))
                  * (22 * tf * lt.total_len * {BM25_SCALE}
                     // (10 * tf * lt.total_len + 3 * lt.total_len
                         + 9 * dl * nn.n_docs))
                  // 1000) AS BIGINT) AS score_micro
  FROM m, nn, lt GROUP BY doc_id
), r AS (
  SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT)
           AS bm_rank,
         doc_id, n_terms_matched, score_micro
  FROM s
)
SELECT bm_rank, doc_id, n_terms_matched, score_micro
FROM r WHERE bm_rank <= {BM25_K}
"""


# round-5 addition: integer-exact BM25 retrieval over the inverted-index
# tier (rational idf documented deviation; tf normalization exact).
ORACLES["bm25_topk"] = _bm25_topk_sql()


def _trustrank_sql() -> str:
    """Twin of dq.webgraph.trustrank: the _pagerank_ctes unroll with the
    base/teleport mass restricted to TRUST_SEED_DOMAINS (r0 = scale on
    seeds, 0 elsewhere; per-round base = RANK_BASE on seeds, 0 elsewhere).
    All positive integers, // == DIV, bit-identical per round."""
    from dq.webgraph import (
        DAMP_DEN,
        DAMP_NUM,
        RANK_BASE,
        RANK_SCALE,
        TRUST_ITERS,
        TRUST_SEED_DOMAINS,
    )

    seeds = ", ".join(f"'{_sq(s)}'" for s in TRUST_SEED_DOMAINS)
    rounds = []
    prev = "t0"
    for i in range(1, TRUST_ITERS + 1):
        rounds.append(
            f"""c{i} AS (
  SELECT e.dst_domain AS domain, sum((r.trust * e.weight) // o.out_w) AS s
  FROM edges e JOIN {prev} r ON e.src_domain = r.domain
  JOIN outw o ON e.src_domain = o.src_domain
  GROUP BY 1
), t{i} AS (
  SELECT n.domain,
         CAST(CASE WHEN n.domain IN ({seeds}) THEN {RANK_BASE} ELSE 0 END
              + ({DAMP_NUM} * coalesce(c.s, 0)) // {DAMP_DEN} AS BIGINT)
           AS trust
  FROM nodes n LEFT JOIN c{i} c USING (domain)
)"""
        )
        prev = f"t{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH {_link_edges_ctes()},
nodes AS (
  SELECT src_domain AS domain FROM edges
  UNION
  SELECT dst_domain AS domain FROM edges
), outw AS (
  SELECT src_domain, CAST(sum(weight) AS BIGINT) AS out_w FROM edges GROUP BY 1
), t0 AS (
  SELECT domain,
         CAST(CASE WHEN domain IN ({seeds}) THEN {RANK_SCALE} ELSE 0 END
              AS BIGINT) AS trust
  FROM nodes
),
{chain}
SELECT domain, trust, domain IN ({seeds}) AS is_seed FROM {prev}
"""


# round-5 addition: TrustRank spam-demotion prior (seed-restricted teleport
# over the mined domain graph; unrolled-CTE twin like domain_pagerank).
ORACLES["domain_trustrank"] = _trustrank_sql()


def _hits_sql() -> str:
    """Twin of dq.webgraph.hits: unrolled weighted HITS rounds, each
    half-round max-normalized with ``//`` (== Spark DIV on the non-negative
    values here) — bit-identical per round. The scalar max subqueries twin
    the Spark side's broadcast crossJoin."""
    from dq.webgraph import HITS_ITERS, RANK_SCALE

    rounds = []
    prev_h = "h0"
    prev_a = None
    for i in range(1, HITS_ITERS + 1):
        rounds.append(
            f"""ar{i} AS (
  SELECT e.dst_domain AS domain, sum(h.hub * e.weight) AS raw
  FROM edges e JOIN {prev_h} h ON e.src_domain = h.domain
  GROUP BY 1
), a{i} AS (
  SELECT n.domain,
         CAST(coalesce((ar.raw * {RANK_SCALE}) // (SELECT max(raw) FROM ar{i}), 0)
              AS BIGINT) AS auth
  FROM nodes n LEFT JOIN ar{i} ar USING (domain)
), hr{i} AS (
  SELECT e.src_domain AS domain, sum(a.auth * e.weight) AS raw
  FROM edges e JOIN a{i} a ON e.dst_domain = a.domain
  GROUP BY 1
), h{i} AS (
  SELECT n.domain,
         CAST(coalesce((hr.raw * {RANK_SCALE}) // (SELECT max(raw) FROM hr{i}), 0)
              AS BIGINT) AS hub
  FROM nodes n LEFT JOIN hr{i} hr USING (domain)
)"""
        )
        prev_h, prev_a = f"h{i}", f"a{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH {_link_edges_ctes()},
nodes AS (
  SELECT src_domain AS domain FROM edges
  UNION
  SELECT dst_domain AS domain FROM edges
), h0 AS (
  SELECT domain, CAST({RANK_SCALE} AS BIGINT) AS hub FROM nodes
),
{chain}
SELECT n.domain, h.hub, a.auth
FROM nodes n JOIN {prev_h} h USING (domain) JOIN {prev_a} a USING (domain)
"""


# round-5 addition: HITS hub/authority centrality (Kleinberg 1999) over the
# mined domain graph — completes the webgraph trio with PageRank/TrustRank.
ORACLES["domain_hits"] = _hits_sql()


def _classifier_auc_sql() -> str:
    """Twin of queries.classifier_auc: the same _heuristics_cte/_qws_ctes
    composition as the calibration twin, then integer Mann-Whitney over the
    score-grouped table (doubled midranks stay integral under ties). All
    non-negative, // == DIV; DuckDB's HUGEINT intermediates are pinned back
    to the BIGINTs the Spark side emits."""
    from dq.queries import _cal_thresholds

    return f"""
WITH {_heuristics_cte()},
h AS (
  SELECT doc_id, CASE WHEN {_keep_pred(_cal_thresholds())} THEN 1 ELSE 0 END AS k
  FROM m
),
{_qws_ctes()},
g AS (
  SELECT keep_bp, count(*) AS n_tot, sum(k) AS n_pos_s
  FROM qwk JOIN h USING (doc_id) GROUP BY keep_bp
), r AS (
  SELECT *, coalesce(sum(n_tot) OVER (
    ORDER BY keep_bp ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ), 0) AS cum_below FROM g
), t AS (
  SELECT sum(n_pos_s) AS n_pos, sum(n_tot - n_pos_s) AS n_neg,
         sum(n_pos_s * (2 * cum_below + n_tot + 1)) AS r2
  FROM r
)
SELECT CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_neg AS BIGINT) AS n_neg,
       CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
       CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
       CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN -1 ELSE
         ((r2 - n_pos * (n_pos + 1)) * 10000) // (2 * n_pos * n_neg) END
       AS BIGINT) AS auc_bp
FROM t
"""


# round-5 addition: exact ROC-AUC ranking audit of the soft classifier
# against the hard heuristic labels (integer Mann-Whitney with midranks).
ORACLES["classifier_auc"] = _classifier_auc_sql()


def _signal_fusion_rrf_sql() -> str:
    """Twin of queries.signal_fusion_rrf: the qws, readability, and
    pagerank CTE chains composed, dense_rank() DESC per signal (== the
    Spark side's distinct-value row_number joined back), integer RRF sum.
    All positive, // == DIV."""
    from dq.fusion import RRF_K, RRF_SCALE

    pr_ctes, pr_final = _pagerank_ctes()
    contribs = " + ".join(
        f"{RRF_SCALE} // ({RRF_K} + rank_{s})"
        for s in ("keep_bp", "flesch_mp", "domain_rank")
    )
    return f"""
WITH {pr_ctes},
{_readability_cte(prefix="rd")},
{_qws_ctes()},
base AS (
  SELECT d.doc_id, q.keep_bp, rd.flesch_mp, p."rank" AS domain_rank
  FROM documents d
  JOIN qwk q USING (doc_id)
  JOIN rds rd USING (doc_id)
  JOIN {pr_final} p ON p.domain = d.source
), ranked AS (
  SELECT doc_id, keep_bp, flesch_mp, domain_rank,
         CAST(dense_rank() OVER (ORDER BY keep_bp DESC) AS BIGINT) AS rank_keep_bp,
         CAST(dense_rank() OVER (ORDER BY flesch_mp DESC) AS BIGINT) AS rank_flesch_mp,
         CAST(dense_rank() OVER (ORDER BY domain_rank DESC) AS BIGINT) AS rank_domain_rank
  FROM base
)
SELECT doc_id, keep_bp, flesch_mp, domain_rank,
       rank_keep_bp, rank_flesch_mp, rank_domain_rank,
       CAST({contribs} AS BIGINT) AS rrf_micro
FROM ranked
"""


# round-5 addition: reciprocal-rank fusion of classifier/readability/
# centrality signals (Cormack et al. 2009) — integer dense-rank RRF.
ORACLES["signal_fusion_rrf"] = _signal_fusion_rrf_sql()


def _zorder_values_sql() -> str:
    """Twin of queries.zorder_values: row_number over the DISTINCT-source
    frame == the Spark side's dense code; the interleave expression comes
    from the SAME generator (dq.layout.zvalue_sql) in its DuckDB spelling,
    so the bit math literally cannot drift between engines."""
    from dq.layout import Z_MASK, zvalue_sql

    z = zvalue_sql("len_bucket", "src_code", "duckdb")
    return f"""
WITH src AS (
  SELECT source,
         CAST(row_number() OVER (ORDER BY source DESC) AS BIGINT) AS src_code
  FROM (SELECT DISTINCT source FROM documents)
), b AS (
  SELECT d.doc_id,
         least(greatest(coalesce(d.n_chars, 0) // 16, 0), {Z_MASK}) AS len_bucket,
         s.src_code
  FROM documents d JOIN src s USING (source)
)
SELECT doc_id, len_bucket, src_code, {z} AS zval
FROM b
"""


# round-5 addition: Morton/Z-order two-key layout interleave (dq.layout).
ORACLES["zorder_values"] = _zorder_values_sql()


def _heavy_hitter_tokens_sql() -> str:
    """Twin of queries.heavy_hitter_tokens: the exact global top-K the MG
    candidates→verify pipeline is guaranteed to equal whenever every true
    top-K token's count exceeds n/(capacity+1) — trivially true on the
    gate corpora, whose whole vocabulary fits the capacity."""
    from dq.heavyhitters import HH_TOP_K

    return f"""
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'),
                            x -> x <> '')) AS token
  FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM toks
GROUP BY token
ORDER BY cnt DESC, token ASC
LIMIT {HH_TOP_K}
"""


# round-5 addition: Misra-Gries heavy hitters, exact via candidate verify.
ORACLES["heavy_hitter_tokens"] = _heavy_hitter_tokens_sql()


def _pq_cte() -> str:
    """Shared CTE chain reproducing dq.pq bit-for-bit: quantize -> slice
    into PQ_M subvectors -> per-subspace seed centroids -> PQ_ITERS
    (argmin assign, floor-mean update) rounds keyed by (sub, cid) ->
    final assignment ``af`` (vec_id, sub, sv, cid, d2). The same unrolled
    recipe as _kmeans_cte with the subspace id joined through."""
    from dq.pq import PQ_CENT_MOD, PQ_ITERS, PQ_M, PQ_SUB

    d2 = (
        "CAST(list_sum(list_transform(list_zip(s.sv, c.cq), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )

    def assign(name: str, cents: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, sub, sv, cid, d2 FROM (
    SELECT s.vec_id, s.sub, s.sv, c.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY s.vec_id, s.sub
                              ORDER BY {d2}, c.cid) AS rn
    FROM subs s JOIN {cents} c ON s.sub = c.sub
  ) WHERE rn = 1
)"""

    parts = [
        """q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
)""",
        f"""subs AS (
  SELECT vec_id, s AS sub, list_slice(qv, s * {PQ_SUB} + 1, s * {PQ_SUB} + {PQ_SUB}) AS sv
  FROM q CROSS JOIN unnest(range(0, {PQ_M})) AS t(s)
)""",
        f"c0 AS (SELECT sub, vec_id AS cid, sv AS cq FROM subs WHERE vec_id % {PQ_CENT_MOD} = 0)",
    ]
    for r in range(PQ_ITERS):
        parts.append(assign(f"a{r}", f"c{r}"))
        parts.append(f"""u{r} AS (
  SELECT sub, cid, i AS pos, CAST(floor(sum(sv[i]) / count(*)) AS BIGINT) AS m
  FROM a{r} CROSS JOIN unnest(range(1, {PQ_SUB + 1})) AS t(i)
  GROUP BY sub, cid, i
)""")
        parts.append(
            f"c{r + 1} AS (SELECT sub, cid, list(m ORDER BY pos) AS cq FROM u{r} GROUP BY sub, cid)"
        )
    parts.append(assign("af", f"c{PQ_ITERS}"))
    return "WITH " + ",\n".join(parts)


def _pq_codes_sql() -> str:
    return f"""{_pq_cte()}
SELECT vec_id, CAST(sub AS BIGINT) AS sub_id, CAST(cid AS BIGINT) AS code,
       d2 AS sq_dist
FROM af
"""


def _pq_ann_topk_sql() -> str:
    from dq.pq import PQ_ITERS
    from dq.queries import ANN_K, ANN_QUERY_MOD

    d2q = (
        "CAST(list_sum(list_transform(list_zip(s.sv, c.cq), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    return f"""{_pq_cte()},
dt AS (
  SELECT s.vec_id AS query_id, s.sub, c.cid, {d2q} AS d2
  FROM subs s JOIN c{PQ_ITERS} c ON s.sub = c.sub
  WHERE s.vec_id % {ANN_QUERY_MOD} = 0
), adc AS (
  SELECT d.query_id, a.vec_id AS neighbor_id, CAST(sum(d.d2) AS BIGINT) AS adc_d2
  FROM af a JOIN dt d ON a.sub = d.sub AND a.cid = d.cid
  WHERE a.vec_id <> d.query_id
  GROUP BY d.query_id, a.vec_id
), r AS (
  SELECT query_id, neighbor_id, adc_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_d2 ASC, neighbor_id) AS rnk
  FROM adc
)
SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rank, adc_d2
FROM r WHERE rnk <= {ANN_K}
"""


# round-5 addition: product quantization (Jegou et al. 2011) — codes + ADC.
ORACLES["pq_codes"] = _pq_codes_sql()
ORACLES["pq_ann_topk"] = _pq_ann_topk_sql()


def _cluster_purity_sql() -> str:
    """Twin of queries.cluster_purity over the shared k-means CTE chain."""
    return f"""{_kmeans_cte()},
lab AS (
  SELECT af.vec_id, CAST(af.cid AS BIGINT) AS cluster_id, e.label
  FROM af JOIN embeddings e USING (vec_id)
), counts AS (
  SELECT cluster_id, label, count(*) AS n_lab FROM lab GROUP BY 1, 2
), top AS (
  SELECT cluster_id, label, n_lab,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_lab DESC, label ASC) AS rn
  FROM counts
), sizes AS (
  SELECT cluster_id, CAST(sum(n_lab) AS BIGINT) AS n_members
  FROM counts GROUP BY 1
)
SELECT s.cluster_id, s.n_members,
       CAST(t.label AS BIGINT) AS top_label,
       CAST(t.n_lab AS BIGINT) AS top_label_n,
       (10000 * CAST(t.n_lab AS BIGINT)) // s.n_members AS purity_bp
FROM sizes s JOIN top t ON t.cluster_id = s.cluster_id AND t.rn = 1
"""


# round-5 addition: k-means label-purity audit over the shared kmeans CTE.
ORACLES["cluster_purity"] = _cluster_purity_sql()


def _homoglyph_metrics_sql() -> str:
    """Twin of queries.homoglyph_metrics — the from/to strings interpolate
    from the SAME dq.normalize pair list, so the fold mapping cannot
    drift. translate() is codepoint-for-codepoint in both engines; the
    chr(0) NULL sentinel is outside the confusable set, so it survives
    the fold untouched."""
    from dq.normalize import HOMOGLYPH_FROM, HOMOGLYPH_TO

    return f"""
WITH b AS (
  SELECT doc_id,
         CAST(length(coalesce(text, '')) -
              length(translate(coalesce(text, ''), '{HOMOGLYPH_FROM}', ''))
              AS BIGINT) AS n_confusable,
         sha256(coalesce(text, chr(0))) AS fp_raw,
         sha256(translate(coalesce(text, chr(0)),
                          '{HOMOGLYPH_FROM}', '{HOMOGLYPH_TO}')) AS fp_fold
  FROM documents
), s AS (
  SELECT fp_fold,
         CAST(count(*) AS BIGINT) AS n_fold_group,
         CAST(count(DISTINCT fp_raw) AS BIGINT) AS n_raw
  FROM b GROUP BY 1
)
SELECT b.doc_id, b.n_confusable, s.n_fold_group,
       CAST(CASE WHEN s.n_raw > 1 THEN 1 ELSE 0 END AS BIGINT) AS obfus_dup
FROM b JOIN s USING (fp_fold)
"""


# round-5 addition: confusable folding / obfuscated-dup detection (TR39).
ORACLES["homoglyph_metrics"] = _homoglyph_metrics_sql()


def _filter_overlap_matrix_sql() -> str:
    """Twin of queries.filter_overlap_matrix: same RULE_DEFS/THRESHOLDS
    constants, the shared heuristics metric CTE, 55 pair sums in one agg,
    UNION ALL unpivot, integer Jaccard with // (all operands positive)."""
    from dq.heuristics import RULE_DEFS, THRESHOLDS

    names = [n for n, *_ in RULE_DEFS]
    preds = {
        name: f"{metric} {op} {THRESHOLDS[thr]!r}"
        for name, metric, op, thr in RULE_DEFS
    }
    flag_cols = ",\n    ".join(
        f"CASE WHEN {preds[n]} THEN 1 ELSE 0 END AS {n}" for n in names
    )
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i:]]
    pair_sums = ",\n    ".join(
        f"CAST(sum({a} * {b}) AS BIGINT) AS p{i}" for i, (a, b) in enumerate(pairs)
    )
    unpivot = "\n  UNION ALL ".join(
        f"SELECT '{a}' AS rule_a, '{b}' AS rule_b, p{i} AS n_both FROM wide"
        for i, (a, b) in enumerate(pairs)
    )
    return f"""WITH {_heuristics_cte()},
flags AS (
  SELECT doc_id,
    {flag_cols}
  FROM m
), wide AS (
  SELECT
    {pair_sums}
  FROM flags
), long AS (
  {unpivot}
), diag AS (
  SELECT rule_a AS r, n_both AS nf FROM long WHERE rule_a = rule_b
)
SELECT l.rule_a, l.rule_b, l.n_both,
       da.nf AS n_a_fail, db.nf AS n_b_fail,
       CASE WHEN da.nf + db.nf - l.n_both > 0
            THEN (10000 * l.n_both) // (da.nf + db.nf - l.n_both)
            ELSE CAST(0 AS BIGINT) END AS jaccard_bp
FROM long l
JOIN diag da ON da.r = l.rule_a
JOIN diag db ON db.r = l.rule_b
"""


# round-5 addition: heuristic-rule overlap/redundancy matrix (one-pass).
ORACLES["filter_overlap_matrix"] = _filter_overlap_matrix_sql()


# ---- round-5 additions: in-engine training / checks / bootstrap / containment


_TRAIN_TOKS = (
    "list_filter(regexp_split_to_array(lower(coalesce(text, '')), '[\\s\\x0b]+'),"
    " x -> x <> '')"
)


def _perceptron_cte() -> tuple[str, str]:
    """Shared CTE chain for the batch-perceptron twins: teacher labels from
    the heuristics CTE, rank-assigned vocabulary (count DESC, token ASC —
    row_number computed over the FULL count table, LIMIT after, so fids
    are the global ranks), integer bag-of-words features + the bias row per
    doc, then TRAIN_ROUNDS unrolled full-batch rounds (the kmeans/pagerank
    unrolled-iteration oracle machinery: each round is score -> miss ->
    delta -> weight CTEs). Returns (cte_sql, final_weight_cte_name).
    Constants (TRAIN_VOCAB_K, TRAIN_ROUNDS) come from dq.train — the same
    objects the Spark path uses, so the two sides cannot drift."""
    from dq.train import TRAIN_ROUNDS, TRAIN_VOCAB_K

    head = f"""{_heuristics_cte()},
lab AS (
  SELECT doc_id, CAST(CASE WHEN {_keep_pred()} THEN 1 ELSE -1 END AS BIGINT) AS y FROM m
), toks AS (
  SELECT doc_id, unnest({_TRAIN_TOKS}) AS tok FROM documents
), vcnt AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1
), vocab AS (
  SELECT CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS fid, tok, n
  FROM vcnt ORDER BY n DESC, tok ASC LIMIT {TRAIN_VOCAB_K}
), x0 AS (
  SELECT t.doc_id, v.fid, CAST(count(*) AS BIGINT) AS c
  FROM toks t JOIN vocab v USING (tok) GROUP BY 1, 2
), x AS (
  SELECT * FROM x0
  UNION ALL SELECT doc_id, CAST(0 AS BIGINT), CAST(1 AS BIGINT) FROM lab
), w0 AS (
  SELECT CAST(0 AS BIGINT) AS fid, CAST(0 AS BIGINT) AS w
  UNION ALL SELECT fid, CAST(0 AS BIGINT) FROM vocab
)"""
    rounds = []
    prev = "w0"
    for r in range(1, TRAIN_ROUNDS + 1):
        rounds.append(f""", s{r} AS (
  SELECT x.doc_id, sum(x.c * {prev}.w) AS s FROM x JOIN {prev} USING (fid) GROUP BY 1
), m{r} AS (
  SELECT lab.doc_id, lab.y FROM lab JOIN s{r} USING (doc_id) WHERE lab.y * s{r}.s <= 0
), d{r} AS (
  SELECT x.fid, sum(m{r}.y * x.c) AS d FROM x JOIN m{r} USING (doc_id) GROUP BY 1
), w{r} AS (
  SELECT {prev}.fid, {prev}.w + coalesce(d{r}.d, 0) AS w
  FROM {prev} LEFT JOIN d{r} USING (fid)
)""")
        prev = f"w{r}"
    return head + "".join(rounds), prev


def _perceptron_weights_sql() -> str:
    """Twin of queries.perceptron_weights (bias token reported as '')."""
    cte, w_n = _perceptron_cte()
    return f"""WITH {cte}
SELECT wf.fid AS feature_id, coalesce(v.tok, '') AS token, CAST(wf.w AS BIGINT) AS weight
FROM {w_n} wf LEFT JOIN vocab v USING (fid)
"""


def _perceptron_preds_sql() -> str:
    """Twin of queries.perceptron_preds: final-weight scores per doc;
    pred = +1 iff score > 0 (ties drop — same rule as the Spark path)."""
    cte, w_n = _perceptron_cte()
    return f"""WITH {cte}, sf AS (
  SELECT x.doc_id, CAST(sum(x.c * {w_n}.w) AS BIGINT) AS score
  FROM x JOIN {w_n} USING (fid) GROUP BY 1
)
SELECT lab.doc_id, lab.y, sf.score,
       CAST(CASE WHEN sf.score > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
FROM lab JOIN sf USING (doc_id)
"""


ORACLES["perceptron_weights"] = _perceptron_weights_sql()
ORACLES["perceptron_preds"] = _perceptron_preds_sql()


def _check_violation_sql(c) -> str:
    """Row-violation CASE for one dq.checks constraint — the same
    two-valued semantics as dq.checks._violation_pred (NULL = violation
    for value constraints; the NOT IN NULL trap is compiled away)."""
    col = c.col
    if c.kind == "not_null":
        return f"CASE WHEN {col} IS NULL THEN 1 ELSE 0 END"
    if c.kind == "in_set":
        vals = ", ".join("'" + _sq(v) + "'" for v in c.values)
        return f"CASE WHEN {col} IS NULL OR {col} NOT IN ({vals}) THEN 1 ELSE 0 END"
    if c.kind == "in_range":
        return (
            f"CASE WHEN {col} IS NULL OR {col} < {c.lo!r} OR {col} > {c.hi!r} "
            f"THEN 1 ELSE 0 END"
        )
    if c.kind == "matches":
        return (
            f"CASE WHEN {col} IS NULL OR NOT regexp_matches({col}, '{_sq(c.pattern)}') "
            f"THEN 1 ELSE 0 END"
        )
    raise ValueError(f"not a row-predicate constraint: {c.kind}")


def _constraint_report_sql() -> str:
    """Twin of queries.constraint_report, generated from the SAME
    dq.checks.ORDERS_CHECKS list: one wide conditional-sum agg + UNION ALL
    unpivot; fk checks as NOT EXISTS scalar subqueries. "constraint" is
    quoted (DuckDB keyword)."""
    from dq.checks import ORDERS_CHECKS

    aggs = ["CAST(count(*) AS BIGINT) AS _nr"]
    cells = []
    for i, c in enumerate(ORDERS_CHECKS):
        if c.kind in ("not_null", "in_set", "in_range", "matches"):
            aggs.append(f"CAST(sum({_check_violation_sql(c)}) AS BIGINT) AS _v{i}")
            cells.append((c.name, f"_v{i}"))
        elif c.kind == "unique":
            aggs.append(f"CAST(count({c.col}) AS BIGINT) AS _n{i}")
            aggs.append(f"CAST(count(DISTINCT {c.col}) AS BIGINT) AS _d{i}")
            cells.append((c.name, f"_n{i} - _d{i}"))
        elif c.kind == "min_rows":
            cells.append((c.name, f"CASE WHEN _nr < {c.n} THEN 1 ELSE 0 END"))
        elif c.kind != "fk":
            raise ValueError(f"unknown constraint kind: {c.kind}")
    agg_sql = ",\n    ".join(aggs)
    unions = "\n  UNION ALL ".join(
        f"SELECT '{name}' AS constraint, _nr AS n_rows, "
        f"CAST({cell} AS BIGINT) AS n_violations FROM agg"
        for name, cell in cells
    )
    fk_unions = []
    for c in ORDERS_CHECKS:
        if c.kind != "fk":
            continue
        fk_unions.append(f"""SELECT '{c.name}' AS constraint,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE o.{c.col} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {c.dim} d WHERE d.{c.dim_col} = o.{c.col})
       ) AS n_violations""")
    all_unions = unions + (
        "\n  UNION ALL " + "\n  UNION ALL ".join(fk_unions) if fk_unions else ""
    )
    return f"""WITH agg AS (
  SELECT
    {agg_sql}
  FROM orders
), rep AS (
  {all_unions}
)
SELECT "constraint", n_rows, n_violations, n_violations = 0 AS passed FROM rep
"""


ORACLES["constraint_report"] = _constraint_report_sql()


def _bootstrap_keep_rates_sql() -> str:
    """Twin of queries.bootstrap_keep_rates: the draw expression and the
    Poisson CASE come from the SAME dq.bootstrap builders the Spark path
    evaluates (one SQL text, two engines), over the shared heuristics CTE."""
    from dq.bootstrap import (
        BOOT_REPLICAS,
        _poisson_weight_sql_case,
        replica_draw_cols,
    )

    case = _poisson_weight_sql_case(replica_draw_cols("doc_id", "replica"))
    return f"""WITH {_heuristics_cte()},
flags AS (
  SELECT doc_id, CAST(CASE WHEN {_keep_pred()} THEN 1 ELSE 0 END AS BIGINT) AS k FROM m
), reps AS (
  SELECT doc_id, k, unnest(range(0, {BOOT_REPLICAS})) AS replica FROM flags
), wts AS (
  SELECT CAST(replica AS BIGINT) AS replica, k, CAST({case} AS BIGINT) AS w FROM reps
)
SELECT replica,
       CAST(sum(w) AS BIGINT) AS w_total,
       CAST(sum(w * k) AS BIGINT) AS keep_w,
       CAST(CASE WHEN sum(w) > 0 THEN (10000 * sum(w * k)) // sum(w)
            ELSE 0 END AS BIGINT) AS keep_rate_bp
FROM wts GROUP BY 1
"""


ORACLES["bootstrap_keep_rates"] = _bootstrap_keep_rates_sql()


def _containment_pairs_sql() -> str:
    """Twin of queries.containment_pairs — the _ngram_jaccard_sql shingle
    CTE with the asymmetric |A∩B|/|A| and |A∩B|/|B| outputs (Broder 1997
    containment; exact-integer double divisions)."""
    n = JACCARD_SHINGLE_N
    return f"""
WITH base AS ({_PLANTED_BASE}),
pairs AS (
  SELECT doc_id AS id_a, doc_id + {PLANT_EXACT_OFFSET} AS id_b
  FROM documents WHERE doc_id % {PLANT_EXACT_MOD} = 0
  UNION ALL
  SELECT doc_id, doc_id + {PLANT_NEAR_OFFSET}
  FROM documents WHERE doc_id % {PLANT_NEAR_MOD} = 0
), w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS words
  FROM base
), sh AS (
  SELECT doc_id,
         CASE WHEN len(words) >= {n}
              THEN list_distinct(list_transform(range(1, len(words) - {n - 2}),
                   i -> array_to_string(list_slice(words, i, i + {n - 1}), ' ')))
              ELSE [coalesce(array_to_string(words, ' '), '')] END AS s
  FROM w
)
SELECT p.id_a, p.id_b,
       CASE WHEN len(a.s) > 0
            THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
            ELSE 0.0 END AS cont_a_in_b,
       CASE WHEN len(b.s) > 0
            THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)
            ELSE 0.0 END AS cont_b_in_a
FROM pairs p
JOIN sh a ON a.doc_id = p.id_a
JOIN sh b ON b.doc_id = p.id_b
"""


ORACLES["containment_pairs"] = _containment_pairs_sql()


# ---- round-5 additions: priority sampling / mixture reweighting / drift ----


def _priority_sample_sql() -> str:
    """Twin of queries.priority_sample — the LCG draw, fixed-point priority,
    threshold tau, and DLT estimator all from the SAME dq.priority /
    dq.sampling constants the Spark path evaluates."""
    from dq.priority import PRIORITY_K, PRIORITY_SCALE
    from dq.sampling import LCG_ADD, LCG_MUL, SAMPLE_MOD

    return f"""WITH pri AS (
  SELECT doc_id,
         CAST(n_chars + 1 AS BIGINT) AS w,
         CAST((doc_id * {LCG_MUL} + {LCG_ADD}) % {SAMPLE_MOD} + 1 AS BIGINT) AS u
  FROM documents
), ranked AS (
  SELECT doc_id, w, u,
         CAST((w * {PRIORITY_SCALE}) // u AS BIGINT) AS q,
         row_number() OVER (
           ORDER BY (w * {PRIORITY_SCALE}) // u DESC, doc_id ASC
         ) AS rn
  FROM pri
), tau AS (
  SELECT CAST(coalesce(
           (SELECT q FROM ranked WHERE rn = {PRIORITY_K + 1}), 0) AS BIGINT) AS tau
)
SELECT doc_id, w, u, q, tau.tau AS tau,
       CAST(greatest(w * {PRIORITY_SCALE}, tau.tau * {SAMPLE_MOD}) AS BIGINT)
         AS w_hat_scaled
FROM ranked, tau WHERE rn <= {PRIORITY_K}
"""


ORACLES["priority_sample"] = _priority_sample_sql()


def _mixture_weights_sql() -> str:
    """Twin of queries.mixture_weights: heuristic keep rates per source
    (the shared heuristics CTE), excess over the corpus mean, MIX_ROUNDS
    unrolled multiplicative-weights rounds with floor renormalization —
    constants from dq.mixture, so the engines cannot drift."""
    from dq.mixture import MIX_BP, MIX_ROUNDS

    head = f"""{_heuristics_cte()},
fl AS (
  SELECT d.source AS domain,
         CASE WHEN {_keep_pred()} THEN 1 ELSE 0 END AS k
  FROM m JOIN documents d USING (doc_id)
), rates AS (
  SELECT domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(k) AS BIGINT) AS n_keep,
         CAST((sum(k) * {MIX_BP}) // count(*) AS BIGINT) AS keep_bp
  FROM fl GROUP BY 1
), cm AS (
  SELECT CAST((sum(n_keep) * {MIX_BP}) // sum(n_docs) AS BIGINT) AS corpus_bp
  FROM rates
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM rates
), w0 AS (
  SELECT rates.domain, rates.keep_bp,
         CAST(greatest(rates.keep_bp - cm.corpus_bp, 0) AS BIGINT) AS excess_bp,
         CAST({MIX_BP} // nd.n AS BIGINT) AS wbp
  FROM rates, cm, nd
)"""
    rounds = []
    prev = "w0"
    for r in range(1, MIX_ROUNDS + 1):
        rounds.append(f""", raw{r} AS (
  SELECT domain, keep_bp, excess_bp,
         CAST(wbp * ({MIX_BP} + excess_bp) AS BIGINT) AS raw
  FROM {prev}
), tot{r} AS (
  SELECT CAST(sum(raw) AS BIGINT) AS t FROM raw{r}
), w{r} AS (
  SELECT domain, keep_bp, excess_bp,
         CAST((raw * {MIX_BP}) // tot{r}.t AS BIGINT) AS wbp
  FROM raw{r}, tot{r}
)""")
        prev = f"w{r}"
    return (
        "WITH " + head + "".join(rounds)
        + f"\nSELECT domain, keep_bp, excess_bp, wbp AS weight_bp FROM {prev}\n"
    )


ORACLES["mixture_weights"] = _mixture_weights_sql()


def _drift_cte() -> str:
    """Shared CTE chain for the snapshot-drift twins: the crawldiff planted
    snapshot constants lifted to n_chars (dq.drift.planted_length_snapshots),
    banded counts, full-outer band join, totals, fixed-point rates."""
    from dq.crawldiff import (
        CHANGED_MOD,
        CHANGED_REM,
        CHANGED_SUFFIX,
        NEW_DROP_MOD,
        NEW_DROP_REM,
        OLD_DROP_MOD,
        OLD_DROP_REM,
    )
    from dq.drift import DRIFT_BAND_WIDTH, DRIFT_SCALE

    suf = len(CHANGED_SUFFIX)
    return f"""o AS (
  SELECT CAST(n_chars AS BIGINT) // {DRIFT_BAND_WIDTH} AS band,
         CAST(count(*) AS BIGINT) AS c_old
  FROM documents WHERE doc_id % {OLD_DROP_MOD} <> {OLD_DROP_REM} GROUP BY 1
), n AS (
  SELECT CAST(CASE WHEN doc_id % {CHANGED_MOD} = {CHANGED_REM}
                   THEN n_chars + {suf} ELSE n_chars END AS BIGINT)
           // {DRIFT_BAND_WIDTH} AS band,
         CAST(count(*) AS BIGINT) AS c_new
  FROM documents WHERE doc_id % {NEW_DROP_MOD} <> {NEW_DROP_REM} GROUP BY 1
), j AS (
  SELECT coalesce(o.band, n.band) AS band,
         CAST(coalesce(c_old, 0) AS BIGINT) AS c_old,
         CAST(coalesce(c_new, 0) AS BIGINT) AS c_new
  FROM o FULL OUTER JOIN n ON o.band = n.band
), t AS (
  SELECT CAST(sum(c_old) AS BIGINT) AS t_old,
         CAST(sum(c_new) AS BIGINT) AS t_new FROM j
), scored AS (
  SELECT band, c_old, c_new,
         CAST((c_old * {DRIFT_SCALE}) // t.t_old AS BIGINT) AS r_old_ppm,
         CAST((c_new * {DRIFT_SCALE}) // t.t_new AS BIGINT) AS r_new_ppm,
         CAST((c_new * {DRIFT_SCALE}) // t.t_new
              - (c_old * {DRIFT_SCALE}) // t.t_old AS BIGINT) AS delta_ppm
  FROM j, t
)"""


def _snapshot_band_drift_sql() -> str:
    """Twin of queries.snapshot_band_drift."""
    return f"""WITH {_drift_cte()}
SELECT band, c_old, c_new, r_old_ppm, r_new_ppm, delta_ppm FROM scored
"""


def _snapshot_drift_summary_sql() -> str:
    """Twin of queries.snapshot_drift_summary."""
    return f"""WITH {_drift_cte()}
SELECT CAST(count(*) AS BIGINT) AS n_bands,
       CAST(sum(CASE WHEN delta_ppm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_grown,
       CAST(sum(CASE WHEN delta_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_shrunk,
       CAST(sum(abs(delta_ppm)) // 2 AS BIGINT) AS tv_ppm
FROM scored
"""


ORACLES["snapshot_band_drift"] = _snapshot_band_drift_sql()
ORACLES["snapshot_drift_summary"] = _snapshot_drift_summary_sql()


# ---- round-5 additions: edit-distance verify / cohort retention ------------


def _editdist_pairs_sql() -> str:
    """Twin of queries.editdist_pairs — the ASCII fold (same regex, 'g'
    flag), prefix cut, length-gap prune, DP distance, and fixed-point
    similarity all from dq.editdist constants. levenshtein() is byte-based
    in DuckDB and codepoint-based in Spark; the fold makes them equal (the
    module docstring's probe)."""
    from dq.editdist import ASCII_FOLD_RE, EDIT_MAX, EDIT_PREFIX, EDIT_SIM_BP

    return f"""WITH base AS ({_PLANTED_BASE}),
pairs AS (
  SELECT doc_id AS id_a, doc_id + {PLANT_EXACT_OFFSET} AS id_b
  FROM documents WHERE doc_id % {PLANT_EXACT_MOD} = 0
  UNION ALL
  SELECT doc_id, doc_id + {PLANT_NEAR_OFFSET}
  FROM documents WHERE doc_id % {PLANT_NEAR_MOD} = 0
), f AS (
  SELECT doc_id,
         substring(regexp_replace(text, '{ASCII_FOLD_RE}', '?', 'g'),
                   1, {EDIT_PREFIX}) AS p
  FROM base
), j AS (
  SELECT id_a, id_b,
         CAST(length(a.p) AS BIGINT) AS len_a,
         CAST(length(b.p) AS BIGINT) AS len_b,
         CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev
  FROM pairs
  JOIN f a ON a.doc_id = pairs.id_a
  JOIN f b ON b.doc_id = pairs.id_b
  WHERE abs(length(a.p) - length(b.p)) <= {EDIT_MAX}
)
SELECT id_a, id_b, len_a, len_b, lev,
       CAST((greatest(len_a, len_b) - lev) * {EDIT_SIM_BP}
            // greatest(greatest(len_a, len_b), 1) AS BIGINT) AS sim_bp,
       lev <= {EDIT_MAX} AS is_dup
FROM j
"""


ORACLES["editdist_pairs"] = _editdist_pairs_sql()


def _retention_cohorts_sql() -> str:
    """Twin of queries.retention_cohorts: first-seen day per user, distinct
    user-day activity, exact day offsets, RETENTION_BP fixed point."""
    from dq.queries import RETENTION_BP

    return f"""WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
), first AS (
  SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1
), activity AS (
  SELECT DISTINCT user_id, day FROM ev
), joined AS (
  SELECT a.user_id, strftime(f.first_day, '%Y%m%d') AS cohort_day,
         CAST(date_diff('day', f.first_day, a.day) AS BIGINT) AS day_offset
  FROM activity a JOIN first f USING (user_id)
), sizes AS (
  SELECT strftime(first_day, '%Y%m%d') AS cohort_day,
         CAST(count(*) AS BIGINT) AS cohort_size
  FROM first GROUP BY 1
), ret AS (
  SELECT cohort_day, day_offset,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM joined GROUP BY 1, 2
)
SELECT ret.cohort_day, ret.day_offset, ret.n_active, sizes.cohort_size,
       CAST((ret.n_active * {RETENTION_BP}) // sizes.cohort_size AS BIGINT)
         AS retention_bp
FROM ret JOIN sizes USING (cohort_day)
"""


ORACLES["retention_cohorts"] = _retention_cohorts_sql()


# ---- round-5 additions: events analytics / line churn ----------------------


def _event_funnel_sql() -> str:
    """Twin of queries.event_funnel: sequential min-join chain (a different
    plan than Spark's shared-window form — deliberate oracle independence),
    FUNNEL_BP conversion from step 1."""
    from dq.events import FUNNEL_BP, FUNNEL_STEPS

    steps = FUNNEL_STEPS
    in_list = ", ".join(f"'{s}'" for s in steps)
    ctes = [
        f"""s1 AS (
  SELECT user_id, min(ts) AS t1 FROM ev
  WHERE event_type = '{steps[0]}' GROUP BY 1
)"""
    ]
    for k in range(2, len(steps) + 1):
        ctes.append(
            f"""s{k} AS (
  SELECT user_id, min(ts) AS t{k} FROM ev JOIN s{k-1} USING (user_id)
  WHERE event_type = '{steps[k-1]}' AND ts >= t{k-1} GROUP BY 1
)"""
        )
    n_cols = ", ".join(
        f"(SELECT count(*) FROM s{k}) AS n{k}" for k in range(1, len(steps) + 1)
    )
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS BIGINT) AS step_idx, '{s}' AS step,
       CAST(n{k} AS BIGINT) AS n_users,
       CAST(n{k} * {FUNNEL_BP} // greatest(n1, 1) AS BIGINT) AS conversion_bp
FROM n"""
        for k, s in enumerate(steps, 1)
    )
    return f"""WITH ev AS (
  SELECT user_id, ts, event_type FROM events WHERE event_type IN ({in_list})
), {", ".join(ctes)}, n AS (
  SELECT {n_cols}
)
{rows}
"""


ORACLES["event_funnel"] = _event_funnel_sql()


def _active_user_windows_sql() -> str:
    """Twin of queries.active_user_windows: generate_series window fan-out
    over the distinct user-day grain; DuckDB DATE + INTEGER adds days."""
    from dq.events import ACTIVE_BP, ACTIVE_M, ACTIVE_W

    def rolled(days: int, out: str) -> str:
        return f"""{out}c AS (
  SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS day
  FROM act, generate_series(0, {days - 1}) t(i)
), {out} AS (
  SELECT day, CAST(count(*) AS BIGINT) AS {out} FROM {out}c GROUP BY 1
)"""

    return f"""WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY 1
), {rolled(ACTIVE_W, "wau")}, {rolled(ACTIVE_M, "mau")}
SELECT strftime(dau.day, '%Y%m%d') AS day, dau, wau, mau,
       CAST(dau * {ACTIVE_BP} // mau AS BIGINT) AS stickiness_bp
FROM dau JOIN wau USING (day) JOIN mau USING (day)
"""


ORACLES["active_user_windows"] = _active_user_windows_sql()


def _volumetry_anomaly_sql() -> str:
    """Twin of queries.volumetry_anomaly: lower medians via row_number
    rank (total+1)//2 under (value, day) order — dq.volumetry constants."""
    from dq.volumetry import ANOM_K_X100

    return f"""WITH c AS (
  SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
), t AS (SELECT count(*) AS total FROM c),
med AS (
  SELECT n_rows AS med FROM (
    SELECT n_rows, row_number() OVER (ORDER BY n_rows, day) AS rn FROM c
  ), t WHERE rn = (total + 1) // 2
), d AS (
  SELECT day, n_rows, med, abs(n_rows - med) AS dev FROM c, med
), mad AS (
  SELECT dev AS mad FROM (
    SELECT dev, day, row_number() OVER (ORDER BY dev, day) AS rn FROM d
  ), t WHERE rn = (total + 1) // 2
)
SELECT day, n_rows, CAST(med AS BIGINT) AS med, CAST(mad AS BIGINT) AS mad,
       CAST(dev AS BIGINT) AS dev, dev * 100 > {ANOM_K_X100} * mad AS is_anomaly
FROM d, mad
"""


ORACLES["volumetry_anomaly"] = _volumetry_anomaly_sql()


def _snapshot_line_churn_sql() -> str:
    """Twin of queries.snapshot_line_churn: multiline construction from
    _multiline_pieces, the crawldiff plant constants, string_split line
    sets grouped by the LINE ITSELF (fp ≡ line — dq.lines discipline)."""
    from dq.crawldiff import (
        CHANGED_MOD,
        CHANGED_REM,
        CHANGED_SUFFIX,
        CHURN_BP,
        NEW_DROP_MOD,
        NEW_DROP_REM,
        OLD_DROP_MOD,
        OLD_DROP_REM,
    )
    from dq.lines import FOOTER_MOD

    header, body, footer = _multiline_pieces()
    return f"""WITH ml AS (
  SELECT doc_id, {_url_expr()} AS url,
         CASE WHEN doc_id % {FOOTER_MOD} = 0
              THEN {header} || chr(10) || {body} || chr(10) || {footer}
              ELSE {header} || chr(10) || {body} END AS text
  FROM documents
), old AS (
  SELECT url, text FROM ml WHERE doc_id % {OLD_DROP_MOD} <> {OLD_DROP_REM}
), new AS (
  SELECT url,
         CASE WHEN doc_id % {CHANGED_MOD} = {CHANGED_REM}
              THEN text || '{_sq(CHANGED_SUFFIX)}' ELSE text END AS text
  FROM ml WHERE doc_id % {NEW_DROP_MOD} <> {NEW_DROP_REM}
), sides AS (
  SELECT url, unnest(string_split(coalesce(text, ''), chr(10))) AS line,
         0 AS side FROM old
  UNION ALL
  SELECT url, unnest(string_split(coalesce(text, ''), chr(10))) AS line,
         1 AS side FROM new
), per AS (
  SELECT url, line,
         max(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS in_old,
         max(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS in_new
  FROM sides GROUP BY 1, 2
), agg AS (
  SELECT url,
         CAST(sum(in_old) AS BIGINT) AS n_old_lines,
         CAST(sum(in_new) AS BIGINT) AS n_new_lines,
         CAST(sum(CASE WHEN in_new = 1 AND in_old = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         CAST(sum(CASE WHEN in_old = 1 AND in_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
  FROM per GROUP BY 1
  HAVING sum(in_old) > 0 AND sum(in_new) > 0
)
SELECT url, n_old_lines, n_new_lines, n_added, n_removed,
       CAST((n_added + n_removed) * {CHURN_BP}
            // (n_old_lines + n_new_lines) AS BIGINT) AS churn_bp
FROM agg
"""


ORACLES["snapshot_line_churn"] = _snapshot_line_churn_sql()


# ---- round-5 additions: blocklist / crawl budget ----------------------------


def _blocklist_ctes() -> str:
    """Shared CTEs: term VALUES table + planted corpus + token explode,
    generated from dq.blocklist constants."""
    from dq.blocklist import BLOCKLIST, PLANTS, TOKEN_RE

    values = ", ".join(
        f"('{t}', '{cat}', {str(hard).lower()})"
        for cat, hard, terms in BLOCKLIST
        for t in terms
    )
    plant = "text" + "".join(
        f" || CASE WHEN doc_id % {mod} = {rem} THEN '{_sq(suffix)}' ELSE '' END"
        for mod, rem, suffix in PLANTS
    )
    return f"""bl(term, category, is_hard) AS (VALUES {values}),
p AS (
  SELECT doc_id, {plant} AS ptext FROM documents
), tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(coalesce(ptext, '')), '{TOKEN_RE}')) AS term
  FROM p
)"""


def _blocklist_hits_sql() -> str:
    """Twin of queries.blocklist_hits."""
    return f"""WITH {_blocklist_ctes()}
SELECT doc_id, category, CAST(count(*) AS BIGINT) AS n_hits
FROM tok JOIN bl USING (term)
GROUP BY 1, 2
"""


ORACLES["blocklist_hits"] = _blocklist_hits_sql()


def _blocklist_filter_sql() -> str:
    """Twin of queries.blocklist_filter: zero-token docs re-enter via the
    doc-grain left join (Spark keeps them via explode_outer's NULL row)."""
    from dq.blocklist import BP, SOFT_MAX_BP

    return f"""WITH {_blocklist_ctes()},
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN is_hard THEN 1 ELSE 0 END) AS BIGINT) AS hard_hits,
         CAST(sum(CASE WHEN is_hard = false THEN 1 ELSE 0 END) AS BIGINT) AS soft_hits
  FROM tok LEFT JOIN bl USING (term)
  GROUP BY 1
)
SELECT p.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(hard_hits, 0) AS BIGINT) AS hard_hits,
       CAST(coalesce(soft_hits, 0) AS BIGINT) AS soft_hits,
       CAST(coalesce(soft_hits, 0) * {BP}
            // greatest(coalesce(n_tokens, 0), 1) AS BIGINT) AS soft_bp,
       (coalesce(hard_hits, 0) = 0
        AND coalesce(soft_hits, 0) * {BP}
            // greatest(coalesce(n_tokens, 0), 1) <= {SOFT_MAX_BP}) AS keep
FROM p LEFT JOIN agg USING (doc_id)
"""


ORACLES["blocklist_filter"] = _blocklist_filter_sql()


def _crawl_budget_quota_sql() -> str:
    """Twin of queries.crawl_budget_quota: naive global row_number window
    over (rem DESC, domain) — a deliberately different plan than the
    engine's histogram threshold pick, same selection."""
    from dq.urlstats import CRAWL_BUDGET, DOMAIN_RE

    b = CRAWL_BUDGET
    return f"""WITH u AS (
  SELECT doc_id, {_url_expr()} AS url FROM documents
), d AS (
  SELECT regexp_extract(url, '{DOMAIN_RE}', 1) AS domain,
         CAST(count(*) AS BIGINT) AS n_pages
  FROM u GROUP BY 1
), t AS (SELECT CAST(sum(n_pages) AS BIGINT) AS total FROM d),
q AS (
  SELECT domain, n_pages,
         CAST(n_pages * {b} // total AS BIGINT) AS base_quota,
         CAST(n_pages * {b} % total AS BIGINT) AS rem
  FROM d, t
), r AS (SELECT CAST({b} - sum(base_quota) AS BIGINT) AS lft FROM q),
rk AS (
  SELECT q.*, row_number() OVER (ORDER BY rem DESC, domain) AS _rk FROM q
)
SELECT domain, n_pages, base_quota, rem,
       CAST(CASE WHEN _rk <= lft THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_quota + CASE WHEN _rk <= lft THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM rk, r
"""


ORACLES["crawl_budget_quota"] = _crawl_budget_quota_sql()


def _events_cube_report_sql() -> str:
    """Twin of queries.events_cube_report: CUBE + explicit grouping() gid
    (engine-default grouping_id bit orders differ — computed the same way
    on both sides)."""
    return """WITH ev AS (
  SELECT event_type,
         strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
         user_id,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT CAST(grouping(event_type) * 2 + grouping(day) AS BIGINT) AS gid,
       CASE WHEN grouping(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
       CASE WHEN grouping(day) = 1 THEN 'ALL' ELSE day END AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(cents) AS BIGINT) AS sum_value_cents
FROM ev
GROUP BY CUBE (event_type, day)
"""


ORACLES["events_cube_report"] = _events_cube_report_sql()


def _events_moving_windows_sql() -> str:
    """Twin of queries.events_moving_windows: RANGE frame on days-since-
    epoch (calendar-correct across gaps), lag coalesced to 0."""
    return """WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
), w AS (
  SELECT d, n_events,
         CAST(sum(n_events) OVER (
           ORDER BY datediff('day', DATE '1970-01-01', d)
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7_events,
         CAST(coalesce(lag(n_events) OVER (
           ORDER BY datediff('day', DATE '1970-01-01', d)), 0) AS BIGINT) AS prev_events
  FROM daily
)
SELECT strftime(d, '%Y%m%d') AS day, n_events, ma7_events, prev_events,
       CAST(n_events - prev_events AS BIGINT) AS delta
FROM w
"""


ORACLES["events_moving_windows"] = _events_moving_windows_sql()


def _recrawl_schedule_sql() -> str:
    """Twin of queries.recrawl_schedule: the line-churn twin as a CTE, the
    REVISIT_BANDS CASE chain generated from the same constants (descending
    first-match ≡ Spark's ascending overwrite loop)."""
    from dq.crawldiff import CHURN_BP, CRAWL_DAY, REVISIT_BANDS

    case = (
        "CASE "
        + " ".join(
            f"WHEN churn_bp >= {mbp} THEN {d}"
            for mbp, d in sorted(REVISIT_BANDS, reverse=True)
        )
        + " END"
    )
    return f"""WITH churn AS ({_snapshot_line_churn_sql()})
SELECT url, churn_bp,
       CAST({case} AS BIGINT) AS interval_days,
       strftime(DATE '{CRAWL_DAY}' + CAST({case} AS INTEGER), '%Y%m%d') AS next_fetch,
       CAST({CHURN_BP} // ({case}) AS BIGINT) AS daily_cost_bp
FROM churn
"""


ORACLES["recrawl_schedule"] = _recrawl_schedule_sql()


def _events_pivot_daily_sql() -> str:
    """Twin of queries.events_pivot_daily: the conditional-sum spelling of
    the same pinned pivot (deliberately the manual form — oracle
    independence from the PIVOT planner)."""
    from dq.queries import PIVOT_TYPES

    in_list = ", ".join(f"'{t}'" for t in PIVOT_TYPES)
    cols = ",\n       ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
        for t in PIVOT_TYPES
    )
    return f"""SELECT strftime(CAST(ts AS DATE), '%Y%m%d') AS day,
       {cols},
       CAST(sum(CASE WHEN event_type NOT IN ({in_list}) THEN 1 ELSE 0 END) AS BIGINT) AS n_other
FROM events
GROUP BY 1
"""


ORACLES["events_pivot_daily"] = _events_pivot_daily_sql()


def _user_set_ops_sql() -> str:
    from dq.queries import HI_VALUE

    return f"""
SELECT CAST(user_id AS BIGINT) AS user_id FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value >= {HI_VALUE}
)
"""


ORACLES["user_set_ops"] = _user_set_ops_sql()


def _events_props_stats_sql() -> str:
    """Twin of queries.events_props_stats. Probed trap: DuckDB
    json_extract_string RAISES on malformed JSON where Spark
    get_json_object returns NULL — json_valid guards; try_cast on both
    sides (ANSI-safe)."""
    from dq.queries import PROPS_BAD_JSON_MOD, PROPS_BAD_TYPE_MOD

    return f"""WITH p AS (
  SELECT event_type,
         CASE WHEN event_id % {PROPS_BAD_JSON_MOD} = 0 THEN 'not json'
              WHEN event_id % {PROPS_BAD_TYPE_MOD} = 0 THEN '{{"k": "oops"}}'
              ELSE props END AS props_p
  FROM events
), k AS (
  SELECT event_type,
         try_cast(CASE WHEN json_valid(props_p)
                       THEN json_extract_string(props_p, '$.k')
                       ELSE NULL END AS BIGINT) AS k
  FROM p
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_parsed,
       CAST(count(*) - count(k) AS BIGINT) AS n_bad,
       CAST(coalesce(sum(k), 0) AS BIGINT) AS sum_k,
       CAST(coalesce(min(k), 0) AS BIGINT) AS min_k,
       CAST(coalesce(max(k), 0) AS BIGINT) AS max_k
FROM k
GROUP BY 1
"""


ORACLES["events_props_stats"] = _events_props_stats_sql()


# identical dialect-neutral SQL on both engines (the exceptional case the
# CLAUDE.md generated-from-constants rule exists for: here the CONSTANT is
# the whole statement, imported from dq.queries — still single-sourced)


def _orders_subquery_twins() -> None:
    from dq.queries import CUSTS_EXISTS_SQL, ORDERS_ABOVE_AVG_SQL

    ORACLES["orders_above_cust_avg"] = ORDERS_ABOVE_AVG_SQL
    ORACLES["custs_exists_probe"] = CUSTS_EXISTS_SQL


_orders_subquery_twins()


def _allpairs_sql() -> str:
    """Twin of queries.allpairs_sim_pairs — deliberately the NAIVE plan:
    candidates are ANY shared shingle (no prefix filter, no length filter),
    then exact verify. The Spark side prunes with rarest-first prefixes;
    equal results certify the prefix filter lossless (a candidate the
    filter wrongly pruned would be a missing row here). inter comes from
    the pair-grouped shared-shingle count (shingle arrays are distinct per
    doc, so COUNT(*) over the token join IS |A∩B|); union = sz_a+sz_b-inter;
    the threshold compare and the final division are exact-integer."""
    from dq.queries import ALLPAIRS_T_DEN, ALLPAIRS_T_NUM

    return f"""
WITH base AS ({_PLANTED_BASE}),
w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS words
  FROM base
), sh AS (
  SELECT doc_id,
         CASE WHEN len(words) >= {JACCARD_SHINGLE_N}
              THEN list_distinct(list_transform(range(1, len(words) - {JACCARD_SHINGLE_N - 2}),
                   i -> array_to_string(list_slice(words, i, i + {JACCARD_SHINGLE_N - 1}), ' ')))
              ELSE [coalesce(array_to_string(words, ' '), '')] END AS s
  FROM w
), tok AS (
  SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh
), pair AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         min(a.sz) AS sz_a, min(b.sz) AS sz_b,
         count(*) AS inter_size
  FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(inter_size AS BIGINT) AS inter_size,
       CAST(sz_a + sz_b - inter_size AS BIGINT) AS union_size,
       CAST(inter_size AS DOUBLE) / (sz_a + sz_b - inter_size) AS jaccard
FROM pair
WHERE inter_size * {ALLPAIRS_T_DEN} >= (sz_a + sz_b - inter_size) * {ALLPAIRS_T_NUM}
"""


ORACLES["allpairs_sim_pairs"] = _allpairs_sql()


def _cm_token_counts_sql() -> str:
    """Twin of queries.cm_token_counts — the same d x w Count-Min build and
    min-over-rows estimate, generated from dq.cmsketch constants. The
    no-init list_reduce equals Spark's fold-from-0 (0*31 + c1 = c1); every
    product stays under 2^61 (poly < P ~ 2^30, a < 2^31) so the affine row
    hashes are exact int64 on both engines. The probe join to the sketch is
    inner: a probe token's own occurrences guarantee its (r, pos) rows
    exist."""
    from dq.classifier import POLY_MOD, POLY_MUL
    from dq.cmsketch import CM_PROBE_MIN_CNT, CM_SALTS, CM_W

    salts = ", ".join(f"({r}, {a}, {b})" for r, (a, b) in enumerate(CM_SALTS))
    poly = (
        "list_reduce(list_transform(string_split(w, ''), "
        "c -> CAST(ascii(c) AS BIGINT)), "
        f"(a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD})"
    )
    return f"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '')) AS w
  FROM documents
), h AS (
  SELECT w, {poly} AS hv FROM tok
), salts(r, a, b) AS (VALUES {salts}),
sketch AS (
  SELECT s.r, ((h.hv * s.a + s.b) % {POLY_MOD}) % {CM_W} AS pos, count(*) AS cnt
  FROM h CROSS JOIN salts s
  GROUP BY 1, 2
), exact AS (
  SELECT w, count(*) AS exact_cnt FROM tok GROUP BY w
  HAVING count(*) >= {CM_PROBE_MIN_CNT}
), probe AS (
  SELECT DISTINCT e.w, h.hv FROM exact e JOIN h ON h.w = e.w
), est AS (
  SELECT p.w, min(sk.cnt) AS cm_est
  FROM probe p CROSS JOIN salts s
  JOIN sketch sk ON sk.r = s.r AND sk.pos = ((p.hv * s.a + s.b) % {POLY_MOD}) % {CM_W}
  GROUP BY p.w
)
SELECT e.w AS token,
       CAST(e.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(est.cm_est AS BIGINT) AS cm_est
FROM exact e JOIN est ON est.w = e.w
"""


ORACLES["cm_token_counts"] = _cm_token_counts_sql()


def _domain_triangles_sql() -> str:
    """Twin of queries.domain_triangles — deliberately the NAIVE plan: a
    triple self-join over canonical a < b < c edges. The Spark side
    enumerates via degree orientation; equal hashes certify the oriented
    scheme finds exactly the same triangles. Clustering is a division of
    exact integers (tri / C(deg,2)) — bit-identical doubles."""
    return f"""
WITH {_link_edges_ctes()},
und AS (
  SELECT least(src_domain, dst_domain) AS a,
         greatest(src_domain, dst_domain) AS b,
         CAST(sum(weight) AS BIGINT) AS w
  FROM edges WHERE src_domain <> dst_domain
  GROUP BY 1, 2
), deg AS (
  SELECT v, count(*) AS deg
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY v
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), tn AS (
  SELECT v, count(*) AS tri_cnt
  FROM (SELECT x AS v FROM tri UNION ALL SELECT y AS v FROM tri
        UNION ALL SELECT z AS v FROM tri)
  GROUP BY v
)
SELECT d.v AS domain,
       CAST(d.deg AS BIGINT) AS degree,
       CAST(coalesce(tn.tri_cnt, 0) AS BIGINT) AS tri_cnt,
       CAST((d.deg * (d.deg - 1)) // 2 AS BIGINT) AS wedge_cnt,
       CASE WHEN d.deg >= 2
            THEN CAST(coalesce(tn.tri_cnt, 0) AS DOUBLE)
                 / ((d.deg * (d.deg - 1)) // 2)
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tn ON tn.v = d.v
"""


def _domain_communities_sql() -> str:
    """Twin of queries.domain_communities: the same synchronous weighted
    LPA rounds unrolled as CTEs. The argmax is min over the
    (-weight, label) pair — reproduced with a row_number window ordered
    (weight DESC, label ASC), the identical total order."""
    from dq.webgraph import LPA_ITERS

    rounds = []
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        rounds.append(
            f"""v{i} AS (
  SELECT adj.v, lp.lbl AS nl, sum(adj.w) AS wt
  FROM adj JOIN {prev} lp ON lp.v = adj.n
  GROUP BY 1, 2
), l{i} AS (
  SELECT v, nl AS lbl
  FROM (SELECT v, nl, row_number() OVER (
          PARTITION BY v ORDER BY wt DESC, nl ASC) AS rn
        FROM v{i})
  WHERE rn = 1
)"""
        )
        prev = f"l{i}"
    chain = ",\n".join(rounds)
    return f"""
WITH {_link_edges_ctes()},
und AS (
  SELECT least(src_domain, dst_domain) AS a,
         greatest(src_domain, dst_domain) AS b,
         CAST(sum(weight) AS BIGINT) AS w
  FROM edges WHERE src_domain <> dst_domain
  GROUP BY 1, 2
), adj AS (
  SELECT a AS v, b AS n, w FROM und
  UNION ALL
  SELECT b AS v, a AS n, w FROM und
), l0 AS (
  SELECT DISTINCT v, v AS lbl FROM adj
),
{chain}
SELECT v AS domain, lbl AS community FROM {prev}
"""


ORACLES["domain_triangles"] = _domain_triangles_sql()
ORACLES["domain_communities"] = _domain_communities_sql()


def _benford_sql() -> str:
    """Twin of queries.benford_price_audit — spine VALUES generated from
    the same BENFORD_MICRO constants (they sum to exactly 1e6); first digit
    via the decimal rendering; deviations exact int64."""
    from dq.metrics import BENFORD_MICRO

    spine = ", ".join(f"({d + 1}, {m})" for d, m in enumerate(BENFORD_MICRO))
    return f"""
WITH pos AS (
  SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
  WHERE CAST(floor(l_extendedprice * 100) AS BIGINT) > 0
), obs AS (
  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         count(*) AS obs_cnt
  FROM pos GROUP BY 1
), tot AS (SELECT count(*) AS n FROM pos),
spine(digit, exp_micro) AS (VALUES {spine})
SELECT s.digit,
       CAST(coalesce(o.obs_cnt, 0) AS BIGINT) AS obs_cnt,
       CAST(s.exp_micro AS BIGINT) AS exp_micro,
       CAST(coalesce(o.obs_cnt, 0) * 1000000 - s.exp_micro * t.n AS BIGINT) AS dev_micro
FROM spine s LEFT JOIN obs o USING (digit) CROSS JOIN tot t
"""


ORACLES["benford_price_audit"] = _benford_sql()


def _coverage_sql() -> str:
    """Twin of queries.coverage_source_picks: the GC_K greedy rounds
    unrolled as CTEs — marginal counts via a LEFT-JOIN-IS-NULL anti
    pattern, argmax by (gain DESC, source) LIMIT 1, covered set unioned
    per round. A saturated round (no source adds tokens) emits no row on
    either engine."""
    from dq.coverage import GC_K

    parts = []
    prev_cov = None
    for r in range(1, GC_K + 1):
        if prev_cov is None:
            marg = "SELECT source, count(*) AS gain FROM pairs GROUP BY 1"
            cov_src = "SELECT DISTINCT p.w FROM pairs p JOIN p1 USING (source)"
        else:
            marg = (
                f"SELECT p.source, count(*) AS gain FROM pairs p "
                f"LEFT JOIN {prev_cov} c ON p.w = c.w WHERE c.w IS NULL GROUP BY 1"
            )
            cov_src = (
                f"SELECT w FROM {prev_cov} UNION "
                f"SELECT p.w FROM pairs p JOIN p{r} USING (source)"
            )
        parts.append(
            f"""m{r} AS (
  {marg}
), p{r} AS (
  SELECT source, gain FROM m{r} ORDER BY gain DESC, source LIMIT 1
), c{r} AS (
  {cov_src}
)"""
        )
        prev_cov = f"c{r}"
    chain = ",\n".join(parts)
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS sel_round, source, "
        f"CAST(gain AS BIGINT) AS gain, "
        f"CAST((SELECT count(*) FROM c{r}) AS BIGINT) AS covered_total FROM p{r}"
        for r in range(1, GC_K + 1)
    )
    return f"""
WITH w0 AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '') AS words
  FROM documents
), sh AS (
  SELECT source,
         CASE WHEN len(words) >= {JACCARD_SHINGLE_N}
              THEN list_distinct(list_transform(range(1, len(words) - {JACCARD_SHINGLE_N - 2}),
                   i -> array_to_string(list_slice(words, i, i + {JACCARD_SHINGLE_N - 1}), ' ')))
              ELSE [coalesce(array_to_string(words, ' '), '')] END AS s
  FROM w0
), pairs AS (
  SELECT DISTINCT source, unnest(s) AS w FROM sh
),
{chain}
{finals}
"""


ORACLES["coverage_source_picks"] = _coverage_sql()


def _snapshot_ks_sql() -> str:
    """Twin of queries.snapshot_ks_drift — unbinned value-level counts from
    the same planted-snapshot constants, window cumulative sums over the
    merged distinct values, cross-multiplied integer sup, min-value
    tie-break, one final integer DIV for ks_ppm."""
    from dq.crawldiff import (
        CHANGED_MOD,
        CHANGED_REM,
        CHANGED_SUFFIX,
        NEW_DROP_MOD,
        NEW_DROP_REM,
        OLD_DROP_MOD,
        OLD_DROP_REM,
    )

    suf = len(CHANGED_SUFFIX)
    return f"""
WITH ca AS (
  SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c_a
  FROM documents WHERE doc_id % {OLD_DROP_MOD} <> {OLD_DROP_REM} GROUP BY 1
), cb AS (
  SELECT CAST(CASE WHEN doc_id % {CHANGED_MOD} = {CHANGED_REM}
                   THEN n_chars + {suf} ELSE n_chars END AS BIGINT) AS v,
         count(*) AS c_b
  FROM documents WHERE doc_id % {NEW_DROP_MOD} <> {NEW_DROP_REM} GROUP BY 1
), m AS (
  SELECT coalesce(ca.v, cb.v) AS v,
         coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v
), cum AS (
  SELECT v,
         sum(c_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fa,
         sum(c_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS fb
  FROM m
), t AS (
  SELECT sum(c_a) AS n_old, sum(c_b) AS n_new FROM m
), scored AS (
  SELECT v, abs(fa * t.n_new - fb * t.n_old) AS num, t.n_old, t.n_new
  FROM cum, t
)
SELECT CAST(v AS BIGINT) AS ks_at,
       CAST(num AS BIGINT) AS ks_num,
       CAST(n_old AS BIGINT) AS n_old,
       CAST(n_new AS BIGINT) AS n_new,
       CAST((num * 1000000) // (n_old * n_new) AS BIGINT) AS ks_ppm
FROM scored
ORDER BY num DESC, v ASC
LIMIT 1
"""


ORACLES["snapshot_ks_drift"] = _snapshot_ks_sql()


def _domain_gini_sql() -> str:
    """Twin of queries.domain_gini: same ascending (x, key) rank, same
    integer Gini and top-share DIVs."""
    return """
WITH counts AS (
  SELECT source AS k, count(*) AS x FROM documents GROUP BY 1
), ranked AS (
  SELECT x, row_number() OVER (ORDER BY x ASC, k ASC) AS i FROM counts
)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(x) AS BIGINT) AS total_rows,
       CAST((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000
            // (count(*) * sum(x)) AS BIGINT) AS gini_ppm,
       CAST((max(x) * 1000000) // sum(x) AS BIGINT) AS top_share_ppm
FROM ranked
"""


ORACLES["domain_gini"] = _domain_gini_sql()


def _k_anonymity_sql() -> str:
    """Twin of queries.k_anonymity_audit — same QI banding and HAVING,
    generated from the dq.checks constants."""
    from dq.checks import K_ANON_K, K_ANON_LEN_BAND

    return f"""
SELECT source, lang,
       CAST(n_chars // {K_ANON_LEN_BAND} AS BIGINT) AS len_band,
       CAST(count(*) AS BIGINT) AS group_n
FROM documents
GROUP BY 1, 2, 3
HAVING count(*) < {K_ANON_K}
"""


ORACLES["k_anonymity_audit"] = _k_anonymity_sql()


def _snapshot_rank_sql() -> str:
    """Twin of queries.snapshot_rank_drift — same doubled-midrank algebra
    over the planted-snapshot value counts."""
    from dq.crawldiff import (
        CHANGED_MOD,
        CHANGED_REM,
        CHANGED_SUFFIX,
        NEW_DROP_MOD,
        NEW_DROP_REM,
        OLD_DROP_MOD,
        OLD_DROP_REM,
    )

    suf = len(CHANGED_SUFFIX)
    return f"""
WITH ca AS (
  SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c_a
  FROM documents WHERE doc_id % {OLD_DROP_MOD} <> {OLD_DROP_REM} GROUP BY 1
), cb AS (
  SELECT CAST(CASE WHEN doc_id % {CHANGED_MOD} = {CHANGED_REM}
                   THEN n_chars + {suf} ELSE n_chars END AS BIGINT) AS v,
         count(*) AS c_b
  FROM documents WHERE doc_id % {NEW_DROP_MOD} <> {NEW_DROP_REM} GROUP BY 1
), m AS (
  SELECT coalesce(ca.v, cb.v) AS v,
         coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v
), cum AS (
  SELECT c_a, c_b,
         2 * (sum(c_a + c_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              - c_a - c_b) + c_a + c_b + 1 AS m2
  FROM m
), agg AS (
  SELECT sum(c_a) AS n_old, sum(c_b) AS n_new,
         sum(c_a * m2) AS r2a, sum(c_b * m2) AS r2b
  FROM cum
)
SELECT CAST(n_old AS BIGINT) AS n_old,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(r2a - n_old * (n_old + 1) AS BIGINT) AS u2_old,
       CAST(r2b - n_new * (n_new + 1) AS BIGINT) AS u2_new,
       CAST(((r2a - n_old * (n_old + 1)) * 1000000)
            // (2 * n_old * n_new) AS BIGINT) AS cles_ppm
FROM agg
"""


ORACLES["snapshot_rank_drift"] = _snapshot_rank_sql()


def _deepwalk_sql() -> tuple[str, str]:
    """Twin of queries.deepwalk_walks — same dst-sorted neighbor index,
    same poly-hash + LCG state chain, steps unrolled as join CTEs.

    Returns (cte_chain, final_cte_name): the ``WITH ...`` chain up to the
    last step CTE and that CTE's name, so the walks and skip-gram twins
    each append their own final SELECT."""
    from dq.classifier import POLY_MOD, POLY_MUL
    from dq.sampling import LCG_ADD, LCG_MUL, SAMPLE_MOD
    from dq.webgraph import DEEPWALK_STEPS, DEEPWALK_WALKS

    poly = (
        "list_reduce(list_transform(string_split(start, ''), "
        "c -> CAST(ascii(c) AS BIGINT)), "
        f"(a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD})"
    )
    wvals = ", ".join(f"({w})" for w in range(1, DEEPWALK_WALKS + 1))
    rounds = []
    prev = "w0"
    for s in range(1, DEEPWALK_STEPS + 1):
        rounds.append(
            f"""s{s} AS (
  SELECT w.start, w.walk_no,
         coalesce(i.dst_domain, w.cur) AS cur,
         (w.st * {LCG_MUL} + {LCG_ADD}) % {SAMPLE_MOD} AS st,
         w.seq || '->' || coalesce(i.dst_domain, w.cur) AS seq
  FROM {prev} w LEFT JOIN idx i
    ON i.src_domain = w.cur AND i.i = w.st % i.deg
)"""
        )
        prev = f"s{s}"
    chain = ",\n".join(rounds)
    ctes = f"""WITH {_link_edges_ctes()},
adj AS (SELECT DISTINCT src_domain, dst_domain FROM edges),
idx AS (
  SELECT src_domain, dst_domain,
         row_number() OVER (PARTITION BY src_domain ORDER BY dst_domain) - 1 AS i,
         count(*) OVER (PARTITION BY src_domain) AS deg
  FROM adj
), starts AS (
  SELECT DISTINCT src_domain AS start FROM adj
), w0 AS (
  SELECT start, wn AS walk_no, start AS cur,
         (({poly} + wn) * {LCG_MUL} + {LCG_ADD}) % {SAMPLE_MOD} AS st,
         start AS seq
  FROM starts CROSS JOIN (VALUES {wvals}) AS wv(wn)
),
{chain}
"""
    return ctes, prev


def _deepwalk_walks_sql() -> str:
    ctes, final = _deepwalk_sql()
    return f"""
{ctes}SELECT start, CAST(walk_no AS INTEGER) AS walk_no, seq FROM {final}
"""


ORACLES["deepwalk_walks"] = _deepwalk_walks_sql()


def _ams_f2_sql() -> str:
    """Twin of queries.ams_f2_tokens — the 64 cubic sign hashes come from
    the same generated salt family (dq.cmsketch._ams_salts); powers are
    reduced mod P between multiplications exactly as the Spark side."""
    from dq.classifier import POLY_MOD, POLY_MUL
    from dq.cmsketch import AMS_K, AMS_SALTS

    poly = (
        "list_reduce(list_transform(string_split(w, ''), "
        "c -> CAST(ascii(c) AS BIGINT)), "
        f"(a, b) -> (a * {POLY_MUL} + b) % {POLY_MOD})"
    )
    salts = ", ".join(
        f"({j}, {a3}, {a2}, {a1}, {a0})" for j, (a3, a2, a1, a0) in enumerate(AMS_SALTS)
    )
    return f"""
WITH tok AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[\\s\\x0b]+'), x -> x <> '')) AS w
  FROM documents
), h AS (
  SELECT {poly} AS hv FROM tok
), hh AS (
  SELECT hv, (hv * hv) % {POLY_MOD} AS h2,
         (((hv * hv) % {POLY_MOD}) * hv) % {POLY_MOD} AS h3
  FROM h
), salts(j, a3, a2, a1, a0) AS (VALUES {salts}),
zs AS (
  SELECT s.j,
         sum(1 - 2 * ((((hh.h3 * s.a3 + hh.h2 * s.a2) % {POLY_MOD}
                        + hh.hv * s.a1 + s.a0) % {POLY_MOD}) % 2)) AS z
  FROM hh CROSS JOIN salts s
  GROUP BY s.j
), est AS (
  SELECT sum(z * z) // {AMS_K} AS ams_f2 FROM zs
), ex AS (
  SELECT sum(c * c) AS exact_f2
  FROM (SELECT count(*) AS c FROM tok GROUP BY w)
)
SELECT CAST(ex.exact_f2 AS BIGINT) AS exact_f2,
       CAST(est.ams_f2 AS BIGINT) AS ams_f2,
       CAST((abs(est.ams_f2 - ex.exact_f2) * 1000000) // ex.exact_f2 AS BIGINT) AS err_ppm
FROM ex CROSS JOIN est
"""


ORACLES["ams_f2_tokens"] = _ams_f2_sql()


def _deepwalk_skipgrams_sql() -> str:
    """Twin of queries.deepwalk_skipgrams: the deepwalk twin's walk table
    re-split and windowed into (center, context) pairs."""
    from dq.webgraph import SKIPGRAM_WINDOW

    ctes, final = _deepwalk_sql()
    return f"""{ctes}
, lst AS (
  SELECT string_split(seq, '->') AS l FROM {final}
), pos AS (
  SELECT l, unnest(range(1, len(l) + 1)) AS i FROM lst
), pq AS (
  SELECT l, i, unnest(range(greatest(1, i - {SKIPGRAM_WINDOW}),
                            least(len(l), i + {SKIPGRAM_WINDOW}) + 1)) AS j
  FROM pos
)
SELECT l[i] AS center, l[j] AS context,
       CAST(count(*) AS BIGINT) AS pair_cnt
FROM pq WHERE j <> i
GROUP BY 1, 2
"""


ORACLES["deepwalk_skipgrams"] = _deepwalk_skipgrams_sql()
