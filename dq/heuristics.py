"""Gopher/C4-style heuristic quality rules as native Catalyst expressions.

The reference's qualitativo family expresses all scoring as HiveQL CASE/agg
expressions (qualitativo/VivoPlay.scala:173-186, VivoMoney.scala:91-97); we
follow the same stance for the web-text rules: every metric below is a
built-in-function expression (split / filter / aggregate / regexp), JVM-side
and whole-stage-codegen'd — NO Python in the hot path. A pure-pandas twin
(:func:`heuristic_metrics_pdf`) is the label oracle for the F1>=0.99 test.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dq.io import sql_literal

# English stopword probe (language+quality signal, C4-style "contains common
# words" rule). Shared by engine + oracle.
STOPWORDS = [
    "the", "of", "and", "to", "in", "that", "it", "was", "for", "on",
    "are", "with", "as", "be", "at", "this", "have", "from", "they", "or",
]

SYMBOL_CLASS = r"[#$%*@!^~]"
_ALPHA_CLASS = "[A-Za-zÀ-ÿ]"

# Rule thresholds (Gopher-flavored, tuned to the synthetic corpus; the point
# is identical evaluation in engine and oracle, not the absolute values).
THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 2.0,
    "max_mean_word_len": 12.0,
    "max_symbol_ratio": 0.05,
    "min_stop_ratio": 0.05,
    "min_distinct_stops": 2,
    "max_dup_line_ratio": 0.30,
    "max_ellipsis_line_ratio": 0.30,
    "min_alpha_word_ratio": 0.80,
}


def _ratio(num: str, den: str) -> str:
    return f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / {den} ELSE 0.0D END"


# SQL text of the staged token/line arrays and of each metric, generated
# from the constants above: one py4j call per column, not per node
_STAGES = [
    {"_hm_words": "filter(split(_hm_text, %s), w -> w != '')" % sql_literal(r"\s+"),
     "_hm_lines": "split(_hm_text, %s)" % sql_literal(r"\n")},
    {"_hm_stop_hits": "filter(_hm_words, w -> array_contains(array(%s), lower(w)))"
     % ", ".join(map(sql_literal, STOPWORDS))},
]
_N_WORDS, _N_CHARS, _N_LINES = "size(_hm_words)", "length(_hm_text)", "size(_hm_lines)"
_METRICS = {
    "n_chars_m": _N_CHARS,
    "n_words_m": _N_WORDS,
    "mean_word_len": _ratio("aggregate(_hm_words, 0, (acc, w) -> acc + length(w))", _N_WORDS),
    "symbol_ratio": _ratio(
        f"{_N_CHARS} - length(regexp_replace(_hm_text, {sql_literal(SYMBOL_CLASS)}, ''))", _N_CHARS
    ),
    "stop_ratio": _ratio("size(_hm_stop_hits)", _N_WORDS),
    "n_distinct_stops": "size(array_distinct(transform(_hm_stop_hits, w -> lower(w))))",
    "dup_line_ratio": _ratio(f"{_N_LINES} - size(array_distinct(_hm_lines))", _N_LINES),
    "ellipsis_line_ratio": _ratio("size(filter(_hm_lines, l -> endswith(l, '...')))", _N_LINES),
    "alpha_word_ratio": _ratio(
        f"size(filter(_hm_words, w -> w RLIKE {sql_literal(_ALPHA_CLASS)}))", _N_WORDS
    ),
}


def with_heuristic_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append per-doc quality metric columns (all native expressions).

    The token/line arrays are materialized once as temp columns: higher-
    order functions are interpreted (no codegen CSE), so inlining `words`
    into every metric would re-split the text ~12x per row. CollapseProject
    keeps the two-Project split because the array exprs are non-cheap and
    multiply referenced.
    """
    text = "coalesce(`%s`, '')" % text_col.replace("`", "``")
    out = df.withColumn("_hm_text", F.expr(text))
    for stage in [*_STAGES, _METRICS]:
        out = out.withColumns({k: F.expr(v) for k, v in stage.items()})
    return out.drop("_hm_text", "_hm_words", "_hm_lines", "_hm_stop_hits")


def keep_expr(t: dict | None = None) -> Column:
    """Boolean keep decision over the metric columns: every rule of
    :data:`RULE_DEFS` passes."""
    return F.expr(" AND ".join(_rule_sql(t, passing=True).values()))


# ---------------------------------------------------------------- oracle ---

_WS = re.compile(r"\s+", re.ASCII)  # Java \s is ASCII-only; Python str \s is not
_SYM = re.compile(SYMBOL_CLASS)
_ALPHA = re.compile(_ALPHA_CLASS)
_STOPSET = set(STOPWORDS)


def _metrics_one(text: str | None) -> dict:
    text = text or ""
    words = [w for w in _WS.split(text) if w != ""]
    lines = text.split("\n") if text != "" else []
    n_words = len(words)
    n_chars = len(text)
    stop_hits = [w for w in words if w.lower() in _STOPSET]
    n_symbols = len(_SYM.findall(text))
    return {
        "n_chars_m": n_chars,
        "n_words_m": n_words,
        "mean_word_len": (sum(len(w) for w in words) / n_words) if n_words else 0.0,
        "symbol_ratio": (n_symbols / n_chars) if n_chars else 0.0,
        "stop_ratio": (len(stop_hits) / n_words) if n_words else 0.0,
        "n_distinct_stops": len({w.lower() for w in stop_hits}),
        "dup_line_ratio": ((len(lines) - len(set(lines))) / len(lines)) if lines else 0.0,
        "ellipsis_line_ratio": (sum(1 for l in lines if l.endswith("...")) / len(lines)) if lines else 0.0,
        "alpha_word_ratio": (sum(1 for w in words if _ALPHA.search(w)) / n_words) if n_words else 0.0,
    }


def heuristic_metrics_pdf(texts: pd.Series, t: dict | None = None) -> pd.DataFrame:
    """Pandas oracle twin: metrics + keep label, same names as the engine."""
    t = t or THRESHOLDS
    out = pd.DataFrame([_metrics_one(x) for x in texts], index=texts.index)
    out["keep_heuristic"] = (
        (out.n_words_m >= t["min_words"])
        & (out.n_words_m <= t["max_words"])
        & (out.mean_word_len >= t["min_mean_word_len"])
        & (out.mean_word_len <= t["max_mean_word_len"])
        & (out.symbol_ratio <= t["max_symbol_ratio"])
        & (out.stop_ratio >= t["min_stop_ratio"])
        & (out.n_distinct_stops >= t["min_distinct_stops"])
        & (out.dup_line_ratio <= t["max_dup_line_ratio"])
        & (out.ellipsis_line_ratio <= t["max_ellipsis_line_ratio"])
        & (out.alpha_word_ratio >= t["min_alpha_word_ratio"])
    )
    return out


# ---- per-rule fail attribution (single source for Spark + oracle) ----------
#
# (rule_name, metric_key, op, threshold_key): a doc FAILS the rule when
# `metric op THRESHOLDS[threshold_key]` holds. keep_expr above is exactly
# the conjunction of the negations; queries.filter_overlap_matrix and its
# DuckDB twin both generate their comparisons from THIS list, so a
# threshold change can never desynchronize the three.
RULE_DEFS: list[tuple[str, str, str, str]] = [
    ("too_few_words", "n_words", "<", "min_words"),
    ("too_many_words", "n_words", ">", "max_words"),
    ("word_len_low", "mean_word_len", "<", "min_mean_word_len"),
    ("word_len_high", "mean_word_len", ">", "max_mean_word_len"),
    ("symbol_heavy", "symbol_ratio", ">", "max_symbol_ratio"),
    ("stopword_poor", "stop_ratio", "<", "min_stop_ratio"),
    ("stop_variety_low", "n_distinct_stops", "<", "min_distinct_stops"),
    ("dup_lines", "dup_line_ratio", ">", "max_dup_line_ratio"),
    ("ellipsis_heavy", "ellipsis_line_ratio", ">", "max_ellipsis_line_ratio"),
    ("alpha_poor", "alpha_word_ratio", "<", "min_alpha_word_ratio"),
]

# the Spark metric frame spells word count n_words_m (with_heuristic_metrics);
# the oracle CTE spells it n_words — map per consumer.
SPARK_METRIC_COLS = {"n_words": "n_words_m"}
_PASS_OP = {"<": ">=", ">": "<="}


def _rule_sql(t: dict | None = None, passing: bool = False) -> dict[str, str]:
    """rule -> SQL text of its failing (or, negated, passing) comparison."""
    t = t or THRESHOLDS
    return {
        name: " ".join(
            [SPARK_METRIC_COLS.get(metric, metric), _PASS_OP[op] if passing else op, sql_literal(t[thr])]
        )
        for name, metric, op, thr in RULE_DEFS
    }


def rule_fail_exprs(t: dict | None = None) -> dict[str, Column]:
    """rule -> boolean FAIL Column over with_heuristic_metrics columns."""
    return {name: F.expr(sql) for name, sql in _rule_sql(t).items()}
