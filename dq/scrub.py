"""Regex PII scrubbing as a native ``regexp_replace`` chain.

Reference analogue: scalar regexp_replace usage (duplicidade/
ColetaDuplicidade.scala:56, flop/CorrigirBuraco.scala:114) — here promoted to
a full scrub stage. ONE ordered pattern list shared by the Catalyst chain
(Java regex) and the pandas oracle (Python re); every pattern stays inside
the dialect-common subset so scrubbed text is byte-identical per url
(BASELINE.json invariant, SURVEY.md §7.3 item 1).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Toxicity masking tier (north rule: "PII/toxicity scrub"). Deterministic
# word-boundary list — the production seam for a C4-style blocklist; the
# embedded subset keeps the repo clean while exercising the full path.
# Case-insensitive via inline (?i): supported by Java regex (engine),
# Python re (oracle twin), and RE2 (DuckDB oracle).
TOXIC_WORDS = ["moron", "imbecile", "scumbag", "dumbass", "jackass"]

# Ordered: earlier patterns must not create text later ones would match.
SCRUB_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("cpf", r"\b\d{3}\.\d{3}\.\d{3}-\d{2}\b", "<CPF>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    # country-code group is atomic so a bare leading space is never consumed
    ("phone", r"(?:\+?1[ .-]?)?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b", "<PHONE>"),
    ("toxicity", r"(?i)\b(?:" + "|".join(TOXIC_WORDS) + r")\b", "<TOX>"),
]


def scrub_col(text: Column) -> Column:
    """Catalyst chain: PII-scrubbed text (JVM regex, codegen'd)."""
    out = text
    for _, pat, rep in SCRUB_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


_COMPILED = [(re.compile(p), r) for _, p, r in SCRUB_RULES]


def scrub_text(text: str | None) -> str | None:
    """Pure-Python oracle twin of :func:`scrub_col`."""
    if text is None:
        return None
    for pat, rep in _COMPILED:
        text = pat.sub(rep, text)
    return text
