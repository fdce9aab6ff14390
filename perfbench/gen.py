"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: numpy's legacy
``RandomState`` keeps the byte stream fixed across numpy versions. Inputs are
written with pyarrow before Spark starts, so generation time never leaks into
``setup_s``, and the file and split layout is fixed by this module, not by
Spark's partitioner.

Pages corpus (the shape of ``dq.synth.generate_pages_pdf``): ~30% of docs on
one hot domain, ~12% degenerate docs, ~15% with a PII snippet, ~20% off the
target language, and five crawl days of which one (``MISSING_DAY``) is
deliberately absent. ~5% exact copies and ~3% near copies are appended at the
tail, so a generated corpus must never be truncated.

DQ lake: ``tables`` monitored tables x ``days`` ``dt_foto`` partitions, each
``rows`` random rows plus ~6% duplicates of them; one planted missing partition per table,
whose rows go to a separate back-fill directory that the remediation pass
reads as the healed table.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dq.synth import HOT_DOMAIN, LANGS, WORDS, render_html

DAYS = ["20240301", "20240302", "20240303", "20240304", "20240305"]
MISSING_DAY = "20240304"
CRAWL_DAYS = [d for d in DAYS if d != MISSING_DAY]
COLD_DOMAINS = [f"host{i:02d}.example.net" for i in range(40)]
PII = [
    "write to ana.silva{i}@example.com today",
    "phone +1 (555) 010-{i:04d} after noon",
    "CPF 987.654.321-{j:02d} on record",
    "host 10.0.{j}.{i} unreachable",
]
FILES_PER_DAY = 2  # 4 crawl days x 2 files = 8 input splits


def _words(rng: np.random.RandomState, lang: str, n: int) -> str:
    pool = WORDS[lang]
    return " ".join(pool[k] for k in rng.randint(0, len(pool), size=n))


def _text(rng: np.random.RandomState, lang: str, i: int) -> str:
    if rng.rand() < 0.12:  # degenerate: short, symbol-heavy, repetitive
        kind = rng.randint(0, 3)
        if kind == 0:
            return _words(rng, lang, int(rng.randint(2, 9)))
        if kind == 1:
            return _words(rng, lang, 25) + " " + "%$#@!* " * 30
        line = _words(rng, lang, 9).capitalize() + "."
        return "\n".join([line] * 20)
    pars = [
        _words(rng, lang, int(rng.randint(20, 61))).capitalize() + "."
        for _ in range(int(rng.randint(3, 9)))
    ]
    if rng.rand() < 0.15:
        tmpl = PII[int(rng.randint(0, len(PII)))]
        pars.append(tmpl.format(i=i % 1000, j=i % 97))
    return "\n".join(pars)


def pages(n_base: int, seed: int) -> pd.DataFrame:
    """``n_base`` original docs plus planted exact and near copies at the
    tail. Columns: url, warc_ts, html, text, lang, dt_foto, and ``copy_of``
    (the source url of a planted copy, else None; never written)."""
    rng = np.random.RandomState(seed)
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(n_base):
        domain = HOT_DOMAIN if rng.rand() < 0.30 else COLD_DOMAINS[int(rng.randint(0, 40))]
        lang = "en" if rng.rand() < 0.80 else LANGS[1 + int(rng.randint(0, len(LANGS) - 1))]
        text = _text(rng, lang, i)
        day = CRAWL_DAYS[int(rng.randint(0, len(CRAWL_DAYS)))]
        ts = base + dt.timedelta(days=DAYS.index(day), seconds=int(rng.randint(0, 86400)))
        rows.append((f"https://{domain}/p/{seed}/{i}", ts, text, lang, day, None))
    # Copy sources are distinct docs, so every planted duplicate group is one
    # source and one copy: the near-dup graph has the same shape (and the
    # connected-components loop the same number of rounds) for every seed.
    n_exact, n_near = n_base // 20, max(n_base // 33, 2)
    sources = rng.choice(n_base, size=n_exact + n_near, replace=False)
    for k, src in enumerate(sources[:n_exact]):
        u, ts, text, lang, day, _ = rows[int(src)]
        rows.append((f"https://{HOT_DOMAIN}/mirror/{seed}/{k}", ts, text, lang, day, u))
    for k, src in enumerate(sources[n_exact:]):
        u, ts, text, lang, day, _ = rows[int(src)]
        rows.append((f"https://{COLD_DOMAINS[k % 40]}/near/{seed}/{k}", ts, text + " addendum", lang, day, None))
    pdf = pd.DataFrame(rows, columns=["url", "warc_ts", "text", "lang", "dt_foto", "copy_of"])
    pdf["html"] = [render_html(t, u) for t, u in zip(pdf["text"], pdf["url"])]
    return pdf


_PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages(pdf: pd.DataFrame, path: str, partitioned: bool = True) -> int:
    """Write the corpus as parquet; returns the number of files (= input
    splits: every file is far below Spark's split size). Partitioned output
    is ``dt_foto=<day>/part-<k>.parquet``, ``FILES_PER_DAY`` files a day."""
    n_files = 0

    def emit(frame: pd.DataFrame, directory: str, k: int) -> None:
        nonlocal n_files
        os.makedirs(directory, exist_ok=True)
        table = pa.Table.from_pandas(frame[_PAGES_SCHEMA.names], schema=_PAGES_SCHEMA, preserve_index=False)
        pq.write_table(table, os.path.join(directory, f"part-{k:05d}.parquet"))
        n_files += 1

    if not partitioned:
        for k, chunk in enumerate(np.array_split(np.arange(len(pdf)), 4)):
            emit(pdf.iloc[chunk], path, k)
        return n_files
    for day, frame in pdf.groupby("dt_foto", sort=True):
        for k, chunk in enumerate(np.array_split(np.arange(len(frame)), FILES_PER_DAY)):
            emit(frame.iloc[chunk], os.path.join(path, f"dt_foto={day}"), k)
    return n_files


def lake(root: str, tables: int, days: int, rows: int, seed: int) -> dict:
    """Write the monitored tables; returns the ground truth the dq_checks
    output checks compare against."""
    rng = np.random.RandomState(seed)
    truth = {"tables": [], "present": {}, "missing": {}}
    for t in range(tables):
        name = f"tbl{t}"
        # never the first (cold) check, and the same days for every seed, so
        # every seed's sweep runs the same sequence of present/missing checks
        missing = DAYS[1 + (t + 1) % (days - 1)]
        truth["tables"].append(name)
        for day in DAYS[:days]:
            n = rows
            frame = pd.DataFrame(
                {
                    "id": rng.randint(0, 10**9, size=n).astype("int64"),
                    "cliente": [f"c{v}" for v in rng.randint(0, 5000, size=n)],
                    "valor": rng.randint(0, 10**6, size=n).astype("int64"),
                }
            )
            dups = frame.sample(n=n // 16, random_state=rng)
            frame = pd.concat([frame, dups], ignore_index=True)
            stats = (len(frame), len(frame.drop_duplicates()))
            if day == missing:
                target = os.path.join(root, f"{name}_backfill", f"dt_foto={day}")
                truth["missing"][name] = (day, stats)
            else:
                target = os.path.join(root, name, f"dt_foto={day}")
                truth["present"][(name, day)] = stats
            os.makedirs(target, exist_ok=True)
            pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), os.path.join(target, "part-00000.parquet"))
    return truth
