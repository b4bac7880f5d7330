"""Seeded inputs for the perfbench crawl workloads.

Everything in this module is benchmark preparation: it runs before any
timer starts and its cost is never reported.  The same seed always yields
byte-identical inputs, and every generated document carries its golden
output, so the benchmark can check what the program wrote.

Crawl inputs are the ``genpdf.generate_row`` mix (heavy-tail page counts,
~5% HTML, ~1% truncated, ~4% encrypted, mixed filters and xref styles) plus
an older stale snapshot of every 40th url, plus planted heavy PDFs of at
least 1 MiB.  ``generate_row``'s largest document is ~155 KB, so without the
planted ones ``size_bucketed_repartition``'s heavy branch would never run.
"""

from __future__ import annotations

import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from livre_spark.operators.skew import DEFAULT_LARGE_THRESHOLD
from livre_spark.pdf.content import fmt_f32
from livre_spark.pdf.genpdf import build_pdf, generate_row, text_to_show_op

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("n_bytes", pa.int64()),
])

_BASE_TS = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
STALE_EVERY = 40

# One heavy document per writer variant.  Urls and sizes do not depend on
# the seed: the skew operator salts by url hash, so seed-dependent urls
# would move heavy documents between partitions and make the stage tail
# (and wall_s) depend on the seed rather than on the code.
HEAVY_VARIANTS = (
    {},
    {"ahx": True},
    {"xref": "stream", "xref_predictor": True},
    {"encrypt": "aes-128"},
    {"encrypt": "rc4-128"},
    {"a85": True},
)
HEAVY_CONTENT_BYTES = DEFAULT_LARGE_THRESHOLD + (64 << 10)
_HEAVY_WORDS = ("crawl shard parquet arrow kernel stream xref object page "
                "glyph font filter inflate decrypt spark task stage").split()


class Golden:
    """What the pipeline must write for one url."""

    __slots__ = ("kind", "text", "n_pages")

    def __init__(self, kind: str, text: str | None, n_pages: int):
        self.kind = kind          # "pdf", "html" or "corrupt"
        self.text = text          # None for corrupt rows
        self.n_pages = n_pages


def _page_row(url, ts, html, lang):
    return dict(url=url, warc_ts=ts, html=html, text="", lang=lang,
                n_bytes=len(html))


def _add_doc(i: int, seed: int, row: dict, rows: list, goldens: dict):
    ts = _BASE_TS + datetime.timedelta(seconds=i)
    if i % STALE_EVERY == 7:
        stale = generate_row(i + 10_000_000, seed)
        rows.append(_page_row(row["url"], ts - datetime.timedelta(days=1),
                              stale["html"], row["lang"]))
    rows.append(_page_row(row["url"], ts, row["html"], row["lang"]))
    goldens[row["url"]] = Golden(row["kind"], row["expected_text"],
                                 row["n_pages"])


def mix_rows(seed: int, indices, goldens: dict) -> list[dict]:
    """Source rows of the ``generate_row`` crawl mix for ``indices``; fills
    ``goldens`` (url -> Golden) with the newest snapshot's expectation."""
    rows: list[dict] = []
    for i in indices:
        _add_doc(i, seed, generate_row(i, seed), rows, goldens)
    return rows


# generate_row's row kinds and page-count tiers with their expected shares
MIX_SHARES = {"html": 0.05, "corrupt": 0.01, "pages_1_3": 0.846,
              "pages_10_30": 0.0846, "pages_60_200": 0.0094}


def _stratum(row: dict) -> str:
    if row["kind"] != "pdf":
        return row["kind"]
    n = row["n_pages"]
    return "pages_1_3" if n <= 3 else "pages_10_30" if n <= 30 \
        else "pages_60_200"


def stratified_mix_rows(seed: int, n: int, goldens: dict) -> list[dict]:
    """``n`` documents of the ``generate_row`` mix holding each kind and
    page-count tier at exactly its expected share: rows whose tier is full
    are skipped.  The seed then changes the documents, not how much work
    they are; a plain index range varies total pages by ~10% at 3000
    documents, which showed up as seed-to-seed spread in wall_s."""
    quota = {k: round(v * n) for k, v in MIX_SHARES.items()}
    quota["pages_1_3"] += n - sum(quota.values())
    rows: list[dict] = []
    i = 0
    while any(quota.values()):
        row = generate_row(i, seed)
        tier = _stratum(row)
        if quota[tier]:
            quota[tier] -= 1
            _add_doc(i, seed, row, rows, goldens)
        i += 1
    return rows


def recrawl_rows(seed: int, indices) -> list[dict]:
    """Newer snapshots (different bytes) of already-crawled urls.  A resumed
    run must skip them: the manifest says their url is done."""
    rows = []
    for i in indices:
        url = generate_row(i, seed)["url"]
        fresh = generate_row(i + 20_000_000, seed)
        ts = _BASE_TS + datetime.timedelta(days=30, seconds=i)
        rows.append(_page_row(url, ts, fresh["html"], "en"))
    return rows


def _heavy_pdf(rng: random.Random, variant: dict) -> tuple[bytes, str, int]:
    pages, expected, size = [], [], 0
    while size < HEAVY_CONTENT_BYTES:
        ops, y = [], 720.0
        for _ in range(60):
            line = " ".join(rng.choice(_HEAVY_WORDS)
                            for _ in range(rng.randint(4, 12)))
            ops.append(b"BT /F1 12 Tf 72 " + fmt_f32(y).encode() + b" Td "
                       + text_to_show_op(line) + b" ET")
            expected.append("\n" + line)
            y -= 11.0
        content = b"\n".join(ops)
        pages.append(content)
        size += len(content)
    pdf = build_pdf(pages, **variant)
    if len(pdf) < DEFAULT_LARGE_THRESHOLD:
        raise ValueError(f"heavy document is only {len(pdf)} bytes")
    return pdf, "".join(expected), len(pages)


def heavy_rows(seed: int, n: int, goldens: dict) -> list[dict]:
    """``n`` planted PDFs of at least 1 MiB with golden text."""
    rows = []
    for k in range(n):
        rng = random.Random(seed * 1_000_003 + k)
        pdf, text, n_pages = _heavy_pdf(rng, HEAVY_VARIANTS[k % len(HEAVY_VARIANTS)])
        url = f"https://example.org/heavy/{k:04d}.pdf"
        rows.append(_page_row(url, _BASE_TS, pdf, "en"))
        goldens[url] = Golden("pdf", text, n_pages)
    return rows


def write_pages(path: str, rows: list[dict], row_groups: int = 32) -> int:
    """Write a pages table as one parquet file split into ``row_groups``
    row groups (scan splits follow row groups); returns its size in bytes."""
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "part-00000.parquet")
    table = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
    pq.write_table(table, out,
                   row_group_size=max(1, -(-len(rows) // row_groups)))
    return os.path.getsize(out)
