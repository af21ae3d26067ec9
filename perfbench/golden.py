"""Seeded build corpus and the closed-form checks of a committed build.

Page ``i`` of the corpus is fully determined by ``kgeng.fixtures``'
per-page helpers, so a corpus is a page-index range and its golden
triples and texts follow from the same helpers. The checks read the
committed parquet with pyarrow and run no Spark job.
"""

from __future__ import annotations

import gzip
import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from kgeng import fixtures

MULT = 5  # sentences-per-page multiplier of the bench corpus
FILLER_KB = 18  # sidebar filler: ~20 KB pages
MIN_PR = 0.95
TEXT_SAMPLE = 64  # pages whose extracted text is compared byte for byte


def write_corpus(path: str, offset: int, n_pages: int) -> str:
    """WARC-shaped corpus of pages ``offset .. offset+n_pages-1``:
    gzip html cells (``mtime=0``, so the bytes depend on the page only)."""
    rng = range(offset, offset + n_pages)
    html = [
        gzip.compress(fixtures.page_html(i, MULT, FILLER_KB), compresslevel=6, mtime=0)
        for i in rng
    ]
    tbl = pa.table(
        {
            "url": pa.array([fixtures.page_url(i) for i in rng], pa.string()),
            "warc_ts": pa.array([fixtures.page_warc_ts(i) for i in rng], pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array([fixtures.page_text(i, MULT) for i in rng], pa.string()),
            "lang": pa.array([fixtures.page_lang(i) for i in rng], pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(tbl, path)
    return path


def golden_triples(offset: int, n_pages: int, specs=fixtures.page_sentence_specs) -> set:
    """Canonical (url, subject, predicate, object) rows of the English pages.

    The url is part of the key: the same (subject, predicate, object)
    recurs on many pages of a range (8 predicates, 400 entities), so a
    check on the triples alone would accept a build that lost every
    page whose triples another page repeats.
    """
    out = set()
    for i in range(offset, offset + n_pages):
        if fixtures.page_lang(i) != "en":
            continue
        url = fixtures.page_url(i)
        for s, _verb, pred, o in specs(i, MULT):
            out.add(
                (
                    url,
                    fixtures.entity_curie(fixtures.canonical_of(s)),
                    pred,
                    fixtures.entity_curie(fixtures.canonical_of(o)),
                )
            )
    return out


def text_sample(offset: int, n_pages: int) -> list[int]:
    step = max(1, n_pages // TEXT_SAMPLE)
    return list(range(offset, offset + n_pages, step))[:TEXT_SAMPLE]


def _read(path: str, columns: list[str]) -> pa.Table:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def check_build(out_dir: str, offset: int, n_pages: int) -> list[str]:
    """Problems found in a committed build; empty when it is correct."""
    problems = []
    cols = ["url", "subject", "predicate", "object"]
    canon = _read(os.path.join(out_dir, "canon"), cols)
    got = set(zip(*(canon.column(c).to_pylist() for c in cols)))
    gold = golden_triples(offset, n_pages)
    hit = len(got & gold)
    precision = hit / len(got) if got else 0.0
    recall = hit / len(gold) if gold else 0.0
    if precision < MIN_PR or recall < MIN_PR:
        problems.append(f"triples P={precision:.4f} R={recall:.4f} (< {MIN_PR})")

    texts = _read(os.path.join(out_dir, "extract_text"), ["url", "text"])
    by_url = dict(zip(texts.column("url").to_pylist(), texts.column("text").to_pylist()))
    bad = [
        i
        for i in text_sample(offset, n_pages)
        if by_url.get(fixtures.page_url(i)) != fixtures.page_text(i, MULT)
    ]
    if bad:
        problems.append(f"extracted text differs on {len(bad)} sampled pages, e.g. {bad[:3]}")

    ids = _read(os.path.join(out_dir, "nodes"), ["id"]).column("id").to_pylist()
    if len(ids) != len(set(ids)):
        problems.append(f"{len(ids) - len(set(ids))} duplicate node ids")
    if not ids:
        problems.append("no nodes committed")
    return problems


def parquet_mb(root: str) -> float:
    """Bytes of every parquet file under ``root``, in MB."""
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet"))
    return total / (1024.0 * 1024.0)
