"""The build golden check accepts a correct committed build and rejects
perturbed triples, lost pages, wrong text and duplicate node ids.
Spark-free: the committed build is written directly as parquet.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import golden  # noqa: E402
from kgeng import fixtures  # noqa: E402

# 1000 pages: long enough that the fixtures repeat a page's triples on
# another page of the range (they recur with a period of 400 pages)
OFFSET, N = 4000, 1000


def perturbed_specs(i, mult):
    """Every object shifted to the next entity: a corpus whose triples
    the program would get wrong."""
    return [
        (s, v, p, (o + 1) % fixtures.N_ENTITIES)
        for s, v, p, o in fixtures.page_sentence_specs(i, mult)
    ]


def spo(rows):
    return {r[1:] for r in rows}


def write_build(out, triples=None, texts=None, node_ids=None):
    triples = golden.golden_triples(OFFSET, N) if triples is None else triples
    rows = sorted(triples)
    os.makedirs(f"{out}/canon")
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows],
                "subject": [r[1] for r in rows],
                "predicate": [r[2] for r in rows],
                "object": [r[3] for r in rows],
            }
        ),
        f"{out}/canon/part-0.parquet",
    )
    idx = range(OFFSET, OFFSET + N)
    texts = texts or {i: fixtures.page_text(i, golden.MULT) for i in idx}
    os.makedirs(f"{out}/extract_text")
    pq.write_table(
        pa.table({"url": [fixtures.page_url(i) for i in idx], "text": [texts[i] for i in idx]}),
        f"{out}/extract_text/part-0.parquet",
    )
    if node_ids is None:
        node_ids = sorted({r[1] for r in rows} | {r[3] for r in rows})
    os.makedirs(f"{out}/nodes/node_class=biolink%3AGene")
    pq.write_table(pa.table({"id": node_ids}), f"{out}/nodes/node_class=biolink%3AGene/part-0.parquet")
    return str(out)


def test_correct_build_passes(tmp_path):
    assert golden.check_build(write_build(tmp_path / "ok"), OFFSET, N) == []


def test_perturbed_triples_are_rejected(tmp_path):
    bad = golden.golden_triples(OFFSET, N, specs=perturbed_specs)
    assert bad != golden.golden_triples(OFFSET, N)
    problems = golden.check_build(write_build(tmp_path / "bad", triples=bad), OFFSET, N)
    assert len(problems) == 1 and problems[0].startswith("triples P=")


def test_lost_pages_are_rejected_even_when_their_triples_recur(tmp_path):
    gold = golden.golden_triples(OFFSET, N)
    by_url = {}
    for row in gold:
        by_url.setdefault(row[0], set()).add(row[1:])
    # pages whose every (subject, predicate, object) also occurs on other pages
    repeated = {
        url
        for url, triples in by_url.items()
        if triples <= set().union(*(t for u, t in by_url.items() if u != url))
    }
    assert len(repeated) > len(by_url) // 2
    kept = {row for row in gold if row[0] not in repeated}
    assert spo(kept) == spo(gold)  # a check on triples alone would pass this build
    problems = golden.check_build(write_build(tmp_path / "lost", triples=kept), OFFSET, N)
    assert len(problems) == 1 and problems[0].startswith("triples P=1.0000 R=")


def test_a_few_missing_triples_stay_within_pr(tmp_path):
    gold = sorted(golden.golden_triples(OFFSET, N))
    kept = set(gold[: int(len(gold) * 0.97)])
    assert golden.check_build(write_build(tmp_path / "ok", triples=kept), OFFSET, N) == []


def test_wrong_text_is_rejected(tmp_path):
    texts = {i: fixtures.page_text(i, golden.MULT) for i in range(OFFSET, OFFSET + N)}
    sample = golden.text_sample(OFFSET, N)
    texts[sample[1]] = texts[sample[1]] + " "
    problems = golden.check_build(write_build(tmp_path / "t", texts=texts), OFFSET, N)
    assert len(problems) == 1 and "extracted text" in problems[0]


def test_duplicate_node_ids_are_rejected(tmp_path):
    problems = golden.check_build(write_build(tmp_path / "n", node_ids=["X:1", "X:2", "X:1"]), OFFSET, N)
    assert problems == ["1 duplicate node ids"]


@pytest.mark.parametrize("offset", [0, 7000])
def test_corpus_is_a_function_of_the_offset(tmp_path, offset):
    a = pq.read_table(golden.write_corpus(str(tmp_path / "a.parquet"), offset, 30))
    b = pq.read_table(golden.write_corpus(str(tmp_path / "b.parquet"), offset, 30))
    assert a.equals(b)
    first = a.slice(0, 1).to_pylist()[0]
    assert first["url"] == fixtures.page_url(offset)
    assert gzip.decompress(first["html"]) == fixtures.page_html(offset, golden.MULT, golden.FILLER_KB)
