"""Seeded ``documents`` corpus for the pair-dedup queries.

Same shape as the registry's benchmark corpora (``doc_id, text, lang,
source, n_chars``) and the same properties as the sf0.01 and sf0.1 ones:
whitespace tokens drawn uniformly from a 30-word vocabulary, 10-100
tokens per document, 40% ``en`` and 15% each of four other languages, 20
sources, and 5% of the documents a copy of another one with a ``dup``
token appended (31 distinct tokens in all).  With so small a vocabulary,
random documents alone reach those corpora's pair density (about 24% of
all pairs at token Jaccard >= 0.8; :func:`pair_density` measures it); the
planted copies are what q54's character trigrams find.  The output is a
pure function of ``(seed, n_docs)``.
"""

from __future__ import annotations

import os
import random

import duckdb

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (8, 3, 3, 3, 3)
N_SOURCES = 20
DUP_SHARE = 0.05
THRESHOLD = 0.8


def build_rows(seed: int, n_docs: int) -> list[tuple]:
    rng = random.Random(seed)
    # evenly spread lengths in a seeded order: long documents make most
    # of the pairs, so every seed gets the same length mix (and pair count)
    lengths = [10 + 91 * i // n_docs for i in range(n_docs)]
    rng.shuffle(lengths)
    texts = [" ".join(rng.choices(VOCAB, k=k)) for k in lengths]
    for doc_id in rng.sample(range(n_docs), round(DUP_SHARE * n_docs)):
        texts[doc_id] = texts[rng.randrange(n_docs)] + " dup"
    return [(doc_id, text, rng.choices(LANGS, LANG_WEIGHTS)[0],
             f"src{doc_id % N_SOURCES}", len(text))
            for doc_id, text in enumerate(texts)]


def pair_density(rows: list[tuple]) -> float:
    """Share of all document pairs whose token sets have Jaccard >=
    ``THRESHOLD`` (the pairs q16 returns, over all pairs)."""
    bit = {t: 1 << i for i, t in enumerate((*VOCAB, "dup"))}
    masks = []
    for _doc_id, text, *_ in rows:
        m = 0
        for t in set(text.split(" ")):
            m |= bit[t]
        masks.append(m)
    hits = 0
    for i, a in enumerate(masks):
        for b in masks[i + 1:]:
            hits += (a & b).bit_count() >= THRESHOLD * (a | b).bit_count()
    n = len(masks)
    return hits / (n * (n - 1) // 2)


def write_documents(sf_dir: str, rows: list[tuple]) -> str:
    """Write ``{sf_dir}/documents.parquet`` (the path ``load_table``
    reads); returns it."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
            "lang VARCHAR, source VARCHAR, n_chars BIGINT)"
        )
        con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
        con.execute(f"COPY documents TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
    return path
