"""Seeded benchmark inputs, written as parquet with pyarrow (no Spark).

The documents follow the shape of the package's ``documents`` test table:
``doc_id, text, lang, source, n_chars``, where ``text`` is 10-99 words drawn
uniformly from the same 30-word vocabulary, 5% of documents are a near copy
of an earlier one (``<text> dup``) and a few are exact copies.  Keeping the
vocabulary keeps the dictionary, regex and join hit rates of the queries.

The same seed always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
STREAM_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("source", pa.string()), ("text", pa.string())]
)


def _words(rng: np.random.Generator, lo: int, hi: int) -> str:
    return " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(lo, hi))])


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_words(rng, 10, 100))
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.fromiter((len(t) for t in texts), np.int64, n_docs),
        },
        schema=DOC_SCHEMA,
    )


def write_documents(out_dir: str, seed: int, n_docs: int, n_files: int) -> None:
    """``documents`` as a directory ``out_dir/documents.parquet`` of
    ``n_files`` files, one row group each."""
    docs = documents(np.random.default_rng(seed), n_docs)
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path)
    step = -(-n_docs // n_files)
    for k in range(n_files):
        pq.write_table(docs.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def stream_documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Crawl-like pages: a per-source navigation line on most pages, two to
    four paragraphs of which a third repeat an earlier paragraph, some exact
    repeats of earlier pages and some pages too short for the quality gate."""
    navs = [f"home {VOCAB[k]} news about src{k}" for k in range(N_SOURCES)]
    paras: list[str] = []
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if r < 0.10:
            texts.append(_words(rng, 3, 12))
            continue
        body = []
        for _ in range(int(rng.integers(2, 5))):
            if paras and rng.random() < 0.33:
                body.append(paras[int(rng.integers(0, len(paras)))])
            else:
                p = "the data " + _words(rng, 12, 30)
                paras.append(p)
                body.append(p)
        if rng.random() < 0.7:
            body.insert(0, navs[i % N_SOURCES])
        texts.append("\n".join(body))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "text": texts,
        },
        schema=STREAM_SCHEMA,
    )


def write_stream(out_dir: str, seed: int, n_files: int, docs_per_file: int) -> str:
    """Landing files for the file-source stream, plus ``seed.parquet`` (the
    corpus the static boilerplate table is built from).  File ``k`` gets an
    mtime ``k`` seconds after file ``k-1``, so the stream drains them in
    order on any filesystem.  Returns the landing directory."""
    rng = np.random.default_rng(seed)
    pages = stream_documents(rng, (n_files + 1) * docs_per_file)
    pq.write_table(pages.slice(0, docs_per_file), os.path.join(out_dir, "seed.parquet"))
    land = os.path.join(out_dir, "landing")
    os.makedirs(land)
    t0 = 1_600_000_000
    for k in range(n_files):
        path = os.path.join(land, f"part-{k:05d}.parquet")
        pq.write_table(pages.slice((k + 1) * docs_per_file, docs_per_file), path)
        os.utime(path, (t0 + k, t0 + k))
    return land
