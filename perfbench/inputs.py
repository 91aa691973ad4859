"""Seeded benchmark inputs, written inside the benchmark's work directory.

Everything the engine reads is generated here from the workload seed, so
the same seed gives byte-identical inputs and no file outside the
checkout is read:

- the driver-contract tables the synth corpus and the headline queries
  read (``documents``, ``embeddings``, ``lineitem``), written as parquet
  with the same schemas as the reference test data;
- crawl seed lists: which corpus pages are seeds, their priorities, and
  the non-canonical spellings that canonicalisation must fold.

The page model is the engine's synth rule (``sources/synth.py``): page
``i`` lives on host 0 when ``i % 10 < 3`` and on host ``i % n_hosts``
otherwise, links to pages ``(7i+1) % n`` and ``(13i+2) % n``, and carries
the text of document ``i % n_docs`` followed by `` #i``. The helpers
below restate that rule in Python so the checks can compute expected
outputs without asking the engine.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64


@dataclass(frozen=True)
class Corpus:
    """Sizes of one generated input set."""

    n_pages: int
    n_docs: int
    n_vectors: int = 500

    @property
    def n_hosts(self) -> int:
        return max(10, self.n_pages // 400)

    def host_id(self, i: int) -> int:
        return 0 if i % 10 < 3 else i % self.n_hosts

    def url(self, i: int) -> str:
        return f"http://h{self.host_id(i):04d}.example.org/p/{i}"

    def links(self, i: int) -> tuple[int, int]:
        return (7 * i + 1) % self.n_pages, (13 * i + 2) % self.n_pages

    def html(self, i: int, doc_texts: list[str]) -> bytes:
        j1, j2 = self.links(i)
        return (
            f'<html><body><a href="{self.url(j1)}"><a href="{self.url(j2)}">'
            f"{self.text(i, doc_texts)}</body></html>"
        ).encode("utf-8")

    def text(self, i: int, doc_texts: list[str]) -> str:
        return f"{doc_texts[i % self.n_docs]} #{i}"

    def sha1_hex(self, i: int, doc_texts: list[str]) -> str:
        return hashlib.sha1(self.html(i, doc_texts)).hexdigest()


def page_index(url: str) -> int:
    """Page number of a canonical corpus URL (``.../p/<i>``)."""
    return int(url.rsplit("/", 1)[1])


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    # a few exact and one-word-off copies, so the dedup queries have
    # planted pairs to find beyond the chance overlaps of a small vocab
    for d in rng.choice(n_docs, max(1, n_docs // 50), replace=False):
        src = texts[int(rng.integers(0, n_docs))]
        if rng.random() < 0.5:
            texts[d] = src
        else:
            toks = src.split()
            toks[int(rng.integers(0, len(toks)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))
            ]
            texts[d] = " ".join(toks)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
            "source": pa.array(
                [f"src{d % 20}" for d in range(n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + 0.6 * rng.normal(size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    # (l_orderkey, l_linenumber) is unique: the synth corpus and its
    # oracle number pages by that order, so ties would make it ambiguous
    i = rng.permutation(n)
    day0 = np.datetime64("1992-01-01", "us")
    days = rng.integers(0, 365 * 7, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": pa.array(i // 4 + 1, pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
            "l_linenumber": pa.array(i % 4 + 1, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900, 105000, n), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
            "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
        }
    )


def write_tables(out_dir: str, corpus: Corpus, seed: int) -> pa.Table:
    """Write ``documents``, ``embeddings`` and ``lineitem`` parquet files
    for ``corpus`` (lineitem's row count is the page count). Returns the
    documents, from which the pages and the checks' expectations derive."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    docs = _documents(rng, corpus.n_docs)
    pq.write_table(docs, f"{out_dir}/documents.parquet")
    pq.write_table(_embeddings(rng, corpus.n_vectors), f"{out_dir}/embeddings.parquet")
    pq.write_table(_lineitem(rng, corpus.n_pages), f"{out_dir}/lineitem.parquet")
    return docs


def write_pages(out_dir: str, corpus: Corpus, docs: pa.Table) -> None:
    """Land the page store: the engine's ``pages`` table (url, warc_ts,
    html, text, lang) for every corpus page, one parquet file."""
    n = corpus.n_pages
    doc_texts = docs.column("text").to_pylist()
    lang = docs.column("lang").to_pylist()
    epoch0 = np.datetime64("2024-01-01T00:00:00", "us")
    i = np.arange(n)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "url": pa.array([corpus.url(k) for k in range(n)], pa.string()),
                "warc_ts": pa.array(
                    epoch0 + ((i * 37) % 86400).astype("timedelta64[s]"),
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array([corpus.html(k, doc_texts) for k in range(n)], pa.binary()),
                "text": pa.array([corpus.text(k, doc_texts) for k in range(n)], pa.string()),
                "lang": pa.array([lang[k % corpus.n_docs] for k in range(n)], pa.string()),
            }
        ),
        f"{out_dir}/pages.parquet",
    )


@dataclass(frozen=True)
class SeedList:
    """A crawl seed list: rows to hand the engine, and the canonical page
    numbers they must collapse to."""

    urls: list[str]
    priorities: list[float]
    pages: frozenset[int]


def discover_seeds(corpus: Corpus, seed: int) -> SeedList:
    """A seeded ~10% of pages, plus non-canonical spellings (upper-case
    scheme and host, default port, fragment) of a seeded ~1%."""
    rng = np.random.default_rng([seed, 2])
    n = corpus.n_pages
    picked = rng.choice(n, max(1, n // 10), replace=False)
    variants = rng.choice(n, max(1, n // 100), replace=False)
    urls = [corpus.url(int(i)) for i in picked]
    prios = list(np.round(1.0 + rng.integers(0, 10, len(picked)) / 10.0, 1))
    for i in variants:
        i = int(i)
        urls.append(
            f"HTTP://H{corpus.host_id(i):04d}.EXAMPLE.ORG:80/p/{i}#frag"
        )
        prios.append(0.5)
    pages = frozenset(int(i) for i in picked) | frozenset(
        int(i) for i in variants
    )
    return SeedList(urls, [float(p) for p in prios], pages)


def recrawl_seeds(corpus: Corpus, seed: int) -> SeedList:
    """A seeded fifth of the pages, canonical spellings only."""
    rng = np.random.default_rng([seed, 3])
    picked = rng.choice(corpus.n_pages, corpus.n_pages // 5, replace=False)
    prios = np.round(1.0 + rng.integers(0, 10, len(picked)) / 10.0, 1)
    return SeedList(
        [corpus.url(int(i)) for i in picked],
        [float(p) for p in prios],
        frozenset(int(i) for i in picked),
    )
