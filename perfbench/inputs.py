"""Seeded benchmark inputs, written to parquet before any timing starts.

Pages come from ``sources.pages.synth_doc``, a pure function of
``doc_id``; the seed only picks the ``doc_id`` range, so every seed gives
a fresh corpus with the generator's mix (30% PDF, a third of those
encrypted; 70% HTML; one hot domain; 2% refetched urls).

The dedup corpus is a directory laid out like the repository's sf test
tables (``documents.parquet``, ``embeddings.parquet``), generated to the
statistics measured on the sf0.1 tables and scaled by ``scale``
(sf0.1 itself is ``scale=1``):

- 5,000 documents and 2,000 vectors per unit of scale;
- words per document uniform on 10..99 (sf0.1: 10 to 100 with the
  `` dup`` suffix, mean 54.1, median 54),
  drawn uniformly from a 30-word vocabulary;
- exactly 5% near-duplicates: a document replaced by another's text plus
  `` dup``, its source drawn uniformly from all documents (sf0.1: 250
  of 5,000; 4 sources are themselves near-dups, i.e. chains of depth 2;
  7 sources shared by two near-dups, 8 identical near-dup pairs);
- ``lang`` en/zh/es/fr/de with p = .41/.15/.15/.15/.14 (sf0.1:
  2,059/753/744/742/702), ``source`` = ``src{i % 20}``, ``n_chars`` the
  text length;
- unit-norm 64-dim Gaussian float32 vectors, so pair cosines are about
  N(0, 1/64) (sf0.1: 1st/50th/99th percentile -0.288/0.000/0.287, max
  0.601, none above 0.9), labels uniform on 0..9.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: doc_ids of one seed never overlap another seed's
SEED_STRIDE = 1_000_000

_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def doc_base(seed: int) -> int:
    if seed < 0:
        raise ValueError("seed must be >= 0")
    return seed * SEED_STRIDE


def page_rows(doc_ids, with_fixtures: bool = False) -> list[dict]:
    """Pages rows for ``doc_ids`` the way ``build_pages_df`` lays them
    out: ids with ``id % 50 == 1`` get a later refetch row too."""
    from resume_parser_service_spark.sources.pages import (fixture_rows,
                                                           synth_doc)
    rows = []
    for d in doc_ids:
        rows.append(synth_doc(d))
        if d % 50 == 1:
            rows.append(synth_doc(d, dup=True))
    if with_fixtures:
        rows.extend(fixture_rows())
    return rows


def expected_texts(doc_ids, with_fixtures: bool = False) -> dict[str, str]:
    """url -> committed text the oracle expects (latest fetch wins)."""
    from resume_parser_service_spark.sources.pages import (fixture_rows,
                                                           synth_doc)
    out = {}
    for d in doc_ids:
        doc = synth_doc(d, dup=(d % 50 == 1))
        out[doc["url"]] = doc["text"]
    if with_fixtures:
        out.update({r["url"]: r["text"] for r in fixture_rows()})
    return out


def write_pages(path: str, rows: list[dict], n_files: int) -> None:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * per:(i + 1) * per]
        if not chunk:
            break
        table = pa.Table.from_pylist(chunk, schema=_PAGES_ARROW)
        pq.write_table(table, os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, path)


def ensure_pages(cache: str, name: str, doc_ids, with_fixtures: bool,
                 n_files: int) -> str:
    path = os.path.join(cache, name)
    if not os.path.isdir(path):
        write_pages(path, page_rows(doc_ids, with_fixtures), n_files)
    return path


#: rows of the sf0.1 tables the dedup corpus is scaled from
SF01_DOCS, SF01_VECS = 5000, 2000


def ensure_dedup_corpus(cache: str, seed: int, scale: float) -> str:
    n_docs, n_vecs = round(SF01_DOCS * scale), round(SF01_VECS * scale)
    root = os.path.join(cache, f"dedup-s{seed}-d{n_docs}-v{n_vecs}")
    if os.path.isdir(root):
        return root
    rng = np.random.default_rng(seed)
    texts = [" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n))
             for n in rng.integers(10, 100, n_docs)]
    for i in np.sort(rng.choice(n_docs, n_docs // 20, replace=False)):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(docs, os.path.join(tmp, "documents.parquet"))
    pq.write_table(emb, os.path.join(tmp, "embeddings.parquet"))
    os.replace(tmp, root)
    return root


def prune_cache(cache: str, keep: set[str]) -> None:
    """Inputs of other seeds are dropped so the cache stays one run big."""
    if not os.path.isdir(cache):
        return
    for name in os.listdir(cache):
        if name not in keep:
            shutil.rmtree(os.path.join(cache, name), ignore_errors=True)
