"""Benchmark inputs, generated from seeds and cached under the work dir.

Every cached artifact sits in a directory named after what determines it
and counts as present only once its ``_COMPLETE`` marker exists, so an
interrupted generation is rebuilt rather than reused half-written. The
artifacts the package writes (corpora, the seeded warehouse) are also keyed
by a hash of the package's and the benchmark's sources (the benchmark's
session settings shape the layout), so a checkout that moves to other code
rebuilds them with that code instead of reusing an older layout.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil

import numpy as np

MARKER = "_COMPLETE"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "financial_knowledge_graphs_spark"
HASHED_DIRS = (PACKAGE, "perfbench")

# fresh_build: one uniform-popularity corpus, the same for every seed. When
# a run ingested corpus ``seed % 8`` of 8, the corpora's own differences set
# the quartile spread of the ingest time over 10 seeds (0.23, against 0.02 for
# the fixed incremental batch).
FRESH_DOCS = 400
FRESH_SEED = 0

# incremental_zipf: one Zipf corpus. The history plus PRIOR_BATCHES applied
# batches form the seeded warehouse; the next batch is the one each run
# applies. It is the same batch for every seed: the four candidate batches
# tried differed by 15% in ingest time, which swamped run-to-run noise.
ZIPF_DOCS = 600
ZIPF_SEED = 0
BATCH_DOCS = 30
PRIOR_BATCHES = 3

# near-dup tables: the shape of the sf0.1 testdata documents/embeddings
# tables, measured from them (see neardup_tables), at a tenth of their rows
# (5,000 docs, 2,000 vectors), keeping their 5:2 ratio. The full size does not
# fit a run: on a 4-core host q_embedding_neardup_lsh alone did not finish
# within 9 minutes on the 2,000 sf0.1 vectors. Half these rows saved under 5%
# of the suite's time: each query's fixed Spark cost dominates at this size.
NEARDUP_DOCS = 500
NEARDUP_VECS = 200
DOC_WORDS = (10, 100)       # words per document, uniform, both ends included
DUP_SHARE = 0.05            # docs that copy another doc's text plus " dup"
LANGS = (("en", 0.4), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.15))
SOURCES = 20                # source = src<doc_id % 20>
EMB_DIM = 64
EMB_LABELS = 10

_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()


def done(path: str) -> bool:
    return os.path.exists(os.path.join(path, MARKER))


def mark(path: str) -> None:
    with open(os.path.join(path, MARKER), "w", encoding="utf-8") as fh:
        fh.write("ok")


def fresh_path(path: str) -> str:
    """Remove a stale partial artifact and return the path, ready to fill."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


@functools.lru_cache(maxsize=None)
def code_hash(root: str = ROOT) -> str:
    """Short digest of every ``.py`` file under HASHED_DIRS, path and content."""
    h = hashlib.sha256()
    files = sorted(os.path.relpath(os.path.join(d, f), root)
                   for top in HASHED_DIRS
                   for d, _s, fs in os.walk(os.path.join(root, top))
                   for f in fs if f.endswith(".py"))
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:12]


def code_keyed(cache: str, stem: str) -> str:
    """``<cache>/<stem>_c<code hash>``: one entry per stem and package code."""
    return os.path.join(cache, f"{stem}_c{code_hash()}")


def corpus_path(cache: str, n_docs: int, seed: int, zipf: bool) -> str:
    return code_keyed(cache, f"corpus_n{n_docs}_s{seed}_{'zipf' if zipf else 'uniform'}")


def corpus(spark, cache: str, n_docs: int, seed: int, zipf: bool) -> str:
    """Corpus tables (documents, alias_dict, gt_triples, ...) for one key."""
    from financial_knowledge_graphs_spark import fixtures

    path = corpus_path(cache, n_docs, seed, zipf)
    if not done(path):
        fixtures.write_corpus(spark, fresh_path(path), n_docs=n_docs,
                              seed=seed, zipf=zipf)
        mark(path)
    return path


def batch_bounds(k: int) -> tuple[int, int]:
    """Document-index range [lo, hi) of batch k. Batches follow the history
    in index order, as a news feed delivers them; 0..PRIOR_BATCHES-1 are
    applied in the seeded warehouse, batch PRIOR_BATCHES is held out."""
    lo = history_end() + k * BATCH_DOCS
    return lo, lo + BATCH_DOCS


def history_end() -> int:
    return ZIPF_DOCS - (PRIOR_BATCHES + 1) * BATCH_DOCS


def position_col():
    """Document index parsed from the fixture's ``doc_<index>`` ids."""
    from pyspark.sql import functions as F

    return F.substring(F.col("doc_id"), 5, 16).cast("int")


def neardup_tables(cache: str, seed: int) -> str:
    """documents/embeddings parquet tables shaped like the sf0.1 testdata.

    Measured on sf0.1: texts draw words uniformly from a 30-word vocabulary,
    10 to 100 words each; 5% of the docs are another doc's text with " dup"
    appended; lang is en 40% and zh/es/fr/de 15% each; source cycles through
    20 values. Embeddings are i.i.d. Gaussian unit vectors with a uniform
    label that is independent of the vector.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(cache, f"neardup_n{NEARDUP_DOCS}_v{NEARDUP_VECS}_s{seed}")
    if done(path):
        return path
    fresh_path(path)
    rng = np.random.default_rng(seed)
    lo, hi = DOC_WORDS
    texts = [" ".join(rng.choice(_VOCAB, size=int(rng.integers(lo, hi + 1))))
             for _ in range(NEARDUP_DOCS)]
    n_dup = round(DUP_SHARE * NEARDUP_DOCS)
    for i in rng.choice(NEARDUP_DOCS, size=n_dup, replace=False):
        src = int(rng.integers(0, NEARDUP_DOCS - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    names, probs = zip(*LANGS)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(NEARDUP_DOCS), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in rng.choice(names, size=NEARDUP_DOCS, p=probs)],
        "source": [f"src{i % SOURCES}" for i in range(NEARDUP_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))

    vecs = rng.normal(size=(NEARDUP_VECS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(NEARDUP_VECS), pa.int64()),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMB_LABELS, size=NEARDUP_VECS), pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))
    mark(path)
    return path
