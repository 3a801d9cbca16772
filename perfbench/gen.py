"""Seeded raw-``documents`` generator for the benchmark workloads.

Writes ``<dir>/documents.parquet`` with the raw documents schema
(doc_id, text, lang, source, n_chars). Texts follow the shape of the
repository's sf0.1 test table: 10-100 words drawn uniformly from its
30-word vocabulary, languages in its proportions. Every one of the
``n_sources`` sources gets ``min_per_source`` documents and the rest are
spread by a Zipf law of exponent ``zipf_s`` (0 = uniform). Source k is
always ``src<k>`` ranked k, so the cell a source lands in is fixed and
only the sampled texts and the per-source counts change with the seed.

The floor keeps every cell at several documents: 3% of texts hash to
nodata, and a cell whose pixels are all nodata makes the distributed
fill-minima stage fail (fillminima_dist reads a NaN h_max).

The same (seed, settings) always gives byte-identical rows; a new seed
gives new rows. The program under test sees only the written directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)


def source_weights(n_sources: int, zipf_s: float) -> np.ndarray:
    """Probability of each source rank; uniform when zipf_s == 0."""
    ranks = np.arange(1, n_sources + 1, dtype=np.float64)
    w = ranks ** -zipf_s
    return w / w.sum()


def make_documents(seed: int, n_docs: int, n_sources: int,
                   zipf_s: float, min_per_source: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    counts = min_per_source + rng.multinomial(
        n_docs - n_sources * min_per_source,
        source_weights(n_sources, zipf_s))
    src = np.repeat(np.arange(n_sources), counts)
    rng.shuffle(src)
    n_words = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for n in n_words:
        texts.append(" ".join(vocab[words[pos:pos + n]]))
        pos += n
    lang = np.array(LANGS, dtype=object)[
        rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in src], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_input(out_dir: str, seed: int, n_docs: int, n_sources: int,
                zipf_s: float, min_per_source: int) -> str:
    """Write one input directory (idempotent: an existing complete
    directory for the same settings is kept as is) and return it."""
    path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(path):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(make_documents(seed, n_docs, n_sources, zipf_s,
                                  min_per_source), tmp)
    os.replace(tmp, path)
    return out_dir
