"""Seeded input generator for the benchmark.

Every input is a pure function of (workload sizes, seed): the same seed
writes byte-identical parquet. Inputs are written once per seed under the
work directory and read by the engine as parquet.

Documents keep the engine's `documents` schema
(doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT)
and the 31-word vocabulary of the engine's sf0.1 test corpus. Paragraphs
are separated by a blank line, so `Chunking.paragraphChunks` and
`Cleaning.paragraphDedup` see multi-paragraph documents.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch dup").split()

# Fixed document properties (recorded in BENCHMARK.json's workload notes).
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
DUP_PARAGRAPH_SHARE = 0.10   # paragraphs copied from a shared pool
BOILERPLATE_SHARE = 0.05     # documents ending in a boilerplate paragraph
PARAGRAPHS = (1, 3)          # paragraphs per document, inclusive
PARAGRAPH_WORDS = (10, 60)   # words per paragraph, inclusive
DUP_POOL = 40
BOILERPLATE = (
    "read the full data sheet and join the customer stream today",
    "all rights reserved for the big data table and query team",
    "subscribe to the fast batch line for the key value order news",
)

DIM = 384


def _paragraph(rng):
    n = int(rng.integers(PARAGRAPH_WORDS[0], PARAGRAPH_WORDS[1] + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB) - 1, n))


def documents(n_docs, seed):
    """A pyarrow table of `n_docs` documents for `seed`."""
    rng = np.random.default_rng([seed, 1])
    pool = [_paragraph(rng) for _ in range(DUP_POOL)]
    texts, langs = [], []
    lang_idx = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    for d in range(n_docs):
        paras = []
        for _ in range(int(rng.integers(PARAGRAPHS[0], PARAGRAPHS[1] + 1))):
            if rng.random() < DUP_PARAGRAPH_SHARE:
                paras.append(pool[int(rng.integers(0, DUP_POOL))])
            else:
                paras.append(_paragraph(rng))
        if rng.random() < BOILERPLATE_SHARE:
            paras.append(BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        texts.append("\n\n".join(paras))
        langs.append(LANGS[lang_idx[d]])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{d % 20}" for d in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def questions(n, seed):
    """A question pool: the reference's golden questions are added by the
    engine side; these are corpus-vocabulary questions."""
    rng = np.random.default_rng([seed, 2])
    out = []
    for _ in range(n):
        k = int(rng.integers(3, 8))
        out.append("which " + " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB) - 1, k)))
    return out


def vectors(n, clusters, seed, stream):
    """`n` 384-d float vectors clustered around `clusters` seeded centres.
    The base and the stream draw from the same centres (stream=0/1 only
    changes the noise), so cluster count against nlist sets cell skew."""
    centres = np.random.default_rng([seed, 3]).standard_normal((clusters, DIM))
    rng = np.random.default_rng([seed, 4, stream])
    which = rng.integers(0, clusters, n)
    v = centres[which] + 0.35 * rng.standard_normal((n, DIM))
    return v.astype(np.float32)


def _vec_table(ids, v, extra=None):
    cols = {
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, v.size + 1, DIM, dtype=np.int32)),
            pa.array(v.reshape(-1), pa.float32())),
    }
    cols.update(extra or {})
    return pa.table(cols)


def write_inputs(out_dir, sizes, seed):
    """Write every input for one workload into `out_dir` (idempotent: a
    complete directory is reused)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return
    os.makedirs(out_dir, exist_ok=True)
    if "docs" in sizes:
        pq.write_table(documents(sizes["docs"], seed),
                       os.path.join(out_dir, "documents.parquet"))
    if "questions" in sizes:
        pq.write_table(pa.table({"question": questions(sizes["questions"], seed)}),
                       os.path.join(out_dir, "questions.parquet"))
    if "base" in sizes:
        nb, bs, nbatch = sizes["base"], sizes["batch"], sizes["batches"]
        base = vectors(nb, sizes["clusters"], seed, 0)
        pq.write_table(_vec_table(np.arange(nb), base),
                       os.path.join(out_dir, "base.parquet"))
        s = vectors(bs * nbatch, sizes["clusters"], seed, 1)
        ids = nb + np.arange(bs * nbatch)
        pq.write_table(
            _vec_table(ids, s, {"batch": pa.array((np.arange(bs * nbatch) // bs).astype(np.int64))}),
            os.path.join(out_dir, "stream.parquet"))
        q = vectors(sizes["queries"], sizes["clusters"], seed, 2)
        pq.write_table(_vec_table(np.arange(sizes["queries"]), q),
                       os.path.join(out_dir, "queries.parquet"))
    open(done, "w").close()
