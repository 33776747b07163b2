"""Seeded corpus for the ``curate`` workload, keyed by (n_docs, seed).

Documents follow the shape of the repository's ``documents`` test table:
text drawn from its 30-word vocabulary, cut at a length between 44 and
577 characters, five languages over 20 sources. Every NEAR_DUP_STRIDE-th
document repeats an earlier one with one word appended, every
EXACT_DUP_STRIDE-th repeats one byte for byte, so the exact-dup and
near-dup gates have work. EMBEDDED_SHARE of the documents get a unit
embedding (``vec_id`` = ``doc_id``); a near duplicate keeps its source's
vector, slightly perturbed, so the semantic-dup gate has work too.

Each table is written with pyarrow as one parquet file, the layout of
the repository's test tables."""

from __future__ import annotations

import os
import random

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))
N_SOURCES = 20
NEAR_DUP_STRIDE = 20
EXACT_DUP_STRIDE = 50
EMBEDDED_SHARE = 0.4
EMB_DIM = 64
N_LABELS = 10


def corpus_dir(base: str, n_docs: int, seed: int) -> str:
    return os.path.join(base, f"corpus_{n_docs}_{seed}")


def _text(rng: random.Random) -> str:
    n_chars = rng.randint(44, 577)
    words: list[str] = []
    size = -1
    while size < n_chars:
        w = rng.choice(VOCAB)
        words.append(w)
        size += len(w) + 1
    return " ".join(words)[:n_chars].rstrip()


def generate(n_docs: int, seed: int) -> tuple[dict, dict]:
    """(documents, embeddings) as column dicts, a pure function of
    (n_docs, seed)."""
    import numpy as np

    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    langs = [lang for lang, w in LANGS for _ in range(w)]
    docs = {"doc_id": [], "text": [], "lang": [], "source": [],
            "n_chars": []}
    vecs: dict[int, np.ndarray] = {}
    emb = {"vec_id": [], "embedding": [], "label": []}
    for i in range(n_docs):
        src = rng.randrange(i) if i else 0
        if i and i % EXACT_DUP_STRIDE == EXACT_DUP_STRIDE - 1:
            text = docs["text"][src]
        elif i and i % NEAR_DUP_STRIDE == NEAR_DUP_STRIDE - 1:
            text = docs["text"][src] + " " + rng.choice(VOCAB)
        else:
            text, src = _text(rng), None
        docs["doc_id"].append(i)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(langs))
        docs["source"].append(f"src{rng.randrange(N_SOURCES)}")
        docs["n_chars"].append(len(text))
        if rng.random() < EMBEDDED_SHARE:
            v = nrng.standard_normal(EMB_DIM)
            if src is not None and src in vecs:
                v = vecs[src] + 0.01 * v
            v = v / np.linalg.norm(v)
            vecs[i] = v
            emb["vec_id"].append(i)
            emb["embedding"].append(v.astype(np.float32))
            emb["label"].append(rng.randrange(N_LABELS))
    return docs, emb


def build(base: str, n_docs: int, seed: int) -> str:
    """Write the corpus under ``base``; returns its directory, which holds
    ``documents.parquet`` and ``embeddings.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, emb = generate(n_docs, seed)
    out = corpus_dir(base, n_docs, seed)
    tables = {
        "documents": pa.table({
            "doc_id": pa.array(docs["doc_id"], pa.int64()),
            "text": pa.array(docs["text"], pa.string()),
            "lang": pa.array(docs["lang"], pa.string()),
            "source": pa.array(docs["source"], pa.string()),
            "n_chars": pa.array(docs["n_chars"], pa.int64()),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(emb["vec_id"], pa.int64()),
            "embedding": pa.array(emb["embedding"], pa.list_(pa.float32())),
            "label": pa.array(emb["label"], pa.int32()),
        }),
    }
    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out
