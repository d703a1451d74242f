"""Seeded document and embedding tables for the corpus workload.

Writes ``documents.parquet`` and ``embeddings.parquet`` in the layout
of the fixed sf0.1 test tables (one file each, one row group), so the
registry entries read them through ``sources.tables.load_table``
unchanged. The parameters below reproduce the statistics the cells'
cost depends on, as measured on sf0.1 (5,000 documents, 2,000
vectors); only the size is smaller:

==============================================  ==========  =================
statistic                                       sf0.1       600 docs,
                                                            seeds 1-4
==============================================  ==========  =================
vocabulary (words, ``dup`` included)            31          31
words per document, quartiles                   32/54/76    30-34/53-56/76-78
``en`` share                                    0.41        0.38-0.43
near-copies (text ends in `` dup``)             5.0%        5.0%
words replaced in a near-copy: 0 / 1 / 2        242/12/2    same weights
trigram-Jaccard pairs >= 0.6 per document       0.051       0.050-0.057
inverted-index join rows per document²          0.051       0.055-0.058
embeddings: unit vectors, dimension             64          64
cosine of two same-label vectors, mean          0.00        0.00
==============================================  ==========  =================

Pairs per document and join rows per document² are the size-free forms
of the n-gram join's output and input. sf0.1's labels carry no signal:
its vectors are isotropic, so LSH buckets fill evenly.

The same seed gives identical tables.
"""

from __future__ import annotations

import math
import os
import random

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [41, 15, 15, 15, 14]
N_SOURCES = 20
DUP_SHARE = 0.05
DUP_EDIT_WEIGHTS = [242, 12, 2]  # sf0.1 near-copies with 0, 1, 2 words replaced
EMB_DIM = 64
N_LABELS = 10


def documents(rng: random.Random, n_docs: int) -> list[dict]:
    # an exact count of near-copies, so every seed has as many pairs
    copies = set(rng.sample(range(1, n_docs), round(DUP_SHARE * n_docs)))
    rows: list[dict] = []
    for doc_id in range(n_docs):
        if doc_id in copies:
            words = rng.choice(rows)["text"].split()
            edits = rng.choices(range(len(DUP_EDIT_WEIGHTS)), DUP_EDIT_WEIGHTS)[0]
            for _ in range(edits):
                words[rng.randrange(len(words))] = rng.choice(VOCAB)
            words.append("dup")
        else:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 100))]
        text = " ".join(words)
        rows.append({
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": f"src{doc_id % N_SOURCES}",
            "n_chars": len(text),
        })
    return rows


def embeddings(rng: random.Random, n_vecs: int) -> list[dict]:
    rows = []
    for vec_id in range(n_vecs):
        v = [rng.gauss(0, 1) for _ in range(EMB_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        rows.append({
            "vec_id": vec_id,
            "embedding": [x / norm for x in v],
            "label": rng.randrange(N_LABELS),
        })
    return rows


def write_corpus(
    out_dir: str, seed: int, n_docs: int, n_vecs: int
) -> tuple[list[dict], list[dict]]:
    """Write both tables under `out_dir` (the `sf_dir` the registry
    entries take); return their rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    doc_rows, vec_rows = documents(rng, n_docs), embeddings(rng, n_vecs)
    docs = pa.Table.from_pylist(
        doc_rows,
        schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64()),
        ]),
    )
    emb = pa.Table.from_pylist(
        vec_rows,
        schema=pa.schema([
            ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return doc_rows, vec_rows
