"""Seeded corpus generator for the curate_x1 workload.

Writes a remapped copy of a fixture's `documents` and `embeddings` tables
into an output directory; the other fixture tables are linked in unchanged.
The engine sees only the generated directory.

Every token is replaced through a seeded bijective permutation of the
fixture's own (ASCII) vocabulary that keeps word lengths, so exact and
near-duplicate structure and every text's length are kept while the text
itself differs from seed to seed. Embeddings get one
seeded permutation of dimensions and sign flips, which keeps every cosine.
"""
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rng(seed, *salt):
    return random.Random(hashlib.sha256(repr((seed,) + salt).encode()).digest())


def remap(vocab, seed):
    """A seeded bijective map of the vocabulary onto itself that keeps each
    word's length, so every seed gives texts of the same lengths."""
    by_len = {}
    for w in sorted(vocab):
        by_len.setdefault(len(w), []).append(w)
    m = {}
    for n, words in sorted(by_len.items()):
        perm = list(words)
        _rng(seed, "perm", n).shuffle(perm)
        m.update(zip(words, perm))
    return m


def row_hash(row):
    """64-bit hash of one row's canonical text."""
    return int.from_bytes(hashlib.sha256(repr(row).encode()).digest()[:8], "little")


def checksum(rows):
    """Order-independent: row count plus the sum (mod 2^64) of row hashes.
    A sum, unlike XOR, does not cancel duplicate rows."""
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash(r)) % (1 << 64)
        n += 1
    return f"{n}:{total:016x}"


def generate(base, out, seed):
    """Writes the corpus into `out` and returns its description."""
    os.makedirs(out, exist_ok=True)
    docs = pq.read_table(os.path.join(base, "documents.parquet")).to_pylist()
    embs = pq.read_table(os.path.join(base, "embeddings.parquet")).to_pylist()
    m = remap({w for d in docs for w in d["text"].split()}, seed)
    out_docs = []
    for d in docs:
        text = " ".join(m[w] for w in d["text"].split())
        out_docs.append({"doc_id": d["doc_id"], "text": text, "lang": d["lang"],
                         "source": d["source"], "n_chars": len(text)})
    r = _rng(seed, "vec")
    dim = len(embs[0]["embedding"])
    perm = list(range(dim))
    r.shuffle(perm)
    sign = [r.choice((1.0, -1.0)) for _ in range(dim)]
    out_embs = [{"vec_id": e["vec_id"], "label": e["label"],
                 "embedding": [sign[j] * e["embedding"][perm[j]] for j in range(dim)]}
                for e in embs]

    doc_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())])
    emb_schema = pa.schema([("vec_id", pa.int64()),
                            ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
    pq.write_table(pa.Table.from_pylist(out_docs, doc_schema),
                   os.path.join(out, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist(out_embs, emb_schema),
                   os.path.join(out, "embeddings.parquet"))
    for t in TABLES:
        link = os.path.join(out, f"{t}.parquet")
        if t not in ("documents", "embeddings") and not os.path.lexists(link):
            os.symlink(os.path.abspath(os.path.join(base, f"{t}.parquet")), link)

    texts = {}
    for d in out_docs:
        texts[d["text"]] = texts.get(d["text"], 0) + 1
    exact_dup_docs = sum(n for n in texts.values() if n > 1)
    return {
        "docs": len(out_docs),
        "vectors": len(out_embs),
        "documents_bytes": os.path.getsize(os.path.join(out, "documents.parquet")),
        "embeddings_bytes": os.path.getsize(os.path.join(out, "embeddings.parquet")),
        "exact_dup_share": exact_dup_docs / len(out_docs),
        "checksum": checksum(
            [(d["doc_id"], d["text"], d["lang"], d["source"], d["n_chars"]) for d in out_docs]
            + [(e["vec_id"], tuple(e["embedding"]), e["label"]) for e in out_embs]),
    }
