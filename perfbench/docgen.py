"""Seeded documents with the schema of ``documents.parquet``
(doc_id, text, lang, source, n_chars), with planted duplicates.

A stated share of documents are exact copies of an earlier document and
another share are token-edited copies, drawn from a small pool of cluster
heads so that duplicate clusters have several members.

Tokens are drawn uniformly from a 20,000-word vocabulary. With the 16-bit
simhash the dedup queries use, a small or Zipf-weighted vocabulary makes
unrelated documents' fingerprints collide into one giant component whose
shape, and with it the connected-components iteration count (6 to 15 over
ten seeds at 2,000 documents), changes with the seed; with this vocabulary
it stays at 4 to 8.
"""

from __future__ import annotations

import os
import random

_SYLLABLES = "ka lo mi nu pe ra si to vu ze ba de fi go hu ja ke li mo ny".split()
_LANGS = ("en", "de", "fr", "zh")


def vocabulary(size: int = 20000) -> list[str]:
    """Distinct words of one to four syllables (the base-20 digits of i)."""
    words = []
    for i in range(size):
        word = ""
        while True:
            i, r = divmod(i, len(_SYLLABLES))
            word += _SYLLABLES[r]
            if i == 0:
                break
        words.append(word)
    return words


def _edit(rng: random.Random, tokens: list[str], vocab: list[str], n_edits: int) -> list[str]:
    out = list(tokens)
    for _ in range(n_edits):
        op = rng.randrange(3)
        pos = rng.randrange(len(out))
        if op == 0:
            out[pos] = rng.choice(vocab)
        elif op == 1:
            out.insert(pos, rng.choice(vocab))
        elif len(out) > 4:
            del out[pos]
    return out


def make_documents(
    seed: int,
    n_docs: int,
    exact_share: float = 0.1,
    near_share: float = 0.2,
    heads_share: float = 0.05,
    tokens: tuple[int, int] = (30, 70),
    max_edits: int = 3,
) -> list[dict]:
    rng = random.Random(seed)
    vocab = vocabulary()
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    base = [rng.choices(vocab, k=rng.randint(*tokens)) for _ in range(n_base)]
    heads = base[: max(1, int(n_docs * heads_share))]
    texts = [" ".join(t) for t in base]
    texts += [" ".join(rng.choice(heads)) for _ in range(n_exact)]
    texts += [
        " ".join(_edit(rng, rng.choice(heads), vocab, rng.randint(1, max_edits)))
        for _ in range(n_near)
    ]
    rng.shuffle(texts)
    return [
        {
            "doc_id": i,
            "text": t,
            "lang": _LANGS[i % len(_LANGS)],
            "source": f"src{i % 7}",
            "n_chars": len(t),
        }
        for i, t in enumerate(texts)
    ]


def write_documents(docs: list[dict], path: str) -> None:
    """One parquet file, as the queries' ``documents.parquet`` is."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(
        docs,
        schema=pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
