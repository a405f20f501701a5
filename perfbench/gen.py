"""Seeded input generator for the benchmark workloads.

Everything here derives from the ``seed`` argument alone: the corpora, the
request mix, the labels, the change feed and the planted near-duplicate
pairs.  The engine never sees the seed -- it only reads the parquet files
:func:`write_table` leaves in a directory.

Text model: a Zipf(1.1) vocabulary of synthetic words, plus three token
families the router reacts to:

- rare incident ids (``INC-nnnnn``), unique per document -> keyword arm;
- mid-frequency numeric tokens (``8080``) -> hybrid arm when a query mixes
  one with words;
- underscore identifiers (``alpha_beta``), queried in their fused form
  (``alphabeta``) -> out-of-vocabulary for BM25, matched by char-4-grams.
"""

from __future__ import annotations

import functools
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
VOCAB = 6000
N_NUMERIC = 300
SYLLABLES = [
    c + v
    for c in "bcdfgklmnprstvz"
    for v in ("a", "e", "i", "o", "u", "ai", "or", "en")
]
# request mix of the reference label set, as counts of the rows FIXTURES.md
# (A2, ``labels``) names per kind: natural-language Q-001..Q-006, pure-id
# Q-010, mixed words + number Q-007, fuzzy identifier variants Q-013/Q-014
QUERY_MIX = (("natural", 6), ("id", 1), ("mixed", 1), ("fuzzy", 2))

_SPLIT = re.compile(r"[.!?]\s+")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts the draws of another."""
    return np.random.default_rng([seed, *stream.encode()])


@functools.lru_cache(maxsize=4)
def vocabulary(seed: int) -> tuple[list[str], np.ndarray]:
    """(words, cumulative Zipf probabilities).  Numeric tokens sit at
    mid ranks so their document frequency is well above 1."""
    rng = _rng(seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB:
        w = "".join(rng.choice(SYLLABLES, size=int(rng.integers(2, 4))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    nums = [str(n) for n in rng.choice(np.arange(100, 10000), N_NUMERIC, replace=False)]
    vocab = words[:200] + nums + words[200:]
    p = 1.0 / np.arange(1, len(vocab) + 1) ** ZIPF_S
    return vocab, np.cumsum(p / p.sum())


def _sentence(rng, vocab, cum, n) -> str:
    idx = np.searchsorted(cum, rng.random(n))
    ws = [vocab[i] for i in np.minimum(idx, len(vocab) - 1)]
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + "."


def snippet(text: str) -> str:
    """First two sentences, the answer template's context rule."""
    parts = [p.strip() for p in _SPLIT.split(text) if p.strip()]
    out = ". ".join(parts[:2]).strip()
    if out and out[-1] not in ".!?":
        out += "."
    return out


def expected_answer(title: str, text: str, query: str) -> str:
    return (
        "Based on the retrieved context, here's the best match:\n\n"
        f"{title}\n{snippet(text)}\n\n(Query: {query})"
    )


def corpus(seed: int, n_docs: int, *, stream: str = "corpus") -> dict[str, list]:
    """(doc_id, title, text) columns plus the planted tokens per doc:
    ``inc`` (rare id or ""), ``ident`` (underscore identifier or "")."""
    vocab, cum = vocabulary(seed)
    rng = _rng(seed, stream)
    incs = rng.choice(np.arange(10000, 100000), n_docs, replace=False)
    cols = {k: [] for k in ("doc_id", "title", "text", "inc", "ident")}
    for i in range(n_docs):
        sents = [
            _sentence(rng, vocab, cum, int(rng.integers(6, 15)))
            for _ in range(int(rng.integers(3, 7)))
        ]
        inc = ident = ""
        if i % 10 == 3:
            inc = f"INC-{incs[i]}"
            sents.insert(1, f"Incident {inc} was escalated.")
        if i % 10 == 7:
            a, b = rng.choice(vocab[200 + N_NUMERIC:], 2, replace=False)
            ident = f"{a}_{b}"
            sents.insert(1, f"The field {ident} was missing.")
        title = " ".join(
            vocab[j].capitalize()
            for j in np.minimum(np.searchsorted(cum, rng.random(int(rng.integers(3, 6)))), len(vocab) - 1)
        )
        cols["doc_id"].append(f"DOC-{i:06d}")
        cols["title"].append(title)
        cols["text"].append(" ".join(sents))
        cols["inc"].append(inc)
        cols["ident"].append(ident)
    return cols


def _words_of(text: str) -> list[str]:
    return [w for w in re.findall(r"[A-Za-z]+", text.lower()) if w not in ("inc", "the", "field", "was")]


def requests(seed: int, docs: dict[str, list], n: int, *, stream: str, cycle: tuple[str, ...]) -> dict[str, list]:
    """(query_id, query, kind, expected_doc_id, expected_answer): ``n``
    requests, each aimed at one document, their kinds following ``cycle``
    in order."""
    rng = _rng(seed, stream)
    vocab, _ = vocabulary(seed)
    numeric = set(vocab[200:200 + N_NUMERIC])
    n_docs = len(docs["doc_id"])
    out = {k: [] for k in ("query_id", "query", "kind", "expected_doc_id", "expected_answer")}
    for qi in range(n):
        kind = cycle[qi % len(cycle)]
        while True:
            d = int(rng.integers(0, n_docs))
            words = sorted(set(_words_of(docs["text"][d])))
            nums = sorted(set(re.findall(r"\b\d{3,4}\b", docs["text"][d])) & numeric)
            if kind == "id" and not docs["inc"][d]:
                continue
            if kind == "fuzzy" and not docs["ident"][d]:
                continue
            if kind == "mixed" and not nums:
                continue
            if len(words) >= 6:
                break
        pick = list(rng.choice(words, 5, replace=False))
        if kind == "natural":
            q = " ".join(pick)
        elif kind == "id":
            q = f"{docs['inc'][d]} details"
        elif kind == "mixed":
            q = " ".join(pick[:4] + [str(rng.choice(nums))])
        else:
            q = " ".join([docs["ident"][d].replace("_", "")] + pick)
        out["query_id"].append(f"Q-{qi:05d}")
        out["query"].append(q)
        out["kind"].append(kind)
        out["expected_doc_id"].append(docs["doc_id"][d])
        out["expected_answer"].append(expected_answer(docs["title"][d], docs["text"][d], q))
    return out


def change_feed(seed: int, docs: dict[str, list], n_epochs: int, *, changed: float = 0.01, new: float = 0.005):
    """Per epoch: (delivery columns, marker token, changed ids, new ids).

    Each delivery re-sends the whole current corpus; about ``changed`` of
    the docs get a rewritten sentence carrying the epoch's marker token
    (a token no other epoch or base doc contains), and about ``new`` of
    a corpus' size arrive as fresh docs carrying it too."""
    rng = _rng(seed, "feed")
    vocab, cum = vocabulary(seed)
    ids = list(docs["doc_id"])
    texts = dict(zip(ids, docs["text"]))
    titles = dict(zip(ids, docs["title"]))
    n0 = len(ids)
    out = []
    for e in range(1, n_epochs + 1):
        marker = f"zqx{e:03d}{int(rng.integers(1000, 10000))}"
        n_chg = max(1, round(changed * n0))
        chg = sorted(rng.choice(len(ids), n_chg, replace=False).tolist())
        chg_ids = [ids[i] for i in chg]
        for d in chg_ids:
            texts[d] = texts[d] + " " + _sentence(rng, vocab, cum, 8)[:-1] + f" {marker}."
        new_ids = [f"NEW-{e:03d}-{j:05d}" for j in range(max(1, round(new * n0)))]
        for d in new_ids:
            texts[d] = " ".join(_sentence(rng, vocab, cum, 10) for _ in range(3)) + f" Tag {marker}."
            titles[d] = "Fresh " + marker
        ids.extend(new_ids)
        batch = {
            "doc_id": list(ids),
            "title": [titles[d] for d in ids],
            "text": [texts[d] for d in ids],
        }
        out.append((batch, marker, chg_ids, new_ids))
    return out


def pipeline_corpus(seed: int, n_docs: int, *, dim: int = 64) -> dict:
    """LLM-data corpus with planted structure.  Shares of ``n_docs``:
    10% near-duplicates (about 5% of tokens replaced), 2% exact
    duplicates, 2% carrying a benchmark passage verbatim, and repetitive
    template docs filling the rest (about 4%); plus a ``dim``-d embedding per doc where 5% of docs
    are planted near-neighbours (cosine > 0.9995) of another doc."""
    rng = _rng(seed, "pipeline")
    vocab, cum = vocabulary(seed)
    n_base = int(n_docs * 0.84)
    base = corpus(seed, n_base, stream="pipeline-base")
    texts = list(base["text"])
    # benchmark passages: 40 words each, drawn from the tail vocabulary
    tail = vocab[1000:]
    bench = [" ".join(rng.choice(tail, 40)) for _ in range(50)]
    contaminated: list[int] = []
    for j in range(int(n_docs * 0.02)):
        i = int(rng.integers(0, n_base))
        if i in contaminated:
            continue
        texts[i] = texts[i] + " " + bench[j % len(bench)] + "."
        contaminated.append(i)
    near: list[tuple[int, int]] = []
    for _ in range(int(n_docs * 0.10)):
        src = int(rng.integers(0, n_base))
        toks = texts[src].split(" ")
        for t in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[t] = vocab[int(rng.integers(1000, len(vocab)))]
        near.append((src, len(texts)))
        texts.append(" ".join(toks))
    exact: list[tuple[int, int]] = []
    for _ in range(int(n_docs * 0.02)):
        src = int(rng.integers(0, n_base))
        exact.append((src, len(texts)))
        texts.append(texts[src])
    templates: list[int] = []
    while len(texts) < n_docs:
        phrase = " ".join(rng.choice(vocab[:400], 4))
        templates.append(len(texts))
        texts.append(" ".join([phrase] * int(rng.integers(8, 16))) + ".")
    n = len(texts)
    ids = [f"P-{i:06d}" for i in range(n)]
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    twins: list[tuple[int, int]] = []
    order = rng.permutation(n)
    for k in range(int(n * 0.05)):
        a, b = int(order[2 * k]), int(order[2 * k + 1])
        v = emb[a] + rng.standard_normal(dim).astype(np.float32) * 0.004
        emb[b] = v / np.linalg.norm(v)
        twins.append((a, b))
    return {
        "docs": {"doc_id": ids, "text": texts},
        "emb": {"vec_id": ids, "embedding": [list(map(float, r)) for r in emb]},
        "bench": {"doc_id": [f"B-{j:03d}" for j in range(len(bench))], "text": bench},
        "near_pairs": [(ids[a], ids[b]) for a, b in near],
        "exact_pairs": [(ids[a], ids[b]) for a, b in exact],
        "emb_pairs": [(ids[a], ids[b]) for a, b in twins],
        "contaminated": [ids[i] for i in contaminated],
        "templates": [ids[i] for i in templates],
    }


def write_table(cols: dict[str, list], path: str) -> str:
    """One parquet file, written deterministically (no timestamps)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path, compression="snappy")
    return path
