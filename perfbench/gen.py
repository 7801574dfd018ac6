"""Seeded input generator for the benchmark.

Everything the library sees is made here from ``seed`` alone: the same
seed gives byte-identical files and corpora, another seed gives other
text. The *shapes* of the inputs do not depend on the seed (lengths,
formats and planted roles are fixed functions of the input size), so
runs on different seeds do the same amount of work and their timings
are comparable.

Text is drawn from the 31-word vocabulary of the project's test-data
``documents`` corpus, the corpus the shipped mini-transformer encoder
and the quality-classifier weights were fitted to (an unrelated
vocabulary makes the quality gate drop nearly every document). About
one token in 25 is a number, standing in for the names and figures of
real documents; it gives each chunk the rare terms BM25 needs to find
it again (a needle query must come back at rank 1).

Expected outputs (extracted text per format, chunk counts) are computed
here independently of the library, from the format templates of
``sources/synth_docs.py`` and the reference's chunking rules, so the
benchmark can check what the library computed.
"""

from __future__ import annotations

import math
import os
import random

from vectordb_light_spark.sources import synth_docs

#: (word, count) in the test-data ``documents`` corpus.
VOCAB = (
    ("a", 8877), ("agg", 8912), ("batch", 8829), ("big", 9057),
    ("column", 9127), ("customer", 9017), ("data", 9104), ("dup", 255),
    ("fast", 8926), ("filter", 9063), ("group", 9040), ("hash", 9024),
    ("join", 9080), ("key", 8893), ("line", 8951), ("merge", 9157),
    ("order", 8971), ("part", 8929), ("query", 8881), ("row", 8925),
    ("scan", 8863), ("slow", 8960), ("small", 9100), ("sort", 9005),
    ("spark", 9182), ("stream", 9117), ("table", 9144), ("the", 8925),
    ("value", 9112), ("vector", 9119), ("window", 9159),
)
WORDS = tuple(w for w, _ in VOCAB)
_WEIGHTS = tuple(c for _, c in VOCAB)

#: The nine binary/markup formats of ``synth_docs.BUILDERS`` plus plain text.
FORMATS = tuple(synth_docs.BUILDERS) + ("txt",)

#: The reference's chunking (1200 characters, 600 overlap).
CHUNK_SIZE, CHUNK_OVERLAP = 1200, 600
_STEP = CHUNK_SIZE - CHUNK_OVERLAP


def doc_lengths(n: int, *, median: int = 1800, sigma: float = 0.8,
                lo: int = 200, hi: int = 12000) -> list[int]:
    """``n`` long-tailed (log-normal) character lengths in ascending order,
    at evenly spaced quantiles: a fixed function of ``n``, so every seed
    generates the same amount of text in the same shapes."""
    out = []
    for i in range(n):
        z = _normal_quantile((i + 0.5) / n)
        out.append(int(min(hi, max(lo, median * math.exp(sigma * z)))))
    return out


def _normal_quantile(p: float) -> float:
    """Inverse standard-normal CDF by bisection (stdlib only)."""
    lo, hi = -8.0, 8.0
    for _ in range(60):
        mid = (lo + hi) / 2
        if 0.5 * math.erfc(-mid / math.sqrt(2)) < p:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def make_text(rng: random.Random, n_chars: int) -> str:
    """Single-line text of exactly ``n_chars`` characters: vocabulary
    words and occasional numbers separated by single spaces."""
    words: list[str] = []
    size = -1
    while size < n_chars:
        if rng.random() < 0.04:
            w = str(rng.randrange(10**6))
        else:
            w = rng.choices(WORDS, _WEIGHTS)[0]
        words.append(w)
        size += len(w) + 1
    text = " ".join(words)[:n_chars]
    return text[:-1] + "s" if text.endswith(" ") else text


def extracted_text(fmt: str, doc_id: int, text: str) -> str:
    """What extraction must return for ``synth_docs.BUILDERS[fmt]`` (the
    templates pinned in that module's docstring) or a ``.txt`` file."""
    return {
        "docx": f"h{doc_id}\n\ndoc {doc_id}\n\n{text}",
        "xlsx": f"doc {doc_id} {text}",
        "rtf": f"doc {doc_id}\n{text}",
        "csv": f"doc {doc_id}\n{text}",
        "html": f"doc {doc_id} {text}",
        "eml": f"Subject: doc {doc_id}\n{text}",
        "pdf": f"[[page1]]doc {doc_id}\n[[page2]]{text}\n",
        "msg": f"Subject: doc {doc_id}\n{text}",
        "xls": f"doc {doc_id}.0 {text}",
        "txt": text,
    }[fmt]


def chunk_texts(fmt: str, extracted: str) -> list[str]:
    """The reference's chunks of one extracted document: the page-aware
    splitter for PDF (markers removed, no global strip), the fixed-size
    splitter otherwise (global strip first). Pieces are stripped and
    empty ones dropped. Generated text is ASCII with single spaces, so
    normalization leaves every chunk as it is."""
    if fmt == "pdf":
        clean = extracted.replace("[[page1]]", "").replace("[[page2]]", "")
    else:
        clean = extracted.strip()
    pieces = (clean[i:i + CHUNK_SIZE].strip() for i in range(0, len(clean), _STEP))
    return [p for p in pieces if p]


def write_document_dir(out_dir: str, n_files: int, seed: int) -> dict:
    """Write ``n_files`` documents into ``out_dir``, the i-th of length
    ``doc_lengths(n_files)[i]`` in format ``FORMATS[i % len(FORMATS)]``
    (the seed changes the text, never the formats or lengths). Returns
    what a correct ingest must produce: ``n_files``, ``expected_chunks``, ``text_bytes`` (UTF-8 bytes of the
    extracted text) and ``chunks`` (every expected chunk text, in file
    order)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    chunks: list[str] = []
    text_bytes = 0
    for i, n_chars in enumerate(doc_lengths(n_files)):
        fmt = FORMATS[i % len(FORMATS)]
        text = make_text(rng, n_chars)
        data = text.encode() if fmt == "txt" else synth_docs.BUILDERS[fmt](i, text)
        with open(os.path.join(out_dir, f"doc{i:05d}.{fmt}"), "wb") as f:
            f.write(data)
        extracted = extracted_text(fmt, i, text)
        text_bytes += len(extracted.encode())
        chunks.extend(chunk_texts(fmt, extracted))
    return {
        "n_files": n_files,
        "expected_chunks": len(chunks),
        "text_bytes": text_bytes,
        "chunks": chunks,
    }


def curate_corpus(n_docs: int, seed: int) -> dict:
    """A curation corpus with planted structure.

    - ``docs``: ``(doc_id, text)`` rows. The first ``n_docs`` are
      distinct originals; then come exact copies of some originals (new
      ids, same text) and near-copies (two words changed).
    - ``exact_dups``: ids of the copies; exact dedup must drop each.
    - ``near_pairs``: ``(original, near-copy)`` id pairs; the split stage
      must put both members of each pair in the same split.
    - ``bench``: benchmark texts, each a 40-token span of one original
      in ``contaminated``; decontamination must drop exactly those.

    Which originals are copied or contaminated is fixed by their rank in
    length (one in 20 each, spread over the length range), so the amount
    of text does not depend on the seed.
    """
    rng = random.Random(seed)
    lengths = doc_lengths(n_docs, median=2400, sigma=0.6, lo=600, hi=9000)
    docs = [(i, make_text(rng, n)) for i, n in enumerate(lengths)]
    exact_src = list(range(5, n_docs, 20))
    near_src = list(range(10, n_docs, 20))
    contaminated = list(range(15, n_docs, 20))

    next_id = n_docs
    exact_dups = []
    for src in exact_src:
        docs.append((next_id, docs[src][1]))
        exact_dups.append(next_id)
        next_id += 1
    near_pairs = []
    for src in near_src:
        toks = docs[src][1].split(" ")
        for pos in rng.sample(range(len(toks)), 2):
            toks[pos] = rng.choice([w for w in WORDS if w != toks[pos]])
        docs.append((next_id, " ".join(toks)))
        near_pairs.append((src, next_id))
        next_id += 1
    bench = []
    for src in contaminated:
        toks = docs[src][1].split(" ")
        start = rng.randrange(max(1, len(toks) - 40))
        bench.append(" ".join(toks[start:start + 40]))
    return {
        "docs": docs,
        "exact_dups": exact_dups,
        "near_pairs": near_pairs,
        "contaminated": contaminated,
        "bench": bench,
    }
