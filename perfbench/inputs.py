"""Seeded benchmark inputs, generated once per (workload, size, seed) and
cached under the work directory.

Two corpora:

* ``mixed_clips`` — ``synth.write_clips_parquet``: the FIXTURES.md mix
  (~80% singletons, exact / char-edit / token-edit / substring copies and
  one hot one-word group of 2% of the rows), 100-300 ms audio as in
  ``bench.py``.
* ``documents`` — a ``documents`` table with the shape of the sf testdata
  (31-word vocabulary, 10-100 words, five languages, twenty sources) plus
  planted near-duplicates: 5% of the rows are another row's text with
  `` dup`` appended.

Each truth pair is judged once, with the pure-numpy reference encoder
(``reference.py``), against the verify rule: hamming <= VERIFY_HAMMING_MAX,
or jaccard >= VERIFY_JACCARD_MIN, or verbatim containment of >=
SUBSTR_MIN_LEN chars. Only eligible pairs count toward recall.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

#: cached input sets kept per work directory; older ones are pruned
CACHE_KEEP = 6

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DOC_SOURCES = 20
DOC_DUP_SHARE = 0.05


def eligible_pairs(texts: dict[str, str], pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Truth pairs that the verify rule accepts under the reference encoder."""
    from simhash_spark import config as C
    from simhash_spark import reference as R

    if not pairs:
        return []
    ids = sorted({x for p in pairs for x in p})
    sig = dict(zip(ids, R.simhash64_batch([texts[i] for i in ids]).tolist()))
    norm = dict(zip(ids, R.normalize_batch([texts[i] for i in ids])))
    out = []
    for a, b in pairs:
        if (
            R.hamming64(sig[a], sig[b]) <= C.VERIFY_HAMMING_MAX
            or R.jaccard(norm[a], norm[b]) >= C.VERIFY_JACCARD_MIN
            or R.substring_contained(norm[a], norm[b])
        ):
            out.append((a, b))
    return out


def make_documents(n: int, seed: int) -> tuple[pd.DataFrame, list[tuple[str, str]]]:
    """A seeded ``documents`` table and its planted (src, copy) pairs, ids
    as strings (the form ``_docs_as_clips`` gives the pipeline)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(DOC_VOCAB), int(n_words.sum()))
    ends = np.cumsum(n_words)
    texts = [
        " ".join(DOC_VOCAB[w] for w in words[e - k : e]) for e, k in zip(ends, n_words)
    ]
    copies = rng.choice(n, int(n * DOC_DUP_SHARE), replace=False)
    planted = set(copies.tolist())
    truth = []
    for c in copies.tolist():
        src = int(rng.integers(0, n))
        if src == c or src in planted:
            continue
        texts[c] = texts[src] + " dup"
        truth.append((str(min(src, c)), str(max(src, c))))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(DOC_LANGS, n, p=DOC_LANG_P),
            "source": [f"src{i % DOC_SOURCES}" for i in range(n)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    return docs, truth


def _prune(cache_root: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if os.path.isdir(os.path.join(cache_root, d))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for d in entries[CACHE_KEEP:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def _cached(cache_root: str, key: str, build) -> str:
    """Directory holding the input set ``key``; ``build(dir)`` fills it on
    a miss. A set is visible only once its ``_DONE`` marker exists."""
    os.makedirs(cache_root, exist_ok=True)
    path = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(os.path.join(path, "_DONE"), "w").close()
    os.utime(path)
    _prune(cache_root, path)
    return path


def mixed_clips(cache_root: str, n: int, seed: int) -> str:
    """Cached ``write_clips_parquet`` corpus plus ``eligible.json``."""

    def build(path: str) -> None:
        import pyarrow.parquet as pq

        from simhash_spark.sources.synth import write_clips_parquet

        write_clips_parquet(path, n, seed=seed, dur_ms_range=(100, 300))
        clips = pq.read_table(
            os.path.join(path, "clips.parquet"), columns=["clip_id", "transcript"]
        ).to_pandas()
        truth = pq.read_table(os.path.join(path, "truth_pairs.parquet")).to_pandas()
        texts = dict(zip(clips["clip_id"], clips["transcript"]))
        pairs = list(zip(truth["a"], truth["b"]))
        with open(os.path.join(path, "eligible.json"), "w") as f:
            json.dump({"truth": len(pairs), "eligible": eligible_pairs(texts, pairs)}, f)

    return _cached(cache_root, f"mixed-n{n}-s{seed}", build)


def documents(cache_root: str, n: int, seed: int) -> str:
    """Cached sf-style directory holding ``documents.parquet`` plus
    ``eligible.json``."""

    def build(path: str) -> None:
        docs, truth = make_documents(n, seed)
        docs.to_parquet(os.path.join(path, "documents.parquet"), index=False)
        texts = dict(zip(docs["doc_id"].astype(str), docs["text"]))
        with open(os.path.join(path, "eligible.json"), "w") as f:
            json.dump({"truth": len(truth), "eligible": eligible_pairs(texts, truth)}, f)

    return _cached(cache_root, f"docs-n{n}-s{seed}", build)


def load_eligible(path: str) -> list[tuple[str, str]]:
    with open(os.path.join(path, "eligible.json")) as f:
        return [tuple(p) for p in json.load(f)["eligible"]]
