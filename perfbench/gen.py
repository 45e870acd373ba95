"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs under a directory it is given and
returns the ground truth the output check compares against:

* ``corpus_zipf`` writes a directory of text files and returns the
  exact lowercase word tallies, as the ``Word,Count`` CSV bytes in
  bytewise word order that ``write_word_count_csv`` must produce.
* ``near_dup_docs`` writes ``documents.parquet`` in the fixture schema
  with planted near-duplicate groups and returns those groups.

Generation is pure NumPy/pyarrow, deterministic per seed, and cached
per (workload, seed, size) by ``prepare``: a directory holding a
``DONE`` marker is reused as is.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

# Delimiter runs placed between words. Every byte is in the reference
# alphabet (tokenizer.c:7 whitespace plus delimiters.txt), so a word
# never absorbs one; mixed lengths exercise the `[...]+` run regex.
_DELIMS = [
    b" ", b" ", b" ", b" ", b" ", b" ", b"\n", b", ", b". ", b"; ",
    b"-", b"(", b") ", b"\t", b"!", b"? ", b'"', b"/", b"[", b"]",
]
_DELIM_W = max(len(d) for d in _DELIMS)

# Workload sizes. Changing one changes the benchmark: the cache key
# includes the size, and BENCHMARK.json's bounds were set at these.
SIZES = {
    "corpus_zipf": {"tokens": 1_600_000, "vocab": 100_000, "zipf_s": 1.05, "files": 8},
    "near_dup_docs": {"docs": 2_000, "groups": 150, "copies": 3, "vocab": 5_000},
}


def _random_words(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    """n random lowercase ASCII words, lengths uniform in [lo, hi], as
    a fixed-width bytes array (NumPy orders 'S' arrays bytewise)."""
    letters = rng.integers(ord("a"), ord("z") + 1, size=(n, hi), dtype=np.uint8)
    lengths = rng.integers(lo, hi + 1, size=n)
    letters[np.arange(hi)[None, :] >= lengths[:, None]] = 0
    return letters.view(f"S{hi}").ravel()


def _vocabulary(rng: np.random.Generator, n: int, lo: int = 2, hi: int = 12) -> np.ndarray:
    """n distinct words in a seeded random order (rank order for Zipf)."""
    words = np.unique(_random_words(rng, int(n * 1.3) + 64, lo, hi))
    if len(words) < n:
        raise ValueError(f"vocabulary draw produced {len(words)} < {n} words")
    return rng.permutation(words)[:n]


def _mixed_case(rng: np.random.Generator, rows: np.ndarray, lengths: np.ndarray) -> None:
    """In place: ~20% of tokens Capitalized, ~10% UPPER (ASCII only, so
    Java's and Python's lower() agree byte for byte)."""
    style = rng.random(len(rows))
    cap = style < 0.2
    rows[cap, 0] -= 32
    upper = style >= 0.9
    live = np.arange(rows.shape[1])[None, :] < lengths[:, None]
    rows[upper[:, None] & live] -= 32


def _write_text(rng: np.random.Generator, path: str, tokens: np.ndarray) -> int:
    """Write one text file of `tokens` (lowercase 'S' array) joined by
    random delimiter runs, in mixed case; returns bytes written."""
    width = tokens.dtype.itemsize
    rows = tokens.view(np.uint8).reshape(len(tokens), width).copy()
    lengths = np.char.str_len(tokens)
    _mixed_case(rng, rows, lengths)
    table = np.zeros((len(_DELIMS), _DELIM_W), dtype=np.uint8)
    dlen = np.array([len(d) for d in _DELIMS])
    for i, d in enumerate(_DELIMS):
        table[i, : len(d)] = np.frombuffer(d, dtype=np.uint8)
    pick = rng.integers(0, len(_DELIMS), size=len(tokens))
    packed = np.concatenate([rows, table[pick]], axis=1)
    cols = np.arange(width + _DELIM_W)[None, :]
    keep = np.where(
        cols < width, cols < lengths[:, None], cols - width < dlen[pick][:, None]
    )
    data = packed[keep].tobytes() + b"\n"
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _expected_csv(words: np.ndarray, counts: np.ndarray) -> bytes:
    """`Word,Count` CSV with rows in bytewise ascending word order."""
    order = np.argsort(words, kind="stable")
    lines = [b"Word,Count\n"]
    lines += [b"%s,%d\n" % (w, c) for w, c in zip(words[order].tolist(), counts[order].tolist())]
    return b"".join(lines)


def _write_corpus(rng: np.random.Generator, root: str, tokens: np.ndarray, files: int) -> dict:
    os.makedirs(root)
    total = sum(
        _write_text(rng, os.path.join(root, f"part-{i:03d}.txt"), chunk)
        for i, chunk in enumerate(np.array_split(tokens, files))
    )
    words, counts = np.unique(tokens, return_counts=True)
    return {"input_bytes": total, "tokens": int(len(tokens)), "distinct": int(len(words)),
            "expected_csv": _expected_csv(words, counts)}


def corpus_zipf(rng: np.random.Generator, root: str, tokens: int, vocab: int,
                zipf_s: float, files: int) -> dict:
    """Zipf-distributed words over a `vocab`-word vocabulary."""
    words = _vocabulary(rng, vocab)
    weights = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    cdf = np.cumsum(weights / weights.sum())
    ids = np.minimum(np.searchsorted(cdf, rng.random(tokens)), vocab - 1)
    return _write_corpus(rng, root, words[ids], files)


def near_dup_docs(rng: np.random.Generator, root: str, docs: int, groups: int,
                  copies: int, vocab: int) -> dict:
    """`documents.parquet` (doc_id, text, lang, source, n_chars) where
    `groups` base documents each have `copies` edited copies (3 word
    substitutions each, 3-shingle Jaccard to the base 0.7-0.87); every
    other document is an independent draw. Doc ids are a seeded
    permutation, so group members are not adjacent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = _vocabulary(rng, vocab, 3, 9).astype(str)
    lengths = rng.integers(60, 140, size=docs)
    texts: list[list[str]] = []
    truth: list[list[int]] = []
    ids = rng.permutation(docs)
    n_planted = groups * (1 + copies)
    for i in range(docs - groups * copies):
        texts.append(list(words[rng.integers(0, vocab, size=lengths[i])]))
    for g in range(groups):
        base = texts[g]
        members = [int(ids[g])]
        for _ in range(copies):
            copy = list(base)
            for pos in rng.choice(len(copy), size=3, replace=False):
                copy[pos] = str(words[rng.integers(0, vocab)])
            members.append(int(ids[len(texts)]))
            texts.append(copy)
        truth.append(members)
    joined = [" ".join(t) for t in texts]
    langs = np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, size=docs)]
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(joined, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 7}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in joined], pa.int64()),
    })
    os.makedirs(root)
    path = os.path.join(root, "documents.parquet")
    pq.write_table(table, path)
    return {"input_bytes": os.path.getsize(path), "docs": docs,
            "planted_docs": n_planted, "groups": truth}


GENERATORS = {"corpus_zipf": corpus_zipf, "near_dup_docs": near_dup_docs}


def _size_key(params: dict) -> str:
    return "-".join(f"{k}{v}" for k, v in sorted(params.items()))


def prepare(workload: str, seed: int, cache_root: str, params: dict | None = None) -> str:
    """Return the input directory for (workload, seed, size) under
    `cache_root`, generating it first unless a finished one exists.
    Layout: `input/` (what the program reads), `truth.json`, and
    `expected.csv` for corpus_zipf."""
    params = dict(SIZES[workload] if params is None else params)
    root = os.path.join(cache_root, f"{workload}-seed{seed}-{_size_key(params)}")
    if os.path.exists(os.path.join(root, "DONE")):
        return root
    if os.path.exists(root):
        shutil.rmtree(root)  # a half-written earlier attempt
    os.makedirs(root)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    truth = GENERATORS[workload](rng, os.path.join(root, "input"), **params)
    expected = truth.pop("expected_csv", None)
    if expected is not None:
        with open(os.path.join(root, "expected.csv"), "wb") as fh:
            fh.write(expected)
    truth.update(workload=workload, seed=seed, params=params)
    with open(os.path.join(root, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    open(os.path.join(root, "DONE"), "w").close()
    return root
