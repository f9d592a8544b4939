"""The benchmark corpus and the seeded request stream.

The corpus is fixed, so a seed changes only the requests. It is the
first ``N_SHORT`` documents of the sf0.1 ``documents.parquet`` (snapshot
in ``data/documents_prefix.jsonl``), one ``.md`` file per document,
spread over ``TOPICS`` sub-directories that ``scope`` filters select,
plus ``N_LONG`` long documents. Every sf0.1 document chunks to exactly
one chunk, so the long documents, each ``LONG_PARTS`` further texts of
the snapshot joined as sentences, are what give neighbor windows more
than their target.
"""

from __future__ import annotations

import json
import os
import random

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "documents_prefix.jsonl")
N_SHORT = 100
N_LONG = 4
LONG_PARTS = 60
TOPICS = ("alpha", "beta", "gamma", "delta")
LIMITS = (5, 10, 20)
GROUPINGS = (None, "similar", "related")
WIDE_WINDOW = 20
NOTE_WORDS = 12  # a note is one chunk: longer than the 50-char chunk minimum


def load_texts() -> list[str]:
    with open(DATA) as f:
        return [json.loads(line)["text"] for line in f]


class Corpus:
    """The corpus written under ``root`` and the files it holds."""

    def __init__(self, root: str):
        texts = load_texts()
        if len(texts) < N_SHORT + N_LONG * LONG_PARTS:
            raise RuntimeError(f"{DATA} holds {len(texts)} documents, too few")
        self.root = os.path.abspath(root)
        self.files: dict[str, str] = {}  # path -> content
        for i in range(N_SHORT):
            path = os.path.join(self.root, TOPICS[i % len(TOPICS)], f"doc_{i:05d}.md")
            self.files[path] = texts[i] + "\n"
        self.long_files = []
        for j in range(N_LONG):
            start = N_SHORT + j * LONG_PARTS
            parts = texts[start:start + LONG_PARTS]
            path = os.path.join(self.root, "long", f"long_{j}.md")
            self.files[path] = ".\n\n".join(parts) + ".\n"
            self.long_files.append(path)
        self.vocab = sorted({w for t in texts for w in t.split()})

    def write(self) -> None:
        for path, content in self.files.items():
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(content)

    def scope_prefix(self, rng: random.Random) -> str:
        return os.path.join(self.root, rng.choice(TOPICS))


def table_chunks(table_path: str) -> dict[str, int]:
    """Chunk count per document, read straight from the table files."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(table_path, format="parquet", partitioning="hive").to_table(
        columns=["filePath", "chunkIndex"])
    counts: dict[str, int] = {}
    for p in tbl["filePath"].to_pylist():
        counts[p] = counts.get(p, 0) + 1
    return counts


class Requests:
    """Seeded read requests over the documents the table holds.

    The request options rotate on a fixed cycle (every grouping with
    every limit, a scope on one query in five; long and short documents,
    default and wide windows), so every run sends the same mix and a run
    that fits only a few Spark calls still covers it. The seed picks the
    query words, the scope directory and the target chunks."""

    def __init__(self, corpus: Corpus, seed: int):
        self.corpus = corpus
        self.rng = random.Random(seed)
        self._nq = 0
        self._nn = 0

    def query(self) -> dict:
        rng, i = self.rng, self._nq
        self._nq += 1
        words = rng.sample(self.corpus.vocab, rng.randint(2, 5))
        args = {"query": " ".join(words), "limit": LIMITS[(i // 3) % len(LIMITS)]}
        grouping = GROUPINGS[i % len(GROUPINGS)]
        if grouping is not None:
            args["grouping"] = grouping
        if i % 5 == 4:
            args["scope"] = self.corpus.scope_prefix(rng)
        return args

    def neighbors(self, chunks: dict[str, int]) -> dict:
        """A window around a chunk that exists: a long document with the
        wide window, a long document with the default window, then a
        short document, in turn."""
        rng, i = self.rng, self._nn
        self._nn += 1
        if i % 3 < 2:
            path = rng.choice(self.corpus.long_files)
        else:
            path = rng.choice(sorted(p for p in chunks
                                     if p.startswith(self.corpus.root)
                                     and p not in self.corpus.long_files))
        args = {"filePath": path, "chunkIndex": rng.randrange(chunks[path])}
        if i % 3 == 0:
            args["before"] = args["after"] = WIDE_WINDOW
        return args

    def note(self, k: int) -> str:
        """Text of a new note: corpus words plus a token no document has."""
        rng = self.rng
        words = [rng.choice(self.corpus.vocab) for _ in range(NOTE_WORDS)]
        return f"note{rng.randrange(10**9):09d}x{k} " + " ".join(words)
