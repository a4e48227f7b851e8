"""Seeded input generator owned by the benchmark.

``sources/corpus.py`` fixes its seed at module level, so the benchmark makes
its own inputs here from ``--seed``: the corpus table and the daily-update
micro-batches.  Everything is drawn from one
``numpy.random.Generator`` per purpose, so the same seed gives the same
inputs.  Only the public vocabulary helpers of the engine are reused
(``query_vocabulary``, ``STRESS_FRAGMENTS``, ``load_categories``); the engine
receives nothing but the generated rows.

The corpus is shaped like ``bench.py``'s: 50-450 words per document, 7 of 10
word slots a heavy-tailed identifier, the rest words of the category
queries, and an analyzer-stress fragment in one document of four.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    AIR_DOC,
    STRESS_FRAGMENTS,
    load_categories,
    query_vocabulary,
)

MIN_WORDS = 50
MAX_WORDS = 450
IDENT_RATE = 0.7
FRAGMENT_RATE = 0.25
N_IDENTS = 50_000

_DEPTS = ("WO", "ADM", "AIR", "HO", "MEPO", "HCA", "SC", "MAF", "FO", "CAB")
_LANGS = ("python", "java", "csharp", "go", "sql", "md")
_EXTS = ("py", "java", "cs", "go", "sql", "md")
_LETTERS = np.array(list("abcdefghij"))


def _letters(n: int) -> str:
    return "".join(_LETTERS[int(d)] for d in str(n))


def _rng(seed: int, purpose: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(purpose.encode()).digest()[:4], "little")
    return np.random.default_rng([int(seed), salt])


class Generator:
    """All inputs of one benchmark run, derived from ``seed``."""

    def __init__(self, seed: int):
        self.seed = int(seed)
        self.vocab = np.array(query_vocabulary(), dtype=object)
        self.idents = np.array(
            ["x" + _letters(v) for v in range(N_IDENTS)], dtype=object
        )
        self.categories = load_categories()

    # -- documents -------------------------------------------------------------

    def _contents(self, rng: np.random.Generator, n: int) -> list[str]:
        lens = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n)
        total = int(lens.sum())
        # heavy-tailed identifiers: value uniform below a uniform cap
        caps = rng.integers(1, N_IDENTS, size=total)
        ident_words = self.idents[(rng.random(total) * caps).astype(np.int64)]
        query_words = self.vocab[rng.integers(0, len(self.vocab), size=total)]
        words = np.where(rng.random(total) < IDENT_RATE, ident_words, query_words)
        frag_on = rng.random(n) < FRAGMENT_RATE
        frags = rng.integers(0, len(STRESS_FRAGMENTS), size=n)
        out = []
        ends = np.cumsum(lens)
        for i in range(n):
            text = " ".join(words[ends[i] - lens[i] : ends[i]])
            if frag_on[i]:
                text += " " + STRESS_FRAGMENTS[frags[i]]
            out.append(text)
        return out

    def _rows(self, rng: np.random.Generator, keys: list[int], tag: str) -> pd.DataFrame:
        """Corpus rows for document keys ``keys``; ``tag`` varies the commit
        so a new key space never collides with the base corpus."""
        n = len(keys)
        k = np.asarray(keys, dtype=np.int64)
        lang_idx = k % len(_LANGS)
        dept = rng.integers(0, len(_DEPTS), size=n)
        dnum = rng.integers(1, 401, size=n)
        dir_word = self.vocab[rng.integers(0, len(self.vocab), size=n)]
        start = (1900 + rng.integers(0, 100, size=n)) * 10000 + 101
        return pd.DataFrame(
            {
                "repo": [f"org{x % 7}/repo{x % 23}" for x in k],
                "path": [
                    f"src/{_DEPTS[d]}_{m}/{w}.{_EXTS[li]}"
                    for d, m, w, li in zip(dept, dnum, dir_word, lang_idx)
                ],
                "commit": [
                    hashlib.sha1(f"{self.seed}:{tag}:{x}".encode()).hexdigest()
                    for x in k
                ],
                "lang": [_LANGS[li] for li in lang_idx],
                "content": self._contents(rng, n),
                "NUM_START_DATE": start.astype(np.int32),
                "NUM_END_DATE": (start + 50000).astype(np.int32),
                "SOURCE": rng.integers(0, 200, size=n).astype(np.int32),
            }
        )

    def corpus(self, n_docs: int) -> pd.DataFrame:
        """The base corpus; row 0 is the reference AIR 37/177 document."""
        df = self._rows(_rng(self.seed, "corpus"), list(range(n_docs)), "base")
        df.loc[0, "content"] = AIR_DOC
        df.loc[0, "path"] = "AIR_37/177/readme.md"
        return df

    # -- daily-update batches --------------------------------------------------

    @staticmethod
    def batch_marker(k: int) -> str:
        """A token only batch ``k``'s documents carry (letters only, so
        every analyzer keeps it whole)."""
        return "zqbatch" + _letters(k) + "q"

    def batches(
        self, base: pd.DataFrame, n_batches: int, batch_docs: int, reingest: float
    ) -> list[pd.DataFrame]:
        """Micro-batches: ``reingest`` of each batch re-sends an existing
        document key (same repo/path/commit, so the same doc_id) with new
        content; the rest are new documents.  No key repeats inside a
        batch.  Every document of batch ``k`` carries ``batch_marker(k)``."""
        rng = _rng(self.seed, "batches")
        live = base[["repo", "path", "commit"]]
        out = []
        for k in range(n_batches):
            n_old = int(round(batch_docs * reingest))
            n_new = batch_docs - n_old
            new = self._rows(rng, list(range(k * batch_docs, k * batch_docs + n_new)), f"b{k}")
            pick = rng.choice(len(live), size=n_old, replace=False)
            old = self._rows(rng, list(range(n_old)), f"r{k}")
            old[["repo", "path", "commit"]] = live.iloc[pick].to_numpy()
            batch = pd.concat([new, old], ignore_index=True)
            batch["content"] = batch["content"] + " " + self.batch_marker(k)
            out.append(batch)
            live = pd.concat([live, new[["repo", "path", "commit"]]], ignore_index=True)
        return out
