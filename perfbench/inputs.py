"""Seeded inputs for the benchmark workloads.

The generator mirrors the shape of the scale-factor ``documents.parquet``
tables that ``synth.pages_from_documents`` wraps (doc_id, text, lang,
source, n_chars): 10 to 100 words per document, drawn uniformly from the
same 30-word vocabulary, so the pages it makes look like theirs. Only the
group (``source``) assignment differs between workloads: uniform
round-robin, or drawn from a Zipf table so that one group holds far more
than a core's fair share of the pages.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def zipf_weights(n_groups: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_groups + 1) ** s
    return w / w.sum()


def documents(seed: int, n_pages: int, n_groups: int, zipf_s: float | None = None) -> pd.DataFrame:
    """The same seed gives the same table. ``zipf_s=None`` assigns groups
    round-robin (equal sizes); otherwise, after one page per group, each
    page's group is drawn from Zipf(s) over ``n_groups``, group 0 being the
    hottest."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_pages)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n : e]) for n, e in zip(lens, ends)]
    groups = np.arange(n_pages) % n_groups
    if zipf_s is not None:
        # the first page of each group is fixed, so every seed has all the
        # groups (and the same number of opinion triples per tree node)
        groups[n_groups:] = rng.choice(n_groups, n_pages - n_groups, p=zipf_weights(n_groups, zipf_s))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_pages, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_pages, p=LANG_P),
            "source": [f"src{g}" for g in groups],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_corpus(out_dir: str, docs: pd.DataFrame) -> str:
    """Write ``docs`` as ``<out_dir>/documents.parquet``, the layout
    ``synth.pages_from_documents`` reads; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    docs.to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
    return out_dir
