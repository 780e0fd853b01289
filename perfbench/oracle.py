"""Expected triples from the package's independent loop-based oracle.

``oracle/pipeline_oracle.py`` restates every distributed step of the
pipeline with plain dicts; this module chains its steps the way
``plans/pipeline.run_pipeline`` chains the Spark stages, for an arbitrary
``PipelineConfig`` (including ``root_name=None``: the root is the most
frequent kept aspect, ties broken by name, as the engine picks it).

The oracle is slow (pure Python over every sentence), so its result is
cached on disk keyed by a digest of the input pages and the config. Run as
a script it fills one cache entry for the flagship config:

    python3 perfbench/oracle.py <pages.parquet> <cache_path>
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from llm_review_aggregation_spark.config import PipelineConfig
from llm_review_aggregation_spark.functions import scoring
from llm_review_aggregation_spark.operators import tree as tree_ops
from llm_review_aggregation_spark.oracle import pipeline_oracle as O

Triples = dict[tuple[str, str, str], float]


def expected_triples(pages_pdf: pd.DataFrame, cfg: PipelineConfig) -> Triples:
    ent, rel, sent = scoring.make_scorers(cfg.scorer, cfg.scorer_params)
    docs = O.docs_from_pages(pages_pdf)
    sentences = O.sentences_from_docs(docs)
    pairs = O.phrase_vocab(sentences, cfg.phrase_min_count, cfg.phrase_threshold)
    cand = O.candidates(sentences, pairs, cfg.n_candidate_aspects)
    asp = O.aspects(sentences, cand, ent, cfg.entity_prob_threshold)
    kept = sorted(asp.items(), key=lambda kv: (-kv[1][0], kv[0]))[: cfg.top_k_aspects_to_keep]
    counts = {t: c for t, (c, _p) in kept}
    if not counts:
        return {}
    root = cfg.root_name or next(iter(counts))
    synset_counts, synset_map = O.synsets(sentences, counts, root, cfg)
    concepts = list(synset_counts)
    sums, _n = O.meronym_scores(sentences, concepts, synset_map, rel)
    matrix, nodes = tree_ops.normalize_relatedness(concepts, synset_counts, sums, root)
    edges = tree_ops.build_tree_edges(matrix, nodes, root)
    idx = {c: i for i, c in enumerate(nodes)}
    out: Triples = {
        (c, "partOf", p): float(matrix[idx[c]][idx[p]]) if p != c else 0.0
        for c, p in edges.items()
    }
    tree_nodes = set(edges) | set(edges.values()) | {root}
    glossary = {n: synset_map.get(n, [n]) for n in tree_nodes}
    args = O.arguments(
        sentences, docs, edges, root, glossary, sent, cfg.sentiment_threshold, cfg.phrase_max_words
    )
    for g, a, pol, s in zip(args["group_id"], args["aspect"], args["polarity"], args["strength"]):
        out[(g, "hasAspectOpinion", a)] = float(s) if pol else -float(s)
    return out


def cache_path(pages_pdf: pd.DataFrame, cfg: PipelineConfig, cache_dir: str) -> str:
    """Where the expected triples of these pages under ``cfg`` are cached."""
    h = hashlib.sha1(repr(cfg).encode())
    for url, html in zip(pages_pdf["url"], pages_pdf["html"]):
        h.update(url.encode())
        h.update(bytes(html))
    return os.path.join(cache_dir, f"oracle-{h.hexdigest()}.json")


def load(path: str) -> Triples:
    with open(path) as f:
        return {tuple(k): v for k, v in json.load(f)}


def compute_to(path: str, pages_pdf: pd.DataFrame, cfg: PipelineConfig) -> None:
    out = expected_triples(pages_pdf, cfg)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(sorted([list(k), v] for k, v in out.items()), f)
    os.replace(tmp, path)


def mismatch(got: list, want: Triples, tol: float = 1e-9) -> str | None:
    """None when ``got`` rows (subj, pred, obj, score) equal ``want``: the
    same (subj, pred, obj) set, each score within ``tol``. Otherwise a short
    description of the first difference."""
    got_map = {(r[0], r[1], r[2]): r[3] for r in got}
    if len(got_map) != len(got):
        return f"{len(got) - len(got_map)} duplicate triples"
    if got_map.keys() != want.keys():
        extra = sorted(got_map.keys() - want.keys())[:3]
        missing = sorted(want.keys() - got_map.keys())[:3]
        return f"triple sets differ: extra {extra}, missing {missing}"
    for k, v in want.items():
        if got_map[k] is None or abs(got_map[k] - v) > tol:
            return f"score of {k}: {got_map[k]} != {v}"
    return None


if __name__ == "__main__":
    import sys

    import __spark_entry__

    compute_to(sys.argv[2], pd.read_parquet(sys.argv[1]), __spark_entry__._KG_CFG)
