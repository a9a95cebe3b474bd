"""Correctness checks run outside the timed regions. Each returns a list of
failure messages; the run is correct only when every list is empty."""

from __future__ import annotations

import hashlib

import pandas as pd

SCORE_TOL = 1e-6


def sample_queries(queries: list[dict]) -> list[dict]:
    """A fixed sample: the first filtered, the first k=100 and the first
    out-of-vocabulary query in generation order."""
    wants = [
        lambda q: q["filter_expr"] is not None,
        lambda q: q["k"] == 100,
        lambda q: "zzoutofvocab" in q["query_text"],
    ]
    picked: list[dict] = []
    for want in wants:
        q = next((q for q in queries if want(q) and q not in picked), None)
        if q is not None:
            picked.append(q)
    return picked


def oracle_topk(spark, checks: list[tuple[pd.DataFrame, dict]], config) -> list[list[tuple[int, float]]]:
    """Exact BM25 top-k from `pysearch.oracle`, one ranked list per
    (corpus, query) check, all in one Spark action.

    A corpus holds doc_id and the corpus columns. Each query runs the oracle
    over only the documents of its corpus that contain one of its terms, with
    the collection statistics (N, avgdl) of the whole corpus: a document
    without a query term scores nothing, so the ranking and every score are
    those of the full corpus, at a fraction of the tokenizing cost."""
    from functools import reduce

    from pyspark.sql import functions as F

    from pysearch.analyze import tokenize_code_text, tokenize_text
    from pysearch.oracle import bm25_topk

    analyzer = tokenize_code_text if config.extra.get("code_aware") else tokenize_text
    tokenized: dict[int, tuple] = {}  # id(corpus) -> (term sets, (N, avgdl))
    ranked = []
    for j, (corpus, q) in enumerate(checks):
        if id(corpus) not in tokenized:
            tokens = [analyzer(c) for c in corpus["content"]]
            tokenized[id(corpus)] = ([set(t) for t in tokens], (len(corpus), sum(map(len, tokens)) / len(corpus)))
        term_sets, stats = tokenized[id(corpus)]
        terms = set(analyzer(q["query_text"]))
        rows = corpus[[bool(ts & terms) for ts in term_sets]]
        if not rows.empty:
            ranked.append(bm25_topk(
                spark.createDataFrame(rows), q["query_text"], k=q["k"],
                filter_expr=q["filter_expr"], config=config, stats=stats,
            ).select(F.lit(j).cast("long").alias("query_id"), "doc_id", "score"))
    by_q = ranked_by_query(reduce(lambda a, b: a.unionByName(b), ranked).collect()) if ranked else {}
    return [by_q.get(j, []) for j in range(len(checks))]


def compare_ranked(label: str, got, want) -> list[str]:
    """Same doc ids in the same order, scores within SCORE_TOL."""
    got_ids = [d for d, _ in got]
    want_ids = [d for d, _ in want]
    if got_ids != want_ids:
        return [f"{label}: ranking differs from oracle (got {got_ids[:5]}..., want {want_ids[:5]}...)"]
    bad = [(d, g, w) for (d, g), (_, w) in zip(got, want) if abs(g - w) > SCORE_TOL]
    if bad:
        return [f"{label}: {len(bad)} scores off by more than {SCORE_TOL}: {bad[:3]}"]
    return []


def check_content_sha(label: str, hits: list[dict], content_by_id: dict[int, str]) -> list[str]:
    """Each hit's content_sha equals sha256 of its source row's content."""
    bad = [
        h["doc_id"] for h in hits
        if h["content_sha"] != hashlib.sha256(content_by_id[h["doc_id"]].encode()).hexdigest()
    ]
    return [f"{label}: content_sha mismatch for docs {bad[:5]}"] if bad else []


def ranked_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """Batch output rows grouped per query, in (score desc, doc_id) order."""
    by_q: dict[int, list[tuple[int, float]]] = {}
    for r in rows:
        by_q.setdefault(int(r["query_id"]), []).append((int(r["doc_id"]), float(r["score"])))
    # the engine's and the oracle's order: 1e-9-rounded score desc, doc_id
    return {q: sorted(v, key=lambda p: (-round(p[1], 9), p[0])) for q, v in by_q.items()}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 1.0
