"""Static impact-ordered index pruning (index/pruning.py) vs a
brute-force referee implementing the same contract: per-term top-P
postings by (BM25 impact DESC, doc_id ASC), full-index stats, score =
sum of kept idf*impact contributions."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from nlp4l_spark.data.transcripts import synth_transcripts
from nlp4l_spark.index import build_index
from nlp4l_spark.index.catalog import IndexCatalog
from nlp4l_spark.index.pruning import prune_postings
from nlp4l_spark.search import Searcher
from nlp4l_spark.search.wand import bm25_impact

QUERY = "w00001 w00454 needle03"


@pytest.fixture(scope="module")
def pruned_idx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("prune") / "idx")
    build_index(synth_transcripts(spark, 4000, num_partitions=8), path)
    return path


def _referee_topk(spark, path, terms, keep, k):
    """Brute-force pruned scoring from the decoded FULL postings."""
    s = Searcher(spark, path)
    decoded = s._decoded(s._matching_postings(terms)).collect()
    dfs = s._term_stats(terms)
    from nlp4l_spark.search.engine import idf as idf_fn

    per_term: dict[str, list] = {}
    for r in decoded:
        per_term.setdefault(r["term"], []).append(
            (int(r["doc_id"]), float(r["tf"]), float(r["dl"]))
        )
    scores: dict[int, float] = {}
    for t, rows in per_term.items():
        d = np.array([x[0] for x in rows])
        tf = np.array([x[1] for x in rows])
        dl = np.array([x[2] for x in rows])
        imp = bm25_impact(tf, dl, s.avgdl)
        sel = np.lexsort((d, -imp))[:keep]
        w = idf_fn(s.num_docs, dfs[t])
        for i in sel:
            scores[int(d[i])] = scores.get(int(d[i]), 0.0) + w * float(imp[i])
    items = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return items[:k]


def test_huge_p_is_identity(spark, pruned_idx):
    t = prune_postings(spark, pruned_idx, 10**6, table="pp_all")
    full = Searcher(spark, pruned_idx).search(QUERY, k=10, method="wand").collect()
    pr = Searcher(spark, pruned_idx, postings_table=t).search(
        QUERY, k=10, method="wand"
    ).collect()
    assert [r["doc_id"] for r in full] == [r["doc_id"] for r in pr]
    assert all(abs(a["score"] - b["score"]) < 1e-9 for a, b in zip(full, pr))


@pytest.mark.parametrize("keep", [16, 64])
def test_pruned_matches_referee(spark, pruned_idx, keep):
    t = prune_postings(spark, pruned_idx, keep)
    s = Searcher(spark, pruned_idx, postings_table=t)
    terms = sorted(set(s.analyzer.tokenize(QUERY)))
    got = s.search(QUERY, k=10, method="wand").collect()
    want = _referee_topk(spark, pruned_idx, terms, keep, 10)
    assert [r["doc_id"] for r in got] == [d for d, _ in want]
    assert all(abs(r["score"] - sc) < 1e-9 for r, (_, sc) in zip(got, want))
    # all three scoring paths agree on the pruned tier
    df_res = s.search(QUERY, k=10, method="dataframe").collect()
    ms_res = s.search(QUERY, k=10, method="maxscore").collect()
    assert [r["doc_id"] for r in df_res] == [r["doc_id"] for r in got]
    assert [r["doc_id"] for r in ms_res] == [r["doc_id"] for r in got]


def test_bound_and_counters(spark, pruned_idx):
    t = prune_postings(spark, pruned_idx, 64)
    cat = IndexCatalog(pruned_idx)
    man = cat.manifest(t)
    assert man["counters"]["keep_per_term"] == 64
    assert man["counters"]["postings_kept"] <= man["counters"]["postings_full"]
    mx = (
        cat.read(spark, t)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .agg(F.max("df"))
        .collect()[0][0]
    )
    assert mx <= 64


def test_kept_contributions_identical(spark, pruned_idx):
    """The pruning contract: a kept (term, doc) pair contributes EXACTLY
    its full-index BM25 term score (stats never rebuilt)."""
    t = prune_postings(spark, pruned_idx, 16, table="pp16c")
    s_pr = Searcher(spark, pruned_idx, postings_table=t)
    s_full = Searcher(spark, pruned_idx)
    terms = sorted(set(s_full.analyzer.tokenize(QUERY)))
    kept = s_pr._decoded(s_pr._matching_postings(terms)).collect()
    full = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in s_full._decoded(s_full._matching_postings(terms)).collect()
    }
    assert kept, "pruned tier lost every query-term posting"
    for r in kept:
        assert full[(r["term"], r["doc_id"])] == (r["tf"], r["dl"])


def test_search_tiered(spark, pruned_idx):
    """Tiered = pruned first pass window + EXACT full-index rescore:
    with a window covering the full candidate set it equals the
    unpruned top-k bit-for-bit; with a tight window it equals the
    two-phase referee."""
    prune_postings(spark, pruned_idx, 16, table="pp16t")
    s = Searcher(spark, pruned_idx)
    full = s.search(QUERY, k=10, method="wand").collect()
    wide = s.search_tiered(
        QUERY, k=10, window=10**6, tier_table="pp16t"
    ).collect()
    assert [r["doc_id"] for r in wide] == [r["doc_id"] for r in full]
    assert all(
        abs(a["score"] - b["score"]) < 1e-9 for a, b in zip(wide, full)
    )
    # tight window: first pass picks rounded top-5 from the pruned tier,
    # exact rescore within — referee replays both phases
    tight = s.search_tiered(QUERY, k=5, window=5, tier_table="pp16t").collect()
    terms = sorted(set(s.analyzer.tokenize(QUERY)))
    first = _referee_topk(spark, pruned_idx, terms, 16, 10**6)
    win = sorted(
        [(d, round(sc, 6)) for d, sc in first], key=lambda x: (-x[1], x[0])
    )[:5]
    win_docs = {d for d, _ in win}
    exact = {
        r["doc_id"]: r["score"]
        for r in s.search(QUERY, k=10**6, method="dataframe").collect()
        if r["doc_id"] in win_docs
    }
    want = sorted(exact.items(), key=lambda x: (-x[1], x[0]))[:5]
    assert [r["doc_id"] for r in tight] == [d for d, _ in want]
    assert all(
        abs(r["score"] - sc) < 1e-9 for r, (_, sc) in zip(tight, want)
    )


def test_search_tiered_rounded_tie_straddles_window(spark, tmp_path):
    """The window cut is (round(score, 6) DESC, doc_id ASC) over the WHOLE
    tier: doc 1 outscores doc 0 only past the 6th decimal, so the single
    window slot goes to doc 0 — which the first fetch (top-`window` by
    exact score) alone never sees."""
    rows = [
        ("c0", 0, "user", " ".join(["kiwi"] * 2000), None, None),
        ("c0", 1, "user", " ".join(["kiwi"] * 2001), None, None),
    ] + [("c1", i, "user", "plum", None, None) for i in range(8)]
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    path = str(tmp_path / "tie_idx")
    build_index(spark.createDataFrame(rows, schema), path)
    s = Searcher(spark, path)
    exact = {
        r["doc_id"]: r["score"]
        for r in s.search("kiwi", k=10, method="dataframe").collect()
    }
    assert exact[1] > exact[0] and round(exact[1], 6) == round(exact[0], 6)
    got = s.search_tiered("kiwi", k=1, window=1, tier_table="postings")
    assert [(r["doc_id"], r["score"], r["rank"]) for r in got.collect()] == [
        (0, exact[0], 1)
    ]
    # an empty window selects nothing
    assert s.search_tiered("kiwi", k=1, window=0, tier_table="postings").count() == 0


def test_round6_is_half_up():
    from nlp4l_spark.search.engine import _round6

    assert _round6(0.0000005) == 0.000001  # round() gives 0.0
    assert _round6(2.0000025) == 2.000003  # round() gives 2.000002
    assert _round6(1.2345674) == 1.234567


def test_search_tiered_oov_term(spark, pruned_idx):
    """A mixed query (indexed terms + a term absent from the corpus)
    must not KeyError in the exact-rescore phase (_term_stats omits
    absent terms); the OOV term contributes nothing, so the result
    equals the same query without it. Round-4 ADVICE.md regression."""
    prune_postings(spark, pruned_idx, 16, table="pp16t")
    s = Searcher(spark, pruned_idx)
    base = s.search_tiered(QUERY, k=5, window=20, tier_table="pp16t").collect()
    mixed = s.search_tiered(
        QUERY + " zz_no_such_term_zz", k=5, window=20, tier_table="pp16t"
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in mixed] == [
        (r["doc_id"], r["score"]) for r in base
    ]
    # all-OOV query: empty result, stable schema
    none = s.search_tiered(
        "zz_no_such_term_zz", k=5, window=20, tier_table="pp16t"
    )
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == ["doc_id", "score", "rank"]


def test_resume_returns_committed(spark, pruned_idx):
    t1 = prune_postings(spark, pruned_idx, 64)
    t2 = prune_postings(spark, pruned_idx, 64)  # no rebuild
    assert t1 == t2 == "postings_pruned64"
