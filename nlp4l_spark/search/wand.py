"""Block-max WAND top-k over decoded posting shards (pure NumPy).

Reference semantics: ISearcher.search -> Lucene IndexSearcher top-k with
BM25 and docID-asc tie-break (/root/reference/app/org/nlp4l/lucene/
ISearcher.scala:42-43); Lucene 7's collector uses (Block-Max) WAND-style
skipping internally. We score one (query, doc_id-shard) pair per call:

* per-term posting arrays (doc_ids, tfs, dls) + idf weights,
* block (last_doc, max_impact) metadata -> score upper bounds,
* a document-at-a-time merge that skips blocks whose summed upper bound
  cannot beat the current k-th score.

The implementation is vectorized per block-run rather than per-doc: terms
are merged via np.searchsorted joins on candidate docs surviving the
block-max filter. Ties: (-score, doc_id) ordering, exactly the oracle's.

``bm25_impact`` (with ``K1``/``B``) is the package's single BM25 tf
normalisation: the engine's Spark scorers, the index builders' block-max
metadata and these kernels all call it, so every path computes the same
floating-point expression.
"""

from __future__ import annotations

import heapq

import numpy as np

K1 = 1.2
B = 0.75


def bm25_norm(dls, avgdl: float):
    """BM25 document-length norm 1 - b + b·dl/avgdl."""
    return 1.0 - B + B * dls / (avgdl or 1.0)


def bm25_impact(tfs, dls, avgdl: float):
    """BM25 tf saturation with length norm (Lucene 7 BM25Similarity,
    k1=1.2 b=0.75). Works elementwise on NumPy arrays, on Python floats
    and on Spark Columns alike — one expression, bit-identical results."""
    return tfs * (K1 + 1.0) / (tfs + K1 * bm25_norm(dls, avgdl))


def bm25l_score(weight, tfs, dls, avgdl: float, delta: float):
    """BM25L (Lv & Zhai, CIKM 2011): weight·(k1+1)(c'+δ)/(k1+c'+δ) with
    c' = tf/norm — its own saturation of the length-normalised tf, not
    BM25's. Evaluated left to right as written."""
    cp = tfs / bm25_norm(dls, avgdl)
    return weight * (K1 + 1.0) * (cp + delta) / (K1 + cp + delta)


def _prepare(term_postings, avgdl):
    """Per-term (doc_ids, idf-weighted impacts) plus block tables
    (block_last_doc, block upper bound). A term without block metadata
    is one block bounded by its own max impact."""
    docs = [tp[1] for tp in term_postings]
    impacts = [
        idf * bm25_impact(tf, dl, avgdl) for idf, _, tf, dl, _ in term_postings
    ]
    blk_last, blk_ub = [], []
    for (idf, d, _, _, bm), imp in zip(term_postings, impacts):
        if bm:
            last = [b["last_doc"] for b in bm]
            blk_last.append(np.array(last, dtype=np.int64))
            blk_ub.append(idf * np.array([b["max_impact"] for b in bm]))
        else:
            blk_last.append(np.array([d[-1]], dtype=np.int64))
            blk_ub.append(np.array([imp.max()]))
    return docs, impacts, blk_last, blk_ub


def _span_ubs(blk_last, blk_ub, lo) -> list[float]:
    """Per-term upper bound of any doc in the span starting after ``lo``."""
    out = []
    for last, ub in zip(blk_last, blk_ub):
        j = np.searchsorted(last, lo + 1)
        out.append(float(ub[j]) if j < last.size else 0.0)
    return out


def _bound(span_ub: list[float]) -> float:
    """Sequential (term-order) sum of the span bounds: it mirrors how a
    doc's score accumulates, so it is never an ulp below a real score."""
    total = 0.0
    for ub in span_ub:
        total += ub
    return total


def _span_sum(docs, impacts, terms, lo, hi):
    """(docs, scores) of the postings in (lo, hi] of ``terms`` (ascending
    term indexes, so each doc's score accumulates in term order)."""
    parts_d, parts_i = [], []
    for i in terms:
        d = docs[i]
        s = np.searchsorted(d, lo + 1)
        e = np.searchsorted(d, hi, side="right")
        if s < e:
            parts_d.append(d[s:e])
            parts_i.append(impacts[i][s:e])
    if not parts_d:
        return np.zeros(0, dtype=np.int64), np.zeros(0)
    uniq, inv = np.unique(np.concatenate(parts_d), return_inverse=True)
    sums = np.zeros(uniq.size)
    np.add.at(sums, inv, np.concatenate(parts_i))
    return uniq, sums


class _TopK:
    """(score, -doc_id) min-heap of the best k; docs must arrive in
    ascending doc_id order, which is what makes a span whose upper bound
    merely EQUALS the floor safe to skip."""

    def __init__(self, k: int, threshold: float):
        self.k, self.threshold, self.heap = k, threshold, []

    def floor(self) -> float:
        return self.heap[0][0] if len(self.heap) >= self.k else self.threshold

    def push(self, cand: np.ndarray, scores: np.ndarray) -> None:
        heap = self.heap
        for doc, sc in zip(cand.tolist(), scores.tolist()):
            if len(heap) < self.k:
                if sc > self.threshold:
                    heapq.heappush(heap, (sc, -doc))
            elif (sc, -doc) > heap[0]:
                heapq.heapreplace(heap, (sc, -doc))

    def result(self) -> list[tuple[int, float]]:
        out = sorted(self.heap, key=lambda t: (-t[0], -t[1]))
        return [(-nd, float(sc)) for sc, nd in out]


def wand_topk(
    term_postings: list[tuple[float, np.ndarray, np.ndarray, np.ndarray, list]],
    k: int,
    avgdl: float,
    threshold: float = 0.0,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score) for one query over one shard.

    term_postings: per query term (idf, doc_ids, tfs, dls, block_max)
    where block_max is a list of dicts {last_doc, max_impact}.
    threshold: scores must exceed this (e.g. k-th score from other shards)
    to be emitted — lets the global merge stay cheap.
    """
    if not term_postings:
        return []
    docs, impacts, blk_last, blk_ub = _prepare(term_postings, avgdl)
    top = _TopK(k, threshold)
    every = range(len(docs))
    # Work block-aligned: walk the union of block boundaries, skipping
    # spans whose summed block max can't beat the heap floor.
    lo = -1
    for hi in np.unique(np.concatenate(blk_last)):
        if _bound(_span_ubs(blk_last, blk_ub, lo)) > top.floor():
            top.push(*_span_sum(docs, impacts, every, lo, hi))
        lo = hi
    return top.result()


def maxscore_topk(
    term_postings: list[tuple[float, np.ndarray, np.ndarray, np.ndarray, list]],
    k: int,
    avgdl: float,
    threshold: float = 0.0,
) -> list[tuple[int, float]]:
    """Block-max MaxScore (Turtle & Flood) top-k — same contract, same
    tie-break, and the same span-skip rule as wand_topk, so the two are
    result-identical. Within each surviving span, terms are split at the
    current heap floor into a NON-ESSENTIAL prefix (ascending span upper
    bounds whose running sum cannot alone beat the floor — their postings
    are never enumerated) and an ESSENTIAL tail that supplies the
    candidate docs; candidates then take non-essential contributions via
    binary-search lookups with a progressively tightening upper-bound
    filter (candidates are dropped as soon as score-so-far + remaining
    non-essential bound falls below the floor). Survivors are re-summed
    in term order, so admitted scores are bit-identical to wand_topk's;
    only the pruning decisions use the essential-first partial sums,
    which can differ by an ulp — a doc whose exact score EQUALS a
    nonzero entry ``threshold`` may therefore be admitted by one kernel
    and not the other (fuzz-confirmed), so a cross-shard floor handoff
    must quantize both sides (e.g. round to 6 dp) before comparing.
    Lucene 8+ ships exactly this pair of dynamic pruning strategies
    (WANDScorer / MaxScoreBulkScorer); which wins depends on term-count
    and score skew, so the engine exposes both (Searcher.search
    method="maxscore")."""
    if not term_postings:
        return []
    docs, impacts, blk_last, blk_ub = _prepare(term_postings, avgdl)
    top = _TopK(k, threshold)
    every = range(len(docs))
    lo = -1
    for hi in np.unique(np.concatenate(blk_last)):
        span_ub = _span_ubs(blk_last, blk_ub, lo)
        th = top.floor()
        if _bound(span_ub) <= th:
            lo = hi
            continue
        span_ub = np.array(span_ub)
        # MaxScore split: ascending-UB prefix whose cumulative bound
        # stays STRICTLY below the floor is non-essential — a doc
        # matching only those terms scores < floor, and the heap's
        # replace rule `(sc, -doc) > heap[0]` admits a floor-equal score
        # on a doc_id tie, so equality must stay essential to remain
        # result-identical with wand_topk.
        order = np.argsort(span_ub, kind="stable")
        cum = np.cumsum(span_ub[order])
        n_noness = int(np.searchsorted(cum, th, side="left"))
        cand, score = _span_sum(
            docs, impacts, np.sort(order[n_noness:]), lo, hi
        )
        if n_noness and cand.size:
            # progressive non-essential lookups, largest bound first:
            # remaining[j] = UB still addable after taking term desc[j]
            desc = order[:n_noness][::-1]
            taken = np.cumsum(span_ub[desc])
            remaining = taken[-1] - taken
            alive = score + cum[n_noness - 1] >= th
            cand, score = cand[alive], score[alive]
            for j, i in enumerate(desc):
                if cand.size == 0:
                    break
                score = score + _lookup(docs[i], impacts[i], cand)
                alive = score + remaining[j] >= th
                cand, score = cand[alive], score[alive]
            if cand.size:  # re-sum survivors in term order
                score = np.zeros(cand.size)
                for i in every:
                    score = score + _lookup(docs[i], impacts[i], cand)
        top.push(cand, score)
        lo = hi
    return top.result()


def _lookup(d: np.ndarray, impacts: np.ndarray, cand: np.ndarray) -> np.ndarray:
    """Each candidate's impact in one term's list (0.0 where absent)."""
    pos = np.minimum(np.searchsorted(d, cand), d.size - 1)
    return np.where(d[pos] == cand, impacts[pos], 0.0)
