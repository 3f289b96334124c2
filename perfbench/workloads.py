"""The benchmark's workloads, their output checks and their metrics.

Both workloads drive only the public API of nlp4l_spark, from one driver
thread acting as a closed-loop client: each request waits for the one
before it. Sizes are fixed here (not options) so that two commits always
run the same work; see README.md for why each exists and how it is sized.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from nlp4l_spark.analysis import STANDARD_ANALYZER
from nlp4l_spark.data.transcripts import synth_queries, synth_transcripts
from nlp4l_spark.index import (
    GenerationLog,
    IndexCatalog,
    TieredMergePolicy,
    build_index,
    check_index,
)
from nlp4l_spark.index import codec
from nlp4l_spark.index import generations as _generations
from nlp4l_spark.index import microbuild as _microbuild
from nlp4l_spark.search import Searcher, idf
from nlp4l_spark.search import wand

from perfbench.spans import BUILD_STAGES, Tracer, layer_self_times

# synth_queries cycles through these kinds: query qid has kind KINDS[qid % 7]
KINDS = ("head", "rare", "or2", "or4", "needle", "stop", "unknown")
TOP_K = 10
# --seconds sets how many rounds a run makes, one per ROUND_S: a search
# round is one single query of each kind plus BATCHES_PER_ROUND batches, an
# ingest round one pass of the federated queries after each micro-batch.
# The work is fixed by --seconds rather than by a deadline, so a faster
# commit does the same work in less time. At one round the timed part
# takes about 17 s (search) and 24 s (ingest, with its merge) on 4 cores.
ROUND_S = 15.0

# search: one index, then single queries (phase A) and batches (phase B)
SEARCH_TURNS = 20_000  # every needle0..19 occurs (needle j is in doc 997*j)
BATCH_QUERIES = 1_000
BATCHES_PER_ROUND = 2
CHECK_QUERIES = 140  # first queries of the first batch, 20 of each kind
NEEDLE_EVERY, N_NEEDLES = 997, 20  # synth_transcripts' needle closed form

# ingest: a base generation, micro-batches with federated reads, one merge
INGEST_BASE_TURNS = 1_000
INGEST_BATCH_TURNS = 4_000
INGEST_BATCHES = 2
# the first FED_QUERIES queries of these kinds, whose terms always occur
FED_KINDS = ("head", "or2", "or4")
FED_QUERIES = 4
# merges every live generation into one once there are three or more
MERGE_ALL = TieredMergePolicy(segs_per_tier=1, max_merge_at_once=100)

# the smaller ingest round a traced search run adds, so every layer is timed
PROBE_BATCHES = 3
PROBE_BATCH_TURNS = 200
ANALYSIS_SAMPLE = 2_000

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}
STAGE_METRICS = tuple(f"build.stage.{t.lstrip('_')}_s" for t, _ in BUILD_STAGES)
TABLES = tuple(t for t, _ in BUILD_STAGES)
LAYERS = (
    "bench",
    "index.docids",
    "analysis",
    "index.builder",
    "index.codec",
    "search.engine",
    "search.wand",
    "search.multi",
    "index.generations",
    "index.microbuild",
    "index.mergepolicy",
)
FED_GENERATIONS = tuple(range(2, INGEST_BATCHES + 2))  # base + batches so far
PER_LAYER = {
    "spark.jobs_per_build": "count",
    **{f"spark.jobs_per_query.{k}": "count" for k in KINDS},
    "spark.jobs_per_batch": "count",
    "spark.jobs_per_ingest": "count",
    **{f"spark.jobs_per_fed_query.g{g}": "count" for g in FED_GENERATIONS},
    "analysis.term_counts_docs_per_s": "1/s",
    **{m: "s" for m in STAGE_METRICS},
    **{f"index.bytes.{t}": "bytes" for t in TABLES},
    "codec.bytes_per_posting": "bytes",
    "codec.decode_postings_per_s": "1/s",
    "search.open_ms": "ms",
    **{f"search.latency_ms.{k}": "ms" for k in KINDS},
    "search.postings_per_query": "count",
    "search.latency_samples": "count",
    "wand.kernel_ms_per_query": "ms",
    "ingest.batch_ms": "ms",
    "ingest.live_generations": "count",
    "maintain_s": "s",
    "maintain.bytes_rewritten": "bytes",
    "ingest.write_amp": "ratio",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
}


@dataclass
class Run:
    """State of one benchmark run: session, tracer, counters, results."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    cores: int
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    mismatches: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def op(self, fn):
        """Run one timed operation: (result or None, seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # one failed request must not end the run
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}")
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.mismatches.append(what)

    @property
    def correct(self) -> bool:
        return not self.mismatches and self.failed == 0

    def qseed(self, salt: int) -> int:
        """Query-generator seed (numpy takes < 2**32) for this run's seed."""
        return (self.seed * 1_000_003 + salt) % (1 << 32)


# --------------------------------------------------------------------------- #
# helpers
# --------------------------------------------------------------------------- #
def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile, p in [0, 100]; 0.0 with no samples
    (only when every request failed, which fails the run)."""
    s = sorted(xs)
    if len(s) <= 1:
        return s[0] if s else 0.0
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def supported_percentile(n: int) -> float | None:
    """Highest percentile with at least 10 samples beyond it (None if n < 20)."""
    return None if n < 20 else 100.0 * (1.0 - 10.0 / n)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def text_bytes(spark, index_dir: str) -> int:
    row = (
        IndexCatalog(index_dir)
        .read(spark, "stored")
        .agg(F.sum(F.octet_length("text")).alias("b"))
        .collect()[0]
    )
    return int(row["b"])


def rounds(seconds: float) -> int:
    return max(1, round(seconds / ROUND_S))


def needle_docs(j: int, n_turns: int) -> set[int]:
    """doc_ids holding needle j: doc i has needle{(i//997)%20} iff i % 997 == 0,
    and doc_id == i under the (conv_id, turn_idx) index sort."""
    return {
        i
        for i in range(0, n_turns, NEEDLE_EVERY)
        if (i // NEEDLE_EVERY) % N_NEEDLES == j
    }


def same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Rank- and doc-identical top-k lists whose scores agree within 1e-9."""
    return len(a) == len(b) and all(
        da == db and abs(sa - sb) <= 1e-9 for (da, sa), (db, sb) in zip(a, b)
    )


def rows_topk(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def batch_topk(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, int, float]]] = {}
    for r in rows:
        out.setdefault(int(r["qid"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


# --------------------------------------------------------------------------- #
# set-up: build the workload's starting state once, in a cold session
# --------------------------------------------------------------------------- #
def traced_build(run: Run, df, index_dir: str):
    with run.tracer.span("index.builder", "build_index") as sp:
        build_index(df, index_dir)
    if sp is not None:
        run.tracer.add_build_stages(index_dir, sp)


def setup_search(run: Run):
    d = run.path("search")
    df = synth_transcripts(
        run.spark, SEARCH_TURNS, seed=run.seed, num_partitions=run.cores
    )
    t0 = time.perf_counter()
    with run.tracer.span("bench", "setup", request="setup"):
        traced_build(run, df, d)
        with run.tracer.span("search.engine", "open"):
            s = Searcher(run.spark, d)
        # first query plans and Python workers warm before anything is timed
        with run.tracer.span("search.engine", "search_batch", request="setup"):
            s.search_batch(synth_queries(len(KINDS), seed=run.qseed(0))).collect()
    run.metrics["setup_s"] = time.perf_counter() - t0
    return d, s


def setup_ingest(run: Run):
    log = GenerationLog(run.path("log"))
    df = synth_transcripts(
        run.spark, INGEST_BASE_TURNS, seed=run.seed, num_partitions=run.cores
    )
    t0 = time.perf_counter()
    with run.tracer.span("bench", "setup", request="setup"):
        with run.tracer.span("index.generations", "ingest"):
            log.ingest(df, micro=False)
        with run.tracer.span("search.multi", "open"):
            ms = log.searcher(run.spark)
        # the first federated query plans warm before anything is timed
        with run.tracer.span("search.multi", "search", request="setup"):
            ms.search(*fed_queries(run)[0][1:]).collect()
    run.metrics["setup_s"] = time.perf_counter() - t0
    return log


def fed_queries(run: Run) -> list[tuple[int, str, int]]:
    return [
        q for q in synth_queries(4 * len(KINDS), seed=run.qseed(0))
        if KINDS[q[0] % len(KINDS)] in FED_KINDS
    ][:FED_QUERIES]


# --------------------------------------------------------------------------- #
# workload: search
# --------------------------------------------------------------------------- #
def workload_search(run: Run) -> None:
    index_dir, s = setup_search(run)
    t_start = time.perf_counter()
    n = rounds(run.seconds)

    # phase A: sequential single queries, bound by Spark job launch
    lat: list[float] = []
    single: list[tuple[str, str, list]] = []
    for i, (qid, q, k) in enumerate(synth_queries(len(KINDS) * n, seed=run.qseed(0))):
        kind = KINDS[qid % len(KINDS)]
        with run.tracer.span("search.engine", "search", request=f"a{i}", kind=kind):
            rows, dt = run.op(lambda: s.search(q, k).collect())
        if rows is not None:
            lat.append(dt)
            single.append((kind, q, rows))

    # phase B: batches of BATCH_QUERIES, bound by decode and WAND scoring
    batches: list[tuple[list, list | None]] = []
    done = busy = 0.0
    for b in range(BATCHES_PER_ROUND * n):
        qs = synth_queries(BATCH_QUERIES, seed=run.qseed(1 + b))
        with run.tracer.span("search.engine", "search_batch", request=f"b{b}"):
            rows, dt = run.op(lambda: s.search_batch(qs).collect())
        batches.append((qs, rows))
        if rows is not None:
            done += len(qs)
            busy += dt
    run.notes["window_s"] = time.perf_counter() - t_start

    run.metrics["latency_p50_ms"] = 1e3 * percentile(lat, 50)
    run.metrics["latency_p90_ms"] = 1e3 * percentile(lat, 90)
    run.metrics["throughput_per_s"] = done / busy if busy else 0.0
    run.metrics["index_bytes_per_text_byte"] = dir_bytes(index_dir) / text_bytes(
        run.spark, index_dir
    )
    run.notes["latency_samples"] = len(lat)
    run.notes["latency_ms"] = [round(1e3 * x) for x in lat]
    check_search(run, index_dir, s, single, batches[0])

    if run.tracer.enabled:
        layer_metrics_search(run, index_dir, s, batches[0][0][:CHECK_QUERIES])


def check_search(run: Run, index_dir: str, s: Searcher, single, first_batch) -> None:
    for row in check_index(run.spark, index_dir).collect():
        run.check(row["ok"], f"check_index {row['check']}: {row['detail']}")
    qs, rows = first_batch
    sub = qs[:CHECK_QUERIES]
    if rows is None:
        run.check(False, "first phase-B batch failed; nothing to compare")
        return
    wand_res = batch_topk(rows)
    df_res = batch_topk(s.search_batch(sub, method="dataframe").collect())
    for qid, q, _k in sub:
        a, b = wand_res.get(qid, []), df_res.get(qid, [])
        run.check(same_topk(a, b), f"wand != dataframe for {q!r}: {a[:3]} vs {b[:3]}")
        if KINDS[qid % len(KINDS)] == "needle":
            want = needle_docs(int(q[len("needle"):]), SEARCH_TURNS)
            got = {d for d, _ in a}
            ok = got == want if len(want) <= TOP_K else got <= want and len(got) == TOP_K
            run.check(ok, f"{q!r} returned {sorted(got)}, closed form {sorted(want)}")
    needles = sorted({q for kind, q, _ in single if kind == "needle"})
    for q in needles:
        want = len(needle_docs(int(q[len("needle"):]), SEARCH_TURNS))
        got = s.count(q)
        run.check(got == want, f"count({q!r}) = {got}, closed form {want}")
    for kind, q, rows_a in single:
        if kind in ("stop", "unknown"):
            run.check(not rows_a, f"{kind} query {q!r} returned {len(rows_a)} rows")


# --------------------------------------------------------------------------- #
# workload: ingest
# --------------------------------------------------------------------------- #
def ingest_round(run: Run, log: GenerationLog, n_batches: int, batch_turns: int, queries):
    """n_batches micro-batch ingests, each followed by the federated queries,
    then one maintain() that merges every live generation into one."""
    out = {"ingest_s": [], "written": [], "lat": [], "before": {}}
    for b in range(n_batches):
        df = synth_transcripts(
            run.spark, batch_turns, seed=run.qseed(100 + b), num_partitions=1
        )
        with run.tracer.span("index.generations", "ingest", request=f"i{b}"):
            gen_dir, dt = run.op(lambda: log.ingest(df))
        if gen_dir is None:
            continue
        out["ingest_s"].append(dt)
        out["written"].append(dir_bytes(gen_dir))
        if not queries:
            continue
        with run.tracer.span("search.multi", "open", request=f"i{b}"):
            ms = log.searcher(run.spark)
        g = len(ms.searchers)
        for qid, q, k in queries:
            with run.tracer.span("search.multi", "search", request=f"i{b}q{qid}", g=g):
                rows, dt = run.op(lambda: ms.search(q, k).collect())
            if rows is not None:
                out["lat"].append(dt)
                out["before"][qid] = rows_topk(rows)
    out["live_before"] = len(log.live_dirs)
    with run.tracer.span("index.generations", "maintain", request="maintain"):
        merges, out["maintain_s"] = run.op(lambda: log.maintain(run.spark, MERGE_ALL))
    out["merged"] = bool(merges)
    out["final_dir"] = log.live_dirs[0] if len(log.live_dirs) == 1 else None
    if out["final_dir"]:
        out["written"].append(dir_bytes(out["final_dir"]))
    return out


def workload_ingest(run: Run) -> None:
    log = setup_ingest(run)
    base_written = dir_bytes(log.live_dirs[0])
    lineage = codec_bytes_per_posting(run, log.live_dirs[0]) if run.tracer.enabled else 0.0
    queries = fed_queries(run)

    t_start = time.perf_counter()
    r = ingest_round(run, log, INGEST_BATCHES, INGEST_BATCH_TURNS, queries * rounds(run.seconds))
    run.notes["window_s"] = time.perf_counter() - t_start
    run.notes["ingest_s"] = r["ingest_s"]
    run.notes["maintain_s"] = r["maintain_s"]
    busy = sum(r["ingest_s"]) + r["maintain_s"]
    turns = INGEST_BATCH_TURNS * len(r["ingest_s"])
    run.metrics["latency_p50_ms"] = 1e3 * percentile(r["lat"], 50)
    run.metrics["latency_p90_ms"] = 1e3 * percentile(r["lat"], 90)
    run.metrics["throughput_per_s"] = turns / busy
    run.notes["latency_samples"] = len(r["lat"])
    run.notes["latency_ms"] = [round(1e3 * x) for x in r["lat"]]

    final = r["final_dir"]
    run.check(r["merged"] and final is not None, "maintain() left more than one generation")
    if final is None:
        run.metrics["index_bytes_per_text_byte"] = 0.0
        return
    run.metrics["index_bytes_per_text_byte"] = dir_bytes(final) / text_bytes(run.spark, final)

    compacted = Searcher(run.spark, final)
    for qid, q, k in queries:
        got = rows_topk(compacted.search(q, k).collect())
        want = r["before"].get(qid)
        run.check(want is not None and same_topk(got, want),
                  f"compacted {q!r}: {got[:3]} != federated {str(want)[:80]}")

    if run.tracer.enabled:
        layer_metrics_ingest(run, r, compacted, final, base_written, lineage, queries)


# --------------------------------------------------------------------------- #
# per-layer metrics (traced runs only)
# --------------------------------------------------------------------------- #
def jobs_inclusive(spans) -> dict[int, int]:
    total = {s.id: s.jobs for s in spans}
    for s in sorted(spans, key=lambda s: -s.id):  # children come after parents
        if s.parent is not None:
            total[s.parent] += total[s.id]
    return total


def median_or_zero(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def span_metrics(run: Run) -> None:
    """Metrics read off the spans: job counts, open times, stages, self times."""
    spans = run.tracer.spans
    inc = jobs_inclusive(spans)

    def pick(name, op, **attrs):
        return [
            s for s in spans
            if s.name == name and s.op == op
            and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    L = run.layer
    L["spark.jobs_per_build"] = median_or_zero([inc[s.id] for s in pick("index.builder", "build_index")])
    for k in KINDS:
        L[f"spark.jobs_per_query.{k}"] = median_or_zero(
            [inc[s.id] for s in pick("search.engine", "search", kind=k)]
        )
        L[f"search.latency_ms.{k}"] = 1e3 * median_or_zero(
            [s.duration for s in pick("search.engine", "search", kind=k)]
        )
    L["spark.jobs_per_batch"] = median_or_zero([inc[s.id] for s in pick("search.engine", "search_batch")])
    L["spark.jobs_per_ingest"] = median_or_zero(
        [inc[s.id] for s in pick("index.generations", "ingest") if s.request != "setup"]
    )
    for g in FED_GENERATIONS:
        L[f"spark.jobs_per_fed_query.g{g}"] = median_or_zero(
            [inc[s.id] for s in pick("search.multi", "search", g=g)]
        )
    L["search.open_ms"] = 1e3 * median_or_zero(
        [s.duration for s in spans if s.op == "open"]
    )
    for table, _ in BUILD_STAGES:
        L[f"build.stage.{table.lstrip('_')}_s"] = median_or_zero(
            [s.duration for s in spans if s.op == f"build.stage.{table.lstrip('_')}"]
        )
    own = layer_self_times(spans)
    for layer in LAYERS:
        L[f"self_s.{layer}"] = own.get(layer, 0.0)


def codec_bytes_per_posting(run: Run, index_dir: str) -> float:
    row = (
        IndexCatalog(index_dir)
        .read(run.spark, "_lineage")
        .agg(F.sum("bytes_compressed").alias("b"), F.sum("postings_emitted").alias("p"))
        .collect()[0]
    )
    return float(row["b"]) / float(row["p"])


def layer_probes(run: Run, index_dir: str, s: Searcher, queries) -> None:
    """Driver-side timings of analysis, codec decode and the WAND kernel,
    plus the exact postings-per-query count, over a fixed query set."""
    sample = [
        r["text"]
        for r in synth_transcripts(run.spark, ANALYSIS_SAMPLE, seed=run.seed, num_partitions=1)
        .select("text")
        .collect()
    ]
    times = []
    for _ in range(3):
        with run.tracer.span("analysis", "term_counts_frame", request="probe"):
            t0 = time.perf_counter()
            STANDARD_ANALYZER.term_counts_frame(sample)
            times.append(time.perf_counter() - t0)
    run.layer["analysis.term_counts_docs_per_s"] = len(sample) / statistics.median(times)

    q_terms = {qid: sorted(set(STANDARD_ANALYZER.tokenize(q))) for qid, q, _ in queries}
    all_terms = sorted({t for ts in q_terms.values() for t in ts})
    rows = (
        IndexCatalog(index_dir)
        .read(run.spark, "postings")
        .filter(F.col("term").isin(all_terms))
        .select("term", "df", "doc_ids_enc", "tfs_enc", "dls_enc", "block_max")
        .collect()
    )
    times = []
    decoded: dict[str, list] = {}
    for _ in range(3):
        decoded = {}
        n = 0
        with run.tracer.span("index.codec", "decode_posting", request="probe"):
            t0 = time.perf_counter()
            for r in rows:
                d, tf = codec.decode_posting(r["doc_ids_enc"], r["tfs_enc"])
                dl = codec.decode_tfs(r["dls_enc"])
                decoded.setdefault(r["term"], []).append((d, tf, dl, list(r["block_max"] or [])))
                n += d.size
            times.append(time.perf_counter() - t0)
    run.layer["codec.decode_postings_per_s"] = n / statistics.median(times) if n else 0.0

    dfs: dict[str, int] = {}
    for r in rows:
        dfs[r["term"]] = dfs.get(r["term"], 0) + int(r["df"])
    run.layer["search.postings_per_query"] = statistics.mean(
        sum(dfs.get(t, 0) for t in ts) for ts in q_terms.values()
    )
    # one entry per (term, shard) row, as Searcher's WAND task receives them
    tps = {
        qid: [
            (idf(s.num_docs, dfs[t]), d, tf, dl, bm)
            for t in q_terms[qid] if t in decoded
            for d, tf, dl, bm in decoded[t]
        ]
        for qid, _q, _k in queries
    }
    times = []
    for _ in range(3):
        with run.tracer.span("search.wand", "wand_topk", request="probe"):
            t0 = time.perf_counter()
            for qid, _q, k in queries:
                wand.wand_topk(tps[qid], k, s.avgdl)
            times.append(time.perf_counter() - t0)
    run.layer["wand.kernel_ms_per_query"] = 1e3 * statistics.median(times) / len(queries)


def index_table_bytes(run: Run, index_dir: str) -> None:
    for t in TABLES:
        p = os.path.join(index_dir, t)
        run.layer[f"index.bytes.{t}"] = dir_bytes(p) if os.path.isdir(p) else 0


def ingest_layer(run: Run, r: dict, base_written: int) -> None:
    final = dir_bytes(r["final_dir"]) if r["final_dir"] else 0
    run.layer["ingest.batch_ms"] = 1e3 * median_or_zero(r["ingest_s"])
    run.layer["ingest.live_generations"] = r["live_before"]
    run.layer["maintain_s"] = r["maintain_s"]
    run.layer["maintain.bytes_rewritten"] = final
    run.layer["ingest.write_amp"] = (base_written + sum(r["written"])) / final if final else 0.0


def layer_metrics_search(run: Run, index_dir: str, s: Searcher, check_qs) -> None:
    index_table_bytes(run, index_dir)
    run.layer["codec.bytes_per_posting"] = codec_bytes_per_posting(run, index_dir)
    layer_probes(run, index_dir, s, check_qs)
    # a small ingest round so the ingest-side layers are timed here too
    log = GenerationLog(run.path("probe-log"))
    r = ingest_round(run, log, PROBE_BATCHES, PROBE_BATCH_TURNS, [])
    with run.tracer.span("search.multi", "open", request="probe"):
        log.searcher(run.spark)
    ingest_layer(run, r, 0)
    run.layer["search.latency_samples"] = run.notes["latency_samples"]
    span_metrics(run)


def layer_metrics_ingest(run: Run, r, compacted: Searcher, final, base_written, lineage, queries) -> None:
    index_table_bytes(run, final)
    run.layer["codec.bytes_per_posting"] = lineage
    ingest_layer(run, r, base_written)
    # one single query of each kind and one batch on the compacted index
    kinds = synth_queries(len(KINDS), seed=run.qseed(0))
    for qid, q, k in kinds:
        with run.tracer.span("search.engine", "search", request=f"k{qid}", kind=KINDS[qid % 7]):
            compacted.search(q, k).collect()
    with run.tracer.span("search.engine", "search_batch", request="kb"):
        compacted.search_batch(kinds).collect()
    layer_probes(run, final, compacted, list(queries) + kinds)
    run.layer["search.latency_samples"] = run.notes["latency_samples"]
    span_metrics(run)


class wrapped_ingest_layers:
    """Wrap the micro-build, build and compaction calls GenerationLog makes,
    so their time and jobs land in spans of their own layers."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def _wrap(self, mod, attr, layer, op, stages=False):
        orig = getattr(mod, attr)
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(layer, op) as sp:
                out = orig(*args, **kwargs)
            if stages and sp is not None:
                tracer.add_build_stages(args[1], sp)
            return out

        self.saved.append((mod, attr, orig))
        setattr(mod, attr, wrapper)

    def __enter__(self):
        self.saved = []
        if self.tracer.enabled:
            self._wrap(_microbuild, "try_micro_build", "index.microbuild", "try_micro_build")
            self._wrap(_generations, "build_index", "index.builder", "build_index", stages=True)
            self._wrap(_generations, "compact", "index.mergepolicy", "compact")
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self.saved):
            setattr(mod, attr, orig)
        return False


WORKLOADS = {"search": workload_search, "ingest": workload_ingest}


def run_workload(run: Run, name: str) -> None:
    with wrapped_ingest_layers(run.tracer):
        WORKLOADS[name](run)
