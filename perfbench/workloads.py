"""The three benchmark workloads: seeded inputs, closed loops, output checks.

Every workload is a closed loop with one caller: the next batch or query
call starts only after the previous one returned, as a ``_batchpercolate``
client does. Inputs are generated from the seed, built and cached before
the call that consumes them, and never reused across calls (Spark would
reuse their shuffle outputs). Outputs are checked outside the timed
regions; a raised exception or a mismatch counts as a failed operation.

Sizes are chosen so that one run of a workload, including the Spark start
and three set-ups, takes about a minute on a 4-core host.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import traceback

import numpy as np
import pandas as pd

from elasticsearch_batch_percolator_spark.corpus import VOCAB, _full_vocab, _gen_rows
from elasticsearch_batch_percolator_spark.functions.tokenizer import tokenize_code
from elasticsearch_batch_percolator_spark.index.build import (
    append_index,
    build_index,
    compact_index,
    read_manifest,
)
from elasticsearch_batch_percolator_spark.operators.dsl_index import dsl_topk_from_index
from elasticsearch_batch_percolator_spark.operators.percolate import percolate
from elasticsearch_batch_percolator_spark.operators.wand import topk_from_index
from elasticsearch_batch_percolator_spark.plans.eval_py import eval_plan
from elasticsearch_batch_percolator_spark.sources.registry import CompiledRegistry
from perfbench.host import jvm_held_mb

SETUPS = 3  # set-up repeats per run; setup_s is their median
ID_STRIDE = 10_000_000  # doc ids per seed: seeds that differ mod 100 share no input
HIGHLIGHT = {"fields": ["content"], "pre_tags": ["<em>"], "post_tags": ["</em>"]}

PERC = {
    # multi-term queries over the Zipf tail of a 10k-term vocabulary: almost
    # no document matches, so registry-scale gating and join-verify dominate
    "perc-selective": {"queries": 2000, "batch_docs": 1000, "vocab": 10_000, "call_s": 15.0},
    # the 125-term head vocabulary: about a sixth of all (doc, query) pairs
    # match, so each batch verifies, scores and highlights about 10k pairs
    "perc-dense": {"queries": 200, "batch_docs": 300, "vocab": None, "call_s": 12.0},
}
WARM_DOCS = 20  # sample percolated by each registry warmup
CHECK_DOCS = 6  # docs per batch re-evaluated by the eval_plan oracle

INDEX = {
    "files": 5_000,
    "segments": 2,
    # compaction cost grows with (segment, term) pairs, so the vocabulary
    # is kept small enough for one compaction to fit in a run
    "vocab": 2_500,
    "append_files": 800,
    "append_segments": 1,
    "topk_queries": 24,
    "dsl_queries": 6,
    "call_s": 3.0,
    "compact_segments": 1,
}


# the index states of index-rw in which queries are timed, in order; each
# answers the same number of query rounds
INDEX_STATES = ("appended", "compacted")


class Outcome:
    """What one run did: operations attempted and failed, timings and other
    samples by name, counters, and a digest over every checked output."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.times: dict[str, list[float]] = {}
        self.counts: dict[str, float] = {}
        self._digest = hashlib.sha256()

    def time(self, name: str, seconds: float) -> None:
        self.times.setdefault(name, []).append(seconds)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    def digest(self, rows) -> None:
        for r in rows:
            self._digest.update(repr(r).encode())

    @property
    def hexdigest(self) -> str:
        return self._digest.hexdigest()[:16]


def _doc_frame(spark, start: int, n: int, vocab: int | None):
    """Synthetic source files with ids [start, start + n), cached and
    counted. Corpus rows are a pure function of their id, so disjoint id
    ranges give fresh content; they are generated on the driver so that
    no input job touches the Python workers the layers use."""
    ids = np.arange(start, start + n, dtype=np.int64)
    df = spark.createDataFrame(_gen_rows(ids, vocab)[["doc_id", "content"]]).persist()
    df.count()
    return df


def _held(spark, out) -> None:
    # after a timed call or index write, outside its timed span
    out.time("held_jvm", jvm_held_mb(spark))


def _tokens(content: str) -> list[str]:
    # percolate()'s default analyzer (tokenize_ws): lowercase, split on ' '
    return [t for t in content.lower().split(" ") if t]


def n_calls(seconds: float, call_s: float) -> int:
    """How many timed calls a run makes: as many as take about ``seconds``
    at ``call_s`` each, and at least one. The count depends on --seconds
    only, never on the clock, so every run of a workload makes the same
    calls however fast the code is."""
    return max(1, round(seconds / call_s))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- registries ------------------------------------------------------------


def selective_queries(rng: random.Random, n: int, vocab_size: int) -> list[tuple[str, str]]:
    """bench_percolate_225k.py's shapes: 3-5-term MUST, 2-term phrases,
    must_not and wildcard_phrase, over the Zipf tail of the vocabulary."""
    vocab = list(_full_vocab(vocab_size))
    tail = vocab[len(vocab) // 3 :]
    rows = []
    for i in range(n):
        kind = i % 10
        if kind < 6:
            terms = rng.sample(tail, rng.randint(3, 5))
            q = {"bool": {"must": [{"term": {"content": t}} for t in terms]}}
        elif kind < 8:
            q = {"phrase": {"field": "content", "terms": rng.sample(tail, 2)}}
        elif kind < 9:
            t = rng.sample(tail, 4)
            q = {
                "bool": {
                    "must": [{"term": {"content": x}} for x in t[:3]],
                    "must_not": [{"term": {"content": t[3]}}],
                }
            }
        else:
            t = rng.sample(tail, 2)
            q = {
                "wildcard_phrase": {
                    "field": "content",
                    "producers": [
                        {"term": {"content": t[0]}},
                        {"wildcard": {"content": t[1][:4] + "*"}},
                    ],
                }
            }
        rows.append((f"s{i}", json.dumps({"query": q, "highlight": HIGHLIGHT})))
    return rows


def dense_queries(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """Positional and multi-term shapes over the head vocabulary: sloppy
    phrases, unordered span_near, 3-term phrases, wildcard, fuzzy, and
    bool with must/should/must_not."""
    head, names = VOCAB[:40], VOCAB[25:]
    rows = []
    for i in range(n):
        kind = i % 6
        if kind == 0:
            q = {"phrase": {"field": "content", "terms": rng.sample(head, 2), "slop": rng.randint(2, 4)}}
        elif kind == 1:
            a, b = rng.sample(head, 2)
            q = {
                "span_near": {
                    "clauses": [{"span_term": {"content": a}}, {"span_term": {"content": b}}],
                    "slop": rng.randint(1, 3),
                    "in_order": False,
                }
            }
        elif kind == 2:
            q = {"phrase": {"field": "content", "terms": rng.sample(VOCAB[:8], 3)}}
        elif kind == 3:
            w = rng.choice(names)
            q = {"wildcard": {"content": w[:3] + "*"}}
        elif kind == 4:
            w = rng.choice(names)
            q = {"fuzzy": {"content": {"value": w[:-1] + "q", "fuzziness": 1}}}
        else:
            a, b, c = rng.sample(head, 3)
            q = {
                "bool": {
                    "must": [{"term": {"content": a}}],
                    "should": [{"term": {"content": b}}],
                    "must_not": [{"term": {"content": c}}],
                }
            }
        rows.append((f"d{i}", json.dumps({"query": q, "highlight": HIGHLIGHT})))
    return rows


# -- percolation -----------------------------------------------------------


def run_percolation(spark, tr, name: str, seed: int, seconds: float) -> Outcome:
    cfg = PERC[name]
    out = Outcome()
    # the registry is part of the workload's definition; the seed draws the
    # documents and the docs the oracle re-checks
    qrng = random.Random(name)
    rows = (
        selective_queries(qrng, cfg["queries"], cfg["vocab"])
        if name == "perc-selective"
        else dense_queries(qrng, cfg["queries"])
    )
    rng = random.Random(f"{name}/{seed}")
    vocab = cfg["vocab"]
    qdf = spark.createDataFrame(
        pd.DataFrame({"query_id": [r[0] for r in rows], "query_json": [r[1] for r in rows]})
    )
    base = (seed % 100) * ID_STRIDE
    next_id = base

    def fresh_docs(n: int):
        nonlocal next_id
        with tr.span("input"):
            df = _doc_frame(spark, next_id, n, vocab)
        tr.exclude(df)
        ids = np.arange(next_id, next_id + n, dtype=np.int64)
        next_id += n
        return df, ids

    # set-up, several times: compile, then warmup on a small representative
    # sample, which builds the verify broadcast, the join-verify structures
    # and the batch-plan cache and runs one percolation, so that the first
    # batch runs at steady state
    reg = None
    for k in range(SETUPS):
        warm, _ = fresh_docs(WARM_DOCS)
        out.attempted += 1
        try:
            with tr.span("setup", layer="registry", batch=k, cpu=True) as s:
                with tr.span("registry.compile"):
                    reg = CompiledRegistry.from_df(qdf)
                with tr.span("registry.warmup"):
                    reg.warmup(spark, sample=warm)
            out.time("setup", s["end"] - s["start"])
            out.time("setup_cpu", s["cpu_s"])
        except Exception:
            out.fail(f"setup {k}: {traceback.format_exc(limit=3)}")
        warm.unpersist()
    if reg is None:
        return out
    out.counts["registry.verify_queries"] = len(reg.gate_verify_ids())
    out.counts["registry.jv_queries"] = len(reg.jv_verify_atoms())
    plans = {qid: cq.plan for qid, cq in reg.queries.items()}

    for i in range(n_calls(seconds, cfg["call_s"])):
        docs, ids = fresh_docs(cfg["batch_docs"])
        out.attempted += 1
        try:
            _percolate_batch(spark, tr, out, reg, plans, docs, ids, vocab, i, rng)
        except Exception:
            out.fail(f"batch {i}: {traceback.format_exc(limit=3)}")
        docs.unpersist()
    return out


def _percolate_batch(spark, tr, out, reg, plans, docs, ids, vocab, i, rng) -> None:
    # percolate() plans and runs the registry-side jobs; with_scores()
    # persists and computes the matches; the two toPandas() calls deliver
    # every output column to the caller (a count() would let Spark prune
    # the scoring and highlighting columns unevaluated)
    with tr.span("batch", batch=i, cpu=True) as b:
        with tr.span("percolate.plan", layer="percolate", batch=i):
            res = percolate(spark, docs, reg)
        with tr.span("percolate.execute", layer="percolate", batch=i):
            scored = res.with_scores(reg)
        with tr.span("scores", layer="scores", batch=i):
            scores = scored.toPandas()
        with tr.span("highlights", layer="highlights", batch=i):
            hl_df = res.with_highlights(reg)
            highlights = hl_df.toPandas()
    out.time("call", b["end"] - b["start"])
    out.time("call_cpu", b["cpu_s"])
    _held(spark, out)
    out.counts["items"] = out.counts.get("items", 0) + len(ids)
    tr.walk("percolate", res.matches)
    tr.walk("scores", scored)
    tr.walk("highlights", hl_df)

    with tr.span("check"):
        _check_batch(out, plans, scores, highlights, ids, vocab, i, rng)
    res.unpersist()


def _check_batch(out, plans, scores, highlights, ids, vocab, i, rng) -> None:
    pairs = set(zip(scores["doc_id"].astype(int), scores["query_id"]))
    out.counts["percolate.match_rows"] = out.counts.get("percolate.match_rows", 0) + len(pairs)
    if len(pairs) != len(scores):
        out.fail(f"batch {i}: duplicate (doc, query) pairs in scores")
    if not np.isfinite(scores["score"].to_numpy(dtype=float)).all() or (scores["score"] < 0).any():
        out.fail(f"batch {i}: non-finite or negative score")
    if set(zip(highlights["doc_id"].astype(int), highlights["query_id"])) != pairs:
        out.fail(f"batch {i}: highlight rows differ from matches")
    sample = sorted(rng.sample(list(ids), CHECK_DOCS))
    contents = _gen_rows(np.asarray(sample, dtype=np.int64), vocab)["content"]
    for doc_id, content in zip(sample, contents):
        doc = {"content": _tokens(content)}
        want = {qid for qid, p in plans.items() if eval_plan(p, doc)}
        got = {q for d, q in pairs if d == doc_id}
        if want != got:
            out.fail(
                f"batch {i} doc {doc_id}: missing {sorted(want - got)[:5]} "
                f"extra {sorted(got - want)[:5]}"
            )
    hl_map = {
        (int(d), q): sorted((f, tuple(v)) for f, v in dict(h or {}).items())
        for d, q, h in zip(highlights["doc_id"], highlights["query_id"], highlights["highlights"])
    }
    out.digest(
        sorted(
            (int(d), q, round(float(s), 4), hl_map.get((int(d), q)))
            for d, q, s in zip(scores["doc_id"], scores["query_id"], scores["score"])
        )
    )


# -- index search beside ingest --------------------------------------------


def _mid_terms(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    # ranks 150-1500 of the Zipf vocabulary: off the head, yet frequent
    # enough that every query has postings in every segment
    return rng.sample(vocab[150:1500], n)


def _topk_queries(rng, vocab, n: int) -> dict[str, list[str]]:
    qs = {}
    for j in range(n):
        if j % 4 == 3:
            # 10 identifiers v0xyz0..v0xyz9 of the synthetic tail
            qs[f"t{j}"] = [f"v0{rng.randint(30, 149):03d}*"]
        else:
            qs[f"t{j}"] = _mid_terms(rng, vocab, rng.randint(1, 3))
    return qs


def _dsl_queries(rng, vocab, n: int) -> dict[str, dict]:
    qs = {}
    for j in range(n):
        a, b, c = _mid_terms(rng, vocab, 3)
        if j % 2:
            qs[f"p{j}"] = {"phrase": {"field": "content", "terms": [a, b], "slop": 3}}
        else:
            qs[f"b{j}"] = {
                "bool": {
                    "must": [{"term": {"content": a}}],
                    "should": [{"term": {"content": b}}, {"term": {"content": c}}],
                }
            }
    return qs


def _rows(df) -> list[tuple]:
    return sorted(
        (r["query_id"], int(r["rank"]), int(r["doc_id"]), float(r["score_r"]))
        for r in df.collect()
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def run_index(spark, tr, work: str, seed: int, seconds: float) -> Outcome:
    cfg = INDEX
    out = Outcome()
    # the query sequence is part of the workload's definition; the seed
    # draws the corpus and the appended files
    rng = random.Random("index-rw")
    vocab = list(_full_vocab(cfg["vocab"]))
    next_id = (seed % 100) * ID_STRIDE

    def fresh_files(n: int):
        nonlocal next_id
        with tr.span("input"):
            pdf = _gen_rows(np.arange(next_id, next_id + n, dtype=np.int64), cfg["vocab"])
            out.counts["ingested_bytes"] = (
                out.counts.get("ingested_bytes", 0) + int(pdf["content"].str.len().sum())
            )
            toks = (
                spark.createDataFrame(pdf[["doc_id", "content"]])
                .select("doc_id", tokenize_code("content").alias("tokens"))
                .persist()
            )
            toks.count()
            tr.exclude(toks)
        next_id += n
        return toks

    corpus = fresh_files(cfg["files"])
    idx = None
    for k in range(SETUPS):
        path = os.path.join(work, f"index-{k}")
        out.attempted += 1
        try:
            with tr.span("setup", layer="index", batch=k, cpu=True) as s:
                build_index(spark, corpus, path, n_segments=cfg["segments"], positions=True)
            out.time("setup", s["end"] - s["start"])
            out.time("setup_cpu", s["cpu_s"])
            if idx:
                shutil.rmtree(idx, ignore_errors=True)
            idx = path
        except Exception:
            out.fail(f"setup {k}: {traceback.format_exc(limit=3)}")
    corpus.unpersist()
    if idx is None:
        return out

    def query_round(j: int, state: str, topk_qs=None, dsl_qs=None, exhaustive=False):
        """One closed-loop call of this workload: a term top-k call, then a
        DSL top-k call. Returns both results, or None if either raised."""
        topk_qs = topk_qs or _topk_queries(rng, vocab, cfg["topk_queries"])
        dsl_qs = dsl_qs or _dsl_queries(rng, vocab, cfg["dsl_queries"])
        out.attempted += 1
        try:
            with tr.span("round", batch=j, cpu=True) as r:
                with tr.span("wand", layer="wand", batch=j):
                    topk = topk_from_index(spark, idx, topk_qs, k=10)
                    topk_rows = _rows(topk)
                with tr.span("dsl", layer="dsl", batch=j):
                    dsl = dsl_topk_from_index(spark, idx, dsl_qs, k=10)
                    dsl_rows = _rows(dsl)
            out.time("call", r["end"] - r["start"])
            out.time(f"call_cpu.{state}", r["cpu_s"])
            _held(spark, out)
            out.counts["items"] = out.counts.get("items", 0) + len(topk_qs) + len(dsl_qs)
            tr.walk("wand", topk)
            tr.walk("dsl", dsl)
            if exhaustive:
                with tr.span("check"):
                    want = _rows(topk_from_index(spark, idx, topk_qs, k=10, algorithm="exhaustive"))
                if topk_rows != want:
                    out.fail(f"round {j} ({state}): top-k differs from algorithm='exhaustive'")
        except Exception:
            out.fail(f"round {j} ({state}): {traceback.format_exc(limit=3)}")
            return None
        if any(r[1] > 10 for r in topk_rows + dsl_rows):
            out.fail(f"round {j} ({state}): rank beyond k")
        out.digest(topk_rows + dsl_rows)
        return topk_rows, dsl_rows

    # a fixed sequence: one append of fresh files to the built index, the
    # same number of query rounds on the appended index (one segment more)
    # and on the compacted one. The first round of each state answers the
    # same probe queries. On the appended index its term top-k is checked
    # against the exhaustive scorer; the compacted index holds the same
    # files, so its top-k (term and DSL) must be identical, which checks
    # it against the exhaustive scorer too.
    probe_rng = random.Random("index-rw/probe")
    probe = (_topk_queries(probe_rng, vocab, cfg["topk_queries"]),
             _dsl_queries(probe_rng, vocab, cfg["dsl_queries"]))
    rounds = n_calls(seconds / len(INDEX_STATES), cfg["call_s"])
    j = 0

    def state_rounds(state: str, queries=(), exhaustive=False) -> tuple | None:
        nonlocal j
        first = query_round(j, state, *queries, exhaustive=exhaustive)
        for k in range(1, rounds):
            query_round(j + k, state)
        j += rounds
        return first

    new = fresh_files(cfg["append_files"])
    out.attempted += 1
    try:
        with tr.span("append", layer="index") as s:
            append_index(spark, new, idx, n_new_segments=cfg["append_segments"])
        out.time("index.append", s["end"] - s["start"])
        _held(spark, out)
        out.counts["appended_files"] = cfg["append_files"]
    except Exception:
        out.fail(f"append: {traceback.format_exc(limit=3)}")
    new.unpersist()
    out.counts["index.segments"] = read_manifest(idx).n_segments
    before = state_rounds("appended", probe, exhaustive=True)

    dst = os.path.join(work, "index-compacted")
    out.attempted += 1
    try:
        with tr.span("compact", layer="index") as s:
            compact_index(spark, idx, dst, target_segments=cfg["compact_segments"])
        out.time("index.compact", s["end"] - s["start"])
        _held(spark, out)
        idx = dst
    except Exception:
        out.fail(f"compact: {traceback.format_exc(limit=3)}")
        return out
    if state_rounds("compacted", probe) != before:
        out.fail("compact: top-k differs before and after compaction")
    out.counts["index_bytes"] = _dir_bytes(idx)
    return out


def summarize(name: str, out: Outcome) -> dict[str, tuple[float, str, int]]:
    """End-to-end figures: name -> (value, unit, samples). A call is a
    percolation batch or an index query round; items are the docs of a
    batch or the queries of a round."""
    setup, setup_cpu = out.times.get("setup", []), out.times.get("setup_cpu", [])
    calls = out.times.get("call", [])
    if name == "index-rw":
        # like calls only: the median round of each index state, averaged
        # over the states
        by_state = [out.times.get(f"call_cpu.{s}", []) for s in INDEX_STATES]
        cpu = (
            statistics.fmean(_median(c) for c in by_state) if all(by_state) else 0.0,
            "s",
            sum(map(len, by_state)),
        )
    else:
        c = out.times.get("call_cpu", [])
        cpu = (_median(c), "s", len(c))
    m = {
        "setup_s": (_median(setup_cpu), "s", len(setup_cpu)),
        "setup_wall_s": (_median(setup), "s", len(setup)),
        "call_cpu_s": cpu,
        "call_p50_s": (_median(calls), "s", len(calls)),
        "items_per_s": (out.counts.get("items", 0) / sum(calls) if calls else 0.0, "1/s", len(calls)),
    }
    if name.startswith("perc-"):
        m["batch_p50_s"] = m["call_p50_s"]
        m["docs_per_s"] = (m["items_per_s"][0], "docs/s", len(calls))
    else:
        m["query_p50_s"] = m["call_p50_s"]
        m["queries_per_s"] = (m["items_per_s"][0], "queries/s", len(calls))
        writes = out.times.get("index.append", []) + out.times.get("index.compact", [])
        m["ingest_files_per_s"] = (
            out.counts.get("appended_files", 0) / sum(writes) if writes else 0.0,
            "files/s",
            len(writes),
        )
        m["index_bytes_per_input_byte"] = (
            out.counts.get("index_bytes", 0) / max(1, out.counts.get("ingested_bytes", 0)),
            "ratio",
            1,
        )
    m["failed_frac"] = (out.failed / max(1, out.attempted), "ratio", out.attempted)
    return m
