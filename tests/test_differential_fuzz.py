"""Randomized differential fuzz: Spark path vs serve tier vs an
independent pure-Python model.

The fixed fixtures (planets, carl-friedrich, corpus suites) pin known
answers; this suite generates a seeded random corpus (unicode words,
digit tokens, 1-char always-stopped tokens, repeated words) and random
queries, then checks THREE implementations against each other:

1. the Spark engine (`SearchEngine.search` / `search_bm25` / WAND),
2. the in-process serving tier (`LocalIndexReader`),
3. a from-raw-docs model in this file that re-derives membership,
   phrase adjacency, df/tf/dl/avgdl and BM25 scores directly from the
   corpus text via the parity tokenizer — it never reads the index, so
   a bug anywhere in index build (postings, positions, stats) or query
   evaluation shows up as a three-way disagreement.

Everything is seeded: failures reproduce exactly.
"""

from __future__ import annotations

import json
import math
import random

import pytest

from conftest import build_fixture_engine
from search_engine_spark.config import EngineConfig, ScoreWeights
from search_engine_spark.functions.tokenizer import is_stop_word, tokenize
from search_engine_spark.operators.compaction import compact_index
from search_engine_spark.operators.deletes import delete_docs
from search_engine_spark.operators.search import SearchEngine
from search_engine_spark.operators.wand import wand_prune_stats, wand_topk
from search_engine_spark.serving.local import LocalIndexReader

CFG = EngineConfig(score_weights=ScoreWeights())
SEED = 20260821
N_DOCS = 50

VOCAB = [
    "merge", "window", "filter", "join", "scan", "table", "spark",
    "batch", "stream", "hash", "sort", "order", "group", "shuffle",
    "åäö", "zürich", "café", "naïve", "2024", "42", "x1", "q9",
    "a", "b", "i",  # 1-char: always stop-filtered
    "data", "part", "small", "big", "slow", "fast", "agg",
]


def gen_corpus(rng: random.Random) -> list[dict]:
    docs = []
    for i in range(N_DOCS):
        title = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(2, 3)))
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 25)))
        docs.append({"url": f"u{i}", "title": title, "text": text, "rank": i})
    return docs


# ---------------------------------------------------------------------------
# the independent model: recomputes everything from raw title/text
# ---------------------------------------------------------------------------


class Model:
    def __init__(self, fixture: list[dict], url_to_id: dict):
        self.docs = {}
        for d in fixture:
            words, _ = tokenize(d["title"] + " " + d["text"])
            low = [w.lower() for w in words]
            self.docs[url_to_id[d["url"]]] = low
        self.n = len(self.docs)
        self.avgdl = sum(len(t) for t in self.docs.values()) / self.n
        self.df = {}
        for toks in self.docs.values():
            for t in set(toks):
                if not is_stop_word(t, CFG.stop_words):
                    self.df[t] = self.df.get(t, 0) + 1

    @staticmethod
    def parse(query: str):
        words, quotes = tokenize(query)
        terms = sorted({
            w.lower() for w in words if not is_stop_word(w, CFG.stop_words)
        })
        phrases = []
        low = [w.lower() for w in words]
        for a, b in zip(quotes[0::2], quotes[1::2]):
            if b > a:
                phrases.append(low[a:b])
        return terms, phrases

    def match_ids(self, query: str) -> set:
        """Conjunctive membership + phrase adjacency (parity search
        candidate semantics, below the 100-candidate cap)."""
        terms, phrases = self.parse(query)
        if not terms:
            return set()
        out = set()
        for doc_id, toks in self.docs.items():
            tokset = set(toks)
            if any(t not in tokset for t in terms):
                continue
            ok = True
            for seq in phrases:
                found = any(
                    toks[i:i + len(seq)] == seq
                    for i in range(len(toks) - len(seq) + 1)
                )
                if not found:
                    ok = False
                    break
            if ok:
                out.add(doc_id)
        return out

    def bm25(self, query: str, conjunctive: bool = False):
        """{doc_id: (score, n_terms)} over all matching docs; per-doc sum
        folded in sorted-term order like both engine paths."""
        terms, _ = self.parse(query)
        k1, b = CFG.bm25_k1, CFG.bm25_b
        out = {}
        for doc_id, toks in self.docs.items():
            present = [t for t in terms if t in set(toks)]
            if not present or (conjunctive and len(present) != len(terms)):
                continue
            dl = len(toks)
            score = 0.0
            for t in sorted(present):
                tf = sum(1 for w in toks if w == t)
                idf = math.log(
                    1.0 + (self.n - self.df[t] + 0.5) / (self.df[t] + 0.5)
                )
                score += idf * tf * (k1 + 1.0) / (
                    tf + k1 * (1.0 - b + b * dl / self.avgdl)
                )
            out[doc_id] = (score, len(present))
        return out


# ---------------------------------------------------------------------------
# fixtures
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fuzz(spark, tmp_path_factory):
    rng = random.Random(SEED)
    fixture = gen_corpus(rng)
    idx = tmp_path_factory.mktemp("fuzz_idx")
    engine = build_fixture_engine(spark, fixture, idx, config=CFG, segments=3)
    url_to_id = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(str(idx / "docs")).select(
            "doc_id", "url").collect()
    }
    model = Model(fixture, url_to_id)
    model.fixture = fixture          # raw docs, for metadata predicates
    model.url_to_id = url_to_id
    reader = LocalIndexReader(str(idx), config=CFG)
    return engine, reader, model, rng, str(idx)


def gen_queries(rng: random.Random, model: Model) -> list[str]:
    qs = []
    # plain 1-3 word conjunctive queries (known + unknown + stop terms)
    pool = VOCAB + ["xyzzy", "unseen"]
    for _ in range(14):
        qs.append(" ".join(rng.choice(pool)
                           for _ in range(rng.randint(1, 3))))
    # phrase queries from REAL adjacent token pairs (guaranteed hits)...
    ids = sorted(model.docs)
    for _ in range(6):
        toks = model.docs[rng.choice(ids)]
        starts = [
            i for i in range(len(toks) - 1)
            if len(toks[i]) > 1 and len(toks[i + 1]) > 1
            and toks[i] != toks[i + 1]
        ]
        if starts:
            i = rng.choice(starts)
            qs.append(f'"{toks[i]} {toks[i + 1]}"')
    # ...and from random vocab pairs (mostly misses)
    for _ in range(4):
        w1, w2 = rng.sample([w for w in VOCAB if len(w) > 1], 2)
        qs.append(f'"{w1} {w2}"')
    # mixed: phrase + extra term
    for _ in range(3):
        toks = model.docs[rng.choice(ids)]
        starts = [
            i for i in range(len(toks) - 1)
            if len(toks[i]) > 1 and len(toks[i + 1]) > 1
            and toks[i] != toks[i + 1]
        ]
        if starts:
            i = rng.choice(starts)
            extra = rng.choice([w for w in VOCAB if len(w) > 1])
            qs.append(f'"{toks[i]} {toks[i + 1]}" {extra}')
    return qs


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------


def test_avgdl_contract(fuzz):
    """The model's from-raw-text avgdl must equal the build's persisted
    corpus_stats — guards the dl-definition contract the BM25 model
    relies on (dl = ALL tokens of title+' '+text, pre-stop-filter)."""
    _, _, model, _, idx = fuzz
    stats = json.loads(open(f"{idx}/corpus_stats.json").read())
    assert stats["n_docs"] == model.n
    assert stats["avgdl"] == pytest.approx(model.avgdl, rel=1e-12)


def test_search_three_way_membership(fuzz):
    """Spark parity search ≡ serve tier ≡ model on WHICH docs match,
    for every fuzzed query (corpus < 100 docs, so the candidate cap
    never truncates and set-equality is exact)."""
    engine, reader, model, rng, _ = fuzz
    for q in gen_queries(random.Random(SEED + 1), model):
        want = model.match_ids(q)
        got_spark = {r["doc_id"] for r in engine.search(q).collect()}
        got_serve = set(reader.search(q)["doc_id"].tolist())
        assert got_spark == want, f"spark vs model: {q!r}"
        assert got_serve == want, f"serve vs model: {q!r}"


def test_search_rows_spark_vs_serve(fuzz):
    """Full row parity (scores, snippets, projection) between the Spark
    path and the serve tier on fuzzed queries — the fixed-fixture parity
    tests, but on a random corpus."""
    engine, reader, model, _, _ = fuzz
    for q in gen_queries(random.Random(SEED + 2), model)[:12]:
        spark_rows = [
            (r["doc_id"], r["score"], r["title"], r["introduction"],
             r["url"])
            for r in engine.search(q).collect()
        ]
        serve_rows = [tuple(t) for t in
                      reader.search(q).itertuples(index=False)]
        assert serve_rows == spark_rows, q


@pytest.mark.parametrize("conjunctive", [False, True])
def test_bm25_three_way(fuzz, conjunctive):
    """Exhaustive BM25 (Spark), serve-tier BM25, and WAND agree with the
    model's from-raw-text scores for fuzzed multi-term queries: same doc
    set, same n_terms, scores to 1e-9, ranking consistent after 9-dp
    rounding."""
    engine, reader, model, _, _ = fuzz
    rng = random.Random(SEED + 3)
    pool = [w for w in VOCAB if len(w) > 1] + ["xyzzy"]
    queries = [
        " ".join(rng.sample(pool, rng.randint(2, 4))) for _ in range(8)
    ]
    for q in queries:
        want = model.bm25(q, conjunctive=conjunctive)
        spark_rows = engine.search_bm25(
            q, k=N_DOCS + 10, conjunctive=conjunctive).collect()
        got = {r["doc_id"]: (r["score"], r["n_terms"]) for r in spark_rows}
        assert set(got) == set(want), f"doc set: {q!r}"
        for d in want:
            assert got[d][1] == want[d][1], f"n_terms: {q!r} doc {d}"
            assert got[d][0] == pytest.approx(want[d][0], rel=1e-9), (
                f"score: {q!r} doc {d}")
        # rank: identical under 9-dp rounding + doc_id tie-break
        def order(m):
            return [d for d, _ in sorted(
                m.items(), key=lambda kv: (-round(kv[1][0], 9), kv[0]))]
        assert [r["doc_id"] for r in spark_rows] == order(want), q
        # serve tier
        serve = {
            int(t.doc_id): (float(t.score), int(t.n_terms))
            for t in reader.search_bm25(
                q, k=N_DOCS + 10, conjunctive=conjunctive
            ).itertuples(index=False)
        }
        assert set(serve) == set(want), f"serve doc set: {q!r}"
        for d in want:
            assert serve[d][0] == pytest.approx(want[d][0], rel=1e-9)
        # WAND (disjunctive path only)
        if not conjunctive:
            wrows = wand_topk(engine, q, k=N_DOCS + 10).collect()
            wgot = {r["doc_id"]: r["score"] for r in wrows}
            assert set(wgot) == set(want), f"wand doc set: {q!r}"
            for d in want:
                assert wgot[d] == pytest.approx(want[d][0], rel=1e-9)


def test_lifecycle_fuzz_delete_compact(spark, tmp_path_factory):
    """Random deletes + compaction, then the three-way check again: the
    compacted index must behave exactly like an index built from only
    the surviving docs — membership, BM25 scores (compaction re-stats
    n_docs/avgdl/df over survivors), and the serve tier all agree with
    the model recomputed on the survivor subset."""
    rng = random.Random(SEED + 9)
    fixture = gen_corpus(rng)
    idx = tmp_path_factory.mktemp("fuzz_lifecycle_idx")
    build_fixture_engine(spark, fixture, idx, config=CFG, segments=3)
    url_to_id = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(str(idx / "docs")).select(
            "doc_id", "url").collect()
    }
    victims = rng.sample([d["url"] for d in fixture], 12)
    n_new = delete_docs(
        spark, str(idx), urls=victims[:6],
        doc_ids=[url_to_id[u] for u in victims[6:]], config=CFG,
    )
    assert n_new == 12
    res = compact_index(spark, str(idx), config=CFG)
    assert res.compacted

    survivors = [d for d in fixture if d["url"] not in victims]
    model = Model(survivors, url_to_id)
    engine = SearchEngine(spark, str(idx), config=CFG)
    reader = LocalIndexReader(str(idx), config=CFG)

    stats = json.loads(open(f"{idx}/corpus_stats.json").read())
    assert stats["n_docs"] == model.n
    assert stats["avgdl"] == pytest.approx(model.avgdl, rel=1e-12)

    qrng = random.Random(SEED + 10)
    for q in gen_queries(qrng, model)[:10]:
        want = model.match_ids(q)
        assert {r["doc_id"] for r in engine.search(q).collect()} == want, q
        assert set(reader.search(q)["doc_id"].tolist()) == want, q

    pool = [w for w in VOCAB if len(w) > 1]
    for q in [" ".join(qrng.sample(pool, 3)) for _ in range(4)]:
        want = model.bm25(q)
        got = {
            r["doc_id"]: (r["score"], r["n_terms"])
            for r in engine.search_bm25(q, k=N_DOCS + 10).collect()
        }
        assert set(got) == set(want), q
        for d in want:
            assert got[d][0] == pytest.approx(want[d][0], rel=1e-9), (q, d)
        wgot = {
            r["doc_id"]: r["score"]
            for r in wand_topk(engine, q, k=N_DOCS + 10).collect()
        }
        assert set(wgot) == set(want), q


def test_lifecycle_fuzz_incremental_append(spark, tmp_path_factory):
    """Random incremental ingest: build on a base corpus, append a
    random second batch via the streaming append path, refresh stats,
    and re-check the three-way agreement with the model on the UNION —
    guards doc-id continuation, segment layout, and the refreshed
    df/avgdl statistics under random data."""
    rng = random.Random(SEED + 20)
    fixture = gen_corpus(rng)
    base, extra = fixture[:35], fixture[35:]
    idx = tmp_path_factory.mktemp("fuzz_append_idx")
    build_fixture_engine(spark, base, idx, config=CFG, segments=2)

    from search_engine_spark.streaming.incremental import (
        append_batch, refresh_stats,
    )

    extra_df = spark.createDataFrame(
        [
            (d["url"], d["title"], d["text"], f"c{i}", 0)
            for i, d in enumerate(extra)
        ],
        "url string, title string, text string, conv_id string, "
        "turn_idx int",
    )
    assert append_batch(spark, extra_df, str(idx), "fz-1",
                        config=CFG) == len(extra)
    stats = refresh_stats(spark, str(idx), config=CFG)

    url_to_id = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(str(idx / "docs")).select(
            "doc_id", "url").collect()
    }
    assert len(url_to_id) == N_DOCS
    model = Model(fixture, url_to_id)
    assert stats["n_docs"] == model.n
    assert stats["avgdl"] == pytest.approx(model.avgdl, rel=1e-12)

    engine = SearchEngine(spark, str(idx), config=CFG)
    reader = LocalIndexReader(str(idx), config=CFG)
    qrng = random.Random(SEED + 21)
    for q in gen_queries(qrng, model)[:10]:
        want = model.match_ids(q)
        assert {r["doc_id"] for r in engine.search(q).collect()} == want, q
        assert set(reader.search(q)["doc_id"].tolist()) == want, q

    pool = [w for w in VOCAB if len(w) > 1]
    for q in [" ".join(qrng.sample(pool, 3)) for _ in range(4)]:
        want = model.bm25(q)
        got = {
            r["doc_id"]: r["score"]
            for r in engine.search_bm25(q, k=N_DOCS + 10).collect()
        }
        assert set(got) == set(want), q
        for d in want:
            assert got[d] == pytest.approx(want[d][0], rel=1e-9), (q, d)
        serve = {
            int(t.doc_id): float(t.score)
            for t in reader.search_bm25(
                q, k=N_DOCS + 10).itertuples(index=False)
        }
        assert serve.keys() == want.keys(), q
        for d in want:
            assert serve[d] == pytest.approx(want[d][0], rel=1e-9), (q, d)


def test_filtered_retrieval_fuzz(fuzz):
    """Metadata-filtered retrieval on the random corpus: Spark
    ``where=`` (title contains w), serve-tier ``allowed_ids``, and the
    model's raw-title substring filter agree — on the parity path AND
    the ranked BM25 path (exhaustive and WAND)."""
    from pyspark.sql import functions as F

    engine, reader, model, _, _ = fuzz
    rng = random.Random(SEED + 30)
    pool = [w for w in VOCAB if len(w) > 1 and w.isascii()]
    for _ in range(6):
        q = " ".join(rng.sample(pool, 2))
        w = rng.choice(pool)
        allowed = {
            model.url_to_id[d["url"]]
            for d in model.fixture if w in d["title"]
        }
        pred = F.col("title").contains(w)
        want = model.match_ids(q) & allowed
        got = {r["doc_id"]
               for r in engine.search(q, where=pred).collect()}
        assert got == want, (q, w)
        got_serve = set(
            reader.search(q, allowed_ids=sorted(allowed))["doc_id"].tolist()
        )
        assert got_serve == want, (q, w)
        # ranked path: same gate before the top-k
        want_bm = {d for d in model.bm25(q) if d in allowed}
        got_bm = {
            r["doc_id"]
            for r in engine.search_bm25(q, k=N_DOCS + 10,
                                        where=pred).collect()
        }
        assert got_bm == want_bm, (q, w)
        got_wand = {
            r["doc_id"]
            for r in engine.search_bm25(q, k=N_DOCS + 10, use_wand=True,
                                        where=pred).collect()
        }
        assert got_wand == want_bm, (q, w)


def test_boolean_fuzz(fuzz):
    """Extended boolean atoms on the random corpus: ``-word`` exclusion
    and ``word*`` prefix checked against the model's token sets."""
    engine, _, model, _, _ = fuzz
    rng = random.Random(SEED + 31)
    pool = [w for w in VOCAB if len(w) > 1 and w.isascii()]
    for _ in range(8):
        pos = rng.sample(pool, 2)
        neg = rng.choice([w for w in pool if w not in pos])
        pre = rng.choice(pool)[:2]
        q = f"{pos[0]} {pos[1]} -{neg} {pre}*"
        want = {
            d for d, toks in model.docs.items()
            if pos[0] in toks and pos[1] in toks and neg not in toks
            and any(t.startswith(pre) for t in toks)
        }
        got = {r["doc_id"] for r in engine.search_boolean(q).collect()}
        assert got == want, q
    # exclusion-only queries are empty by design
    assert engine.search_boolean(f"-{pool[0]}").count() == 0


def test_batch_fuzz_matches_single(fuzz):
    """The fused batch plans must answer EVERY fuzzed query exactly like
    the single-query paths — per-query rows and order — on the random
    corpus (the fixed-fixture batch tests, randomized)."""
    engine, _, model, _, _ = fuzz
    queries = gen_queries(random.Random(SEED + 40), model)[:12]
    batch = engine.search_many(queries)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(queries[r["query_id"]], []).append(r)
    for q in queries:
        want = [
            (r["doc_id"], r["score"], r["title"], r["introduction"],
             r["url"])
            for r in engine.search(q).collect()
        ]
        got = [
            (r["doc_id"], r["score"], r["title"], r["introduction"],
             r["url"])
            for r in by_q.get(q, [])
        ]
        assert got == want, q

    bm_qs = [q for q in queries if '"' not in q][:6]
    bm_batch = engine.search_bm25_many(bm_qs, k=N_DOCS + 10)
    by_q = {}
    for r in bm_batch.collect():
        by_q.setdefault(bm_qs[r["query_id"]], []).append(r)
    for q in bm_qs:
        want = [
            (r["doc_id"], r["score"], r["n_terms"])
            for r in engine.search_bm25(q, k=N_DOCS + 10).collect()
        ]
        got = [
            (r["doc_id"], r["score"], r["n_terms"])
            for r in by_q.get(q, [])
        ]
        assert got == want, q


def test_serve_tier_wand_fuzz(fuzz):
    """Serve-tier Block-Max WAND on the random corpus: bitwise equal to
    the reader's exhaustive BM25 top-k, and score-consistent with the
    model — plain, conjunctive, and allowed_ids-filtered."""
    _, reader, model, _, _ = fuzz
    rng = random.Random(SEED + 50)
    pool = [w for w in VOCAB if len(w) > 1]
    ids = sorted(model.docs)
    for i in range(6):
        q = " ".join(rng.sample(pool, rng.randint(2, 4)))
        conj = i % 3 == 1
        allowed = sorted(rng.sample(ids, 20)) if i % 3 == 2 else None
        kw = dict(k=15, conjunctive=conj, allowed_ids=allowed)
        exhaustive = [tuple(t) for t in
                      reader.search_bm25(q, **kw).itertuples(index=False)]
        wand = [tuple(t) for t in
                reader.wand_topk(q, **kw).itertuples(index=False)]
        assert wand == exhaustive, (q, conj, allowed is not None)
        want = model.bm25(q, conjunctive=conj)
        if allowed is not None:
            want = {d: v for d, v in want.items() if d in set(allowed)}
        for d, score, _n in wand:
            assert score == pytest.approx(want[d][0], rel=1e-9), (q, d)


def test_skewed_corpus_wand_fuzz(spark, tmp_path_factory):
    """Zipf-shaped random corpus (3 head words in ~90% of docs, a long
    synthetic tail) with small blocks so Block-Max WAND actually has
    blocks to rule out: head+tail queries must stay bitwise-equal to
    exhaustive BM25 on BOTH WAND paths (Spark + serve tier), match the
    from-raw-text model, and at least one query must demonstrably prune
    (surviving_blocks < blocks_total) — losslessness is not bought back
    by reading everything. Both paths run one planner
    (operators/block_bounds.py), so they must report the same plan: θ,
    blocks total and blocks surviving."""
    rng = random.Random(SEED + 60)
    heads = ["alpha", "beta", "gamma"]
    tails = [f"t{n}" for n in range(300)]
    fixture = []
    for i in range(150):
        toks = []
        for h in heads:
            if rng.random() < 0.9:
                toks += [h] * rng.randint(1, 4)
        toks += rng.sample(tails, rng.randint(3, 8))
        rng.shuffle(toks)
        fixture.append({
            "url": f"s{i}",
            "title": " ".join(rng.sample(tails, 2)),
            "text": " ".join(toks),
            "rank": i,
        })
    cfg = EngineConfig(score_weights=ScoreWeights(), block_size=16)
    idx = tmp_path_factory.mktemp("fuzz_skew_idx")
    engine = build_fixture_engine(spark, fixture, idx, config=cfg,
                                  segments=2)
    url_to_id = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(str(idx / "docs")).select(
            "doc_id", "url").collect()
    }
    model = Model(fixture, url_to_id)
    reader = LocalIndexReader(str(idx), config=cfg, pin_postings=False)

    pruned_any = 0
    for i in range(6):
        q = f"{rng.choice(heads)} {rng.choice(tails)}"
        want = model.bm25(q)
        exhaustive = [tuple(t) for t in
                      reader.search_bm25(q, k=10).itertuples(index=False)]
        wand = [tuple(t) for t in
                reader.wand_topk(q, k=10).itertuples(index=False)]
        assert wand == exhaustive, q
        s = reader.last_wand_stats
        if s["surviving_blocks"] < s["blocks_total"]:
            pruned_any += 1
        plan = wand_prune_stats(engine, q, k=10)
        for key in ("theta", "blocks_total", "surviving_blocks"):
            assert plan[key] == s[key], (q, key, plan, s)
        for d, score, _n in wand:
            assert score == pytest.approx(want[d][0], rel=1e-9), (q, d)
        sp = wand_topk(engine, q, k=10).collect()
        assert [(r["doc_id"]) for r in sp] == [d for d, _, _ in wand], q
        for r in sp:
            assert r["score"] == pytest.approx(want[r["doc_id"]][0],
                                               rel=1e-9), q
    assert pruned_any > 0, "no query pruned any block on the skewed corpus"


def test_fleet_fuzz_matches_single_reader(fuzz, tmp_path_factory):
    """Fleet coordinator over term-range shard views of the SAME random
    index: every query shape (plain, phrase, mixed, filtered,
    conjunctive) must be frame-identical through 2- and 3-shard fleets
    to the single reader, and BM25 scores must agree with the
    independent model — the fleet merge gets the full differential
    treatment, not just fixed fixtures."""
    from search_engine_spark.serving import FleetReader, make_term_shards

    _, reader, model, rng, idx = fuzz
    root = tmp_path_factory.mktemp("fleet_fuzz")
    fleets = []
    for n in (2, 3):
        try:
            dirs = make_term_shards(idx, str(root / f"s{n}"), n_shards=n)
        except ValueError:
            continue  # fewer postings files than shards — skip width
    # (re-make: keep both widths when possible)
        fleets.append(FleetReader(dirs, config=CFG))
    assert fleets, "index had too few postings files to shard at all"

    queries = gen_queries(rng, model)
    for q in queries:
        want = reader.search(q, max_count=25)
        for fl in fleets:
            assert fl.search(q, max_count=25).equals(want), q

    ids = sorted(model.docs)
    pool = [w for w in VOCAB if len(w) > 1]
    for i in range(8):
        q = " ".join(rng.sample(pool, rng.randint(1, 3)))
        conj = i % 2 == 1
        allowed = sorted(rng.sample(ids, 15)) if i % 4 == 2 else None
        want_pdf = reader.search_bm25(
            q, k=20, conjunctive=conj, allowed_ids=allowed
        )
        want = [tuple(t) for t in want_pdf.itertuples(index=False)]
        model_scores = model.bm25(q, conjunctive=conj)
        for fl in fleets:
            got = [tuple(t) for t in fl.search_bm25(
                q, k=20, conjunctive=conj, allowed_ids=allowed
            ).itertuples(index=False)]
            assert got == want, (q, conj, allowed is not None)
            for d, score, _n in got:
                assert score == pytest.approx(
                    model_scores[d][0], rel=1e-9
                ), (q, d)
