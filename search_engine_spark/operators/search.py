"""Query engine facade: reference-parity conjunctive/phrase search (Q1-Q17)
plus BM25 entry points.

Query lifecycle parity with /root/reference/src/engine.ts:105-151:

1. parse query (driver-side, tiny) — words + quote pairs; stop-filter a
   copy for posting lookups (engine.ts:106-111)
2. candidate generation = the k-way sorted intersection (engine.ts:391-431)
   re-expressed declaratively: postings filtered to the query terms,
   grouped by doc, count == n_terms. Posting lists are unique per
   (term, doc) by construction (per-page dedup at add time,
   engine.ts:65-77), so plain count works and the reference's uniqueArr
   (engine.ts:380-382) is a no-op.
3. phrase predicate (engine.ts:117-125, 250-284): positions of the quoted
   words shifted by -i and intersected — pure Column expressions
   (transform + array_intersect), JVM-side.
4. the intersection cap: the reference always caps candidates at 100
   (engine.ts:134 hardcodes maxCount=100 regardless of the search() arg) —
   after the phrase predicate for multi-word queries; the single-word fast
   path takes the first 100 postings and SKIPS the quote predicate
   (engine.ts:398-404, quirk kept for parity).
5. fetch pages for candidates only (<=100 ids pushed down to the parquet
   scan — the analogue of the reference's per-candidate page fetch), score
   (scoring.py), sort score desc / doc_id asc (engine.ts:234-241), slice
   maxCount, build snippets (snippets.py).
"""

from __future__ import annotations

import json
import os
from collections import OrderedDict
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsio
from ..config import EngineConfig
from ..functions.tokenizer import is_stop_word, tokenize
from .bm25 import LIMIT_MAX
from .index_build import decode_blocks
from .scoring import make_score_intro_udf

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("title", T.StringType()),
        T.StructField("introduction", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)

INTERSECT_CAP = 100  # engine.ts:134

# auto cold_fetch threshold: below this many docs an unpruned broadcast-
# join docs scan is cheaper than the pushdown path's extra driver
# roundtrip + plan compile; above it, row-group pruning wins (and at
# 10^12 docs is the only viable shape)
COLD_FUSED_MAX_DOCS = 10_000_000

# vocabulary cap for pinning (term -> df) on the driver at warm() time:
# above this, per-query BM25 stats fall back to the broadcast join. 2M
# entries is ~100s of MB of Python dict — fine for a serving driver; a
# 100 TB corpus vocabulary (shingle-free word terms) typically still
# fits, but the cap keeps warm() safe if it doesn't.
DRIVER_STATS_CAP = 2_000_000

# distinct metadata predicates whose (doc_id) result frames stay persisted
# per engine snapshot (ids only — bytes/doc, spill-to-disk storage level)
ALLOWED_CACHE_SIZE = 4


class SearchEngine:
    """Read-side engine over an index directory built by
    :func:`..operators.index_build.build_index`."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        config: EngineConfig = EngineConfig(),
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.config = config
        self._load_tables()
        self.corpus_stats = json.loads(
            fsio.read_text(os.path.join(index_dir, "corpus_stats.json"))
        )
        self._warmed = False
        self._term_stats: Optional[DataFrame] = None
        # persisted (doc_id) frames per metadata predicate, LRU-bounded:
        # a filtered query evaluates its docs filter ONCE per engine
        # snapshot, not once per action that consumes it (the WAND seed
        # and final semi-joins would otherwise each re-scan docs), and
        # repeated queries with the same filter reuse the cached ids
        self._allowed_cache: "OrderedDict[str, DataFrame]" = OrderedDict()

    def _load_tables(self) -> None:
        """(Re)list the row-level tables and mask pending tombstones
        (deletes.py); ``postings`` is decoded from ``blocks``. The
        anti-join is against the broadcast tombstone set — deleted docs
        vanish from EVERY query path at once (parity search, BM25, batch,
        and WAND, whose exact-score stage joins ``postings``), while
        term-level stats (term_stats/blocks, df, avgdl) stay as-built
        until compaction applies the deletes physically — Lucene's
        serve-with-deletes contract. Catalyst still pushes per-query term
        filters below the anti-join and the decode into the parquet scans
        (plan-asserted in tests)."""
        from .deletes import read_tombstones

        spark, index_dir = self.spark, self.index_dir
        self.docs = spark.read.parquet(os.path.join(index_dir, "docs"))
        self._block_scan = spark.read.parquet(
            os.path.join(index_dir, "blocks")
        )
        self.term_positions = spark.read.parquet(
            os.path.join(index_dir, "term_positions")
        )
        tomb = read_tombstones(spark, index_dir)
        self._n_tombstones: Optional[int] = None if tomb is not None else 0
        if tomb is not None:
            self._mask = F.broadcast(tomb.select("doc_id"))
            self._tombstones = tomb
            self.docs = self.docs.join(self._mask, "doc_id", "left_anti")
            self.term_positions = self.term_positions.join(
                self._mask, "doc_id", "left_anti"
            )
        else:
            self._mask = None
            self._tombstones = None
        self.postings = self._live_postings(self._block_scan)

    def _live_postings(self, blocks: DataFrame) -> DataFrame:
        """Decoded postings of ``blocks`` minus the tombstoned docs."""
        p = decode_blocks(blocks)
        if self._mask is not None:
            p = p.join(self._mask, "doc_id", "left_anti")
        return p

    def term_stats(self) -> DataFrame:
        """(term, df, max_tf). Cold engines resolve the parquet listing
        fresh per call so a concurrent ``refresh_stats`` overwrite of the
        directory is picked up (serve-while-ingest); ``warm()`` pins a
        snapshot handle instead — a warmed engine deliberately serves the
        snapshot it warmed, re-warm after a refresh to advance."""
        if self._term_stats is not None:
            return self._term_stats
        return self.spark.read.parquet(
            os.path.join(self.index_dir, "term_stats")
        )

    def blocks(self) -> DataFrame:
        """Delta-encoded block-max postings blocks (WAND scale path);
        fresh listing per call, same refresh contract as term_stats
        (warm() pins a handle, matching its term_stats treatment)."""
        if getattr(self, "_blocks", None) is not None:
            return self._blocks
        return self.spark.read.parquet(
            os.path.join(self.index_dir, "blocks")
        )

    def warm(self, pin_docs: bool = True) -> "SearchEngine":
        """Pin the hot index tables in executor memory (MEMORY_AND_DISK)
        and materialize them — the Spark analogue of the reference keeping
        its index resident (memory-storage.ts) / the OS page cache under
        its binary files. Repeated queries then skip the parquet scans.

        What gets pinned is BOUNDED by design:

        - ``postings`` (decoded from ``blocks``) + ``term_positions``
          always — the per-term tables the candidate stage reads.
        - ``docs`` only when ``pin_docs`` (default), and then only the
          4-column projection the scoring/snippet stage needs — never the
          full table.

        100 TB serving story: set ``pin_docs=False``. ``docs`` is the
        dominant table (full token arrays) and cannot be executor-resident
        at that scale; the engine then keeps the reference's
        fetch-after-slice shape — <=100 candidate ids collected and pushed
        into the parquet scan as an IN filter, pruning to a handful of row
        groups. Candidate tables can still be pinned (or, beyond memory,
        served from pruned scans too — queries only ever read the
        query-term slivers of them)."""
        if self._warmed:
            # re-warm advances to the current on-disk snapshot (the
            # term_stats/blocks refresh contract): release every pinned
            # frame and re-list the parquet directories — without this a
            # second warm() re-pins the OLD handles (their file listings
            # are frozen in the DataFrame) and leaks the old caches
            for h in (
                self.postings,
                self.term_positions,
                self._term_stats,
                getattr(self, "_blocks", None),
                getattr(self, "_docs_proj", None),
                *self._allowed_cache.values(),
            ):
                if h is not None:
                    h.unpersist()
            self._allowed_cache.clear()
            self._term_stats = None
            self._blocks = None
            self._docs_proj = None
            self._load_tables()  # re-lists files AND re-reads tombstones
            # scalar stats advance with the snapshot too: BM25 idf/avgdl
            # and count() must see the refreshed corpus, not the one this
            # engine opened on (serve-while-ingest re-warm contract)
            self.corpus_stats = json.loads(
                fsio.read_text(
                    os.path.join(self.index_dir, "corpus_stats.json")
                )
            )
        self.postings = self.postings.persist()
        self.term_positions = self.term_positions.persist()
        # per-term document-frequency stats: one row per term, ~1000x
        # smaller than postings — pinning it means every BM25/WAND query
        # builds its broadcast stats side from executor memory instead of
        # a parquet scan
        self._term_stats = self.term_stats().persist()
        n_vocab = 0
        for df in (self.postings, self.term_positions, self._term_stats):
            n = df.count()
            if df is self._term_stats:
                n_vocab = n
        # vocabulary-sized (term -> df) dict on the driver: BM25 queries
        # then inline idf as literals — zero stats job per query. Bounded
        # by DRIVER_STATS_CAP; beyond it the broadcast-join path remains.
        self._stats_map: Optional[dict] = None
        if n_vocab <= DRIVER_STATS_CAP:
            self._stats_map = {
                r["term"]: int(r["df"])
                for r in self._term_stats.select("term", "df").collect()
            }
            # the blocks table WAND plans from: a pinned snapshot
            # handle, like term_stats
            self._blocks = self.blocks().persist()
            self._blocks.count()
        if pin_docs:
            # pre-partitioned AND pre-sorted on doc_id so the per-query
            # candidates->docs join needs NO docs-side exchange or sort
            # (InMemoryTableScan preserves the cached plan's partitioning
            # and ordering) — the whole warmed query is ONE job with no
            # broadcast-build step. Partition count follows the TABLE
            # (never below the scan's parallelism): collapsing the docs
            # sort into the tiny serve partition count OOMs a small
            # executor at a few million turns and would be catastrophic
            # at scale. The ≤100-row candidates side is what shuffles to
            # match the docs partitioning at join time, not vice versa.
            n_parts = max(
                self._serve_partitions(), self.docs.rdd.getNumPartitions()
            )
            self._docs_proj = (
                self.docs.select("doc_id", "title", "url", "words")
                .repartition(n_parts, "doc_id")
                .sortWithinPartitions("doc_id")
                .persist()
            )
            self._docs_proj.count()
        self._warmed = True
        return self

    def _serve_partitions(self) -> int:
        """Post-shuffle partition count for serving (see serve_mode)."""
        return min(self.spark.sparkContext.defaultParallelism, 8)

    def serve_mode(self, enabled: bool = True) -> "SearchEngine":
        """Low-latency serving knobs (session-wide — call on a session
        dedicated to query serving):

        - AQE off: its stage-by-stage replanning is right for large
          builds but adds a blocking materialization per shuffle, ~20% of
          a small interactive query's wall time.
        - shuffle partitions = min(cluster core count, 8): a query
          shuffles at most a few hundred candidate rows, and a
          build-sized partition count (e.g. 64) without AQE coalescing
          means dozens of task waves per shuffle on a small cluster —
          measured 17s/query on a 2-core executor before this bound.
          The cap at 8 matters on WIDE hosts too: on local[32], 32
          reduce tasks for a 100-row shuffle cost ~180 ms of pure
          scheduling per query (measured p50 592→409 ms conjunctive,
          748→600 ms phrase at 160k turns). Scan-stage parallelism is
          set by the input partitioning and is unaffected.

        Build jobs should keep the defaults; flip back with
        serve_mode(False)."""
        if enabled:
            # capture the build-time conf only on the FIRST enable — a
            # repeated serve_mode(True) must not overwrite the saved
            # values with the already-shrunk serving ones
            if not hasattr(self, "_build_shuffle_partitions"):
                self._build_shuffle_partitions = self.spark.conf.get(
                    "spark.sql.shuffle.partitions"
                )
                self._build_aqe = self.spark.conf.get(
                    "spark.sql.adaptive.enabled"
                )
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            self.spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(self._serve_partitions()),
            )
        else:
            if hasattr(self, "_build_aqe"):
                self.spark.conf.set(
                    "spark.sql.adaptive.enabled", self._build_aqe
                )
                self.spark.conf.set(
                    "spark.sql.shuffle.partitions",
                    self._build_shuffle_partitions,
                )
                del self._build_aqe, self._build_shuffle_partitions
        return self

    # -- Q16 ---------------------------------------------------------------
    def count(self) -> int:
        """Page count (memory-storage.ts:108-110), net of pending
        tombstones. The tombstone count is one tiny-scan job, computed
        lazily and cached for the engine's lifetime (a snapshot, like
        every other handle here — reopen/re-warm to advance)."""
        if self._n_tombstones is None:
            self._n_tombstones = self._tombstones.count()
        return int(self.corpus_stats["n_docs"]) - self._n_tombstones

    # -- Q1-Q15 ------------------------------------------------------------
    def search(
        self, text: str, max_count: int = 100, where=None
    ) -> DataFrame:
        """Reference-parity free-text search. Returns an ordered DataFrame
        (doc_id, score, title, introduction, url), best first.

        ``where`` (beyond the reference): an optional Column predicate
        over the docs table's metadata columns (``title``/``url``) that
        restricts results — e.g. ``F.col("title").startswith(
        "assistant:")`` searches only assistant turns of a transcript
        index (corpus_from_transcripts maps role:tool into the title).
        The predicate gates candidates BEFORE the reference's 100-doc
        intersection cap, so a filtered query still fills ``max_count``
        from the filtered set instead of post-filtering a capped page;
        with ``where=None`` the plan is byte-identical to the parity
        path."""
        words, quotes = tokenize(text)
        lookup = [
            w for w in words if not is_stop_word(w, self.config.stop_words)
        ]
        if not lookup:
            return self.spark.createDataFrame([], RESULT_SCHEMA)
        allowed = self._allowed_ids(where)
        cand = self.candidates(words, quotes, lookup, allowed=allowed)
        pages = self._fetch_pages(cand.select("doc_id"))
        if pages is None:
            return self.spark.createDataFrame([], RESULT_SCHEMA)

        # <=INTERSECT_CAP candidate rows, but they inherit the docs table's
        # partitioning (dozens of partitions) — without this shuffle the
        # Arrow scoring UDF pays a Python-worker task per partition, ~7s
        # per query on a 2-core executor (measured). One 100-row shuffle
        # collapses the UDF stage to a single task; the doc scan itself
        # stays parallel (repartition, NOT coalesce, so the narrow
        # dependency doesn't shrink the scan).
        pages = pages.repartition(1)

        # score (Q8-Q10) + snippet (Q13) in ONE Arrow stage over the <=100
        # candidates; the reference snippets only the top max_count
        # (engine.ts:141-150) but per-row snippet cost is negligible next
        # to a second Python-worker stage, and results are identical
        both = make_score_intro_udf(
            lookup, words, quotes, self.config.score_weights
        )
        scored = pages.withColumn("si", both("title", "url", "words"))
        return (
            scored.select(
                "doc_id",
                F.col("si.score").alias("score"),
                "title",
                F.col("si.introduction").alias("introduction"),
                "url",
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(min(max_count, LIMIT_MAX))
        )

    def _allowed_ids(self, where) -> Optional[DataFrame]:
        """Persisted (doc_id) frame of docs passing the metadata
        predicate ``where`` (a Column or SQL string over any docs
        column — Spark's missing-reference resolution reaches columns
        outside the pinned projection too), or None. Warmed engines
        evaluate it against the pinned docs projection; cold, the
        predicate pushes into the docs parquet scan. The result is
        persisted and LRU-cached per predicate (ALLOWED_CACHE_SIZE):
        every action that consumes it — the WAND seed and final
        semi-joins, repeated queries with the same filter — reads the
        cached ids instead of re-scanning docs. Invalidated on
        re-warm (snapshot advance)."""
        if where is None:
            return None
        key = str(where)  # Column.__str__ is the expression; str is itself
        hit = self._allowed_cache.get(key)
        if hit is not None:
            self._allowed_cache.move_to_end(key)
            return hit
        src = (
            self._docs_proj
            if self._warmed and getattr(self, "_docs_proj", None) is not None
            else self.docs
        )
        out = src.filter(where).select("doc_id").persist()
        self._allowed_cache[key] = out
        while len(self._allowed_cache) > ALLOWED_CACHE_SIZE:
            _, old = self._allowed_cache.popitem(last=False)
            old.unpersist()
        return out

    def _fetch_pages(
        self, cand: DataFrame, ids: Optional[list] = None
    ) -> Optional[DataFrame]:
        """Fetch (doc_id, title, url, words) for a bounded candidate-id
        frame (≤100 parity candidates or ≤k·|queries| ranked ids) — the
        fetch-after-slice contract (engine.ts:141-150). Extra columns on
        ``cand`` (scores, ranks, query ids) ride through the join, so
        callers attach them in the SAME plan instead of a second
        broadcast. ``ids``: the candidate doc_ids when the caller
        already holds them on the driver — lets the pushdown shape skip
        re-collecting a frame whose rows came from a collect in the
        first place. Returns None when the pushdown path has zero ids.

        Three shapes, in cost order at the relevant scale:

        - warmed: merge-join against the docs cache, which warm()
          pre-partitioned and pre-sorted on doc_id — no exchange, no
          docs-side sort, no separate broadcast-build job (measured
          ~10-15% off p50 at 160k turns).
        - cold fused: single compiled plan, candidates broadcast-join
          the docs scan — no driver roundtrip; the docs scan is UNPRUNED
          (a broadcast build can't reach parquet row-group stats), so
          auto mode only picks this below COLD_FUSED_MAX_DOCS.
        - cold pushdown: collect the bounded ids so the fetch is an
          IN-filter PUSHED INTO the parquet scan — on a 100 TB docs
          table this prunes to a handful of row groups."""
        extra = [c for c in cand.columns if c != "doc_id"]
        out_cols = ["doc_id", "title", "url", "words", *extra]
        if self._warmed and getattr(self, "_docs_proj", None) is not None:
            return self._docs_proj.join(cand, "doc_id").select(*out_cols)
        mode = self.config.cold_fetch
        if mode == "auto":
            mode = (
                "fused"
                if int(self.corpus_stats["n_docs"]) <= COLD_FUSED_MAX_DOCS
                else "pushdown"
            )
        if mode == "fused":
            return self.docs.join(F.broadcast(cand), "doc_id").select(
                *out_cols
            )
        if ids is None:
            ids = [r["doc_id"] for r in cand.select("doc_id").collect()]
        if not ids:
            return None
        fetched = self.docs.filter(
            F.col("doc_id").isin(sorted(ids))
        ).select("doc_id", "title", "url", "words")
        if extra:
            fetched = fetched.join(F.broadcast(cand), "doc_id").select(
                *out_cols
            )
        return fetched

    def candidates(
        self,
        words: Sequence[str],
        quotes: Sequence[int],
        lookup: Sequence[str],
        allowed: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Candidate generation = the reference's k-way sorted intersection
        (engine.ts:391-431), capped at INTERSECT_CAP in ascending doc_id
        (= rank) order.

        ``allowed``: optional (doc_id) frame of metadata-eligible docs
        (the ``where`` filter of :meth:`search`); semi-joined BEFORE the
        cap so the cap counts filtered candidates."""
        terms = sorted({w.lower() for w in lookup})
        # postings.term is lowercased at build time (B3) — filtering the
        # raw column keeps the IN-list pushed down into the parquet scan
        # (re-applying lower() here would disable predicate pushdown and
        # force a full postings scan per query)
        p = self.postings.select("doc_id", "term").filter(
            F.col("term").isin(terms)
        )

        if len(lookup) == 1:
            # single-list fast path: first 100 postings, quote predicate
            # SKIPPED (engine.ts:398-404)
            cand = p.select("doc_id")
        elif quotes:
            # fused path: conjunctive membership AND the phrase predicate
            # from ONE aggregation over term_positions — one shuffle where
            # the unfused plan (postings groupBy + positions join +
            # regroup) had three
            cand = self._fused_phrase_candidates(words, quotes, terms)
        else:
            cand = (
                p.groupBy("doc_id")
                .agg(F.count("*").alias("n_terms"))
                .filter(F.col("n_terms") == len(terms))
                .select("doc_id")
            )
        if allowed is not None:
            cand = cand.join(allowed, "doc_id", "left_semi")
        return cand.orderBy("doc_id").limit(INTERSECT_CAP)

    def _fused_phrase_candidates(
        self,
        words: Sequence[str],
        quotes: Sequence[int],
        terms: Sequence[str],
    ) -> DataFrame:
        """Candidate generation + phrase predicate in one aggregation.

        ``term_positions`` indexes EVERY term of a doc (stop words
        included, B6) with one row per (doc_id, term), so conjunctive
        membership over the stop-filtered lookup terms is a count of
        matching rows per doc, and the quoted-adjacency predicate
        (engine.ts:117-125, 250-284) evaluates over per-quoted-term
        aggregate columns — the whole candidate stage is a single pushed
        IN-scan + one groupBy(doc_id).

        The quoted-term positions come out as ONE ``first(when(term=q,
        positions))`` column per quoted term (the quoted-term set is
        query-time-known and tiny), not a collected map of structs:
        measured ~20% faster per phrase query — the map formulation
        built a struct + map per group where a conditional first() is a
        plain columnar pick. ``first`` is deterministic here because
        term_positions has exactly one row per (doc_id, term)."""
        pairs, qterms = _quote_pairs(words, quotes)
        all_terms = sorted(set(terms) | qterms)
        tp = self.term_positions.filter(F.col("term").isin(all_terms))
        aggs = [
            F.count(F.when(F.col("term").isin(list(terms)), 1)).alias(
                "n_match"
            )
        ]
        # position arrays ride the shuffle only for quoted terms —
        # membership terms contribute a count, not data
        col_of: dict[str, str] = {}
        for i, qt in enumerate(sorted(qterms)):
            aggs.append(
                F.first(
                    F.when(F.col("term") == qt, F.col("positions")),
                    ignorenulls=True,
                ).alias(f"_qpos{i}")
            )
            col_of[qt] = f"_qpos{i}"
        agg = tp.groupBy("doc_id").agg(*aggs)
        pred = F.lit(False)
        for qw in pairs:
            pred = pred | _adjacency_expr(col_of, qw)
        return agg.filter(
            (F.col("n_match") == len(terms)) & pred
        ).select("doc_id")

    # -- batch serving (see batch.py) ---------------------------------------
    def search_many(
        self, texts: Sequence[str], max_count: int = 100
    ) -> DataFrame:
        """N reference-parity queries fused into ONE plan — the serving
        shape for throughput: the per-job scheduling floor amortizes to
        job_time / N per query. Per-query rows (and order) are identical
        to calling :meth:`search` N times (tested)."""
        from .batch import search_many

        return search_many(self, texts, max_count=max_count)

    def search_bm25_many(
        self, texts: Sequence[str], k: int = 10, conjunctive: bool = False,
        with_results: bool = False,
    ) -> DataFrame:
        """Batch BM25 top-k — one fused plan for the whole query set;
        ``with_results`` appends the (title, introduction, url)
        projection batch-wide (see batch.bm25_many)."""
        from .batch import bm25_many

        return bm25_many(
            self, texts, k=k, conjunctive=conjunctive,
            with_results=with_results,
        )

    # -- extended boolean syntax (see boolean.py) ----------------------------
    def search_boolean(self, text: str, max_count: int = 100) -> DataFrame:
        """Extended boolean filter: ``word`` (AND), ``-word`` (AND NOT),
        ``word*`` (prefix). Returns (doc_id, title, url) in candidate
        order (doc_id asc); compose with :meth:`search_bm25` for ranked
        retrieval. One pushed postings scan + one aggregation — the
        exclusion and prefix atoms add no extra passes."""
        from .boolean import search_boolean

        return search_boolean(self, text, max_count=max_count)

    # -- did-you-mean -------------------------------------------------------
    def suggest(self, text: str, max_dist: int = 2, k: int = 3) -> DataFrame:
        """Spell suggestions for every query term against the INDEX
        vocabulary (term_stats): (query_term, rank, suggestion, dist,
        df), best first per term — dist 0 means the term is spelled
        correctly. Candidates come from a SymSpell depth-2
        deletion-neighborhood equi-join (functions/suggest.py) and are
        verified with JVM ``levenshtein``, so the result equals brute
        force without an all-vocab nested loop: the vocab side is |V|·L²
        variant rows built from the term_stats table (|V| rows, ~1000×
        smaller than postings), the query side a broadcast handful."""
        words, _ = tokenize(text)
        terms = sorted({w.lower() for w in words if len(w) >= 2})
        out_schema = (
            "query_term string, rank long, suggestion string, "
            "dist long, df long"
        )
        if not terms:
            return self.spark.createDataFrame([], out_schema)
        from ..functions.suggest import deletion_variants

        vocab = self.term_stats().select("term", "df")
        vocab_var = vocab.select(
            "term", "df", F.explode(deletion_variants("term")).alias("variant")
        )
        qs = self.spark.range(1).select(
            F.explode(F.array(*[F.lit(t) for t in terms])).alias("query_term")
        )
        q_var = qs.select(
            "query_term",
            F.explode(deletion_variants("query_term")).alias("variant"),
        )
        cand = (
            vocab_var.join(F.broadcast(q_var), "variant")
            .select("query_term", "term", "df")
            .distinct()
            .withColumn(
                "dist", F.levenshtein("query_term", "term").cast("long")
            )
            .filter(F.col("dist") <= max_dist)
        )
        from pyspark.sql import Window

        ranked = cand.withColumn(
            "rank",
            F.row_number()
            .over(
                Window.partitionBy("query_term").orderBy(
                    F.asc("dist"), F.desc("df"), F.asc("term")
                )
            )
            .cast("long"),
        )
        return (
            ranked.filter(F.col("rank") <= k)
            .select(
                "query_term", "rank", F.col("term").alias("suggestion"),
                "dist", F.col("df").cast("long").alias("df"),
            )
            .orderBy("query_term", "rank")
        )

    def _known_terms(self, terms: Sequence[str]) -> set:
        """Subset of ``terms`` present in the index vocabulary. Free on a
        warmed engine (driver-pinned stats map); one tiny pushed-IN scan
        of term_stats (|query| rows) otherwise."""
        if self._warmed and getattr(self, "_stats_map", None) is not None:
            return {t for t in terms if t in self._stats_map}
        rows = (
            self.term_stats()
            .select("term")
            .filter(F.col("term").isin(list(terms)))
            .collect()
        )
        return {r["term"] for r in rows}

    def search_fuzzy(
        self, text: str, max_count: int = 100, max_dist: int = 2
    ) -> tuple[str, DataFrame]:
        """Typo-tolerant search (beyond the reference): query terms
        missing from the index vocabulary are replaced by their best
        spell suggestion (:meth:`suggest` — SymSpell deletion
        neighborhood + levenshtein verify), then the corrected query runs
        through the parity :meth:`search` path. Returns
        ``(corrected_text, results)`` so callers can surface the
        "showing results for …" banner.

        Known-term queries pass through untouched (zero extra jobs on a
        warmed engine — vocabulary membership is a driver dict lookup).
        Phrase queries are NEVER auto-corrected: rewriting a word inside
        quotes silently changes adjacency semantics. Unknown terms with
        no suggestion within ``max_dist`` stay as typed, so a conjunctive
        query honestly returns no hits instead of guessing."""
        words, quotes = tokenize(text)
        lookup = [
            w for w in words if not is_stop_word(w, self.config.stop_words)
        ]
        terms = sorted({w.lower() for w in lookup})
        if quotes or not terms:
            return text, self.search(text, max_count=max_count)
        unknown = sorted(set(terms) - self._known_terms(terms))
        if not unknown:
            return text, self.search(text, max_count=max_count)
        sugg = self.suggest(
            " ".join(unknown), max_dist=max_dist, k=1
        ).collect()
        fix = {
            r["query_term"]: r["suggestion"] for r in sugg if r["dist"] > 0
        }
        if not fix:
            # nothing correctable: return the ORIGINAL text (a rejoin of
            # tokenized words would falsely read as an auto-correction)
            return text, self.search(text, max_count=max_count)
        corrected = " ".join(fix.get(w.lower(), w) for w in words)
        return corrected, self.search(corrected, max_count=max_count)

    # -- more-like-this -------------------------------------------------------
    def more_like_this(
        self, doc_id: int, n_terms: int = 5, k: int = 10
    ) -> DataFrame:
        """Documents similar to ``doc_id`` (Lucene MLT shape): the seed
        document's top-``n_terms`` terms by tf·idf become a disjunctive
        query ranked by the summed idf of shared terms.
        ``mining_extras.q_more_like_this`` is the corpus-level
        oracle-checked twin; this rides the persisted index.

        Scale shape mirrors the reference's fetch-after-slice contract:
        the seed's postings collect to the driver (bounded by ONE
        document's vocabulary — postings are stop-filtered at build), idf
        comes from the warm() driver vocab map when present (zero stats
        job) or one pruned term_stats scan cold, and the candidate pass
        is a single pushed ``term IN (...)`` postings scan + one
        aggregation — the same plan family as search()/BM25."""
        import math

        n_docs = float(self.corpus_stats["n_docs"])
        # doc_id is decoded, not stored: the block range keeps it pruned
        seed_rows = (
            self._live_postings(
                self._block_scan.filter(
                    (F.col("first_doc") <= doc_id)
                    & (F.col("max_doc") >= doc_id)
                )
            )
            .filter(F.col("doc_id") == doc_id)
            .select("term", "tf")
            .collect()
        )
        if not seed_rows:
            return self.spark.createDataFrame(
                [], "doc_id long, mlt_score double, n_shared long"
            )
        stats_map = getattr(self, "_stats_map", None)
        if stats_map is not None:
            df_of = {
                t: stats_map[t]
                for t in (r["term"] for r in seed_rows)
                if t in stats_map
            }
        else:
            doc_terms = sorted({r["term"] for r in seed_rows})
            df_of = {
                r["term"]: int(r["df"])
                for r in self.term_stats()
                .filter(F.col("term").isin(doc_terms))
                .select("term", "df")
                .collect()
            }
        # serve-while-ingest: a segment written before its stats refresh
        # has postings for terms that term_stats doesn't know yet — skip
        # those (no idf = unscorable), mirroring BM25's join semantics
        # instead of crashing
        scored = sorted(
            (
                (r["term"], r["tf"] * math.log(n_docs / df_of[r["term"]]))
                for r in seed_rows
                if r["term"] in df_of
            ),
            key=lambda t: (-t[1], t[0]),
        )
        if not scored:
            return self.spark.createDataFrame(
                [], "doc_id long, mlt_score double, n_shared long"
            )
        seed = {t: math.log(n_docs / df_of[t]) for t, _ in scored[:n_terms]}

        # map LITERAL, not a nested WHEN chain: plan depth stays constant
        # in n_terms (NOTES.md decision #6 — the WHEN shape costs
        # O(n_terms) codegen depth). Every row of p passes the isin
        # filter, so the lookup can't miss; coalesce guards the contract
        # anyway.
        idf_map = F.create_map(
            *[F.lit(x) for t in sorted(seed) for x in (t, float(seed[t]))]
        )
        idf_col = F.coalesce(idf_map[F.col("term")], F.lit(0.0))
        p = self.postings.filter(
            F.col("term").isin(sorted(seed)) & (F.col("doc_id") != doc_id)
        )
        return (
            p.groupBy("doc_id")
            .agg(
                F.round(F.sum(idf_col), 6).alias("mlt_score"),
                F.count(F.lit(1)).cast("long").alias("n_shared"),
            )
            .orderBy(F.desc("mlt_score"), F.asc("doc_id"))
            .limit(k)
        )

    # -- BM25 (scale path; see bm25.py / wand.py) ---------------------------
    def search_bm25(self, text: str, k: int = 10, conjunctive: bool = False,
                    use_wand: bool = False, where=None,
                    with_results: bool = False) -> DataFrame:
        """Ranked BM25 top-k (exhaustive by default, block-max WAND with
        ``use_wand`` — results identical, tested).

        ``where``: optional metadata Column predicate over the docs
        table (title/url), same contract as :meth:`search` — candidates
        are gated BEFORE the top-k (semi-join on the filtered doc-id
        set), so a filtered query fills k from the filtered set; scores
        keep full-corpus statistics.

        ``with_results``: project the reference's user-facing result
        shape onto the ranked ids — (doc_id, score, n_terms, title,
        introduction, url) like ``SearchResult``
        (/root/reference/src/engine.ts:141-150,
        src/@types/index.d.ts:18-22) with the BM25 score in place of
        the heuristic one. Composes the existing fetch-after-slice +
        snippet Arrow stage over the ≤k ranked ids, so the projection
        adds one bounded fetch regardless of corpus size."""
        from .bm25 import bm25_topk
        from .wand import wand_topk

        allowed = self._allowed_ids(where)
        if use_wand:
            ranked = wand_topk(
                self, text, k=k, conjunctive=conjunctive, allowed=allowed
            )
        else:
            ranked = bm25_topk(
                self, text, k=k, conjunctive=conjunctive, allowed=allowed
            )
        if with_results:
            return self._project_results(ranked, text)
        return ranked

    def _project_results(self, ranked: DataFrame, text: str) -> DataFrame:
        """Attach (title, introduction, url) to a ranked ≤k-row
        (doc_id, score, n_terms) frame — the fetch-after-slice shape:
        only the already-sliced ids are fetched, so the projection cost
        is O(k) pages at any corpus size.

        Warmed: stays ONE plan — ranked merge-joins the pinned docs
        projection (no collect). Cold: the ranked rows collect (≤k, the
        slice already happened) so the page fetch reuses
        :meth:`_fetch_pages`'s pushdown/fused shapes without recomputing
        the ranking, and the scores rejoin from a k-row literal frame.
        The snippet comes from the same Arrow stage as :meth:`search`
        (scoring.make_score_intro_udf), keeping the reference's snippet
        quirks; the BM25 score is kept, the heuristic one discarded."""
        out_cols = [
            "doc_id", "score", "n_terms", "title",
            F.col("si.introduction").alias("introduction"), "url",
        ]
        empty = (
            "doc_id long, score double, n_terms long, title string, "
            "introduction string, url string"
        )
        words, quotes = tokenize(text)
        lookup = [
            w for w in words if not is_stop_word(w, self.config.stop_words)
        ]
        if self._warmed and getattr(self, "_docs_proj", None) is not None:
            pages = self._docs_proj.join(ranked, "doc_id").select(
                "doc_id", "score", "n_terms", "title", "url", "words"
            )
        else:
            rows = ranked.collect()
            if not rows:
                return self.spark.createDataFrame([], empty)
            lit = self.spark.createDataFrame(
                [
                    (int(r["doc_id"]), float(r["score"]), int(r["n_terms"]))
                    for r in rows
                ],
                "doc_id long, score double, n_terms long",
            )
            # scores/n_terms ride through the fetch join (one broadcast,
            # no re-collect of ids already on the driver)
            pages = self._fetch_pages(
                lit, ids=[int(r["doc_id"]) for r in rows]
            ).select("doc_id", "score", "n_terms", "title", "url", "words")
        # one ≤k-row shuffle so the Arrow stage is a single task (same
        # rationale as search())
        pages = pages.repartition(1)
        both = make_score_intro_udf(
            lookup, words, quotes, self.config.score_weights
        )
        return (
            pages.withColumn("si", both("title", "url", "words"))
            .select(*out_cols)
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )


def _quote_pairs(
    words: Sequence[str], quotes: Sequence[int]
) -> tuple[list[list[str]], set[str]]:
    """Expand flat [start, end) quote-index pairs (B2) into the quoted
    word sequences plus the set of lowercased terms they touch."""
    pairs: list[list[str]] = []
    qterms: set[str] = set()
    for i in range(0, len(quotes), 2):
        end = quotes[i + 1] if i + 1 < len(quotes) else None
        qw = list(words[quotes[i]:end])
        pairs.append(qw)
        qterms.update(w.lower() for w in qw)
    return pairs, qterms


def _adjacency_expr(col_of: dict, quoted_words: Sequence[str]):
    """size(fold(array_intersect, shift(positions_i, -i))) > 0, where
    positions_i is the aggregate column ``col_of[word_i]``."""
    if not quoted_words:
        return F.lit(False)
    empty = F.array().cast("array<int>")

    def shift(arr, offset: int):
        # NB: a two-arg lambda would be treated as (element, index) by
        # F.transform — keep it single-arg and close over the offset
        return F.transform(arr, lambda x: x - F.lit(offset))

    shifted = [
        shift(F.coalesce(F.col(col_of[w.lower()]), empty), i)
        for i, w in enumerate(quoted_words)
    ]
    return F.size(reduce(F.array_intersect, shifted)) > 0
