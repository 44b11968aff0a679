"""The benchmark's two closed-loop workloads.

Each workload is driven by one client on one driver thread: it sends
its next operation only after the previous one has completed. A
workload has four parts:

- ``generate()`` writes the inputs from the seed (NumPy + Arrow only);
  per-operation inputs are generated on first use, in operation order,
  so they too depend on nothing but the seed;
- ``prepare(spark, work)`` builds the program state the operations run
  against, through the program's own API, inside ``work``;
- ``run_op(spark, op)`` performs one operation; operations come from
  ``ops()``, a seeded sequence that is the same for every run of a seed;
- ``verify(spark)`` checks the outputs after the timed loop and returns
  one line per mismatch.

Operations come in rounds in which every kind of the workload's mix
appears once, so every run times the same composition and a median
over a run compares across seeds.

``warehouse_reads`` holds every read-only operation: reference
rollups, star joins and windows, versioned reads, and the corpus
operations (curation funnel, MinHash LSH near-duplicate detection, IVF
top-k search); ``incremental_sync`` holds the operation that lands data.
README.md says why corpus curation is not a workload of its own.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import json
import math
import os
import re
import time

import numpy as np
import pyarrow as pa

import inputs

from end_to_end_database_pipeline_project_spark.plans import ORACLES, QUERIES
from end_to_end_database_pipeline_project_spark.plans import load_all  # noqa: F401
from end_to_end_database_pipeline_project_spark.sources import versioned
from end_to_end_database_pipeline_project_spark.sources.catalog import TABLES, load_table


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _load(spark, path: str):
    """A generated parquet file through the engine's catalog, which
    reads the fixtures' nanosecond and zone-less timestamps."""
    name = os.path.basename(path)[: -len(".parquet")]
    return load_table(spark, os.path.dirname(path), name)


def _data_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``. Manifests are
    left out: they carry commit timestamps, so their size is not a
    function of the data."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _frame_diff(name: str, got, want) -> list[str]:
    """Order-insensitive comparison of two pandas frames. Floats compare
    to 1.5e-6: the engines sum in different orders, and where both round
    to 6 decimals (the registered oracles) a value on a rounding tie may
    differ by one unit in the 6th decimal. The rest compare by their
    string form."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    cols = sorted(want.columns, key=lambda c: (want[c].dtype.kind == "f", c))

    def canon(df):
        key = df[cols].apply(
            lambda c: c.round(3) if c.dtype.kind == "f" else c.astype(str)
        )
        return df.loc[key.sort_values(cols, kind="mergesort").index, cols].reset_index(
            drop=True
        )

    g, w = canon(got), canon(want)
    if len(g) != len(w):
        return [f"{name}: {len(g)} rows, expected {len(w)}"]
    errs = []
    for c in cols:
        if g[c].dtype.kind in "fiu" and w[c].dtype.kind in "fiu":
            ok = np.isclose(g[c].astype(float), w[c].astype(float), rtol=0, atol=1.5e-6)
        else:
            ok = (g[c].astype(str) == w[c].astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            errs.append(f"{name}.{c}: {int((~ok).sum())} diffs, first "
                        f"{g[c].iloc[i]!r} != {w[c].iloc[i]!r}")
    return errs


class Workload:
    name = ""

    def __init__(self, seed: int, data_dir: str, tracer) -> None:
        self.seed = seed
        self.data_dir = data_dir
        self.tracer = tracer

    def counters(self) -> dict[str, float]:
        """Metrics this workload measures besides spans and Spark's
        accounting."""
        return {}


# ------------------------------------------------------------------ ANN truth

EMB_VECTORS = 500
ANN_K = 10
ANN_QUERIES_PER_OP = 8
ANN_QUERY_POOL = 100
ANN_CENTROIDS = 10
ANN_NPROBE = 2


class AnnTruth:
    """Brute-force cosine top-k over the embeddings window, and the IVF
    assignment the program should reproduce: nearest of the window's
    first ``ANN_CENTROIDS`` vectors, lowest centroid id on ties. Vectors
    are addressed by ``vec_id``; the window's ids are consecutive from
    ``base``."""

    def __init__(self, emb: pa.Table, seed: int) -> None:
        self.base = emb.column("vec_id")[0].as_py()
        flat = emb.column("embedding").combine_chunks().flatten().to_numpy()
        vec = flat.reshape(-1, inputs.EMB_DIM).astype(np.float64)
        unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
        self.cos = unit @ unit.T
        self.cluster = np.argmax(self.cos[:, :ANN_CENTROIDS], axis=1)
        self.pool = self.base + np.sort(
            np.random.default_rng([seed, 31]).choice(
                len(vec), ANN_QUERY_POOL, replace=False
            )
        )

    def topk(self, q: int, candidates: np.ndarray) -> list[int]:
        i = q - self.base
        c = candidates[candidates != i]
        return (self.base + c[np.lexsort((c, -self.cos[i, c]))[:ANN_K]]).tolist()

    def probed(self, q: int) -> np.ndarray:
        """Window indices in the ``ANN_NPROBE`` clusters query ``q`` probes."""
        i = q - self.base
        cent = np.lexsort((np.arange(ANN_CENTROIDS), -self.cos[i, :ANN_CENTROIDS]))
        return np.flatnonzero(np.isin(self.cluster, cent[:ANN_NPROBE]))

    def check(self, q: int, rows: list) -> str | None:
        """``rows`` (ranked) must be the brute-force top-k over the
        probed clusters; neighbours whose cosines tie to 1e-6 may swap."""
        probed = self.probed(q)
        want = self.topk(q, probed)
        got = [r["neighbor_id"] for r in rows]
        if got == want:
            return None
        i = q - self.base
        ok = len(got) == len(want) and set(got) <= set((self.base + probed).tolist())
        for r, w in zip(rows, want):
            n = r["neighbor_id"] - self.base
            ok = ok and abs(r["cosine"] - self.cos[i, n]) < 2e-6
            ok = ok and abs(self.cos[i, n] - self.cos[i, w - self.base]) < 2e-6
        return None if ok else f"ANN query {q}: {got} != {want}"

    def hits(self, q: int, got: set) -> int:
        return len(got & set(self.topk(q, np.arange(len(self.cos)))))


# ------------------------------------------------------------ warehouse_reads

#: the mix, one op of each kind per round in this fixed order: two
#: reference rollups, star joins and windows, a versioned read (latest,
#: pruned or as-of), and the three corpus operations. The seed draws
#: each op's arguments; the order is fixed because the first execution
#: of a kind in a session pays for compiling its plans, and a seeded
#: order would move that cost between kinds from run to run. The
#: funnel, the slowest kind, goes first: the first op of a session also
#: pays for what no later op repeats, and that varies from run to run.
QUERY_KINDS = [
    "daily_weather_rollup",
    "hourly_dedup_agg",
    "pricing_summary",
    "regional_revenue",
    "top_orders_per_customer",
    "market_share",
]
MIX = [
    "curation_funnel",
    "daily_weather_rollup",
    "pricing_summary",
    "regional_revenue",
    "lsh_neardup",
    "hourly_dedup_agg",
    "orders_read",
    "market_share",
    "ann_topk",
    "top_orders_per_customer",
]
#: registered queries checked against their oracle after each run
ORACLE_CHECKS = 2
#: orders committed as one full snapshot plus this many appends
ORDER_APPENDS = 1
#: seeded document batches the corpus operations draw from
DOC_BATCHES = 6
BATCH_DOCS = 250
CORPUS_DOCS = 1000


class WarehouseReads(Workload):
    """Read-only operations: a registered query or versioned read to a
    noop sink, or a corpus operation whose small answer (funnel ledger,
    near-duplicate pairs, top-k neighbours) is collected to the driver
    and checked after the run. Loads ``plans``, ``sources.catalog``
    scans, shuffles, the versioned read path, ``streaming.curation``
    and ``operators.bloom``/``dedup``/``similarity``; it bypasses
    commits, ``kv_sink`` and the Python workers."""

    name = "warehouse_reads"
    round_ops = len(MIX)

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.data_dir, "sf")
        tables = inputs.warehouse_tables(self.seed)
        for name, t in tables.items():
            inputs.write_parquet(t, os.path.join(self.sf_dir, f"{name}.parquet"))
        orders = tables["orders"]
        n_base = orders.num_rows * 4 // 5
        step = -(-(orders.num_rows - n_base) // ORDER_APPENDS)
        self.order_slices = [os.path.join(self.data_dir, "orders_v0.parquet")]
        inputs.write_parquet(orders.slice(0, n_base), self.order_slices[0])
        for i in range(ORDER_APPENDS):
            p = os.path.join(self.data_dir, f"orders_v{i + 1}.parquet")
            inputs.write_parquet(orders.slice(n_base + i * step, step), p)
            self.order_slices.append(p)
        emb = inputs.embeddings(self.seed, EMB_VECTORS)
        self.emb_file = os.path.join(self.data_dir, "embeddings.parquet")
        inputs.write_parquet(emb, self.emb_file)
        self.ann = AnnTruth(emb, self.seed)
        # the standing corpus is a seeded sample of the fixture documents;
        # batches take fixture documents from the rest, in seeded order
        rng = np.random.default_rng([self.seed, 12])
        docs = inputs.read("documents").select(["doc_id", "text"])
        perm = rng.permutation(docs.num_rows)
        corpus = docs.take(np.sort(perm[:CORPUS_DOCS]))
        self.corpus_file = os.path.join(self.data_dir, "corpus.parquet")
        inputs.write_parquet(corpus, self.corpus_file)
        texts = corpus.column("text").to_pylist()
        corpus_set = set(texts)
        pool = docs.column("text").take(perm[CORPUS_DOCS:]).to_pylist()
        self.doc_files, self.new_docs, self.planted, self.batch_texts = [], [], [], []
        for b in range(DOC_BATCHES):
            # 5-15% exact and 5-15% near copies of the corpus, 2-6% of
            # the batch in near-duplicate pairs
            exact, near, pairs = (
                int(rng.integers(lo * BATCH_DOCS, hi * BATCH_DOCS + 1))
                for lo, hi in ((0.05, 0.15), (0.05, 0.15), (0.02, 0.06))
            )
            t, planted = inputs.document_batch(
                rng, texts, pool, 1_000_000 + b * BATCH_DOCS, BATCH_DOCS, exact, near, pairs
            )
            pool = pool[BATCH_DOCS - exact - near - pairs :]
            p = os.path.join(self.data_dir, "documents", f"docs-{b}.parquet")
            inputs.write_parquet(t, p)
            self.doc_files.append(p)
            # the fixture holds a few repeated texts, so count rather
            # than assume which batch docs the corpus already has
            self.new_docs.append(sum(x not in corpus_set for x in t.column("text").to_pylist()))
            self.planted.append(planted)
            self.batch_texts.append(
                dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
            )

    def prepare(self, spark, work: str) -> None:
        from end_to_end_database_pipeline_project_spark.operators.bloom import build_bloom
        from end_to_end_database_pipeline_project_spark.streaming.curation import featurize

        self.orders_path = os.path.join(work, "orders_versioned")
        for i, src in enumerate(self.order_slices):
            commit = versioned.write_version if i == 0 else versioned.append_version
            commit(_load(spark, src), self.orders_path, stats_cols=("o_orderdate",))
        self.commit_times = [
            e["committed_at"] for e in versioned.versions(self.orders_path)
        ]
        # the standing corpus: exact-verify keys and the Bloom words table
        corpus = featurize(_load(spark, self.corpus_file))
        self.corpus_keys = corpus.select("content_hash").localCheckpoint()
        self.bloom = build_bloom(self.corpus_keys, "content_hash").localCheckpoint()
        self.answers: list[tuple] = []

    def ops(self):
        rng = np.random.default_rng([self.seed, 10])
        for i in itertools.count():
            kind = MIX[i % len(MIX)]
            if kind == "orders_read":
                variant = ["latest", "prune", "as_of"][int(rng.integers(0, 3))]
                if variant == "prune":
                    y = int(rng.integers(1995, 2001))
                    yield (kind, (variant, f"{y}-01-01", f"{y}-12-31"))
                elif variant == "as_of":
                    yield (kind, (variant, int(rng.integers(0, ORDER_APPENDS))))
                else:
                    yield (kind, (variant,))
            elif kind == "ann_topk":
                q = rng.choice(self.ann.pool, ANN_QUERIES_PER_OP, replace=False)
                yield (kind, sorted(int(x) for x in q))
            elif kind in ("lsh_neardup", "curation_funnel"):
                yield (kind, int(rng.integers(0, DOC_BATCHES)))
            else:
                yield (kind, None)

    def _read(self, spark, variant: tuple):
        if variant[0] == "prune":
            lo, hi = (dt.datetime.fromisoformat(s) for s in variant[1:])
            return versioned.read_version(
                spark, self.orders_path, prune=("o_orderdate", lo, hi)
            )
        if variant[0] == "as_of":
            return versioned.read_version(
                spark, self.orders_path, as_of=self.commit_times[variant[1]]
            )
        return versioned.read_version(spark, self.orders_path)

    def run_op(self, spark, op) -> None:
        from pyspark.sql import functions as F

        from end_to_end_database_pipeline_project_spark.operators import dedup, similarity

        kind, arg = op
        t = self.tracer
        if kind in QUERIES:
            with t.span("plans.build"):
                df = QUERIES[kind](spark, self.sf_dir)
            with t.span("plans.execute"):
                _noop(df)
        elif kind == "ann_topk":
            emb = _load(spark, self.emb_file).select("vec_id", "embedding")
            cents = emb.where(F.col("vec_id") < self.ann.base + ANN_CENTROIDS)
            queries = spark.createDataFrame([(q,) for q in arg], "vec_id long")
            with t.span("similarity.ann"):
                rows = similarity.ivf_topk(
                    emb, cents, queries, k=ANN_K, nprobe=ANN_NPROBE
                ).collect()
            self.answers.append((kind, arg, rows))
            if t.enabled:
                # with k past any cluster's size the program keeps every
                # (query, neighbour) pair its probe scored
                with t.extra():
                    scored = similarity.ivf_topk(
                        emb, cents, queries, k=EMB_VECTORS, nprobe=ANN_NPROBE
                    ).count()
                t.count("similarity.ann_scored_per_query", scored / len(arg))
        elif kind == "curation_funnel":
            self._curate(spark, arg)
        elif kind == "lsh_neardup":
            docs = _load(spark, self.doc_files[arg])
            with t.span("dedup.lsh"):
                pairs = dedup.minhash_lsh_dedup(docs).collect()
            self.answers.append((kind, arg, pairs))
            if t.enabled:
                with t.extra():
                    cands = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs)).count()
                t.count("dedup.lsh_candidate_pairs", cands)
                t.count("dedup.lsh_precision", len(pairs) / max(cands, 1))
        else:
            with t.span("versioned.read"):
                _noop(self._read(spark, arg))

    def _curate(self, spark, b: int) -> None:
        from pyspark.sql import functions as F

        from end_to_end_database_pipeline_project_spark.operators.bloom import probe_bloom
        from end_to_end_database_pipeline_project_spark.streaming.curation import (
            curation_funnel,
            featurize,
        )

        t = self.tracer
        batch = _load(spark, self.doc_files[b])
        with t.span("curation.funnel"):
            ledger = curation_funnel(batch, self.corpus_keys, self.bloom).collect()
        self.answers.append(("curation_funnel", b, ledger))
        if t.enabled:
            admitted = next(r["n_docs"] for r in ledger if r["stage"] == "d_budget")
            t.count("curation.admitted_frac", admitted / BATCH_DOCS)
            with t.extra():
                maybe = (
                    probe_bloom(featurize(batch), self.bloom, "content_hash", "doc_id")
                    .where(F.col("maybe_dup"))
                    .count()
                )
            t.count("bloom.maybe_dup_frac", maybe / BATCH_DOCS)
            t.count(
                "bloom.false_positive_frac",
                (maybe - (BATCH_DOCS - self.new_docs[b])) / max(maybe, 1),
            )

    def counters(self) -> dict[str, float]:
        hit = total = 0
        for kind, arg, rows in self.answers:
            if kind != "ann_topk":
                continue
            for q in arg:
                hit += self.ann.hits(q, {r["neighbor_id"] for r in rows if r["query_id"] == q})
                total += ANN_K
        return {"ann_recall_at_k": hit / total if total else 0.0}

    def verify(self, spark) -> list[str]:
        """Registered queries against their DuckDB oracles (a seeded
        ``ORACLE_CHECKS`` of them a run, to fit the run's time; every
        one is checked across a set of seeds), versioned reads against
        the committed input slices, and every corpus answer of the run
        (funnel ledgers, LSH pairs, ANN neighbours)."""
        import duckdb

        errs = []
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        rng = np.random.default_rng([self.seed, 13])
        for name in rng.choice(QUERY_KINDS, ORACLE_CHECKS, replace=False):
            got = QUERIES[name](spark, self.sf_dir).toPandas()
            want = con.sql(ORACLES[name]).df()
            errs += _frame_diff(name, got, want)
        for variant in [("latest",), ("prune", "1997-01-01", "1997-12-31"), ("as_of", 0)]:
            files, where = self.order_slices, "TRUE"
            if variant[0] == "as_of":
                files = files[: variant[1] + 1]
            if variant[0] == "prune":
                where = (f"o_orderdate BETWEEN TIMESTAMP '{variant[1]}' "
                         f"AND TIMESTAMP '{variant[2]}'")
            want = con.sql(
                "SELECT count(*), sum(o_orderkey), round(sum(o_totalprice), 2) "
                f"FROM read_parquet({files!r}) WHERE {where}"
            ).fetchone()
            got = (
                self._read(spark, variant)
                .selectExpr("count(*)", "sum(o_orderkey)", "round(sum(o_totalprice), 2)")
                .collect()[0]
            )
            if tuple(got[:2]) != want[:2] or abs(got[2] - want[2]) > 0.01:
                errs.append(f"orders {variant}: spark={tuple(got)} duckdb={want}")
        for kind, arg, rows in self.answers:
            if kind == "ann_topk":
                for q in arg:
                    ranked = sorted(
                        (r for r in rows if r["query_id"] == q), key=lambda r: r["rank"]
                    )
                    e = self.ann.check(q, ranked)
                    if e:
                        errs.append(e)
            elif kind == "curation_funnel":
                errs += _check_ledger(arg, rows, self.new_docs[arg])
            else:
                errs += _check_lsh(arg, rows, self.batch_texts[arg], self.planted[arg])
        return errs


def minhash_lsh_pairs(texts: dict[int, str]) -> dict[tuple[int, int], float]:
    """What ``operators.dedup.minhash_lsh_dedup`` specifies for these
    documents, computed in NumPy: distinct lower-cased word 3-shingles;
    16 MinHash components, component i the least md5 hex digest of
    ``"i|shingle"``; a pair is a candidate when all 4 components of one
    of the 4 bands agree, and is kept when at least half of the 16
    agree. Returns ``{(doc_a, doc_b): estimated Jaccard}``, doc_a < doc_b."""
    from end_to_end_database_pipeline_project_spark.operators.dedup import (
        LSH_BANDS,
        MINHASH_SEEDS,
    )

    ids = sorted(texts)
    sigs = []
    for d in ids:
        words = re.split(r"\s+", texts[d].strip(" ").lower())
        grams = {" ".join(words[i : i + 3]) for i in range(max(len(words) - 2, 1))}
        sigs.append(
            [
                min(hashlib.md5(f"{i}|{g}".encode()).hexdigest() for g in grams)
                for i in range(MINHASH_SEEDS)
            ]
        )
    sig = np.array(sigs)
    eq = sig[:, None, :] == sig[None, :, :]
    rows = MINHASH_SEEDS // LSH_BANDS
    banded = eq.reshape(len(ids), len(ids), LSH_BANDS, rows).all(axis=3).any(axis=2)
    est = eq.sum(axis=2) / MINHASH_SEEDS
    a, b = np.nonzero(np.triu(banded & (est >= 0.5), k=1))
    return {(ids[i], ids[j]): round(float(est[i, j]), 6) for i, j in zip(a, b)}


def _check_lsh(b: int, rows: list, texts: dict, planted: list) -> list[str]:
    """The LSH pairs of one batch must be exactly the pairs the MinHash
    specification gives, and every planted near-duplicate the
    specification finds must be among them."""
    want = minhash_lsh_pairs(texts)
    got = {(r["doc_a"], r["doc_b"]): r["est_jaccard"] for r in rows}
    errs = []
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    lost = [p for p in planted if p in want and p not in got]
    if missing or extra:
        errs.append(
            f"LSH batch {b}: {len(missing)} pairs missing ({len(lost)} of them "
            f"planted), {len(extra)} unexpected; first {(missing + extra)[:3]}"
        )
    bad = [p for p in set(got) & set(want) if abs(got[p] - want[p]) > 1e-9]
    if bad:
        errs.append(f"LSH batch {b}: estimates differ for {sorted(bad)[:3]}")
    return errs


def _check_ledger(b: int, ledger: list, new_docs: int) -> list[str]:
    """Invariants of one funnel ledger: every batch doc enters, exactly
    the non-duplicates of the corpus pass the anti-join, each later
    stage keeps a subset, the budget holds and packing counts add up."""
    from end_to_end_database_pipeline_project_spark.streaming.curation import (
        BUDGET_TOKENS,
        SEQ_LEN,
    )

    names = ["a_incoming", "b_new", "c_quality", "d_budget", "e_packed"]
    st = {r["stage"]: r for r in ledger}
    if sorted(st) != names:
        return [f"ledger {b}: stages {sorted(st)}"]
    errs = []
    docs = [st[n]["n_docs"] for n in names]
    if docs[:2] != [BATCH_DOCS, new_docs]:
        errs.append(f"ledger {b}: incoming/new {docs[:2]}, expected {[BATCH_DOCS, new_docs]}")
    if any(x < y for x, y in zip(docs[:3], docs[1:4])) or docs[3] != docs[4]:
        errs.append(f"ledger {b}: not a funnel {docs}")
    packed = st["e_packed"]
    if packed["n_tokens"] > BUDGET_TOKENS or packed["n_seqs"] != math.ceil(
        packed["n_tokens"] / SEQ_LEN
    ):
        errs.append(f"ledger {b}: packing {packed}")
    return errs


# ------------------------------------------------------------ incremental_sync

#: history landed as the bronze base snapshot, before the first sync
SYNC_HISTORY_ROWS = 5_000
SYNC_BATCH_ROWS = (500, 5000)
#: the stream starts at a seeded row of the first this many
SYNC_MAX_START = 20_000
#: chain length past which ``maybe_compact`` rewrites the bronze table:
#: with the base snapshot, every third sync compacts. Batches come in
#: rounds of the same three: within a round, batch sizes take one log
#: third each of ``SYNC_BATCH_ROWS`` (seeded within it), one batch
#: carries late rows of an older month and the compacting one
#: re-delivers rows of an earlier batch, so every round has the same
#: composition and the seed only moves values inside it.
SYNC_MAX_CHAIN = 3
SYNC_LATE_AT = 1
SYNC_REDELIVER_AT = 2


def _next_day(rows: pa.Table) -> str:
    """The day after the latest ``ts`` of ``rows``: the serving
    view's 'now' once they have landed."""
    last = rows.column("ts").cast(pa.int64()).to_numpy().max()
    unit = rows.schema.field("ts").type.unit
    day = np.datetime64(int(last), unit).astype("datetime64[D]") + 1
    return str(day)


class IncrementalSync(Workload):
    """Every op syncs one micro-batch of events (500 to 5000 rows,
    some carrying late rows of an older month or re-delivered rows)
    through the reference pipeline: bronze append, change feed from the
    last synced version, silver append, partition-scoped gold refresh,
    serving publish through ``kv_cache``, and compaction on the commit
    cadence. Loads commits and reads of ``sources.versioned``,
    ``pipeline.medallion``, ``sources.kv_sink`` and the Python workers
    it writes through."""

    name = "incremental_sync"
    #: two compaction cycles per round: every run times two compactions,
    #: and the median op falls among the four syncs that do not compact
    round_ops = 2 * SYNC_MAX_CHAIN

    def generate(self) -> None:
        """The ``events`` fixture in ts order from a seeded row: the
        history, then one batch after another (``_event_batch``)."""
        rng = np.random.default_rng([self.seed, 20])
        self._rng = rng
        events = inputs.read("events")
        self._stream = events.slice(0, inputs.EVENT_STREAM_ROWS)
        self._late_pool = events.slice(inputs.EVENT_STREAM_ROWS)
        self._pos = int(rng.integers(0, SYNC_MAX_START + 1))
        self._late_pos = 0
        self.landing = os.path.join(self.data_dir, "landing")
        self.history_file = os.path.join(self.data_dir, "history.parquet")
        hist = self._take(SYNC_HISTORY_ROWS)
        self._batches: list[pa.Table] = [hist]
        self.as_of = [_next_day(hist)]
        self.batch_bytes = [inputs.write_parquet(hist, self.history_file)]
        self.batch_files: list[str] = []

    def _take(self, n: int) -> pa.Table:
        if self._pos + n > self._stream.num_rows:
            raise RuntimeError("incremental_sync ran past its event stream")
        rows = self._stream.slice(self._pos, n)
        self._pos += n
        return rows

    def _event_batch(self, j: int) -> str:
        while len(self.batch_files) <= j:
            k = len(self.batch_files)
            rng = self._rng
            lo, hi = SYNC_BATCH_ROWS
            third = (k % SYNC_MAX_CHAIN + rng.random()) / SYNC_MAX_CHAIN
            fresh = self._take(int(round(lo * (hi / lo) ** third)))
            parts = [fresh]
            if k % SYNC_MAX_CHAIN == SYNC_LATE_AT:
                # rows of the late pool, moved a month back
                m = max(1, fresh.num_rows // 10)
                late = self._late_pool.slice(self._late_pos, m)
                self._late_pos += m
                parts.append(inputs.shift_back(late, inputs.LATE_SHIFT))
            if k % SYNC_MAX_CHAIN == SYNC_REDELIVER_AT:
                # at-least-once upstream: part of an earlier batch again
                prev = self._batches[int(rng.integers(1, len(self._batches)))]
                m = max(1, prev.num_rows // 10)
                parts.append(prev.slice(int(rng.integers(0, prev.num_rows - m + 1)), m))
            table = pa.concat_tables(parts)
            path = os.path.join(self.landing, f"events-{k:05d}.parquet")
            self.batch_bytes.append(inputs.write_parquet(table, path))
            self._batches.append(table)
            self.as_of.append(_next_day(fresh))
            self.batch_files.append(path)
        return self.batch_files[j]

    def prepare(self, spark, work: str) -> None:
        from end_to_end_database_pipeline_project_spark.sources import kv_sink
        from end_to_end_database_pipeline_project_spark.streaming.incremental import (
            normalize_batch,
        )

        kv_sink.register(spark)
        self.bronze = os.path.join(work, "bronze")
        self.out_dir = os.path.join(work, "warehouse")
        self.silver_path = os.path.join(self.out_dir, "silver")
        self.kv_path = os.path.join(work, "serving_kv")
        hist = _load(spark, self.history_file)
        self.cursor = versioned.write_version(hist, self.bronze, stats_cols=("ts",))
        normalize_batch(hist).write.mode("overwrite").parquet(self.silver_path)
        self._refresh(spark, self._months(normalize_batch(hist)), self.as_of[0])
        self.synced = 0
        self.compactions = 0

    def ops(self):
        j = 0
        while True:
            yield j
            j += 1

    @staticmethod
    def _months(silver) -> list[str]:
        from pyspark.sql import functions as F

        return sorted(
            r["m"]
            for r in silver.select(
                F.date_format(F.to_date("timestamp"), "yyyy-MM").alias("m")
            )
            .distinct()
            .collect()
        )

    def _refresh(self, spark, months: list[str], as_of: str) -> None:
        from end_to_end_database_pipeline_project_spark.pipeline.medallion import (
            read_gold_daily,
            refresh_gold_daily_months,
            serving_view,
        )

        t = self.tracer
        with t.span("medallion.gold_refresh"):
            refresh_gold_daily_months(
                spark.read.parquet(self.silver_path), self.out_dir, months
            )
        t.count("medallion.months_per_refresh", len(months))
        with t.span("kv_sink.publish"):
            # serving_view's monthly argument is unused by the program
            serving = t.materialize(
                serving_view(read_gold_daily(spark, self.out_dir), None, as_of)
            )
            (
                serving.write.format("kv_cache")
                .option("path", self.kv_path)
                .option("key", "obs_date")
                .mode("overwrite")
                .save()
            )
        if t.enabled:
            with open(os.path.join(self.kv_path, "_MANIFEST.json")) as f:
                t.count("kv_sink.rows_per_publish", json.load(f)["total_rows"])

    def run_op(self, spark, j: int) -> None:
        from end_to_end_database_pipeline_project_spark.streaming.incremental import (
            normalize_batch,
        )

        t = self.tracer
        path = self._event_batch(j)
        with t.span("versioned.append"):
            v = versioned.append_version(_load(spark, path), self.bronze, stats_cols=("ts",))
        if t.enabled:
            vdir = os.path.join(self.bronze, versioned.versions(self.bronze)[-1]["dir"])
            files = sum(
                f.endswith(".parquet") for _r, _d, fs in os.walk(vdir) for f in fs
            )
            t.count("versioned.files_per_commit", files)
        with t.span("versioned.incremental_scan"):
            delta = versioned.incremental_scan(spark, self.bronze, self.cursor)
            delta = t.materialize(delta.drop("_change_type", "_commit_version"))
        with t.span("medallion.silver"):
            silver = normalize_batch(delta)
            silver.write.mode("append").parquet(self.silver_path)
            months = self._months(silver)
        self._refresh(spark, months, self.as_of[j + 1])
        self.cursor = v
        self.synced = j + 1
        t.count("versioned.chain_length", versioned.chain_length(self.bronze))
        t0 = time.perf_counter()
        with t.span("versioned.compact"):
            compacted = versioned.maybe_compact(
                spark, self.bronze, max_chain=SYNC_MAX_CHAIN, stats_cols=("ts",)
            )
        if compacted is not None:
            t.count("versioned.compact_ms", (time.perf_counter() - t0) * 1000)
            # a compaction is a full snapshot: the change feed restarts there
            self.cursor = compacted
            self.compactions += 1

    def counters(self) -> dict[str, float]:
        ratio = _data_bytes(self.bronze) / sum(self.batch_bytes[: self.synced + 1])
        return {
            "versioned.compactions": float(self.compactions),
            "versioned.bytes_per_input_byte": ratio,
            "storage_bytes_per_input_byte": ratio,
        }

    def verify(self, spark) -> list[str]:
        """Bronze, gold and serving against a from-scratch recompute
        over every event row landed (history plus each synced batch,
        re-deliveries included), read straight from the landing files."""
        import pandas as pd
        from pyspark.sql import functions as F

        from end_to_end_database_pipeline_project_spark.operators.rollup import (
            daily_rollup,
            hourly_aggregate,
        )
        from end_to_end_database_pipeline_project_spark.pipeline.medallion import (
            read_gold_daily,
            serving_view,
        )
        from end_to_end_database_pipeline_project_spark.sources import kv_sink
        from end_to_end_database_pipeline_project_spark.streaming.incremental import (
            normalize_batch,
        )

        errs = []
        landed = _load(spark, self.history_file)
        for path in self.batch_files[: self.synced]:
            landed = landed.unionByName(_load(spark, path))
        n_landed = sum(b.num_rows for b in self._batches[: self.synced + 1])
        n_bronze = versioned.read_version(spark, self.bronze).count()
        if n_bronze != n_landed:
            errs.append(f"bronze rows {n_bronze} != landed rows {n_landed}")
        want = (
            daily_rollup(
                hourly_aggregate(
                    normalize_batch(landed), ts="timestamp", measure="temperature_c"
                )
            )
            .toPandas()
        )
        errs += _frame_diff("gold_daily", read_gold_daily(spark, self.out_dir).toPandas(), want)
        cols = ["key", "avg_value", "observation_count", "sync_status"]
        serve_want = (
            serving_view(spark.createDataFrame(want), None, self.as_of[self.synced])
            .withColumn("key", F.col("obs_date").cast("string"))
            .select(*cols)
            .toPandas()
        )
        rows = []
        for p in kv_sink.committed_files(self.kv_path):
            with open(p, encoding="utf-8") as f:
                rows += [json.loads(line) for line in f]
        errs += _frame_diff("serving", pd.DataFrame(rows, columns=cols), serve_want)
        return errs


WORKLOADS = {w.name: w for w in (WarehouseReads, IncrementalSync)}
