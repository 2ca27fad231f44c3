"""The benchmark workloads.

Each workload is one closed loop with a single client: the next op is
issued only after the previous one returned and was checked. A
workload stages its generated inputs under a fresh lake root, runs one
untimed warm-up pass of its op mix, then hands the harness (``run.py``)
an endless sequence of passes. An op is a timed call into the engine
(``run``) plus a check of what it returned (``check``), which the
harness runs outside every timer.

* ``claims_bi`` — a fixed, module-stratified sample of the registered
  BI queries over a generated star schema, most fetched to the caller,
  a few published to the lake through ``TableStore.overwrite``.
* ``serving_lifecycle`` — document and vector batches folded into the
  four serving-index families, with erasures, maintenance passes and
  probes in between.
* ``medallion_batches`` — claims CSV batches landed through
  bronze → silver (incremental) → gold, each followed by semantic-layer
  report reads of the gold star.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Any, Callable, Iterator

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs


@dataclass
class Op:
    name: str
    kind: str  # "read" | "write" | "maintenance"
    run: Callable[[], Any]  # timed
    check: Callable[[Any], bool]  # untimed
    frame: Callable[[Any], Any] | None = None  # executed DataFrame, for Catalyst phases
    counts: Callable[[Any], dict] | None = None  # per-layer counts, traced run only


@dataclass
class Staged:
    rows: int
    bytes: int


@dataclass
class Workload:
    spark: Any
    tracer: Any
    seed: int
    smoke: bool
    lake: str = ""
    delivered_bytes: int = 0

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])


def _write_parquet(table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _canonical(df: pd.DataFrame) -> tuple:
    """The correctness gate's order-insensitive (hash, rows, columns)."""
    from tools.check_correctness import canonical

    return canonical(df)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# claims_bi

# The oracle-checked, single-action queries of the five BI modules.
BI_MODULES = ("relational", "time_intelligence", "kpi", "quality", "tpch_shapes")
# Registered there but not single-action BI reads of the star schema.
BI_EXCLUDED = {
    "incremental_variance_equivalence": "writes a TableStore under a temp dir",
    "incremental_rollup_equivalence": "writes a TableStore under a temp dir",
    "referential_integrity_audit": "reads the document corpus, not the star schema",
}
# A pass runs a fixed sample of the eligible queries, drawn once with a
# fixed seed and stratified by module (each module's share of the
# sample follows its share of the eligible set, at least one each), so
# it does not depend on any query's latency or on the run's --seed.
# The size is what the run budget carries: the full set costs ~47 s a
# pass on a 4-core host. BI_PUBLISHED of the sampled queries are
# published to the lake through TableStore.overwrite (the workload's
# write ops) instead of being fetched.
BI_SAMPLE_SIZE, BI_SAMPLE_SEED, BI_PUBLISHED = 9, 0, 2


def bi_sample(registry: dict) -> tuple[list[str], list[str]]:
    """The fixed query sample: (fetched, published), in module order."""
    by_module = {m: [] for m in BI_MODULES}
    for name, spec in registry.items():
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        if module in by_module and spec.oracle and name not in BI_EXCLUDED:
            by_module[module].append(name)
    total = sum(len(v) for v in by_module.values())
    raw = {m: BI_SAMPLE_SIZE * len(v) / total for m, v in by_module.items()}
    quota = {m: max(1, int(r)) for m, r in raw.items()}
    for m in sorted(BI_MODULES, key=lambda m: int(raw[m]) - raw[m]):  # largest remainder
        if sum(quota.values()) < BI_SAMPLE_SIZE:
            quota[m] += 1
    rng = np.random.default_rng(BI_SAMPLE_SEED)
    sample = []
    for m in BI_MODULES:
        names = sorted(by_module[m])
        sample += [names[i] for i in sorted(rng.choice(len(names), quota[m], replace=False))]
    published = {sample[i] for i in rng.choice(len(sample), BI_PUBLISHED, replace=False)}
    return [q for q in sample if q not in published], [q for q in sample if q in published]


class ClaimsBI(Workload):
    name = "claims_bi"
    measured_passes = 2

    def stage(self, root: str) -> Staged:
        self.lake = root
        self.data = os.path.join(root, "tables")
        os.makedirs(self.data)
        tables = inputs.bi_tables(self.rng(0), 0.002 if self.smoke else 0.01)
        self.delivered_bytes = sum(
            _write_parquet(t, os.path.join(self.data, f"{n}.parquet")) for n, t in tables.items()
        )
        self.tables = list(tables)
        return Staged(sum(t.num_rows for t in tables.values()), self.delivered_bytes)

    def prepare(self) -> None:
        from fabric_claims_spark.queries import load_all_queries
        from fabric_claims_spark.sources.merge import TableStore

        self.registry = load_all_queries()
        fetched, published = bi_sample(self.registry)
        if self.smoke:
            fetched, published = fetched[:2], published[:1]
        self.queries, self.published = fetched + published, set(published)
        self.store = TableStore(self.spark, os.path.join(self.lake, "published"))
        self.oracle: dict[str, tuple] = {}
        self.duck = duckdb.connect()
        for t in self.tables:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )

    def oracle_frame(self, name: str) -> pd.DataFrame:
        return self.duck.execute(self.registry[name].oracle).fetchdf()

    def expected(self, name: str) -> tuple:
        if name not in self.oracle:
            self.oracle[name] = _canonical(self.oracle_frame(name))
        return self.oracle[name]

    def _op(self, name: str) -> Op:
        fn, tr = self.registry[name].fn, self.tracer

        def build():
            with tr.span("queries.build"):
                return fn(self.spark, self.data)

        if name in self.published:
            def run_publish():
                df = build()
                self.store.overwrite(name, df)
                return df

            def check_published(_df) -> bool:
                return _canonical(self.store.read_local(name).to_pandas()) == self.expected(name)

            return Op(f"publish:{name}", "write", run_publish, check_published)

        def run_read():
            df = build()
            with tr.span("queries.fetch"):
                return df, df.toPandas()

        return Op(f"query:{name}", "read", run_read,
                  lambda r: _canonical(r[1]) == self.expected(name), frame=lambda r: r[0])

    def warmup_ops(self) -> list[Op]:
        return [self._op(q) for q in self.queries]

    def passes(self) -> Iterator[list[Op]]:
        p = 1
        while True:
            yield [self._op(self.queries[i]) for i in self.rng(1, p).permutation(len(self.queries))]
            p += 1

    def corrupt_check(self) -> bool:
        """Fed an oracle answer with one row missing, the check fails."""
        name = self.queries[0]  # a fetched query
        _df, pdf = self._op(name).run()
        return (_canonical(pdf) == self.expected(name)
                and _canonical(pdf) != _canonical(self.oracle_frame(name).iloc[:-1]))


# ---------------------------------------------------------------------------
# serving_lifecycle


DOC_BATCH, VEC_BATCH, N_CENTROIDS = 250, 100, 8
INDEX_TABLES = ("lex_postings", "lex_doclen", "pos_postings", "lsh_mins",
                "lsh_bands", "lsh_pairs", "ivf_vecs")


class ServingLifecycle(Workload):
    name = "serving_lifecycle"
    measured_passes = 1

    def stage(self, root: str) -> Staged:
        n_docs, n_vecs = (1000, 400) if self.smoke else (5000, 2000)
        self.docs, self.emb = inputs.serving_corpus(self.rng(0), n_docs, n_vecs)
        batches = os.path.join(root, "batches")
        os.makedirs(batches)
        self.doc_files, self.vec_files, size = [], [], 0
        for b in range(n_docs // DOC_BATCH):
            p = os.path.join(batches, f"docs_{b:03d}.parquet")
            size += _write_parquet(self.docs.slice(b * DOC_BATCH, DOC_BATCH), p)
            self.doc_files.append(p)
        for b in range(n_vecs // VEC_BATCH):
            v = self.emb.slice(b * VEC_BATCH, VEC_BATCH)
            p = os.path.join(batches, f"vecs_{b:03d}.parquet")
            size += _write_parquet(v.append_column("doc_id", v.column("vec_id")), p)
            self.vec_files.append(p)
        self.lake = os.path.join(root, "lake")
        return Staged(n_docs + n_vecs, size)

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from fabric_claims_spark.pipeline.runner import IndexMaintenance
        from fabric_claims_spark.sources.merge import TableStore

        self.store = TableStore(self.spark, self.lake)
        self.maint = IndexMaintenance(
            self.store, fold_min_tombstones=1, compact_file_threshold=16,
            compact_n_files=2, vacuum=False,
        )
        # the build-time quantizer, held fixed: the first vectors
        self.centroids = (
            self.spark.read.parquet(self.vec_files[0])
            .where(F.col("vec_id") < N_CENTROIDS)
            .select(F.col("vec_id").alias("centroid_id"),
                    F.transform("embedding", lambda x: x.cast("double")).alias("cv"))
        )
        self.applied_docs: set[int] = set()
        self.applied_vecs: set[int] = set()
        self.erased: set[int] = set()
        self._lsh_pairs: tuple[frozenset, pd.DataFrame | None] = (frozenset(), None)
        self.pending_erasure = False
        self.duck = duckdb.connect()
        self.duck.register("all_docs", self.docs)
        self.duck.register("all_vecs", self.emb)

    def _in_list(self, ids) -> str:
        return ",".join(map(str, sorted(ids))) or "NULL"

    # -- write ops -----------------------------------------------------
    def _apply_ops(self, b: int) -> list[Op]:
        from fabric_claims_spark.operators import serving_index as si

        store, tr = self.store, self.tracer
        state: dict[str, int] = {}

        def apply(family, fn, path, ids, applied, extra=None):
            def run():
                with tr.span(f"serving_index.apply_{family}"):
                    if "id" not in state:
                        # one id per data batch, shared by the four families
                        # and above every committed id (erasures included)
                        state["id"] = si.next_batch_id(store)
                    done = fn(store, self.spark.read.parquet(path), state["id"], **(extra or {}))
                applied.update(ids)
                if family in ("lexical", "ivf"):
                    self.delivered_bytes += os.path.getsize(path)
                return done

            return Op(f"apply_{family}", "write", run, lambda done: done is True)

        docs = set(range(b * DOC_BATCH, (b + 1) * DOC_BATCH))
        ops = [
            apply("lexical", si.apply_lexical_batch, self.doc_files[b], docs, self.applied_docs),
            apply("positional", si.apply_positional_batch, self.doc_files[b], docs, set()),
            apply("lsh", si.apply_lsh_batch, self.doc_files[b], docs, set(),
                  {"threshold": 0.5, "hasher": "md5", "bucket_cap": None}),
        ]
        if b < len(self.vec_files):
            ops.append(apply("ivf", si.apply_ivf_batch, self.vec_files[b],
                             set(range(b * VEC_BATCH, (b + 1) * VEC_BATCH)), self.applied_vecs,
                             {"centroids": self.centroids, "doc_col": "doc_id"}))
        return ops

    def _erase_op(self, p: int, i: int) -> Op:
        """forget_documents for a seeded subset of live documents, two of
        them with an applied vector, so every family takes a leg."""
        from fabric_claims_spark.plans.governance import forget_documents

        state: dict[str, Any] = {}

        def run():
            rng = self.rng(2, p, i)
            live = sorted(self.applied_docs - self.erased)
            with_vec = [d for d in live if d in self.applied_vecs]
            kill = sorted(set(rng.choice(with_vec, 2, replace=False).tolist())
                          | set(rng.choice(live, 2, replace=False).tolist()))
            state["want"] = {"lexical": len(kill), "positional": len(kill), "lsh": len(kill),
                             "ivf": sum(1 for d in kill if d in self.applied_vecs)}
            with self.tracer.span("governance.forget"):
                ids = self.spark.createDataFrame([(d,) for d in kill], "doc_id long")
                out = forget_documents(self.store, ids)
            self.erased |= set(kill)
            self.pending_erasure = True
            return out

        return Op("forget_documents", "write", run, lambda out: out == state["want"])

    def _maintenance_op(self) -> Op:
        from fabric_claims_spark.operators import serving_index as si

        state: dict[str, bool] = {}

        def run():
            state["pending"] = self.pending_erasure
            with self.tracer.span("maintenance.pass"):
                out = self.maint.run_post_apply()
            self.pending_erasure = False
            return out

        def check(out) -> bool:
            # folds fire exactly when an erasure is pending, and leave
            # no tombstone behind
            fired = [out[f"fold:{f}"]["fired"] for f in ("lexical", "positional", "lsh")]
            cleared = all(read(self.store).count() == 0 for read in (
                si.read_lexical_tombstones, si.read_positional_tombstones, si.read_lsh_tombstones))
            return fired == [state["pending"]] * 3 and cleared

        def counts(out) -> dict:
            c = {"maintenance.fired": sum(1 for v in out.values() if v.get("fired"))}
            for t in INDEX_TABLES:
                if f"compact:{t}" in out:
                    c[f"maintenance.files_before.{t}"] = out[f"compact:{t}"]["files"]
                    c[f"maintenance.files_after.{t}"] = si.index_file_count(self.store, t)
            return c

        return Op("maintenance", "maintenance", run, check, counts=counts)

    # -- probes ----------------------------------------------------------
    def _probe(self, kind: str, k: int, corrupt_expected: bool = False) -> Op:
        """One read of a serving family, checked against a DuckDB
        recomputation over the live documents; no erased document may
        appear in it."""
        from pyspark.sql import functions as F

        from fabric_claims_spark.operators import serving_index as si
        from fabric_claims_spark.queries.similarity import _as_double, _cosine

        store, rng = self.store, self.rng(3, k)
        if kind == "lexical":
            t1, t2 = rng.choice(inputs.DOC_WORDS, 2, replace=False).tolist()

            def build():
                td, _dfc, dn = si.read_lexical_index(store)
                hits = (td.where(F.col("term").isin(t1, t2)).groupBy("doc_id")
                        .agg(F.count(F.lit(1)).alias("m")).where(F.col("m") == 2))
                return (hits.join(dn, "doc_id").select("doc_id", "n")
                        .orderBy(F.col("n").desc(), F.col("doc_id")).limit(10))

            def expect():
                return self.duck.execute(f"""
                    WITH td AS (SELECT DISTINCT doc_id,
                        unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                      FROM all_docs WHERE doc_id IN ({self._in_list(self.applied_docs - self.erased)})),
                    dn AS (SELECT doc_id, COUNT(*) AS n FROM td GROUP BY doc_id),
                    hits AS (SELECT doc_id FROM td WHERE term IN ('{t1}', '{t2}')
                             GROUP BY doc_id HAVING COUNT(*) = 2)
                    SELECT doc_id, n FROM hits JOIN dn USING (doc_id)
                    ORDER BY n DESC, doc_id LIMIT 10""").fetchdf()

            def ids(pdf):
                return set(pdf["doc_id"])
        elif kind == "lsh":
            def build():
                return si.read_lsh_pairs(store).select("doc_a", "doc_b", "est_jaccard")

            expect = self._lsh_oracle

            def ids(pdf):
                return set(pdf["doc_a"]) | set(pdf["doc_b"])
        else:
            qid = int(rng.integers(0, self.emb.num_rows))
            qvec = self.emb.column("embedding")[qid].as_py()

            def build():
                q = self.spark.createDataFrame([(qvec,)], "qv array<float>").select(
                    _as_double("qv").alias("qv"))
                probe = (self.centroids.crossJoin(q)
                         .select("centroid_id", F.round(_cosine(F.col("cv"), F.col("qv")), 6).alias("sim"))
                         .orderBy(F.col("sim").desc(), F.col("centroid_id")).limit(2))
                return (si.read_ivf_index(store).where(F.col("vec_id") != qid)
                        .join(F.broadcast(probe.select("centroid_id")),
                              F.col("assigned_centroid") == F.col("centroid_id"))
                        .crossJoin(q)
                        .select("vec_id", F.round(_cosine(F.col("ev"), F.col("qv")), 6).alias("cosine_sim"))
                        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id")).limit(10))

            def expect():
                return self._ivf_oracle(qid)

            def ids(pdf):
                return set(pdf["vec_id"])

        def run():
            with self.tracer.span("serving_index.probe"):
                df = build()
                return df, df.toPandas()

        def check(res) -> bool:
            want = expect()
            if corrupt_expected:
                want = want.iloc[:-1]
            return not (ids(res[1]) & self.erased) and _canonical(res[1]) == _canonical(want)

        return Op(f"probe_{kind}", "read", run, check, frame=lambda res: res[0])

    def _lsh_oracle(self) -> pd.DataFrame:
        """The incremental pair table over the live documents equals
        the one-shot, uncapped near-duplicate pairs of those documents
        (the ``queries/lsh.py`` SQL twin of the MinHash pipeline).
        Uncapped, a pair's estimate depends on its two documents only,
        so the pairs of the live set are the pairs of every applied
        document with the erased ones dropped: the SQL runs once per
        applied set."""
        from fabric_claims_spark.queries.lsh import _neardup_ctes

        applied = frozenset(self.applied_docs)
        if self._lsh_pairs[0] != applied:
            self.duck.execute(
                "CREATE OR REPLACE TEMP VIEW applied_docs AS SELECT * FROM all_docs "
                f"WHERE doc_id IN ({self._in_list(applied)})"
            )
            self._lsh_pairs = (applied, self.duck.execute(
                f"WITH {_neardup_ctes(bucket_cap=len(self.docs), src='applied_docs')} "
                "SELECT doc_a, doc_b, est_jaccard FROM est WHERE est_jaccard >= 0.5"
            ).fetchdf())
        pairs = self._lsh_pairs[1]
        erased = list(self.erased)
        return pairs[~(pairs["doc_a"].isin(erased) | pairs["doc_b"].isin(erased))]

    def _ivf_oracle(self, qid: int) -> pd.DataFrame:
        """Top-10 cosine neighbours in the query's two nearest buckets,
        over the live vectors (the ``embeddings_ivf_search`` oracle)."""
        cos = ("ROUND(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
               " * sqrt(list_dot_product({b}, {b}))), 6)")
        return self.duck.execute(f"""
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM all_vecs),
            q AS (SELECT ev AS qv FROM e WHERE vec_id = {qid}),
            cent AS (SELECT vec_id AS centroid_id, ev AS cv FROM e WHERE vec_id < {N_CENTROIDS}),
            assign AS (
              SELECT vec_id, centroid_id AS assigned_centroid FROM (
                SELECT e.vec_id, c.centroid_id, {cos.format(a='e.ev', b='c.cv')} AS sim
                FROM e, cent c
                WHERE e.vec_id IN ({self._in_list(self.applied_vecs - self.erased)}))
              QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
            probe AS (
              SELECT centroid_id FROM (
                SELECT c.centroid_id, {cos.format(a='q.qv', b='c.cv')} AS sim FROM cent c, q)
              ORDER BY sim DESC, centroid_id LIMIT 2)
            SELECT e.vec_id, {cos.format(a='e.ev', b='q.qv')} AS cosine_sim
            FROM e JOIN assign a USING (vec_id)
            JOIN probe p ON a.assigned_centroid = p.centroid_id, q
            WHERE e.vec_id != {qid}
            ORDER BY cosine_sim DESC, e.vec_id LIMIT 10""").fetchdf()

    # -- passes ----------------------------------------------------------
    def _pass(self, p: int) -> list[Op]:
        """Batch p through the four families, then two erasure requests
        and one maintenance pass. Probes follow the steps: two lexical
        lookups after the lexical apply, each other family after its own
        apply, LSH pairs after each erasure and every family after the
        second (no erased document may remain in any) and after the
        maintenance pass (over folded postings). Lexical lookups, the
        serving hot path, are the middle of the read latencies, so the
        median lies among them; the three IVF searches are the slowest,
        so the 90th percentile falls between two of them rather than on
        one read. With two erasures the write median falls between an
        apply and an erasure rather than on a single op."""
        lexical, positional, lsh, *ivf = self._apply_ops(p)

        def lexical_probes(k: int) -> list[Op]:
            return [self._probe("lexical", 20 * p + k), self._probe("lexical", 20 * p + k + 1)]

        ops = [lexical, *lexical_probes(0), positional,
               lsh, self._probe("lsh", 20 * p + 2)]
        if ivf:
            ops += [ivf[0], self._probe("ivf", 20 * p + 3)]
        ops += [self._erase_op(p, 0), self._probe("lsh", 20 * p + 4)]
        ops += [self._erase_op(p, 1), self._probe("lsh", 20 * p + 5), *lexical_probes(6),
                self._probe("ivf", 20 * p + 8)]
        ops += [self._maintenance_op(), *lexical_probes(9), self._probe("ivf", 20 * p + 11)]
        return ops

    def warmup_ops(self) -> list[Op]:
        """Build the index from batch 0 and probe each family once. The
        erasure and maintenance ops first run in the measured pass: a
        full warm-up pass would cost more than a run can spend."""
        ops = self._apply_ops(0)
        return ops + [self._probe(kind, i) for i, kind in enumerate(("lexical", "lsh", "ivf"))]

    def passes(self) -> Iterator[list[Op]]:
        for p in range(1, len(self.doc_files)):
            yield self._pass(p)

    def corrupt_check(self) -> bool:
        """Fed an expected probe answer with one row missing, or a
        result carrying an erased document, the check fails."""
        res = self._probe("lexical", 999).run()
        injected = res[1].copy()
        injected.loc[0, "doc_id"] = min(self.erased)
        return (
            self._probe("lexical", 999).check(res)
            and not self._probe("lexical", 999, corrupt_expected=True).check(res)
            and not self._probe("lexical", 999).check((res[0], injected))
        )


# ---------------------------------------------------------------------------
# medallion_batches


class FixedClock:
    """One simulated minute per call: run timestamps, ingest stamps and
    watermarks repeat exactly for a given seed."""

    def __init__(self):
        self.now = datetime(2030, 1, 1, tzinfo=timezone.utc)

    def __call__(self) -> datetime:
        self.now += timedelta(minutes=1)
        return self.now


# report visuals over the gold star: (dims, measures, ledger key)
GOLD_REPORTS = {
    "report_by_status": (["ClaimStatus"], ["total_claims", "total_amount"],
                         lambda c: (c.status,)),
    "report_by_type_month": (["ClaimType", "Month"], ["total_claims"],
                             lambda c: (c.ctype, c.day.month)),
    "report_by_quarter": (["Year", "Quarter"], ["total_claims", "total_amount",
                                                "approved_claims", "denied_claims"],
                          lambda c: (c.day.year, (c.day.month - 1) // 3 + 1)),
    "report_by_type": (["ClaimType"], ["total_claims", "total_amount", "approved_claims",
                                       "denied_claims"],
                       lambda c: (c.ctype,)),
}


class MedallionBatches(Workload):
    name = "medallion_batches"
    measured_passes = 1

    def stage(self, root: str) -> Staged:
        self.landing = os.path.join(root, "landing")
        os.makedirs(self.landing)
        self.lake = os.path.join(root, "lake")
        self.feed = inputs.ClaimsFeed(self.rng(0), 200 if self.smoke else 2000)
        self.next = self._land()
        return Staged(self.feed.batch_rows, self.next[2])

    def _land(self) -> tuple[str, inputs.ClaimsBatch, int]:
        """Write the feed's next batch with a monotone source mtime."""
        batch = self.feed.next_batch()
        b = self.feed.n_batches - 1
        path = os.path.join(self.landing, f"claims_{b:04d}.csv")
        with open(path, "w") as f:
            f.write(batch.text)
        os.utime(path, (inputs.stamp(b), inputs.stamp(b)))
        return path, batch, os.path.getsize(path)

    def prepare(self) -> None:
        from fabric_claims_spark.pipeline.runner import ClaimsRunner

        self.runner = ClaimsRunner(self.spark, self.lake, clock=FixedClock())

    def _write_op(self) -> Op:
        from fabric_claims_spark.pipeline import bronze

        path, batch, size = self.next
        r, tr = self.runner, self.tracer

        def run():
            with tr.span("pipeline.bronze"):
                b = r.run_bronze(path)
            with tr.span("pipeline.silver"):
                s = r.run_silver(incremental=True)
            with tr.span("pipeline.gold"):
                g = r.run_gold()
            self.feed.deliver(batch)
            self.delivered_bytes += size
            return b, s, g

        def check(res) -> bool:
            b, s, g = res
            f = self.feed
            return (
                b["status"] == s["status"] == "Succeeded"
                and {k: b["quality_metrics"][k] for k in batch.split} == batch.split
                and r.bronze.count_rows(bronze.CLEAN_TABLE) == len(f.live)
                and r.bronze.count_rows(bronze.MALFORMED_TABLE) == f.quarantine["malformed"]
                and r.bronze.count_rows(bronze.DUPES_TABLE) == f.quarantine["duplicates"]
                and r.bronze.count_rows(bronze.BAD_TABLE) == f.quarantine["bad_quality"]
                and s["rows_processed"]["fact_claims"] == len(f.live)
                and r.gold.count_rows("Claims") == len(f.live)
                and g["rows_written"] >= len(batch.claims)
            )

        def counts(res) -> dict:
            b, s, g = res
            q = b["quality_metrics"]
            return {
                "pipeline.rows_out.bronze": b["clean_inserted"] + b["clean_updated"]
                + q["malformed"] + q["duplicates"] + q["bad_quality"],
                "pipeline.rows_out.silver": s["fact_inserted"] + s["fact_updated"],
                "pipeline.rows_out.gold": g["rows_written"],
            }

        return Op("batch", "write", run, check, counts=counts)

    def _expected_report(self, name: str) -> dict:
        dims, measures, key = GOLD_REPORTS[name]
        out = {}
        for k, (n, cents, ap, de) in self.feed.report(key).items():
            vals = {"total_claims": n, "total_amount": cents / 100,
                    "approved_claims": ap, "denied_claims": de}
            out[k] = tuple(vals[m] for m in measures)
        return out

    def _report_matches(self, rows, name: str, expected: dict) -> bool:
        dims, measures, _key = GOLD_REPORTS[name]
        got = {tuple(row[d] for d in dims): tuple(row[m] for m in measures) for row in rows}
        if got.keys() != expected.keys():
            return False
        # amounts are double sums in the semantic layer: a cent of slack
        return all(
            all(abs(a - b) < 0.01 if isinstance(b, float) else a == b for a, b in zip(got[k], v))
            for k, v in expected.items()
        )

    def _read_op(self, name: str) -> Op:
        from fabric_claims_spark.plans.metrics import report_query
        from fabric_claims_spark.plans.star import claims_star

        dims, measures, _key = GOLD_REPORTS[name]

        def run():
            with self.tracer.span("queries.build"):
                df = report_query(claims_star(self.runner.gold), dims, measures)
            with self.tracer.span("queries.fetch"):
                return df, df.collect()

        return Op(f"read:{name}", "read", run,
                  lambda res: self._report_matches(res[1], name, self._expected_report(name)),
                  frame=lambda res: res[0])

    def _pass(self) -> list[Op]:
        return [self._write_op()] + [self._read_op(n) for n in GOLD_REPORTS]

    def warmup_ops(self) -> list[Op]:
        return self._pass()

    def passes(self) -> Iterator[list[Op]]:
        while True:
            self.next = self._land()
            yield self._pass()

    def corrupt_check(self) -> bool:
        """Fed an expected report with one count off by one, the check
        fails."""
        name = "report_by_status"
        _df, rows = self._read_op(name).run()
        expected = self._expected_report(name)
        k = sorted(expected)[0]
        corrupted = {**expected, k: (expected[k][0] + 1,) + expected[k][1:]}
        return (self._report_matches(rows, name, expected)
                and not self._report_matches(rows, name, corrupted))


WORKLOADS = {w.name: w for w in (ClaimsBI, ServingLifecycle, MedallionBatches)}
