"""The four benchmark workloads.

Each workload has ``setup`` (inputs, loads, one-time program state),
``op`` (one timed operation: a survey wave, a curation pass, a search
request, an ingest batch), ``check`` (that operation's output against an
independent computation, run outside the timed region) and
``final_check`` (end-of-run state). ``op`` returns the number of input
rows it handled and the output ``check`` takes; the checks return a list
of failure messages, empty when the output is right.

Spans are named ``<module>.<op>`` after the repo module whose public
function runs inside them; ``op`` is the root span of one operation.
"""

from __future__ import annotations

import os

import numpy as np

import inputs
from spans import dir_stats, materialize

JACCARD = 0.7
RECALL_FLOOR = 0.85     # vector_search: IVF recall@10 vs exact, per run


class Workload:
    name = ""
    # Untimed operations run after set-up, charged to setup_s: the first
    # operation compiles and caches code and runs 2-3x slower.
    warmup_ops = 1
    # Timed operations per run, at least; more while the run's seconds last.
    timed_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.scale = ctx.scale
        self.seed = ctx.seed

    def load(self, name: str):
        from cati_database_feeder_spark.catalog import load_table
        with self.tr.span("catalog.load"):
            return load_table(self.spark, self.ctx.data_dir, name)

    def has_op(self, i: int) -> bool:
        return True

    def final_check(self) -> list[str]:
        return []


# --------------------------------------------------------------------------


_FEEDER_SQL = """
SELECT o.o_orderkey AS id, {wave} AS wave,
       CASE WHEN o.o_orderstatus = 'F' THEN 'complete' ELSE 'interrupted' END AS status,
       CAST(o.o_custkey AS VARCHAR) AS phone, o.o_orderstatus AS result,
       concat('ext-', CAST(o.o_orderkey AS VARCHAR)) AS ext_id,
       c.c_mktsegment AS region_name, o.o_orderpriority AS operator_name,
       o.o_orderkey % 89 AS region, o.o_custkey % 7 AS operator,
       '09:00' AS call_interval_begin, '21:00' AS call_interval_end,
       (o.o_orderkey % 12) - 3 AS time_difference,
       substr(c.c_name, 1, 12) AS q3_label, o.o_orderkey % 5 AS q3_1,
       concat('q31-', CAST(o.o_orderkey % 5 AS VARCHAR)) AS q3_1_label,
       o.o_orderkey % 3 AS q3_2,
       concat('q32-', CAST(o.o_orderkey % 3 AS VARCHAR)) AS q3_2_label,
       (o.o_orderkey % 2) + 1 AS s_sex,
       CASE WHEN (o.o_orderkey % 2) + 1 = 1 THEN 'male' ELSE 'female' END AS s_sex_label,
       substr(c.c_name, 1, 100) AS name_rec,
       LEAST(CAST(round(o.o_totalprice / 100) AS INTEGER), 32767) AS age_rec1,
       concat('age-', CAST(o.o_orderkey % 6 AS VARCHAR)) AS age_rec2,
       o.o_orderkey % 4 AS q9_1, o.o_custkey % 10 AS q10, o.o_orderkey % 11 AS q11,
       concat('q11-', CAST(o.o_orderkey % 11 AS VARCHAR)) AS q11_label,
       concat('t-', CAST(o.o_custkey % 13 AS VARCHAR)) AS q11_8t,
       o.o_orderkey % 83 AS q_region, c.c_mktsegment AS q_region_label,
       o.o_custkey % 4 AS q_oper_code,
       concat('op-', CAST(o.o_custkey % 4 AS VARCHAR)) AS q_oper_name,
       c.c_acctbal AS db_reward, CAST(NULL AS DOUBLE) AS db_rew,
       CAST(NULL AS DOUBLE) AS reward,
       concat('city-', CAST(c.c_nationkey AS VARCHAR)) AS q_city,
       concat('edu-', CAST(o.o_orderkey % 3 AS VARCHAR)) AS q_obrazovanie,
       concat('job-', CAST(o.o_custkey % 5 AS VARCHAR)) AS q_rabota,
       concat('inc-', CAST(o.o_orderkey % 7 AS VARCHAR)) AS q_dohod,
       strftime(o.o_orderdate, '%Y-%m-%d') AS date
FROM read_parquet('{data}/orders.parquet') o
JOIN read_parquet('{data}/customer.parquet') c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus IS DISTINCT FROM 'P'
  AND NOT EXISTS (SELECT 1 FROM read_parquet('{data}/existing.parquet') e
                  WHERE e.o_orderkey = o.o_orderkey)
"""


class FeederWave(Workload):
    """xlsx exports → feeder transform with the existing-key anti-join →
    dynamic-partition lake overwrite + keyed q5010 upsert into DuckDB."""

    name = "feeder_wave"
    # A wave takes about run_seconds: with one operation as the floor, a
    # run would time one slow wave or two fast ones, a median that jumps.
    timed_ops = 2

    def setup(self) -> None:
        import duckdb
        import pyarrow.parquet as pq

        ctx, sc = self.ctx, self.scale
        inputs.write_star(self.seed, sc, ctx.data_dir)
        self.xlsx_root = os.path.join(ctx.work, "xlsx")
        self.expected_q5010 = inputs.write_wave_exports(self.seed, sc, self.xlsx_root)
        self.lake = os.path.join(ctx.work, "lake")
        # rows the feeder must keep, from the generated files alone
        o = pq.read_table(os.path.join(ctx.data_dir, "orders.parquet"),
                          columns=["o_orderkey", "o_orderstatus"]).to_pandas()
        ex = set(pq.read_table(os.path.join(ctx.data_dir, "existing.parquet"))
                 .column(0).to_pylist())
        kept = o[o.o_orderstatus != "P"]
        self.rows_in = len(kept)
        self.rows_out = int((~kept.o_orderkey.isin(ex)).sum())
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE recruits_log (id BIGINT, q5010 VARCHAR)")
        self.con.execute(f"INSERT INTO recruits_log SELECT range, NULL FROM range({sc.orders})")
        self.waves_run: set[int] = set()
        self.orders = self.load("orders")
        self.customer = self.load("customer")
        self.existing = self.load("existing")

    def op(self, i: int):
        from pyspark.sql import functions as F

        from cati_database_feeder_spark.plans.feeder import feeder_pipeline
        from cati_database_feeder_spark.sinks.jdbc import merge_upsert
        from cati_database_feeder_spark.sinks.lake import write_partitioned
        from cati_database_feeder_spark.sources.excel import pivot_wave, read_excel_glob

        tr, wave = self.tr, inputs.WAVES[i % len(inputs.WAVES)]
        with tr.span("sources.excel.decode"):
            decoded = pivot_wave(
                read_excel_glob(self.spark, os.path.join(self.xlsx_root, f"wave{wave}", "*")),
                ["ID", "q5010"])
            decoded = materialize(decoded, tr)
        tr.count("sources.excel.decode.rows", len(self.expected_q5010[wave]))
        with tr.span("plans.feeder.pipeline"):
            out = materialize(feeder_pipeline(self.orders, self.customer, self.existing,
                                              wave_number=wave), tr)
        tr.count("plans.feeder.antijoin_drop_ratio",
                 (self.rows_in - self.rows_out) / self.rows_in)
        with tr.span("sinks.lake.write"):
            write_partitioned(out, self.lake, ["wave", "status"], mode="dynamic")
        if tr.enabled:
            size, files = dir_stats(os.path.join(self.lake, f"wave={wave}"))
            tr.count("sinks.lake.write.bytes_per_row", size / self.rows_out)
            tr.count("sinks.lake.write.files", files)
        with tr.span("sinks.jdbc.upsert"):
            updates = decoded.select(F.col("ID").cast("bigint").alias("id"), F.col("q5010"))
            merge_upsert(updates, self.con, "recruits_log", ["id"], ["q5010"],
                         dialect="update_insert")
        if tr.enabled:
            tr.count("sinks.jdbc.upsert.rows_staged",
                     self.con.execute("SELECT count(*) FROM _staging_upsert").fetchone()[0])
        if decoded.is_cached:
            decoded.unpersist()
            out.unpersist()
        self.waves_run.add(wave)
        return self.rows_out + len(self.expected_q5010[wave]), wave

    def check(self, wave: int) -> list[str]:
        """Lake partition of ``wave`` vs the same plan run by DuckDB over
        the generated files; recruits_log vs the xlsx contents."""
        fails = []
        cols = ("id, wave, status, phone, result, ext_id, region_name, operator_name, "
                "region, operator, call_interval_begin, call_interval_end, "
                "time_difference, q3_label, q3_1, q3_1_label, q3_2, q3_2_label, s_sex, "
                "s_sex_label, name_rec, age_rec1, age_rec2, q9_1, q10, q11, q11_label, "
                "q11_8t, q_region, q_region_label, q_oper_code, q_oper_name, db_reward, "
                "db_rew, reward, q_city, q_obrazovanie, q_rabota, q_dohod, date")
        lake = (f"SELECT {cols} FROM read_parquet('{self.lake}/wave={wave}/*/*.parquet', "
                f"hive_partitioning = true)")
        oracle = f"SELECT {cols} FROM ({_FEEDER_SQL.format(wave=wave, data=self.ctx.data_dir)})"
        n_lake, = self.con.execute(f"SELECT count(*) FROM ({lake})").fetchone()
        diff = sum(self.con.execute(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
                   for a, b in ((lake, oracle), (oracle, lake)))
        if n_lake != self.rows_out or diff:
            fails.append(f"feeder wave {wave}: {n_lake} lake rows (want {self.rows_out}), "
                         f"{diff} rows differ from the DuckDB plan")
        want = self.expected_q5010[wave]
        got = dict(self.con.execute(
            "SELECT id, q5010 FROM recruits_log WHERE q5010 LIKE ?", [f"%-w{wave}"]).fetchall())
        wrong = sum(got.get(k) != v for k, v in want.items())
        new_per_wave = int(len(want) * inputs.UPSERT_NEW_SHARE)
        total, = self.con.execute("SELECT count(*) FROM recruits_log").fetchone()
        if wrong or total != self.scale.orders + new_per_wave * len(self.waves_run):
            fails.append(f"upsert wave {wave}: {wrong} ids with a wrong q5010, "
                         f"{total} rows in recruits_log")
        return fails


# --------------------------------------------------------------------------


def _token_sets(rows):
    vocab: dict[str, int] = {}
    sets = [{vocab.setdefault(t, len(vocab)) for t in text.split()} for _, text in rows]
    m = np.zeros((len(rows), len(vocab)), dtype=np.float32)
    for r, s in enumerate(sets):
        m[r, list(s)] = 1.0
    return m


def exact_pairs(rows, threshold: float = JACCARD) -> dict[tuple[int, int], float]:
    """Every document pair with token-set Jaccard >= threshold, by a
    dense intersection matrix — the exhaustive answer LSH approximates."""
    m = _token_sets(rows)
    inter = (m @ m.T).astype(np.float64)   # integer-valued, exact in float32
    size = m.sum(axis=1, dtype=np.float64)
    jac = inter / (size[:, None] + size[None, :] - inter)
    ids = np.array([i for i, _ in rows])
    # the program keeps round(J, 6) >= threshold
    a, b = np.nonzero(np.triu(np.round(jac, 6) >= threshold, k=1))
    out = {}
    for x, y in zip(a, b):
        i, j = sorted((int(ids[x]), int(ids[y])))
        out[(i, j)] = float(jac[x, y])
    return out


class CorpusDedup(Workload):
    """Batch curation: exact, MinHash-LSH and SimHash near-dup passes
    plus quality scores over a corpus with planted near-duplicates."""

    name = "corpus_dedup"

    def setup(self) -> None:
        self.rows, self.plants = inputs.corpus(self.seed, self.scale.docs)
        inputs.write_docs(self.rows, os.path.join(self.ctx.data_dir, "documents.parquet"))
        self.truth = exact_pairs(self.rows)
        # token-set-identical plants (and two plants of one base) must be found
        self.must = {p for p, j in self.truth.items() if j == 1.0}
        self.docs = self.load("documents").select("doc_id", "text")

    def op(self, i: int):
        from cati_database_feeder_spark.functions.text import with_quality_scores
        from cati_database_feeder_spark.operators import dedup

        tr = self.tr
        with tr.span("operators.dedup.exact"):
            exact = dedup.exact_content_dedup(self.docs).filter("n_copies > 1").collect()
        if tr.enabled:
            with tr.span("operators.dedup.minhash_candidates"):
                cands = dedup.minhash_lsh_candidates(self.docs).count()
        with tr.span("operators.dedup.minhash"):
            near = dedup.near_dup_pairs(self.docs, threshold=JACCARD).collect()
        if tr.enabled:
            tr.count("operators.dedup.minhash.candidates", cands)
            tr.count("operators.dedup.minhash.verified_pairs", len(near))
            tr.count("operators.dedup.minhash.verify_yield", len(near) / max(cands, 1))
        with tr.span("operators.dedup.simhash"):
            sim = dedup.simhash_near_dup_pairs(self.docs).collect()
        with tr.span("functions.text.quality"):
            qual = (with_quality_scores(self.docs).select("doc_id", "quality")
                    .filter("quality IS NOT NULL").count())
        return len(self.rows), (exact, near, sim, qual)

    def check(self, out) -> list[str]:
        exact, near, sim, qual = out
        fails = []
        want_exact = {(min(a, b), 2) for a, b in self.plants["exact"]}
        got_exact = {(r["canonical_id"], r["n_copies"]) for r in exact}
        if got_exact != want_exact:
            fails.append(f"exact dedup: {len(got_exact ^ want_exact)} groups differ")
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in near}
        wrong = [p for p, j in got.items()
                 if p not in self.truth or abs(self.truth[p] - j) > 1e-6]
        missed = self.must - got.keys()
        if wrong or missed:
            fails.append(f"minhash: {len(wrong)} pairs not >= {JACCARD} or mis-scored, "
                         f"{len(missed)} token-set duplicates missed")
        self.tr.count("operators.dedup.minhash.recall", len(got.keys() & self.truth.keys())
                      / max(len(self.truth), 1))
        sim_got = {(r["id_a"], r["id_b"]) for r in sim}
        want_sim = {tuple(sorted(p)) for k in ("exact", "shuffle") for p in self.plants[k]}
        if want_sim - sim_got:
            fails.append(f"simhash: {len(want_sim - sim_got)} planted duplicates missed")
        if qual != len(self.rows):
            fails.append(f"quality: {qual} scored rows of {len(self.rows)}")
        return fails


# --------------------------------------------------------------------------


class VectorSearch(Workload):
    """Closed loop, one client: each request is 8 query vectors answered
    top-10 by the IVF index over the cell-assigned embeddings."""

    name = "vector_search"
    # A request is ~1 s of mostly driver-side planning and scheduling,
    # whose JIT-compiled code keeps speeding up for tens of requests. A
    # count, not a time, so that a slower host does not start timing
    # further up that curve.
    warmup_ops = 10

    def setup(self) -> None:
        from cati_database_feeder_spark.operators.similarity import assign_cells

        self.vecs, self.queries = inputs.embeddings(self.seed, self.scale)
        self.centroids = inputs.ivf_centroids(self.vecs)
        inputs.write_embeddings(self.vecs, os.path.join(self.ctx.data_dir, "embeddings.parquet"))
        emb = self.load("embeddings")
        with self.tr.span("operators.similarity.assign"):
            self.assigned = assign_cells(emb, self.centroids).persist()
            self.assigned.count()
        # exact cosine top-10 per query: the recall ground truth
        v = self.vecs.astype(np.float64)
        q = self.queries.astype(np.float64)
        cos = (q @ v.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(v, axis=1))
        self.cos = cos
        self.truth = np.argsort(-cos, axis=1, kind="stable")[:, :10]
        self.hits = self.asked = 0

    def op(self, i: int):
        from cati_database_feeder_spark.operators.similarity import ivf_topk
        from cati_database_feeder_spark.session import local_frame

        per = inputs.QUERIES_PER_REQUEST
        lo = (i % self.scale.requests) * per
        rows = [(lo + j, [float(x) for x in self.queries[lo + j]]) for j in range(per)]
        with self.tr.span("operators.similarity.ivf"):
            q = local_frame(self.spark, rows, "q_id long, q_vec array<float>")
            res = ivf_topk(q, self.assigned, self.centroids, k=10, nprobe=4).collect()
        return per, (lo, res)

    def check(self, out) -> list[str]:
        lo, res = out
        per = inputs.QUERIES_PER_REQUEST
        got: dict[int, list] = {lo + j: [] for j in range(per)}
        bad = 0
        for r in res:
            got[r["q_id"]].append(r["vec_id"])
            bad += abs(self.cos[r["q_id"], r["vec_id"]] - r["cosine"]) > 1e-5
        for qid, ids in got.items():
            self.hits += len(set(ids) & set(self.truth[qid].tolist()))
            self.asked += 10
            bad += len(ids) != 10
        self.tr.count("operators.similarity.ivf.recall_at10", self.recall)
        return [f"ivf: {bad} results mis-scored or short"] if bad else []

    @property
    def recall(self) -> float:
        return self.hits / max(self.asked, 1)

    def final_check(self) -> list[str]:
        if self.recall < RECALL_FLOOR:
            return [f"ivf recall@10 {self.recall:.4f} below the {RECALL_FLOOR} floor"]
        return []


# --------------------------------------------------------------------------


class IngestStream(Workload):
    """Closed loop of ingest batches against a bootstrapped text state
    store: delta probe of stored membership and bands, then state writes."""

    name = "ingest_stream"
    # The bootstrap is itself an ingest_batch call, the warm-up; a
    # further untimed batch would cost ~30 s of the run's budget. The
    # timed batch is therefore the first incremental one.
    warmup_ops = 0

    def setup(self) -> None:
        from cati_database_feeder_spark.streaming.ingest import ingest_batch

        self.corpus_rows, _ = inputs.corpus(self.seed, self.scale.ingest_corpus)
        self.batches = inputs.ingest_batches(self.seed, self.scale, self.corpus_rows)
        inputs.write_docs(self.corpus_rows, os.path.join(self.ctx.data_dir, "documents.parquet"))
        self.state = os.path.join(self.ctx.work, "state")
        corpus = self.load("documents").select("doc_id", "text")
        with self.tr.span("streaming.ingest.bootstrap"):
            ingest_batch(self.spark, corpus, self.state, batch_id=0)
        self.done: list[list[tuple[int, str]]] = []

    def has_op(self, i: int) -> bool:
        return i < len(self.batches)

    def op(self, i: int):
        from cati_database_feeder_spark.session import local_frame
        from cati_database_feeder_spark.streaming.ingest import ingest_batch

        batch = self.batches[i]
        with self.tr.span("streaming.ingest.batch"):
            df = local_frame(self.spark, batch, "doc_id long, text string")
            ingest_batch(self.spark, df, self.state, batch_id=i + 1)
        self.done.append(batch)
        if self.tr.enabled:
            from cati_database_feeder_spark.streaming.ingest import live_store
            ledger = self.spark.read.parquet(live_store(os.path.join(self.state, "metrics")))
            row = ledger.filter(f"batch_id = {i + 1}").select("new_pairs").collect()
            self.tr.count("streaming.ingest.batch.new_pairs", row[-1][0] if row else 0)
            size, files = dir_stats(self.state)
            self.tr.count("streaming.ingest.batch.state_bytes", size)
            self.tr.count("streaming.ingest.batch.state_files", files)
        return len(batch), None

    def check(self, out) -> list[str]:
        return []

    def final_check(self) -> list[str]:
        """The stored incremental pair set must equal one full
        near_dup_pairs pass over corpus ∪ every ingested batch."""
        from cati_database_feeder_spark.operators.dedup import near_dup_pairs
        from cati_database_feeder_spark.session import local_frame
        from cati_database_feeder_spark.streaming.ingest import live_store

        rows = self.corpus_rows + [r for b in self.done for r in b]
        everything = local_frame(self.spark, rows, "doc_id long, text string")
        with self.tr.span("operators.dedup.minhash"):
            want = {(r[0], r[1]) for r in near_dup_pairs(everything, threshold=JACCARD)
                    .select("id_a", "id_b").collect()}
        stored = self.spark.read.parquet(live_store(os.path.join(self.state, "pairs")))
        got = {(r[0], r[1]) for r in stored.select("id_a", "id_b").collect()}
        truth = {p for p, j in exact_pairs(rows).items() if j == 1.0}
        fails = []
        if got != want:
            fails.append(f"ingest: stored pairs differ from a full pass "
                         f"({len(got - want)} extra, {len(want - got)} missing)")
        if truth - got:
            fails.append(f"ingest: {len(truth - got)} planted duplicates not paired")
        return fails


# corpus_dedup runs by hand only: BENCHMARK.json leaves it out to fit the
# benchmark's time budget (perfbench/README.md).
WORKLOADS = {w.name: w for w in (FeederWave, CorpusDedup, VectorSearch, IngestStream)}
