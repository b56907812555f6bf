"""The benchmark workloads: seeded inputs, set-up, one pass of requests,
and the correctness check of every answer.

A workload runs in whole passes. A pass is a fixed sequence of sessions
of request kinds with seeded arguments, so every run measures the same
mix and the seed changes arguments and data. The order is fixed because
plans compile inside the measured pass: in a seeded order the
compilation fell on other requests in every run, which moved the median
latency. Each request is a zero-argument
callable whose return value the workload checks afterwards, outside the
timed region.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import anncache
import gen


class Workload:
    name = ""
    why = ""
    #: request kinds whose latencies make the end-to-end metrics (None: all)
    e2e_kinds: tuple[str, ...] | None = None

    def __init__(self, root: str, work: str, seed: int):
        self.root = root
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.facts: dict = {}

    def generate(self) -> None:
        """Write the seeded inputs (untimed, before Spark starts)."""

    def setup(self, spark, rep: int) -> None:
        """The program's own set-up after a fresh session (timed)."""

    def prepare(self, spark) -> None:
        """Untimed: oracles, warm-up of compiled code."""

    def sessions(self, spark, p: int) -> list[list[tuple[str, object]]]:
        """Pass ``p``: sessions of (kind, request) pairs. The runner waits
        for a quiet machine before each session."""
        raise NotImplementedError

    def check(self, kind: str, out) -> list[str]:
        return []

    def on_error(self, kind: str) -> None:
        """A request raised; its answer is not checked."""

    def finish(self, spark) -> list[str]:
        return []

    def layer_extra(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# dashboard: interactive BI reads that fit the program's own caches
# ---------------------------------------------------------------------------

QUERY_KINDS = [
    "flagship_revenue_by_region", "view_customer_value_summary",
    "q1_top_revenue_customers", "q2_most_frequent_customers", "q3_top_late_fees",
    "q4_frequency_segmentation", "q5_churn_risk", "q6_revenue_by_category",
    "q7_customer_lifetime_value", "q8_customer_cohorts", "q9_revenue_by_nation",
    "q10_revenue_by_nation_region", "q11_avg_revenue_per_customer",
    "tableau_g1_country_map", "tableau_g2_first_order_day",
    "tableau_g3_revenue_by_category", "tableau_g4_late_fees_by_category",
    "tableau_g5_spend_by_type_year",
]
APP_KINDS = ["any_column_contains", "range_filter", "top_n_filter", "preview_csv"]
#: reads over the persisted ANN artifacts: the IVF index and the segment
#: store's versioned manifest chain
ANN_KINDS = ["sim_persisted_ivf_topk", "sim_persisted_read_asof"]
#: DuckDB oracles over the ANN embeddings (the exact top-k is the recall
#: reference for the IVF answer)
ANN_ORACLES = ["sim_persisted_read_asof", "sim_bruteforce_topk"]
#: an assumption, not a measured share: one session in four starts after a
#: data refresh, so each pass pays one view fill (the cold path) beside
#: the memo hits. It is the first: in a seeded session the view's refill
#: sped up the reads after it, so the median moved with the seed (681 and
#: 541 ms with the refresh in session 2, 705-900 ms in session 4).
SESSIONS_PER_PASS = 4
REFRESH_SESSION = 0


class Dashboard(Workload):
    name = "dashboard"
    why = ("interactive BI reads and persisted-ANN reads over data in the program's "
           "catalog and view memos: isolates query planning, code generation, scheduling "
           "and the memo hit path; the first of four sessions (an assumed share) starts "
           "with a data refresh (evict_view) and pays the view fill")
    sf = 0.1

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "data", "sf")
        self.facts = gen.write_tables(self.sf_dir, self.seed, self.sf)
        self.ann = anncache.ensure(self.root)
        self.ann_sf = os.path.join(self.ann, "sf")
        self.facts.update(requests_per_pass=len(QUERY_KINDS) + len(APP_KINDS) + len(ANN_KINDS),
                          ann_vectors=anncache.N_VECTORS,
                          refresh_session_share=1 / SESSIONS_PER_PASS)

    def setup(self, spark, rep: int) -> None:
        from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables

        load_tables(spark, self.sf_dir)

    def prepare(self, spark) -> None:
        import __spark_entry__ as entry
        from tools.oracle_check import duckdb_connection

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        self.con = duckdb_connection(self.sf_dir)

        ann = duckdb.connect()
        ann.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{self.ann_sf}/embeddings.parquet')")

        def compute_oracles():
            self.expected = {k: self.con.execute(oracles[k]).arrow() for k in QUERY_KINDS}
            self.expected.update({k: ann.execute(oracles[k]).arrow() for k in ANN_ORACLES})

        anncache.install(self.ann, spark.conf.get("spark.sql.warehouse.dir"))
        self.ivf_first = pq.read_table(os.path.join(self.ann, anncache.REFERENCE))
        self.n_cust = self.facts["customers"]
        # Untimed: the DuckDB oracles and the view's first fill, so every
        # table and the view are in the program's memos. Plans compile in
        # the measured pass: with an untimed warm-up pass before it, its
        # median latency spread twice as wide over seeds (0.16 against
        # 0.08 of the median on a 4-vCPU VM), as the JIT was still settling.
        with ThreadPoolExecutor(1) as pool:
            oracle_job = pool.submit(compute_oracles)
            self.queries["view_customer_value_summary"](spark, self.sf_dir).toArrow()
            oracle_job.result()
        self.con.register("cvs_oracle", self.expected["view_customer_value_summary"])
        self.con.execute("CREATE TABLE cvs AS SELECT * FROM cvs_oracle")
        rev = self.expected["view_customer_value_summary"].column("Total_Revenue").to_numpy()
        self.rev_q = np.quantile(rev, np.linspace(0, 1, 21))

    def sessions(self, spark, p: int):
        from customer_revenue_analysis_sql_tableau_spark import app_layer
        from customer_revenue_analysis_sql_tableau_spark.operators.queries import evict_view

        q, sf_dir, rng = self.queries, self.sf_dir, self.rng
        view = lambda: q["view_customer_value_summary"](spark, sf_dir)  # noqa: E731
        reqs = []
        for kind in QUERY_KINDS:
            reqs.append((kind, {}, lambda k=kind: q[k](spark, sf_dir).toArrow()))
        for kind in ANN_KINDS:
            reqs.append((kind, {}, lambda k=kind: q[k](spark, self.ann_sf).toArrow()))
        n = max(10, self.n_cust)
        needle = "customer#" + f"{int(rng.integers(0, n)):09d}"[:7]
        lo_i = int(rng.integers(0, 15))
        lo, hi = float(self.rev_q[lo_i]), float(self.rev_q[lo_i + int(rng.integers(1, 6))])
        top_n = int(rng.integers(3, 11))
        prev_n = int(rng.integers(50, 500))
        reqs += [
            ("any_column_contains", {"needle": needle},
             lambda: app_layer.any_column_contains(view(), needle).toArrow()),
            ("range_filter", {"lo": lo, "hi": hi},
             lambda: app_layer.range_filter(view(), "Total_Revenue", lo, hi).toArrow()),
            ("top_n_filter", {"n": top_n},
             lambda: app_layer.top_n_filter(view(), "Customer_Nation", top_n).toArrow()),
            ("preview_csv", {"n": prev_n},
             lambda: app_layer.csv_bytes(app_layer.preview(view(), prev_n))),
        ]
        bounds = np.linspace(0, len(reqs), SESSIONS_PER_PASS + 1).astype(int)[:-1]
        kind, args, fn = reqs[bounds[REFRESH_SESSION]]

        def refreshed(fn=fn):
            evict_view(spark, sf_dir)
            return fn()

        reqs[bounds[REFRESH_SESSION]] = (kind, {**args, "refresh": True}, refreshed)
        self.args = {kind: args for kind, args, _fn in reqs}
        return [[(kind, fn) for kind, _args, fn in reqs[a:b]]
                for a, b in zip(bounds, [*bounds[1:], len(reqs)])]

    def check(self, kind: str, out) -> list[str]:
        from tools.oracle_check import compare_tables

        a = self.args[kind]
        if kind == "sim_persisted_ivf_topk":
            return self._check_ivf(out)
        if kind in self.expected:
            want = self.expected[kind]
        elif kind == "any_column_contains":
            want = self.con.execute(
                "SELECT * FROM cvs WHERE lower(Customer_Name) LIKE ?", [f"%{a['needle']}%"]).arrow()
        elif kind == "range_filter":
            want = self.con.execute(
                "SELECT * FROM cvs WHERE Total_Revenue BETWEEN ? AND ?", [a["lo"], a["hi"]]).arrow()
        elif kind == "top_n_filter":
            want = self.con.execute(
                "SELECT * FROM cvs WHERE Customer_Nation IN (SELECT Customer_Nation FROM cvs "
                "GROUP BY 1 ORDER BY count(*) DESC, Customer_Nation LIMIT ?)", [a["n"]]).arrow()
        else:  # preview_csv: header plus n rows of the view
            lines = out.decode("utf-8").splitlines()
            header = ",".join(self.expected["view_customer_value_summary"].column_names)
            if lines[0] != header or len(lines) != a["n"] + 1:
                return [f"preview_csv: {len(lines) - 1} rows, header {lines[0][:60]!r}"]
            return []
        return [f"{kind}: {p}" for p in compare_tables(out, want)]

    def _check_ivf(self, out) -> list[str]:
        """The IVF answer is deterministic on fixed data (seeded quantizer,
        total tie order), so it must equal the first answer; its top-k
        recall against the exact DuckDB top-k must reach the floor the
        package's recall check pins."""
        from customer_revenue_analysis_sql_tableau_spark.operators.sketch_checks import (
            IVF_RECALL_FLOOR)
        from tools.oracle_check import compare_tables

        probs = [f"sim_persisted_ivf_topk: {p}" for p in compare_tables(out, self.ivf_first)]
        exact = self.expected["sim_bruteforce_topk"]
        want = set(zip(exact.column("query_id").to_pylist(), exact.column("neighbor_id").to_pylist()))
        got = set(zip(out.column("query_id").to_pylist(), out.column("neighbor_id").to_pylist()))
        recall = len(want & got) / max(1, len(want))
        if recall < IVF_RECALL_FLOOR:
            probs.append(f"sim_persisted_ivf_topk: recall {recall:.2f} < {IVF_RECALL_FLOOR}")
        return probs


# ---------------------------------------------------------------------------
# corpus_clean: batch LLM-data cleaning on fresh corpora (misses every cache)
# ---------------------------------------------------------------------------

CORPUS_DOCS = 1500
#: the corpus the stream's dedup index and eval k-grams are seeded from
SEED_CORPUS_DOCS = 500
STREAM_BATCHES, STREAM_BATCH_DOCS = 2, 200
CORPUS_KINDS = ("pipeline", "minhash", "edit_distance", "stream_ingest")


class CorpusClean(Workload):
    name = "corpus_clean"
    #: the table requests ride along for the per-layer lake metrics; the
    #: end-to-end figures cover the cleaning and ingest requests only
    e2e_kinds = CORPUS_KINDS
    why = ("fresh seeded corpora with the testdata's exact/near-dup shares miss every "
           "program cache: bound by executor compute, shuffle and the eager jobs run while "
           "the cleaning DataFrames are built; the streamed ingest adds per-batch state "
           "growth; the table writes beside them (an assumed mix) add copy-on-write cost "
           "per partition touched")

    def generate(self) -> None:
        self.data = os.path.join(self.work, "data")
        self.base_dir = os.path.join(self.data, "base")
        gen.write_corpus(self.base_dir, self.seed, SEED_CORPUS_DOCS, gen.EXACT_SHARE,
                         gen.NEAR_SHARE)
        self.facts = {"corpus_docs": CORPUS_DOCS, "stream_seed_docs": SEED_CORPUS_DOCS,
                      "exact_dup_share": gen.EXACT_SHARE, "near_dup_share": gen.NEAR_SHARE,
                      "stream_batches_per_pass": STREAM_BATCHES,
                      "stream_batch_docs": STREAM_BATCH_DOCS,
                      "docs_per_pass": 3 * CORPUS_DOCS + STREAM_BATCHES * STREAM_BATCH_DOCS}
        self.next_id = 10_000_000
        self.pairs_out = 0
        self.lake = Lake(self.root, self.work, self.seed)
        self.lake.generate()
        self.facts["lake"] = self.lake.facts

    def setup(self, spark, rep: int) -> None:
        from pyspark.sql import functions as F

        from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
        from customer_revenue_analysis_sql_tableau_spark.operators.decontamination import EVAL_MOD
        from customer_revenue_analysis_sql_tableau_spark.streaming.dedup_ingest import (
            seed_dedup_index, seed_eval_grams)

        self.stream = os.path.join(self.data, f"stream{rep}")
        shutil.rmtree(self.stream, ignore_errors=True)
        os.makedirs(f"{self.stream}/src")
        docs = load_tables(spark, self.base_dir, names=("documents",), register=False)["documents"]
        seed_eval_grams(docs.filter(F.col("doc_id") % EVAL_MOD == 0), f"{self.stream}/work")
        seed_dedup_index(docs.filter(F.col("doc_id") % EVAL_MOD != 0), f"{self.stream}/work")

    def prepare(self, spark) -> None:
        self.eval_grams = spark.read.parquet(f"{self.stream}/work/eval_grams")
        self.lake.prepare(spark)

    def _corpus(self, p: int) -> str:
        d = os.path.join(self.data, f"corpus{p}")
        self.planted = gen.write_corpus(d, self.seed * 1000 + p + 1, CORPUS_DOCS,
                                        gen.EXACT_SHARE, gen.NEAR_SHARE)
        return d

    def sessions(self, spark, p: int):
        from customer_revenue_analysis_sql_tableau_spark.operators.dedup import (
            dedup_edit_distance, dedup_minhash_lsh)
        from customer_revenue_analysis_sql_tableau_spark.operators.pipeline import (
            training_data_pipeline)
        from customer_revenue_analysis_sql_tableau_spark.streaming.dedup_ingest import (
            run_streaming_ingest_pipeline)

        corpus = self._corpus(p)
        d = gen.stream_delivery(os.path.join(self.data, f"delivery{p}"), self.seed * 1000 + p,
                                STREAM_BATCHES, STREAM_BATCH_DOCS, self.next_id)
        self.next_id += len(d["ids"])
        self.delivery = d
        s = self.stream

        def stream_ingest():
            for name in sorted(os.listdir(os.path.join(self.data, f"delivery{p}"))):
                os.rename(os.path.join(self.data, f"delivery{p}", name),
                          os.path.join(s, "src", f"p{p + 1:04d}-{name}"))
            verdicts, _pairs = run_streaming_ingest_pipeline(
                spark, f"{s}/src", f"{s}/ckpt", f"{s}/work")
            lo, hi = int(d["ids"][0]), int(d["ids"][-1])
            return verdicts.filter(f"doc_id BETWEEN {lo} AND {hi}").toArrow()

        reqs = {
            "pipeline": lambda: training_data_pipeline(spark, corpus).toArrow(),
            "minhash": lambda: dedup_minhash_lsh(spark, corpus).toArrow(),
            "edit_distance": lambda: dedup_edit_distance(spark, corpus).toArrow(),
            "stream_ingest": stream_ingest,
        }
        # a session per cleaning request, then one of lake maintenance: with
        # the lake writes between them, edit-distance dedup after the
        # seeded 3-month delete took 3.24 s against 2.89 s after a 1-month
        # one (means of five seeds each)
        return [[(kind, reqs[kind])] for kind in CORPUS_KINDS] + [self.lake.requests(spark, p)]

    def on_error(self, kind: str) -> None:
        if kind not in CORPUS_KINDS:
            self.lake.on_error(kind)

    def check(self, kind: str, out) -> list[str]:
        if kind not in CORPUS_KINDS:
            return self.lake.check(kind, out)
        if kind == "stream_ingest":
            return self._check_stream(out)
        t = out.to_pandas()
        planted = self.planted["exact_pairs"]
        if kind == "pipeline":
            probs = []
            n = len(self.planted["texts"])
            if len(t) != n or t.doc_id.nunique() != n:
                probs.append(f"pipeline: {len(t)} rows for {n} docs")
            if (t.kept == t.reason.notna()).any():
                probs.append("pipeline: kept and reason disagree")
            allowed = {"low_quality", "exact_duplicate", "near_duplicate", "contaminated"}
            if not set(t.reason.dropna()) <= allowed:
                probs.append(f"pipeline: unknown reasons {set(t.reason.dropna()) - allowed}")
            kept = t[t.kept].doc_id
            norm = [self.planted["texts"][i].strip().lower() for i in kept]
            if len(set(norm)) != len(norm):
                probs.append("pipeline: two survivors share a normalized text")
            reason = dict(zip(t.doc_id, t.reason))
            for i, j in planted:
                # a copy of an earlier text fails the same quality gate or is
                # dropped by exact dedup, before a later stage can claim it
                want = "low_quality" if reason[i] == "low_quality" else "exact_duplicate"
                if reason[j] != want:
                    probs.append(f"pipeline: doc {j} (copy of {i}) reason {reason[j]!r}, want {want!r}")
            return probs
        pairs = set(zip(t.iloc[:, 0], t.iloc[:, 1]))
        probs = []
        if any(a >= b for a, b in pairs):
            probs.append(f"{kind}: pair not ordered d1 < d2")
        missing = [(i, j) for i, j in planted if (min(i, j), max(i, j)) not in pairs]
        if missing:
            probs.append(f"{kind}: {len(missing)} planted exact duplicates not found, e.g. {missing[0]}")
        if kind == "minhash":
            self.pairs_out += len(pairs)
        return probs

    def _check_stream(self, out) -> list[str]:
        """Streamed verdicts must equal the batch gates on the same docs."""
        from customer_revenue_analysis_sql_tableau_spark.operators.decontamination import (
            containment_vs_eval, doc_kgrams)
        from customer_revenue_analysis_sql_tableau_spark.operators.pipeline import QUALITY_T
        from customer_revenue_analysis_sql_tableau_spark.operators.text import quality_scored

        d = self.delivery
        spark = self.eval_grams.sparkSession
        docs = spark.createDataFrame(
            pa.table({"doc_id": pa.array(d["ids"], pa.int64()), "text": d["texts"]}).to_pandas())
        q = quality_scored(docs).select("doc_id", "quality_score")
        c = containment_vs_eval(doc_kgrams(docs), self.eval_grams).select(
            "doc_id", "containment", "flagged")
        batch = {r.doc_id: (r.quality_score, r.containment,
                            r.quality_score >= QUALITY_T and not r.flagged)
                 for r in q.join(c, "doc_id").collect()}
        got = {r["doc_id"]: (r["quality_score"], r["containment"], r["kept"])
               for r in out.to_pylist()}
        if got != batch:
            bad = [k for k in batch if got.get(k) != batch[k]]
            return [f"stream_ingest: {len(bad)} of {len(batch)} verdicts differ from the batch gates"]
        return []

    def layer_extra(self) -> dict:
        state = 0
        for root, _dirs, files in os.walk(os.path.join(self.stream, "work")):
            state += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return {"dedup.pairs_out": float(self.pairs_out),
                "streaming.state_bytes": float(state), **self.lake.layer_extra()}

    def finish(self, spark) -> list[str]:
        return self.lake.finish(spark)


# ---------------------------------------------------------------------------
# lake maintenance: writes beside reads on one manifest-committed table
# ---------------------------------------------------------------------------

WRITES = ("insert_into", "upsert", "delete_where", "optimize")
# The lake traffic below is an assumption, not a measured mix: neither the
# repo nor a public trace gives the verb mix of a table-maintenance service.
# It is sized so one pass fits beside the cleaning requests: every verb
# once; one of the upsert and the delete spans MULTI_SPAN months
# drawn from all 80, the others hit one of the RECENT_MONTHS newest. A
# write spanning all 80 months takes 14-25 s (upsert, delete_where and
# optimize on a 4-core machine), longer than a whole pass, so none is run.
LAKE_OPS = ("insert_into", "upsert", "read", "delete_where", "read_asof", "optimize")
MULTI_WRITES, MULTI_SPAN, RECENT_MONTHS = 1, 3, 6
RETAIN = 4
INSERT_ROWS, UPSERT_ROWS = 200, 100


def _cents():
    from pyspark.sql import functions as F

    return F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))


class Lake(Workload):
    """Lake maintenance on a ManifestTable over ``orders``, checked
    against a pandas replay of the same verbs. Runs inside corpus_clean."""

    name = "lake"
    sf = 0.1

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "data", "sf")
        gen.write_tables(self.sf_dir, self.seed, self.sf)
        t = pq.read_table(os.path.join(self.sf_dir, "orders.parquet")).to_pandas()
        t["part_month"] = t.o_orderdate.dt.strftime("%Y-%m")
        self.state = t.set_index("o_orderkey", drop=False)
        self.months = gen.month_list()
        self.next_key = 10_000_000
        n_multi = sum(k in ("upsert", "delete_where") for k in LAKE_OPS)
        n_writes = n_multi + LAKE_OPS.count("insert_into")
        self.facts = {"orders_rows": len(t), "partitions": len(self.months),
                      "ops_per_pass": len(LAKE_OPS), "ops": LAKE_OPS,
                      "multi_partition_write_share": MULTI_WRITES / n_multi,
                      "multi_partition_span": MULTI_SPAN, "recent_months": RECENT_MONTHS,
                      "write_share_in_recent_months": 1 - MULTI_WRITES / n_writes}
        self.user_rows = 0
        self.bytes_written = 0
        self.files_rewritten = 0
        self.commits = 0

    def prepare(self, spark) -> None:
        """The table's first load is ingest, untimed like bench.py's
        layout builds; the measured passes maintain it."""
        from customer_revenue_analysis_sql_tableau_spark.catalog import load_tables
        from customer_revenue_analysis_sql_tableau_spark.sources.table_api import ManifestTable

        self.root = os.path.join(self.work, "data", "table")
        orders = load_tables(spark, self.sf_dir, names=("orders",), register=False)["orders"]
        self.table = ManifestTable.create(spark, orders, "file:" + self.root, date_col="o_orderdate")
        self.spark = spark
        self.versions = {self.table.version(): self._stats(self.state)}
        self.head = self._head_files()
        self.replay_ok = True

    @staticmethod
    def _stats(df) -> tuple[int, int]:
        return len(df), int(np.round(df.o_totalprice.to_numpy() * 100).astype(np.int64).sum())

    def _head_files(self) -> dict[str, set[str]]:
        from customer_revenue_analysis_sql_tableau_spark.sources import manifest_table as mt

        files = mt.resolve_manifest("file:" + self.root)["files"]
        return {m: set(ns) for m, ns in files.items()}

    def _rows(self, rng, months, n):
        """Fresh orders dated inside ``months``."""
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        m = np.array(months)[rng.integers(0, len(months), n)]
        day = rng.integers(1, 29, n)
        dates = np.array([f"{a}-{d:02d}" for a, d in zip(m, day)], dtype="datetime64[us]")
        if "2001-08" in months:  # the newest partition holds one day
            dates = np.where(m == "2001-08", np.datetime64("2001-08-01", "us"), dates)
        import pandas as pd

        return pd.DataFrame({
            "o_orderkey": keys, "o_custkey": rng.integers(0, 15_000, n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n), 2),
            "o_orderdate": pd.to_datetime(dates),
            "o_orderpriority": np.array(gen.PRIORITIES)[rng.integers(0, 5, n)],
            "part_month": [str(d)[:7] for d in dates.astype("datetime64[M]")],
        })

    def _frame(self, pdf):
        from pyspark.sql import functions as F

        return self.spark.createDataFrame(pdf).withColumn(
            "o_orderdate", F.col("o_orderdate").cast("timestamp"))

    def requests(self, spark, p: int):
        from pyspark.sql import functions as F

        ops = gen.lake_ops(self.seed * 1000 + p, LAKE_OPS, self.months, MULTI_WRITES,
                           MULTI_SPAN, RECENT_MONTHS)
        t = self.table
        out = []
        for op in ops:
            rng = np.random.default_rng(op["seed"])
            kind, months = op["kind"], op["months"]
            if kind == "insert_into":
                pdf = self._rows(rng, months, INSERT_ROWS)
                fn = lambda pdf=pdf: t.insert_into(self._frame(pdf))  # noqa: E731
            elif kind == "upsert":
                pdf = self._upsert_rows(rng, months)
                fn = lambda pdf=pdf: t.upsert(self._frame(pdf), key="o_orderkey")  # noqa: E731
            elif kind == "delete_where":
                r = int(rng.integers(0, 13))
                pdf = (months, r)
                fn = lambda months=months, r=r: t.delete_where(  # noqa: E731
                    predicate=F.col("part_month").isin(months) & (F.col("o_orderkey") % 13 == r))
            elif kind == "read":
                lo = months[0]
                pdf = lo
                fn = lambda lo=lo: t.read().filter(F.col("part_month") >= lo).groupBy(  # noqa: E731
                    "part_month").agg(F.count("*").alias("n"), _cents().alias("c")).collect()
            elif kind == "read_asof":
                pdf = None
                fn = lambda rng=rng: self._asof(rng)  # noqa: E731
            else:
                pdf = months
                fn = lambda months=months: (t.optimize(months=[  # noqa: E731
                    m for m in months if len(self.head.get(m, ())) > 1]), t.vacuum(retain=RETAIN))
            out.append((kind, self._op(kind, pdf, fn)))
        return out

    def _op(self, kind, arg, fn):
        def op():
            self.cur = (kind, arg)
            return fn()

        return op

    def on_error(self, kind: str) -> None:
        if kind in WRITES:
            # the table may or may not hold the failed write: stop replaying
            self.replay_ok = False

    def _upsert_rows(self, rng, months):
        import pandas as pd

        pool = self.state[self.state.part_month.isin(months)]
        n_old = min(len(pool), UPSERT_ROWS * 4 // 5)  # the rest are new keys
        old = pool.iloc[rng.choice(len(pool), n_old, replace=False)].copy()
        old["o_totalprice"] = np.round(old.o_totalprice + rng.integers(1, 10_000, len(old)) / 100, 2)
        new = self._rows(rng, months, UPSERT_ROWS - len(old))
        return pd.concat([old.reset_index(drop=True), new], ignore_index=True)

    def _asof(self, rng):
        from pyspark.sql import functions as F

        head = self.table.version()
        live = [v for v in sorted(self.versions) if v > head - RETAIN and v < head] or [head]
        v = live[int(rng.integers(0, len(live)))]
        row = self.table.read(version=v).agg(
            F.count("*").alias("n"), _cents().alias("c")).collect()[0]
        return v, (row["n"], row["c"])

    def check(self, kind: str, out) -> list[str]:
        _, arg = self.cur
        if not self.replay_ok:
            return []
        s = self.state
        if kind == "insert_into":
            self.state = pd_concat(s, arg)
            self.user_rows += len(arg)
        elif kind == "upsert":
            self.state = pd_concat(s.drop(index=arg.o_orderkey, errors="ignore"), arg)
            self.user_rows += len(arg)
        elif kind == "delete_where":
            months, r = arg
            self.state = s[~(s.part_month.isin(months) & (s.o_orderkey % 13 == r))]
        elif kind == "read":
            sub = s[s.part_month >= arg]
            want = {m: (len(g), self._stats(g)[1]) for m, g in sub.groupby("part_month")}
            got = {r["part_month"]: (r["n"], r["c"]) for r in out}
            bad = [m for m in want if got.get(m) != want[m]]
            return [f"read: {len(bad)} of {len(want)} months differ from the replay"] if bad else []
        elif kind == "read_asof":
            v, got = out
            want = self.versions[v]
            return [] if got == want else [f"read_asof v{v}: {got} != replay {want}"]
        # every write commits: account the files it added and removed
        head = self._head_files()
        removed = 0
        for m, names in head.items():
            for n in names - self.head.get(m, set()):
                self.bytes_written += os.path.getsize(f"{self.root}/part_month={m}/{n}")
        for m, names in self.head.items():
            removed += len(names - head.get(m, set()))
        self.files_rewritten += removed
        self.commits += 1
        self.head = head
        self.versions[self.table.version()] = self._stats(self.state)
        return []

    def finish(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        if not self.replay_ok:
            return []  # the failed write is already counted
        got = self.table.read().select("o_orderkey", (F.round(F.col("o_totalprice") * 100)
                                                      .cast("long")).alias("c")).toPandas()
        cents = np.round(self.state.o_totalprice * 100).astype(np.int64)
        want = dict(zip(self.state.o_orderkey, cents))
        have = dict(zip(got.o_orderkey, got.c))
        if have != want:
            return [f"lake_rw final table: {len(have)} rows vs replay {len(want)}"]
        return []

    def layer_extra(self) -> dict:
        live = on_disk = 0
        for m, names in self.head.items():
            live += sum(os.path.getsize(f"{self.root}/part_month={m}/{n}") for n in names)
        for root, _d, files in os.walk(self.root):
            on_disk += sum(os.path.getsize(os.path.join(root, f)) for f in files
                           if f.endswith(".parquet"))
        row_bytes = live / max(1, len(self.state))
        return {
            "manifest_table.live_files": float(sum(len(n) for n in self.head.values())),
            "manifest_table.bytes_written": float(self.bytes_written),
            "manifest_table.write_amplification":
                self.bytes_written / max(1.0, self.user_rows * row_bytes),
            "manifest_table.space_amplification": on_disk / max(1, live),
            "table_api.files_rewritten": self.files_rewritten / max(1, self.commits),
        }


def pd_concat(a, b):
    import pandas as pd

    b = b.set_index("o_orderkey", drop=False)
    return pd.concat([a, b[a.columns]])


WORKLOADS = {w.name: w for w in (Dashboard, CorpusClean)}
