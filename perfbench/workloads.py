"""The four workloads. Each one:

- ``prepare()`` makes its inputs from the seed (not timed, not set-up);
- ``setup(spark)`` does the untimed warm-up that ``setup_s`` covers;
- ``run(spark, seconds, tracer)`` is the timed region: operations until
  ``seconds`` have passed, each recorded as an ``Op``;
- ``check()`` compares every kept output with DuckDB afterwards and
  returns the number of failed operations plus a reason for each.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass
from datetime import timedelta

import gen
import oracle

ETL_ROWS = 50_000
API_CLIENTS = 4
API_PAGE_LIMIT = 100
API_REQUESTS_PER_CLIENT = 200
API_WARMUP_S = 2.0
# (days, filters) of the request slots in every block. Each walk's
# filters leave 100+ rows, so it always has a cursor follow-up.
API_WALKS = [(1, ()), (7, ("airline",)), (gen.FLIGHT_DAYS, ("origin",))]
API_SUMMARIES = [(1, ("airline",)), (7, ("origin", "destination")), (gen.FLIGHT_DAYS, ())]
API_MIX = {"flights_page": 0.6, "metrics_summary": 0.3, "airports_list": 0.1}
SUITE_SCALE = 0.1
SUITE_TABLE_SEED = 42

ANALYTICS_QUERIES = [
    "perf_metrics", "pricing_summary", "revenue_by_nation", "shipping_priority",
    "route_metrics", "topk_per_group", "sessionize", "asof_purchase_view",
    "range_join_views_after_purchase", "tumbling_window_counts",
    "returned_item_customers", "salted_agg_order_totals",
]
CORPUS_QUERIES = [
    "dedup_exact_docs", "minhash_dedup_count", "knn_brute_force", "knn_lsh",
    "knn_ivf", "grouped_zscore_pandas", "media_feature_extraction",
]


@dataclass
class Op:
    kind: str
    start: float
    end: float
    error: str | None = None
    rows_returned: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Context:
    root: str
    work: str
    seed: int


def _timed(tracer, kind: str, fn):
    """Run one operation; a traced run wraps it in a top-level span."""
    ctx = tracer.span(f"op.{kind}") if tracer is not None and tracer.enabled else nullcontext()
    t0 = time.perf_counter()
    try:
        with ctx:
            result = fn()
        return Op(kind, t0, time.perf_counter()), result
    except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
        return Op(kind, t0, time.perf_counter(), f"{type(exc).__name__}: {exc}"[:300]), None


class Workload:
    name = ""
    op_noun = "operation"
    # weight of each operation kind in the latency metrics; None gives
    # every kind the same weight
    mix: dict[str, float] | None = None

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        # per-layer facts that ``check`` learns (sizes, recall)
        self.facts: dict[str, float] = {}

    def prepare(self) -> None:
        pass

    def setup(self, spark) -> None:
        pass

    def run(self, spark, seconds: float, tracer) -> list[Op]:
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        raise NotImplementedError

    def counters(self, spark) -> dict[str, float]:
        """Extra per-layer counts, measured from outside after the timed
        region (traced run only)."""
        return {}


# ---------------------------------------------------------------------------
class _FlightsInput(Workload):
    def prepare(self) -> None:
        inp = os.path.join(self.ctx.work, "input")
        os.makedirs(inp)
        self.csv = os.path.join(inp, "flights.csv")
        self.weather = os.path.join(inp, "weather.json")
        gen.write_flights(self.csv, self.weather, ETL_ROWS, self.ctx.seed)
        self.csv_bytes = os.path.getsize(self.csv)
        # the same seed must give the same bytes: generate again and compare
        again = os.path.join(self.ctx.work, "regen")
        os.makedirs(again)
        gen.write_flights(os.path.join(again, "f.csv"), os.path.join(again, "w.json"),
                          ETL_ROWS, self.ctx.seed)
        for mine, other in ((self.csv, "f.csv"), (self.weather, "w.json")):
            if gen.file_digest(mine) != gen.file_digest(os.path.join(again, other)):
                raise RuntimeError(f"seed {self.ctx.seed} does not reproduce {mine}")
        shutil.rmtree(again)

    def _pipeline(self, out_dir: str):
        from airline_data_pipeline_spark.pipeline import runner

        return runner.run_pipeline(spark=self.spark, raw_csv_path=self.csv,
                                   output_dir=out_dir, weather_json_path=self.weather)

    def warehouse_facts(self, flights_path: str) -> dict[str, float]:
        files = size = 0
        for d, _, names in os.walk(flights_path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
        return {
            "io.write_parquet.files": files,
            "io.warehouse_bytes_per_input_byte": size / self.csv_bytes,
        }


class EtlBatch(_FlightsInput):
    """``run_pipeline`` over a seeded raw CSV; every run writes a fresh
    date-partitioned warehouse and the previous one is deleted."""

    name = "etl_batch"
    op_noun = "pipeline run"

    def setup(self, spark) -> None:
        self.spark = spark
        self.truth = oracle.csv_airline_counts(self.csv)
        warm = os.path.join(self.ctx.work, "out", "warmup")
        self._pipeline(warm)
        shutil.rmtree(warm)
        self.results: list = []

    def run(self, spark, seconds, tracer):
        ops, deadline = [], time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            out = os.path.join(self.ctx.work, "out", f"run{len(self.results)}")
            op, res = _timed(tracer, "pipeline_run", lambda: self._pipeline(out))
            ops.append(op)
            if self.results and self.results[-1] is not None:
                shutil.rmtree(self.results[-1].flights_path, ignore_errors=True)
            self.results.append(res)
        return ops

    def check(self):
        reasons = []
        failed = 0
        for i, res in enumerate(self.results):
            if res is None:
                failed += 1
                continue
            counts = {a["airline"]: a["total_flights"] for a in res.metrics["airlines"]}
            bad = []
            if res.validation_failures:
                bad.append(f"validation failures {res.validation_failures}")
            if counts != self.truth:
                bad.append("per-airline counts differ from the CSV")
            if bad:
                failed += 1
                reasons.append(f"run {i}: " + "; ".join(bad))
        last = self.results[-1] if self.results else None
        if last is not None:
            con = oracle.warehouse_connection(last.flights_path)
            if oracle.warehouse_airline_counts(con) != self.truth:
                failed += 1
                reasons.append("last warehouse rows differ from the CSV")
            self.facts = self.warehouse_facts(last.flights_path)
        return failed, reasons


class ApiServing(_FlightsInput):
    """Closed loop: API_CLIENTS threads, each sending its next request
    when the last one returned, against the warehouse written in set-up.
    The warehouse is read uncached."""

    name = "api_serving"
    op_noun = "request"
    mix = API_MIX

    def prepare(self) -> None:
        super().prepare()
        rng = random.Random(self.ctx.seed)
        self.requests = [self._request_list(rng) for _ in range(API_CLIENTS)]

    def _filters(self, rng: random.Random, days: int, keys: tuple[str, ...]) -> dict:
        """A ``days``-long date range at a seeded start, plus a filter on
        each of ``keys``: a Zipf-skewed carrier or airport code, 30% of
        them lower-case."""
        first = rng.randrange(0, gen.FLIGHT_DAYS - days + 1)
        f = {
            "start_date": (gen.FIRST_DAY + timedelta(days=first)).isoformat(),
            "end_date": (gen.FIRST_DAY + timedelta(days=first + days - 1)).isoformat(),
        }
        for key in keys:
            codes = gen.CARRIERS if key == "airline" else gen.AIRPORTS
            code = rng.choices(codes, weights=gen.zipf_weights(len(codes)))[0]
            f[key] = code.lower() if rng.random() < 0.3 else code
        return f

    def _request_list(self, rng: random.Random) -> list[tuple]:
        """Blocks of 10 requests, each block shuffled: 3 two-page
        flights_page walks (a first page and one cursor follow-up),
        3 metrics_summary, 1 airports_list. Each block has the same
        slots (API_WALKS, API_SUMMARIES): the seed picks the dates, the
        codes and the order, so every prefix a client gets through costs
        about the same whatever the seed."""
        items: list[tuple] = []
        for _ in range(API_REQUESTS_PER_CLIENT // 10):
            block = [("walk", self._filters(rng, *slot)) for slot in API_WALKS]
            block += [("metrics", self._filters(rng, *slot)) for slot in API_SUMMARIES]
            block.append(("airports", {}))
            rng.shuffle(block)
            items += block
        return items

    def setup(self, spark) -> None:
        self.spark = spark
        res = self._pipeline(os.path.join(self.ctx.work, "warehouse"))
        self.flights_path = res.flights_path
        self.flights = spark.read.parquet(self.flights_path)
        self.log: list[list] = [[] for _ in range(API_CLIENTS)]
        for kind in ("walk", "metrics", "airports"):
            item = next(it for it in self.requests[0] if it[0] == kind)
            self._serve(item, None, time.perf_counter() + 3600, [])
        # then the closed loop itself, so concurrent first requests are
        # not timed either
        self.run(spark, API_WARMUP_S, None)
        self.log = [[] for _ in range(API_CLIENTS)]

    def _serve(self, item, tracer, deadline, ops) -> list:
        from airline_data_pipeline_spark.queries import api

        kind, filters = item
        if kind == "walk":
            pages, cursor = [], None
            for page in range(2):
                if page and (cursor is None or time.perf_counter() >= deadline):
                    break
                op, resp = _timed(tracer, "flights_page", lambda: api.flights_page(
                    self.flights, limit=API_PAGE_LIMIT, cursor=cursor, **filters))
                op.rows_returned = len(resp["flights"]) if resp else 0
                ops.append(op)
                pages.append(resp)
                cursor = resp["next_cursor"] if resp else None
            return pages
        if kind == "metrics":
            op, resp = _timed(tracer, "metrics_summary",
                              lambda: api.metrics_summary(self.flights, **filters))
            op.rows_returned = 1
        else:
            op, resp = _timed(tracer, "airports_list", lambda: api.airports_list(self.flights))
            op.rows_returned = len(resp) if resp else 0
        ops.append(op)
        return [resp]

    def run(self, spark, seconds, tracer):
        deadline = time.perf_counter() + seconds
        per_client: list[list[Op]] = [[] for _ in range(API_CLIENTS)]

        def client(i: int) -> None:
            reqs, j = self.requests[i], 0
            while time.perf_counter() < deadline:
                item = reqs[j % len(reqs)]
                start = len(per_client[i])
                resps = self._serve(item, tracer, deadline, per_client[i])
                self.log[i].append((item, resps, per_client[i][start:]))
                j += 1

        threads = [threading.Thread(target=client, args=(i,)) for i in range(API_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return [op for ops in per_client for op in ops]

    def check(self):
        con = oracle.warehouse_connection(self.flights_path)
        expected: dict = {}
        failed, reasons = 0, []

        def truth(key, fn):
            if key not in expected:
                expected[key] = fn()
            return expected[key]

        for entries in self.log:
            for (kind, filters), resps, ops in entries:
                fkey = tuple(sorted(filters.items()))
                if any(op.error for op in ops):
                    failed += len(ops)
                    reasons.append(f"{kind} {filters}: {ops[0].error}")
                    continue
                if kind == "walk":
                    want = truth(("walk", fkey, len(resps)), lambda: oracle.page_walk(
                        con, filters, API_PAGE_LIMIT, len(resps)))
                    got = [row for r in resps for row in r["flights"]]
                    full = [r["count"] == API_PAGE_LIMIT for r in resps]
                    ok = got == want and all(
                        (r["next_cursor"] is not None) == f for r, f in zip(resps, full))
                elif kind == "metrics":
                    want = truth(("metrics", fkey), lambda: oracle.metrics_summary(con, filters))
                    ok = oracle.same_summary(resps[0], want)
                else:
                    ok = resps[0] == truth(("airports",), lambda: oracle.airports(con))
                if not ok:
                    failed += len(ops)
                    reasons.append(f"{kind} {filters}: response differs from DuckDB")
        self.facts = self.warehouse_facts(self.flights_path)
        return failed, reasons[:20]


# ---------------------------------------------------------------------------
class _Suite(Workload):
    """One pass = every query of ``queries`` once, in a seed-permuted
    order, each collected to the driver. The tables are generated once
    per checkout from a fixed seed, so only the order varies by seed."""

    queries: list[str] = []
    op_noun = "query"

    def prepare(self) -> None:
        self.tables = os.path.join(self.ctx.root, ".perfbench", f"tables-sf{SUITE_SCALE}")
        if not os.path.exists(os.path.join(self.tables, "_DONE")):
            shutil.rmtree(self.tables, ignore_errors=True)
            gen.write_tables(self.tables, SUITE_SCALE, SUITE_TABLE_SEED)
            open(os.path.join(self.tables, "_DONE"), "w").close()
        self.order = list(self.queries)
        random.Random(self.ctx.seed).shuffle(self.order)

    def setup(self, spark) -> None:
        from airline_data_pipeline_spark.queries.suite import registry

        self.registry = registry()
        self.results: list[tuple[str, list[str], list]] = []
        for q in self.order:
            self.registry[q].fn(spark, self.tables).collect()

    def _one(self, spark, q: str):
        df = self.registry[q].fn(spark, self.tables)
        return df.columns, df.collect()

    def run(self, spark, seconds, tracer):
        ops: list[Op] = []
        deadline = time.perf_counter() + seconds
        while True:
            for q in self.order:
                op, res = _timed(tracer, q, lambda: self._one(spark, q))
                ops.append(op)
                cols, rows = res if res is not None else (None, None)
                op.rows_returned = len(rows or [])
                self.results.append((q, cols, rows))
            if time.perf_counter() >= deadline:
                return ops

    def check(self):
        con = oracle.suite_connection(self.tables)
        want = {q: oracle.suite_digest(con, self.registry[q].oracle) for q in self.queries}
        failed, reasons = 0, []
        for q, cols, rows in self.results:
            if cols is None:
                failed += 1
                reasons.append(f"{q}: raised")
                continue
            got = oracle.result_digest(cols, [tuple(r) for r in rows])
            if got != want[q] or want[q][0] == 0:
                failed += 1
                reasons.append(f"{q}: {got[0]} rows, oracle {want[q][0]} rows, digests differ")
        return failed, sorted(set(reasons))


class AnalyticsSf01(_Suite):
    name = "analytics_sf01"
    queries = ANALYTICS_QUERIES


class CorpusDedupKnn(_Suite):
    name = "corpus_dedup_knn"
    queries = CORPUS_QUERIES

    def check(self):
        result = super().check()
        self.facts = self._recall()
        return result

    def _recall(self) -> dict[str, float]:
        """Mean recall@10 of knn_lsh and knn_ivf against knn_brute_force,
        from the last pass."""
        last = {q: rows for q, cols, rows in self.results if rows is not None}
        if "knn_brute_force" not in last:
            return {}

        def neighbors(rows):
            out: dict = {}
            for r in rows:
                out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return out

        truth = neighbors(last["knn_brute_force"])
        recalls = []
        for q in ("knn_lsh", "knn_ivf"):
            got = neighbors(last.get(q, []))
            for qid, ids in truth.items():
                recalls.append(len(ids & got.get(qid, set())) / len(ids))
        return {"operators.similarity.knn_recall_at_10": sum(recalls) / len(recalls)}

    def counters(self, spark):
        from pyspark.sql import functions as F

        from airline_data_pipeline_spark.io.readers import table
        from airline_data_pipeline_spark.operators import dedup, similarity

        docs = table(spark, self.tables, "documents")
        cands = dedup.minhash_candidates(docs, num_hashes=32, bands=16).localCheckpoint()
        n_cands = cands.count()
        verified = dedup.jaccard_verify(cands, docs, threshold=0.7).count()
        e = table(spark, self.tables, "embeddings").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
        q = e.filter(F.col("vec_id") < 5)
        n_q = q.count()
        lsh = similarity.lsh_scores(e, q, n_bits=2, n_tables=24).count()
        ivf = similarity.ivf_scores(e, q, n_centroids=16, nprobe=16).count()
        return {
            "operators.dedup.minhash_candidate_pairs": n_cands,
            "operators.dedup.candidate_precision": verified / n_cands if n_cands else 0.0,
            "operators.similarity.lsh_candidates_per_query": lsh / n_q,
            "operators.similarity.ivf_candidates_per_query": ivf / n_q,
        }


WORKLOADS = {w.name: w for w in (EtlBatch, ApiServing, AnalyticsSf01, CorpusDedupKnn)}
