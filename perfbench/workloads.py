"""The benchmark's workloads.  Each drives the engine only through the
public functions of its modules, times every operation, and keeps what it
needs to check the outputs after the timed window.

nightly  batch job per date: capped risk scores -> txlog commit (bloom
         key), capped batch scores -> sinks partition; then intraday
         refresh cycles (touched weather buckets re-scored, merged into
         the txlog table and upserted into the sinks table, read back
         through both), compaction, retention and one streaming
         availableNow pass.
serve    closed loop, 1 client: point lookups, bulk map reads, 1-5-route
         predictions and a dashboard of one report query per operator
         family, against tables committed during set-up.
"""

from __future__ import annotations

import datetime as dt
import gc
import random
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from pathlib import Path

import checks

DATE0 = dt.date(2024, 6, 15)   # the engine's default prediction date


# ---------------------------------------------------------------------------
# run state shared by all workloads
# ---------------------------------------------------------------------------

class Run:
    """One benchmark run: Spark session, directories, tracer and the
    per-operation record every workload fills."""

    SETUP_REPS = 3

    def __init__(self, *, seed: int, seconds: float, data_dir: Path,
                 run_dir: Path, tracer):
        self.seed = seed
        self.seconds = seconds
        self.sf = str(data_dir)
        self.run_dir = run_dir
        self.tr = tracer
        self.rng = random.Random(seed)
        self.spark = None
        self.setup_times: list[float] = []
        self.ops: list[dict] = []          # one per attempted operation
        self.window_s = 0.0
        self.extra: dict = {}              # workload-specific figures
        self._dirs = 0

    # -- session and set-up -------------------------------------------------

    def start_session(self) -> None:
        from safeascent_spark.session import get_spark
        with self.tr.span("session", "get_spark"):
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        if self.spark is not None:
            self.tr.sc = None
            self.spark.stop()
            self.spark = None

    def warm(self) -> None:
        """First materialization of the session-memoized dimensions and
        figures every scoring call reads."""
        from safeascent_spark import grades
        from safeascent_spark.operators import scoring, weather
        before = self.persisted_frames() if self.tr.enabled else 0
        with self.tr.span("domain", "warm", "exec") as s:
            weather.weather_similarity_cached(self.spark, self.sf).count()
            grades.domain_grade_dim(self.spark, self.sf).count()
            scoring.significance_reach_km(self.spark, self.sf)
            scoring.dim_broadcasts(self.spark, self.sf)
        if s is not None:
            self.tr.note(s, memo_frames=self.persisted_frames() - before)

    def persisted_frames(self) -> int:
        """Persisted RDDs of the SparkContext (cached and locally
        checkpointed frames)."""
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return str(self.run_dir / f"{name}-{self._dirs}")

    def setup(self, derive, commit):
        """Starts the JVM and the engine's session (reported apart, as
        ``session_start_s``: it varies with the host far more than the
        engine's set-up work does), derives the base tables' rows
        (``derive()`` returns pandas frames; untimed, reported as
        ``base_derive_s``), then sets up SETUP_REPS times and keeps the
        last set-up: a new session on the same SparkContext (empty memo
        caches), its memoized dimensions warmed, and the base tables
        committed into fresh directories by ``commit(frames)``.  The first
        repetition also pays the JVM's warm-up; ``setup_s`` is the median
        of the repetitions."""
        t0 = time.perf_counter()
        with self.tr.request("setup"):
            self.start_session()
        self.extra["session_start_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        frames = derive()
        self.extra["base_derive_s"] = time.perf_counter() - t0
        for _ in range(self.SETUP_REPS):
            t0 = time.perf_counter()
            with self.tr.request("setup"):
                with self.tr.span("session", "newSession"):
                    self.spark = self.spark.newSession()
                self.warm()
                state = commit(frames)
            self.setup_times.append(time.perf_counter() - t0)
        gc.collect()       # finalize the earlier sessions' frames now
        return state

    def check(self, fn, *args) -> None:
        """Run an output check after the window; its time is reported."""
        t0 = time.perf_counter()
        fn(self, *args)
        self.extra["checks_s"] = time.perf_counter() - t0

    def frame(self, pdf):
        """A base-table frame of this session from derived rows."""
        return self.spark.createDataFrame(pdf)

    # -- timed operations ---------------------------------------------------

    @contextmanager
    def op(self, kind: str, **info):
        """Times one operation; an exception marks it failed (the window
        goes on).  Yields the record so the body can attach outputs."""
        rec = {"kind": kind, "ok": True, **info}
        t0 = time.perf_counter()
        try:
            with self.tr.request(kind):
                yield rec
        except Exception as e:  # a failed op is a result, not a crash
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        self.ops.append(rec)

    def fail(self, rec: dict, why: str) -> None:
        """An output check failed: the op counts as failed."""
        rec["ok"] = False
        rec.setdefault("error", why[:300])

    # -- layer calls ---------------------------------------------------------

    def plan(self, layer: str, op: str, fn, *a, **kw):
        with self.tr.span(layer, op, "plan"):
            return fn(*a, **kw)

    def exec(self, layer: str, op: str, fn, *a, **kw):
        with self.tr.span(layer, op, "exec"):
            return fn(*a, **kw)

    def call(self, layer: str, op: str, fn, *a, **kw):
        with self.tr.span(layer, op, "call"):
            return fn(*a, **kw)


def date_str(d: dt.date) -> str:
    return d.isoformat()


# ---------------------------------------------------------------------------
# shared engine steps
# ---------------------------------------------------------------------------

def capped_scores(run: Run, pred_date: str):
    """Plan + materialize the capped risk scores for one date."""
    from safeascent_spark.operators import scoring
    df = run.plan("operators.scoring", "risk_scores_capped_df",
                  scoring.risk_scores_capped_df, run.spark, run.sf, pred_date)
    return run.exec("operators.scoring", "risk_scores_capped_df",
                    lambda: df.localCheckpoint(eager=True))


def batch_scores(run: Run, pred_date: str):
    from safeascent_spark.operators import batch
    df = run.plan("operators.batch", "batch_scores_capped_df",
                  batch.batch_scores_capped_df, run.spark, run.sf, pred_date)
    return run.exec("operators.batch", "batch_scores_capped_df",
                    lambda: df.localCheckpoint(eager=True))


def commit_scores(run: Run, df, root: str, pred_date: str) -> None:
    from safeascent_spark import txlog
    run.call("txlog", "commit_overwrite_partition",
             txlog.commit_overwrite_partition, df, root, pred_date,
             bloom_key=True)


def write_sinks(run: Run, df, path: str, pred_date: str) -> None:
    from safeascent_spark import sinks
    run.call("sinks", "write_scores", sinks.write_scores, df, path, pred_date)


def manifest_stats(run: Run, root: str) -> None:
    """Traced runs only, outside the timed window: counts from the head
    manifest, data files per partition and on-disk bytes over the bytes
    the manifest references."""
    from safeascent_spark import txlog
    if not run.tr.enabled:
        return
    m = txlog.read_manifest(root)
    parts = m["partitions"]
    live = sum((Path(root) / e["path"]).stat().st_size
               for files in parts.values() for e in files)
    disk = sum(p.stat().st_size for p in (Path(root) / "data").rglob("*.parquet"))
    run.extra["txlog.files_per_partition"] = (
        sum(len(f) for f in parts.values()) / max(1, len(parts)))
    run.extra["txlog.bytes_per_live_byte"] = disk / max(1, live)


def routes_subset(run: Run, ids: list[int]):
    from pyspark.sql import functions as F
    from safeascent_spark import domain
    return domain.routes_df(run.spark, run.sf).filter(
        F.col("route_id").isin(ids))


def n_routes(run: Run) -> int:
    import pyarrow.parquet as pq
    return pq.ParquetFile(f"{run.sf}/customer.parquet").metadata.num_rows


def bucket_routes(run: Run, buckets: list[int]):
    """Routes whose location falls in the given weather buckets, as the
    streaming refresh selects them."""
    from pyspark.sql import functions as F
    from safeascent_spark import domain
    locs = (domain.locations_df(run.spark, run.sf)
            .filter(F.col("wbucket").isin(buckets)).select("location_id"))
    return domain.routes_df(run.spark, run.sf).join(F.broadcast(locs),
                                                    "location_id")


def count_pairs(run: Run, pred_date: str, sample: int = 500) -> None:
    """Traced runs only, outside the timed window: the share of (route,
    accident) pairs of the exact pair path whose influence clears
    SIGNIFICANCE_THRESHOLD, over a seeded route sample."""
    from pyspark.sql import functions as F
    from safeascent_spark import config as C
    from safeascent_spark.operators import scoring
    nr = n_routes(run)
    ids = sorted(random.Random(run.seed).sample(range(nr), min(sample, nr)))
    pairs = scoring.influence_pairs_df(run.spark, run.sf, pred_date,
                                       routes=routes_subset(run, ids))
    row = pairs.agg(F.count(F.lit(1)).alias("n"), F.sum(F.when(
        F.col("influence") > C.SIGNIFICANCE_THRESHOLD, 1).otherwise(0))
        .alias("sig")).collect()[0]
    run.extra["operators.scoring.pairs_per_route"] = row.n / len(ids)
    run.extra["operators.scoring.pair_yield"] = (row.sig or 0) / max(1, row.n)


def map_ids(rng: random.Random, nr: int) -> list[int]:
    """Route ids of one bulk map read: 1 in 15 of the routes, the share
    1,000 ids have of sf0.1's 15,000 routes."""
    return sorted(rng.sample(range(nr), max(1, nr // 15)))


# ---------------------------------------------------------------------------
# nightly
# ---------------------------------------------------------------------------

TOUCHED_BUCKETS = 5     # of domain.N_WBUCKETS, per refresh cycle
REFRESH_CYCLES = 2      # per date, before that date's compaction


def nightly(run: Run) -> None:
    from safeascent_spark import sinks, txlog
    from safeascent_spark.operators import scoring
    from safeascent_spark.streaming import refresh as stream
    start = DATE0 + dt.timedelta(days=run.rng.randrange(0, 180))
    routes = n_routes(run)
    prev = date_str(start - dt.timedelta(days=1))   # last night's run

    def derive():
        # last night's capped scores, from the engine's oracle query
        return checks.fetch_df(checks.oracle(run.sf),
                               scoring.risk_scores_capped_sql(prev))

    def commit(frame):
        # last night's partition in both stores, for retention to drop
        t, s = run.fresh_dir("txlog"), run.fresh_dir("sinks")
        commit_scores(run, run.frame(frame), t, prev)
        write_sinks(run, run.frame(frame), s, prev)
        return t, s

    t, s = run.setup(derive, commit)
    done: list[str] = []
    t0 = time.perf_counter()
    while not done or time.perf_counter() - t0 < run.seconds:
        d = date_str(start + dt.timedelta(days=len(done)))
        probe_ids = map_ids(run.rng, routes)
        with run.op("date", date=d, routes=routes) as rec:
            commit_scores(run, capped_scores(run, d), t, d)
            write_sinks(run, batch_scores(run, d), s, d)
            # publish check: the new partition answers a point read and a
            # bulk read
            df = run.plan("txlog", "read_snapshot", txlog.read_snapshot,
                          run.spark, t, partition=d, key_eq=probe_ids[0])
            rec["point"] = run.exec("txlog", "read_snapshot", df.collect)
            df = run.plan("sinks", "read_scores", sinks.read_scores,
                          run.spark, s, d, probe_ids)
            rec["bulk"] = run.exec("sinks", "read_scores", df.collect)
            rec["probe_ids"] = probe_ids
        for _ in range(REFRESH_CYCLES):
            _refresh_cycle(run, t, s, d)
        with run.op("maintain", date=d):
            run.call("sinks", "compact_scores", sinks.compact_scores,
                     run.spark, s, d)
            run.call("txlog", "compact", txlog.compact, run.spark, t, d)
            run.call("sinks", "purge_old_partitions",
                     sinks.purge_old_partitions, s, set(done[-1:] + [d]))
            run.call("txlog", "vacuum", txlog.vacuum, t,
                     keep_versions=2, grace_seconds=0.0)
        # the streaming refresh: one availableNow pass into a fresh table
        # and checkpoint; it re-scores every route whose weather bucket
        # the feed touches, which the output check uses as a full recompute
        with run.op("stream", date=d) as rec:
            rec["table"] = run.fresh_dir("stream")
            rec["batches"] = run.call(
                "streaming.refresh", "run_incremental_scores",
                stream.run_incremental_scores, run.spark, run.sf,
                rec["table"], d)
        done.append(d)
    run.window_s = time.perf_counter() - t0
    manifest_stats(run, t)
    if run.tr.enabled:
        count_pairs(run, done[0])
    run.check(checks.nightly, t, s, done)


def _refresh_cycle(run: Run, t: str, s: str, d: str) -> None:
    """Intraday refresh of one date: the routes of seeded touched weather
    buckets are re-scored, merged into the txlog table and upserted into
    the sinks table.  The op runs from the pick to the re-scored rows
    being visible through a snapshot point read and a merge-on-read map
    read, so its time is the refresh's freshness."""
    from safeascent_spark import domain, sinks, txlog
    from safeascent_spark.operators import scoring
    buckets = sorted(run.rng.sample(range(domain.N_WBUCKETS), TOUCHED_BUCKETS))
    with run.op("refresh", date=d, buckets=buckets) as rec:
        df = run.plan("operators.scoring", "risk_scores_df",
                      scoring.risk_scores_df, run.spark, run.sf, d,
                      routes=bucket_routes(run, buckets))
        fresh = run.exec("operators.scoring", "risk_scores_df",
                         lambda: df.localCheckpoint(eager=True))
        run.call("txlog", "merge_scores", txlog.merge_scores, fresh, t, d)
        rec["seq"] = run.call("sinks", "upsert_scores", sinks.upsert_scores,
                              fresh, s, d)
        rows = checks.by_route(fresh.collect())
        ids = sorted(rows)
        df = run.plan("txlog", "read_snapshot", txlog.read_snapshot,
                      run.spark, t, partition=d, key_eq=ids[0])
        point = checks.by_route(run.exec("txlog", "read_snapshot", df.collect))
        df = run.plan("sinks", "read_scores_current",
                      sinks.read_scores_current, run.spark, s, d, ids)
        current = checks.by_route(run.exec("sinks", "read_scores_current",
                                           df.collect))
        if not checks.same(point, {ids[0]: rows[ids[0]]}, checks.SCORE_COLS):
            raise RuntimeError("merged row not visible to a snapshot read")
        if not checks.same(current, rows, checks.BATCH_COLS):
            raise RuntimeError("upserted rows not visible to a map read")
        rec["rows"] = rows


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

# The dashboard: one report query per operator family, from
# __spark_entry__.queries().  Each is the family's headline query of the
# legacy bench.py where that is one of the family's cheaper queries, else
# a cheaper query of the family, so that one dashboard fits a run.
REPORTS = {
    "operators.text": "text_bm25_topk",
    "operators.dedup": "dedup_duplicate_spans",
    "operators.similarity": "embedding_class_separation",
    "operators.multimodal": "multimodal_wav_meta",
    "operators.graph": "graph_kcore",
    "operators.olap": "tpch_q21_lone_late_supplier",
    "operators.evalrank": "eval_roc_auc",
    "operators.relational": "entity_resolution",
    "operators.analytics": "events_rolling_distinct",
    "operators.weather": "w_weather_window",
    "ml": "embedding_kmeans_cells",
}
DASHBOARD_THREADS = 4


def serve(run: Run) -> None:
    import __spark_entry__ as entry
    from safeascent_spark.operators import scoring
    pred = date_str(DATE0 + dt.timedelta(days=run.rng.randrange(0, 180)))
    nr = n_routes(run)
    builders = entry.queries()
    # Zipf-skewed lookups over a seeded permutation of the route ids
    perm = list(range(nr))
    run.rng.shuffle(perm)
    weights = [1.0 / (k + 1) ** 1.1 for k in range(nr)]

    def derive():
        # the scores a prediction computes, for every route, from the
        # engine's oracle query
        return checks.fetch_df(checks.oracle(run.sf),
                               scoring.risk_scores_sql(pred))

    def commit(frame):
        # the same scores back both stores: the txlog table for point
        # lookups, the partitioned sinks table for bulk map reads
        t, s = run.fresh_dir("txlog"), run.fresh_dir("sinks")
        commit_scores(run, run.frame(frame), t, pred)
        write_sinks(run, run.frame(frame), s, pred)
        return t, s

    t, s = run.setup(derive, commit)
    # One request of each serving kind, untimed: the first prediction of a
    # JVM also compiles the scoring path, a one-off cost that would
    # otherwise land on whichever request the seed orders first.
    t0 = time.perf_counter()
    warm = run.rng.randrange(nr)
    with run.tr.paused():
        for kind, arg in (("lookup", warm), ("map", [warm]),
                          ("predict", [warm])):
            _serve_one(run, builders, t, s, pred, kind, arg)
    run.ops.clear()
    run.extra["request_warmup_s"] = time.perf_counter() - t0
    plan = []   # the rest of the current block of requests
    t0 = time.perf_counter()
    # whole blocks only, so every run serves the same mix
    while plan or time.perf_counter() - t0 < run.seconds:
        if not plan:
            plan = _serve_requests(run.rng, perm, weights, nr)
        kind, arg = plan.pop(0)
        _serve_one(run, builders, t, s, pred, kind, arg)
    run.window_s = time.perf_counter() - t0
    manifest_stats(run, t)
    if run.tr.enabled:
        count_pairs(run, pred)
    run.check(checks.serve, t, s, pred)


def _serve_one(run: Run, builders: dict, t: str, s: str, pred: str,
               kind: str, arg) -> None:
    from safeascent_spark import sinks, txlog
    from safeascent_spark.operators import scoring
    with run.op(kind, arg=arg) as rec:
        if kind == "lookup":
            df = run.plan("txlog", "read_snapshot", txlog.read_snapshot,
                          run.spark, t, key_eq=arg)
            rec["rows"] = run.exec("txlog", "read_snapshot", df.collect)
        elif kind == "map":
            df = run.plan("sinks", "read_scores", sinks.read_scores,
                          run.spark, s, pred, arg)
            rec["rows"] = run.exec("sinks", "read_scores", df.collect)
        elif kind == "predict":
            df = run.plan("operators.scoring", "risk_scores_df",
                          scoring.risk_scores_df, run.spark, run.sf, pred,
                          routes=routes_subset(run, arg))
            rec["rows"] = run.exec("operators.scoring", "risk_scores_df",
                                   df.collect)
        else:
            # the dashboard's reports run DASHBOARD_THREADS at a time
            ctx = run.tr.context()

            def report(layer: str):
                with run.tr.adopt(ctx):
                    q = REPORTS[layer]
                    df = run.plan(layer, q, builders[q], run.spark, run.sf)
                    return q, run.exec(layer, q, df.toPandas)
            with ThreadPoolExecutor(DASHBOARD_THREADS) as pool:
                rec["frames"] = dict(pool.map(report, arg))


def _serve_requests(rng: random.Random, perm, weights, nr: int) -> list:
    """A block of requests in seeded order: 5 lookups, 3 maps, 2
    predictions and a dashboard of one report per operator family, in
    seeded order.  Every prefix of whole blocks has the same mix."""
    kinds = ["lookup"] * 5 + ["map"] * 3 + ["predict"] * 2 + ["dashboard"]
    rng.shuffle(kinds)
    out = []
    for k in kinds:
        if k == "lookup":
            out.append((k, perm[rng.choices(range(nr), weights)[0]]))
        elif k == "map":
            out.append((k, map_ids(rng, nr)))
        elif k == "predict":
            out.append((k, sorted(rng.sample(range(nr), rng.randint(1, 5)))))
        else:
            out.append((k, rng.sample(sorted(REPORTS), len(REPORTS))))
    return out


WORKLOADS = {"nightly": nightly, "serve": serve}
