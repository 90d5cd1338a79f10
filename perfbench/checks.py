"""Output checks, run after the timed window.  A failed check marks the
operation whose output it covers as failed, so it counts in ``failed``.

``risk_score`` saturates at 100 for most routes, so no check compares it
alone: every scoring check also compares ``num_contributing`` exactly, and
the nightly check compares the uncapped per-route ``influence_sum`` of an
independent Spark path against the DuckDB oracle.  Report queries are
compared whole with their oracle query, ignoring row order.
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb

from gen_data import TABLES

ATOL = 1e-6
SAMPLE = 25   # routes per nightly oracle comparison


def oracle(sf_dir: str, route_ids: list[int] | None = None):
    """DuckDB over the run's input tables; ``route_ids`` restricts the
    routes (customer rows) the oracle scores — per-route scores depend only
    on the route's own row, the accidents and the weather."""
    con = duckdb.connect()
    for t in TABLES:
        where = ""
        if t == "customer" and route_ids is not None:
            where = f" WHERE c_custkey IN ({','.join(map(str, route_ids))})"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet'){where}")
    return con


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return abs(a - b) <= ATOL + 1e-9 * abs(b)
    return a == b


def rows_equal(got: dict, want: dict, cols: list[str]) -> bool:
    return all(_close(got.get(c), want.get(c)) for c in cols)


def same(got: dict, want: dict, cols: list[str]) -> bool:
    """Same route ids, and every row equal on ``cols``."""
    return set(got) == set(want) and all(
        rows_equal(got[k], want[k], cols) for k in want)


def by_route(rows) -> dict[int, dict]:
    return {r["route_id"]: r for r in (x if isinstance(x, dict) else x.asDict()
                                       for x in rows)}


def capped_sums_sql(pred_date: str) -> str:
    """The capped oracle's pair CTEs with the uncapped per-route sums:
    ``influence_sum`` before normalization and ``num_contributing``."""
    from safeascent_spark import config as C
    from safeascent_spark.operators import scoring
    sql = scoring.risk_scores_capped_sql(pred_date)
    head = sql[:sql.rindex("\nSELECT route_id,")]
    return f"""{head}
SELECT route_id, sum(influence) AS influence_sum,
       CAST(sum(CASE WHEN influence > {C.SIGNIFICANCE_THRESHOLD!r} THEN 1 ELSE 0 END) AS INT)
         AS num_contributing
FROM pairs
WHERE distance_km <= {C.MAX_SEARCH_RADIUS_KM!r}
GROUP BY route_id"""


def fetch_df(con, sql: str):
    """The query's result as a pandas frame, ordered by route."""
    return con.execute(f"SELECT * FROM ({sql}) ORDER BY route_id").fetchdf()


def fetch(con, sql: str) -> dict[int, dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {r[0]: dict(zip(cols, r)) for r in cur.fetchall()}


SCORE_COLS = ["risk_score", "color_code", "num_contributing"]
BATCH_COLS = ["risk_score", "color_code"]


# ---------------------------------------------------------------------------

def nightly(run, t: str, s: str, dates: list[str]) -> None:
    """Per date: the streamed table (a full uncapped recompute) against the
    oracle on a seeded route sample; every refreshed route's rows against
    the streamed rows; the final txlog partition against the refreshed rows
    and, elsewhere, the capped oracle; the publish reads; retention and
    compaction of the sinks table, and its rows against the batch oracle
    and the refreshed rows."""
    from pyspark.sql import functions as F
    from safeascent_spark import config as C
    from safeascent_spark import sinks, txlog
    from safeascent_spark.operators import batch, scoring
    import workloads as W
    nr = W.n_routes(run)
    sample = sorted(run.rng.sample(range(nr), min(SAMPLE, nr)))
    by_kind: dict[str, dict[str, dict]] = {}
    for o in run.ops:
        if o["kind"] != "refresh":
            by_kind.setdefault(o["kind"], {})[o["date"]] = o
    probe = {by_kind["date"][d]["probe_ids"][0] for d in dates}
    con = oracle(run.sf, sorted(set(sample) | probe))
    for i, d in enumerate(dates):
        rec, st = by_kind["date"][d], by_kind["stream"][d]
        refreshes = [o for o in run.ops
                     if o["kind"] == "refresh" and o["date"] == d]
        recompute = {}
        if st["ok"]:
            recompute = by_route(txlog.read_snapshot(run.spark, st["table"])
                                 .collect())
            want = fetch(con, scoring.risk_scores_sql(d))
            if st["batches"] < 1 or len(recompute) != nr or not same(
                    {k: recompute[k] for k in want if k in recompute}, want,
                    SCORE_COLS):
                run.fail(st, f"streamed scores differ from the oracle on {d}")
                recompute = {}
        touched: dict[int, dict] = {}   # route -> its latest re-scored row
        for o in refreshes:
            if not o["ok"]:
                continue
            if not all(rows_equal(v, recompute.get(k, {}), SCORE_COLS)
                       for k, v in o["rows"].items()):
                run.fail(o, f"re-scored rows differ from a full recompute on {d}")
            touched.update(o["rows"])
        if not rec["ok"]:
            continue
        capped = fetch(con, scoring.risk_scores_capped_sql(d))
        part = by_route(txlog.read_snapshot(run.spark, t, partition=d).collect())
        want = {k: touched.get(k) or capped[k] for k in sample
                if k in touched or k in capped}
        if (len(part) != nr
                or not same({k: part[k] for k in want if k in part}, want,
                            SCORE_COLS)
                or not all(rows_equal(part.get(k, {}), v, SCORE_COLS)
                           for k, v in touched.items())):
            run.fail(rec, f"final txlog partition differs on {d}")
            continue
        pid = rec["probe_ids"][0]
        point = by_route(rec["point"])
        if (list(point) != [pid]
                or not rows_equal(point[pid], capped[pid], SCORE_COLS)
                or sorted(by_route(rec["bulk"])) != rec["probe_ids"]):
            run.fail(rec, f"publish-check reads differ from the commit on {d}")
            continue
        if i == 0:   # uncapped sums through the exact (non-grid) pair path
            sums = fetch(con, capped_sums_sql(d))
            pairs = scoring.influence_pairs_df(
                run.spark, run.sf, d, routes=W.routes_subset(run, sample))
            sp = by_route(
                pairs.filter(F.col("distance_km") <= C.MAX_SEARCH_RADIUS_KM)
                .groupBy("route_id").agg(
                    F.sum("influence").alias("influence_sum"),
                    F.sum(F.when(F.col("influence") > C.SIGNIFICANCE_THRESHOLD,
                                 1).otherwise(0)).cast("int")
                    .alias("num_contributing")).collect())
            if not same(sp, {k: v for k, v in sums.items() if k in sample},
                        ["influence_sum", "num_contributing"]):
                run.fail(rec, f"influence sums differ from the oracle on {d}")
        if d != dates[-1]:
            continue
        # the last date's sinks partition after compaction: batch rows,
        # with the refreshed routes' rows folded in.  The batch oracle runs
        # over the full customer table (its mode-type dimension spans all
        # routes).
        if (sinks.list_partitions(s) != dates[-2:]
                or Path(s + "__deltas", f"prediction_date={d}").exists()):
            run.fail(by_kind["maintain"][d], "retention or compaction left "
                     f"{sinks.list_partitions(s)} and deltas on {d}")
        bwant = fetch(oracle(run.sf), batch.batch_scores_capped_sql(d))
        ids = sorted(set(sample) | set(touched))
        want = {k: touched.get(k) or bwant[k] for k in ids
                if k in touched or k in bwant}
        got = by_route(sinks.read_scores(run.spark, s, d, ids).collect())
        if not same(got, want, BATCH_COLS):
            run.fail(rec, f"compacted batch scores differ on {d}")


def serve(run, t: str, s: str, pred: str) -> None:
    """Committed tables against the oracle; each lookup and map against
    the committed rows; each prediction against the oracle for its routes;
    each report against its oracle query."""
    import __spark_entry__ as entry
    from safeascent_spark import sinks, txlog
    from safeascent_spark.operators import scoring
    committed = by_route(txlog.read_snapshot(run.spark, t).collect())
    mapped = by_route(sinks.read_scores(run.spark, s, pred).collect())
    full = oracle(run.sf)
    want = fetch(full, scoring.risk_scores_sql(pred))
    setup_ok = (same(committed, want, SCORE_COLS)
                and same(mapped, want, SCORE_COLS))
    predicted = sorted({r for o in run.ops if o["kind"] == "predict"
                        for r in o["arg"]})
    want_pred = (fetch(oracle(run.sf, predicted), scoring.risk_scores_sql(pred))
                 if predicted else {})
    sqls = entry.oracle_sql()
    reports: dict[str, object] = {}
    for o in run.ops:
        if not o["ok"]:
            continue
        if not setup_ok:
            run.fail(o, "committed tables differ from the oracle")
            continue
        if o["kind"] == "dashboard":
            for name, frame in o["frames"].items():
                if name not in reports:
                    reports[name] = full.execute(sqls[name]).fetchdf()
                why = frames_differ(frame, reports[name])
                if why:
                    run.fail(o, f"{name}: {why}")
            continue
        got = by_route(o["rows"])
        if o["kind"] == "lookup":
            ok = (list(got) == [o["arg"]]
                  and rows_equal(got[o["arg"]], committed[o["arg"]], SCORE_COLS))
        elif o["kind"] == "map":
            ok = (sorted(got) == o["arg"] and all(
                rows_equal(got[k], mapped[k], SCORE_COLS) for k in got))
        else:
            ok = (sorted(got) == o["arg"] and all(
                rows_equal(got[k], want_pred[k], SCORE_COLS) for k in got))
        if not ok:
            run.fail(o, f"{o['kind']} rows differ from the committed/oracle rows")


def frames_differ(a, b) -> str | None:
    """Order-insensitive comparison of two pandas frames, floats to
    tolerance; None when equal, else the first difference."""
    import pandas as pd
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    cols = list(a.columns)

    def norm(df):
        df = df.copy()
        for c in cols:
            if df[c].map(lambda v: isinstance(v, (list, dict))).any():
                df[c] = df[c].map(repr)
        return df.sort_values(cols, na_position="last").reset_index(drop=True)
    a, b = norm(a), norm(b)
    for c in cols:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            xn = x is None or (isinstance(x, float) and math.isnan(x))
            yn = y is None or (isinstance(y, float) and math.isnan(y))
            if xn and yn:
                continue
            if xn or yn:
                return f"{c}[{i}] {x!r} vs {y!r}"
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=1e-9,
                                    abs_tol=ATOL):
                    return f"{c}[{i}] {x!r} vs {y!r}"
            elif isinstance(x, (pd.Timestamp,)) or isinstance(y, (pd.Timestamp,)):
                if pd.Timestamp(x) != pd.Timestamp(y):
                    return f"{c}[{i}] {x!r} vs {y!r}"
            elif str(x) != str(y):
                return f"{c}[{i}] {x!r} vs {y!r}"
    return None
