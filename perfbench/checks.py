"""Output checks of the benchmark, run after the timed passes.

Each check recomputes a deterministic sample of the exported cells from
the generated inputs with DuckDB (resample to the grid with the exact
decimal mean, forward fill, pairwise-complete Pearson), independently of
the engine, the way tools/check_oracle.py grades the query surface.
Every mismatch is returned as one problem string; run.py counts each as a
failed unit.
"""
import json
import os
import random

import duckdb

TOL = 2e-6  # the engine rounds rho and prices to 6 dp
OPEN, CLOSE = 34200, 57600  # session, seconds of day


def _connect(work):
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=4")
    con.execute(f"""CREATE VIEW ev AS
        SELECT user_id, epoch_us(ts) AS us, value
        FROM read_parquet('{work}/data/events.parquet/*.parquet')""")
    return con


def _in_spell(work):
    return f"""EXISTS (SELECT 1 FROM read_parquet(
            '{work}/data/spells.parquet/*.parquet') s
            WHERE s.user_id = ev.user_id
              AND ev.us BETWEEN s.from_sec * 1000000 AND s.to_sec * 1000000)"""


def _filled(con, users, a, b, step, spells=""):
    """(bucket, user_id, v) for `users` on the [a, b) grid: per-bucket
    exact-decimal mean rounded to 6 dp, then forward fill. `spells`, when
    given, is a further condition on the ticks (universe membership).
    """
    ids = ",".join(str(u) for u in users)
    spell = f"AND {spells}" if spells else ""
    con.execute(f"""CREATE OR REPLACE TEMP TABLE filled AS
        WITH b AS (
          SELECT (us // 1000000) - (us // 1000000) % {step} AS bucket, user_id,
            round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                  / count(value), 6) AS v
          FROM ev
          WHERE user_id IN ({ids}) AND us >= {a * 1000000}
            AND us < {b * 1000000} {spell}
          GROUP BY 1, 2),
        g AS (SELECT r.range AS bucket, u.user_id
              FROM range({a}, {b}, {step}) r
              CROSS JOIN (SELECT DISTINCT user_id FROM b) u)
        SELECT g.bucket, g.user_id,
          last_value(b.v IGNORE NULLS) OVER (
            PARTITION BY g.user_id ORDER BY g.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        FROM g LEFT JOIN b USING (bucket, user_id)""")


def _rho(con, bucket_filter):
    """{(i, j): rho} over the `filled` buckets matching the filter."""
    rows = con.execute(f"""
        SELECT x.user_id, y.user_id, corr(x.v, y.v)
        FROM filled x JOIN filled y
          ON x.bucket = y.bucket AND x.user_id < y.user_id
        WHERE {bucket_filter.replace('bucket', 'x.bucket')}
        GROUP BY 1, 2""").fetchall()
    return {(i, j): r for i, j, r in rows}


def _defined(x):
    return x is not None and x == x


def _close(got, want):
    if not _defined(want):
        return not _defined(got)
    return _defined(got) and abs(got - want) <= TOL


def _num(s):
    return float(s) if s != "" else None


def check_daily(con, r, work, rng):
    problems = []
    sample = sorted(rng.sample(range(r["k"]), 5))
    ids = ",".join(map(str, sample))
    for ws, we in r["units"]:
        day = con.execute(f"SELECT CAST(to_timestamp({ws}) AS DATE)")\
            .fetchone()[0]
        path = (f"{r['out_dir']}/{day.year}/{day.month:02d}/"
                f"taq_resampled_{day}.csv.gz")
        if not os.path.exists(path):
            problems.append(f"day {day}: {path} missing")
            continue
        _filled(con, sample, ws, we, r["freq_sec"])
        got = f"""read_csv('{path}', header = true, columns = {{
            'bucket': 'BIGINT', 'user_id': 'BIGINT', 'value': 'DOUBLE'}})"""
        n, users = con.execute(
            f"SELECT count(*), count(DISTINCT user_id) FROM {got}").fetchone()
        n_ticking = con.execute(f"""SELECT count(DISTINCT user_id) FROM ev
            WHERE user_id < {r['k']} AND us >= {ws * 1000000}
              AND us < {we * 1000000}""").fetchone()[0]
        buckets = (we - ws) // r["freq_sec"]
        if n != buckets * n_ticking or users != n_ticking:
            problems.append(f"day {day}: {n} rows of {users} series, want "
                            f"{buckets} x {n_ticking}")
        bad = con.execute(f"""
            SELECT count(*) FROM filled f
            FULL JOIN (SELECT * FROM {got} WHERE user_id IN ({ids})) g
              USING (bucket, user_id)
            WHERE g.bucket IS NULL OR f.bucket IS NULL
               OR (f.v IS NULL) <> (g.value IS NULL)
               OR abs(f.v - g.value) > {TOL}""").fetchone()[0]
        if bad:
            problems.append(f"day {day}: {bad} sampled rows differ")
    return problems


def check_graph(con, r, work, rng):
    problems = []
    units = r["units"]
    a, b = r["grid"]
    users = [u for (u,) in con.execute(f"""
        SELECT DISTINCT user_id FROM ev
        WHERE user_id < {r['k']} AND us >= {a * 1000000}
          AND us < {b * 1000000} AND {_in_spell(work)}
        ORDER BY 1""").fetchall()]
    vid = {u: i for i, u in enumerate(users)}
    sample = sorted(rng.sample(users, min(10, len(users))))
    _filled(con, sample, a, b, r["freq_sec"], _in_spell(work))
    edges = f"""read_csv('{r['out_dir']}/edges/*/*/*.csv.gz',
        header = true, hive_partitioning = false, columns = {{
        'win': 'INT', 'src': 'BIGINT', 'dst': 'BIGINT', 'w': 'DOUBLE'}})"""
    got = {(w, s, d): x for w, s, d, x in con.execute(
        f"SELECT * FROM {edges}").fetchall()}
    verts = {(w, v): (px, bk) for w, v, _, px, bk in con.execute(f"""
        SELECT * FROM read_csv('{r['out_dir']}/vertices/*/*/*.csv.gz',
          header = true, hive_partitioning = false, columns = {{
          'win': 'INT', 'vid': 'BIGINT', 'user_id': 'BIGINT',
          'mean_px': 'DOUBLE', 'book': 'DOUBLE'}})""").fetchall()}
    for w, (ws, we) in enumerate(units):
        # session buckets of the window's business days (epoch day 0 was
        # a Thursday, so (day + 3) % 7 < 5 is Monday to Friday)
        in_win = (f"bucket >= {ws} AND bucket < {we} AND "
                  f"bucket % 86400 >= {OPEN} AND bucket % 86400 < {CLOSE} "
                  f"AND (bucket // 86400 + 3) % 7 < 5")
        for (i, j), rho in _rho(con, in_win).items():
            key = (w, vid[i], vid[j])
            if _defined(rho) and rho > TOL:
                if not _close(got.get(key), rho):
                    problems.append(f"window {w} edge {key}: "
                                    f"{got.get(key)}, want {rho}")
            elif key in got and not (_defined(rho) and rho > -TOL):
                problems.append(f"window {w}: edge {key} for rho {rho}")
        for u, px, bk in con.execute(f"""
            SELECT f.user_id, round(CAST(sum(CAST(v AS DECIMAL(18,6)))
                     AS DOUBLE) / count(v), 6),
              (SELECT book FROM read_parquet(
                 '{work}/data/fundamentals.parquet/*.parquet') q
               WHERE q.user_id = f.user_id AND q.report_sec <= {ws}
               ORDER BY report_sec DESC, seq DESC LIMIT 1)
            FROM filled f WHERE {in_win} GROUP BY f.user_id""").fetchall():
            g = verts.get((w, vid[u]))
            if g is None or not _close(g[0], px) or not _close(g[1], bk):
                problems.append(f"window {w} vertex {u}: {g}, want "
                                f"{(px, bk)}")
    return problems


CHECKS = {"daily_export_k100": check_daily,
          "graph_3d_k500": check_graph}


def check(workload, r, work, seed):
    """Problems found in the last pass's artifacts (empty when correct)."""
    con = _connect(work)
    try:
        return CHECKS[workload](con, r, work, random.Random(seed))
    except Exception as e:  # a check that cannot run is a failed check
        return [f"{workload} check raised {type(e).__name__}: {e}"]
    finally:
        con.close()


def same_as_before(path, digests):
    """Compare this run's digests with an earlier run of the same seed in
    this checkout; record them on the first run.
    """
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        return [f"{k} digest {digests[k]} differs from an earlier run's "
                f"{before[k]}" for k in digests if before.get(k) != digests[k]]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(digests, f)
    return []
