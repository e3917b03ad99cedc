#!/usr/bin/env python3
"""Rounding-boundary audit for the double-graded correlation queries.

The e1b flake taught the lesson: a cell whose EXACT rho sits on a
decimal rounding tie (rho*10^d exactly m + 0.5) is graded
nondeterministically by any pair of order-sensitive double engines.
e1b moved to the exact/unrounded tier; every OTHER corr query still
grades round(rho, d) computed by two double engines. This audit
proves, with exact integer arithmetic, that none of their fixture
cells sits near a tie — so the e1b class is closed for the whole
graded surface, not just the one query that flaked.

Method: for each query, reuse its OWN oracle CTE prefix (same grid,
same ffill, same pair join — zero geometry drift), quantize values at
1e6 like the kernel family, pull the exact HUGEINT co-moments per
cell, and measure the distance of rho*10^d to the nearest .5 tie.
A flagged cell (< 1e-6) is then tie-tested EXACTLY:
(2*cov*10^d)^2 == (2m+1)^2 * vx * vy in unbounded ints. e1b's known
31/32 cell runs as the positive control - the audit must find it.

Usage: python3 tools/boundary_audit.py <sfDir> <verifyOutDir>
                                       [--strict-control]
(verifyOutDir only supplies oracle_sql.json)

Exit codes: 0 = clean (on the sf0.1 fixture this additionally means
the positive control verified; elsewhere the control cannot exist and
a clean run still exits 0 so set -e callers don't fail on
legitimately-ungraded fixtures); 1 = a graded query has a tie cell;
2 = control missing on the sf0.1 fixture (audit self-check failed);
3 = clean but control ungraded — emitted ONLY under --strict-control,
for callers that key on the exit code to tell "control verified" from
"control could not be graded here".
"""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# query -> (relation, valueCol, [extra group-key SQL over alias a], digits)
AUDITS = {
    # k=500 global grid [jan1, jan3) @600s - also s6b/s15's geometry
    "a3c_corr_onepass_wide": ("filled", "price", [], 4),
    # k=300 one-day grid - also a3e/a3f (all pairs: superset of LSH cands)
    "a3d_corr_pruned": ("filled", "price", [], 4),
    # k=10 [jan1, jan8) @300s - also a3 (the same query) and g1's grid
    "a3b_corr_onepass": ("filled", "price", [], 6),
    # g4's own grid at 4dp
    "g4_wide_edges": ("filled", "price", [], 4),
    # e1: 2h session windows at 6dp
    "e1_flagship": ("filled", "price",
                    ["1704187800 + ((a.bucket - 1704187800)//7200)*7200"], 6),
    # w17: weekly spans over unfilled cells at 4dp
    "w17_streaming_corr": ("b", "v",
                           ["a.bucket - a.bucket % 604800"], 4),
}

# POSITIVE CONTROL: e1b's per-day windows at the OLD 4dp grading -
# the audit MUST find the known exact 31/32 tie here (the query itself
# now grades unrounded; this proves the audit detects the class)
CONTROL = {
    "e1b_flagship_wide": ("filled", "price",
                          ["(a.bucket - 1704067200)//86400"], 4),
}


def cte_prefix(sql):
    """The WITH clause of `sql` up to (and including) the last CTE's
    closing paren — i.e. everything before the final TOP-LEVEL SELECT.
    Paren-depth tracked (single-quoted strings skipped), because the
    old `last ')\\s*SELECT' regex` silently mis-split any query whose
    final SELECT contains a parenthesized subquery followed by SELECT;
    a malformed prefix then surfaced only as a confusing DuckDB parse
    error. The extracted prefix is asserted to end with the CTE close.
    """
    depth = 0
    in_str = False
    i = 0
    n = len(sql)
    while i < n:
        c = sql[i]
        if in_str:
            if c == "'":
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and sql[i:i + 6].upper() == "SELECT" and \
                (i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")) \
                and (i + 6 == n or not (sql[i + 6].isalnum() or
                                        sql[i + 6] == "_")):
            # subquery SELECTs sit at depth > 0; the first depth-0
            # SELECT is the statement's final top-level one (these
            # oracles all start with WITH)
            prefix = sql[:i].rstrip().rstrip(",").rstrip()
            assert prefix.endswith(")"), (
                "CTE prefix does not end with a close paren — "
                f"unexpected oracle shape:\n{prefix[-120:]}")
            return prefix
        i += 1
    raise AssertionError("no top-level SELECT found in oracle SQL")


def moments_sql(prefix, rel, val, keys):
    gk = "".join(k + " AS gk%d, " % i for i, k in enumerate(keys))
    gcols = "".join("gk%d, " % i for i in range(len(keys)))
    return f"""{prefix},
      bd_ep AS (
        SELECT {gk}a.user_id AS i, b.user_id AS j,
          CASE WHEN a.{val} IS NOT NULL AND b.{val} IS NOT NULL
            THEN CAST(CAST(round(a.{val} * 1000000) AS BIGINT) AS HUGEINT)
          END AS x,
          CASE WHEN a.{val} IS NOT NULL AND b.{val} IS NOT NULL
            THEN CAST(CAST(round(b.{val} * 1000000) AS BIGINT) AS HUGEINT)
          END AS y
        FROM {rel} a JOIN {rel} b
          ON a.bucket = b.bucket AND a.user_id < b.user_id)
      SELECT {gcols}i, j, count(x) AS n,
        CAST(sum(x) AS VARCHAR) AS sx, CAST(sum(y) AS VARCHAR) AS sy,
        CAST(sum(x*x) AS VARCHAR) AS sxx,
        CAST(sum(y*y) AS VARCHAR) AS syy,
        CAST(sum(x*y) AS VARCHAR) AS sxy
      FROM bd_ep GROUP BY {gcols}i, j"""


def main(sf_dir, out_dir, strict_control=False):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    any_tie = False
    control_found = False
    for name, (rel, val, keys, digits) in (AUDITS | CONTROL).items():
        is_control = name in CONTROL
        sql = oracle[name]
        prefix = cte_prefix(sql)
        rows = con.execute(moments_sql(prefix, rel, val, keys)).fetchall()
        scale = 10 ** digits
        defined = 0
        min_dist = None
        ties = []
        for r in rows:
            n = r[len(keys) + 2]
            if n is None or n < 2:
                continue
            sx, sy, sxx, syy, sxy = (int(r[len(keys) + 3 + t])
                                     for t in range(5))
            vx = n * sxx - sx * sx
            vy = n * syy - sy * sy
            if vx <= 0 or vy <= 0:
                continue
            defined += 1
            cov = n * sxy - sx * sy
            rho = cov / math.sqrt(vx * vy)
            t10 = rho * scale
            dist = abs(t10 - math.floor(t10) - 0.5)
            if min_dist is None or dist < min_dist:
                min_dist = dist
            if dist < 1e-6:  # suspect: verify the tie EXACTLY
                m = math.floor(t10)
                lhs = (2 * cov * scale) ** 2
                rhs = (2 * m + 1) ** 2 * vx * vy
                exact = (lhs == rhs and cov * (2 * m + 1) > 0)
                ties.append((r[:len(keys) + 2], rho, exact))
        status = "CLEAN" if not ties else "TIES FOUND"
        tag = " [positive control - tie EXPECTED]" if is_control else ""
        # zero defined cells (every pair constant/undefined at this SF)
        # is itself deterministic: both engines emit NULL, nothing can
        # flake - report it as such
        md = f"{min_dist:.3e}" if min_dist is not None else "n/a (0 cells)"
        print(f"{name}: {defined} defined cells at {digits} dp, "
              f"min tie distance {md} (units of 10^-{digits}) "
              f"-> {status}{tag}")
        for cell, rho, exact in ties:
            print(f"  cell {cell} rho={rho!r} "
                  f"{'EXACT tie' if exact else 'near-tie (not exact)'}")
            if is_control:
                control_found = control_found or exact
            else:
                any_tie = True
    if not control_found:
        # the known exact 31/32 tie cell lives in the sf0.1 fixture —
        # at other SFs the control CANNOT fire, so its absence grades
        # the audit only when the right fixture was scanned. Exact
        # basename compare (not substring): "sf0.15" must not read as
        # the graded fixture. Clean-but-ungraded exits 0 by default so
        # set -e / CI callers don't fail on legitimately-ungraded
        # fixtures; --strict-control opts into exit 3 for callers that
        # key on the exit code to distinguish "control verified" from
        # "control could not be graded here".
        basename = os.path.basename(sf_dir.rstrip("/"))
        if basename != "sf0.1":
            strict = " (exit 3: --strict-control)" if strict_control \
                else ""
            print("NOTE: positive control not found — expected: the "
                  "known tie cell exists only in the sf0.1 fixture "
                  f"(ran against {sf_dir}); per-query results above "
                  "stand, the audit's own detection is ungraded here"
                  f"{strict}")
            return 1 if any_tie else (3 if strict_control else 0)
        print("FAIL: positive control did not surface its known tie")
        return 2
    print("== audit " + ("FAILED" if any_tie else "clean: no graded "
          "query has a rounding-tie cell; positive control detected =="))
    return 1 if any_tie else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--strict-control"]
    sys.exit(main(args[0], args[1],
                  strict_control="--strict-control" in sys.argv[1:]))
