"""DuckDB-side output checks of one benchmark run.

`registry`: every selected query's result as the JVM wrote it is
compared with its DuckDB oracle SQL over the same fixture tables,
order-insensitively and exactly, with tools/localverify.py's comparison.

`crunch`: each daily FPP charge the JVM collected is recomputed from the
lake with DuckDB for the joins and numpy for the EWMA, following the
pipeline's definitions step by step, and must agree to 1e-9 relative.

Each check is a `{"name", "ok", "detail"}` record.
"""
import glob
import os
import sys

INTERVAL_US = 300_000_000
DAY_US = 288 * INTERVAL_US


def run(workload, py):
    if workload not in ("registry", "crunch"):
        return []
    # imported here: they take a second to load, and `ingest` needs none
    global duckdb, np, pd, compare, load_tables
    import duckdb
    import numpy as np
    import pandas as pd
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from localverify import compare, load_tables
    return {"registry": registry, "crunch": crunch}[workload](py)


def registry(py):
    con, out = duckdb.connect(), []
    load_tables(con, py["sf_dir"])
    for q, sql in sorted(py["oracle_sql"].items()):
        files = sorted(glob.glob(os.path.join(py["results"], q, "*.parquet")))
        if not files:
            out.append({"name": f"registry.{q}", "ok": False, "detail": "no result written"})
            continue
        a = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        issue = compare(q, a, con.execute(sql).df())
        out.append({"name": f"registry.{q}", "ok": issue is None, "detail": issue or f"{len(a)} rows"})
    return out


def crunch(py):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, lake_name in py["tables"].items():
        con.execute(f"CREATE VIEW {name} AS SELECT * EXCLUDE (date) FROM read_parquet("
                    f"'{py['lake']}/{lake_name}/*/*.parquet', hive_partitioning = true)")
    out = []
    for day, got in py["totals"].items():
        want = daily_charge(con, day, py["alpha"])
        ok = abs(got - want) <= 1e-9 * max(1.0, abs(want))
        out.append({"name": f"crunch.settlement.{day}", "ok": ok, "detail": f"jvm {got!r} recomputed {want!r}"})
    return out


def daily_charge(con, day, alpha):
    lo = int(pd.Timestamp(day, tz="UTC").value // 1000)
    hi = lo + DAY_US

    def q(sql):
        return con.execute(sql.replace("LO", str(lo)).replace("HI", str(hi))).df()

    # step 1: EWMA of the negated deviation over NSW1's good samples
    f = q("""SELECT epoch_us(MEASUREMENT_DATETIME) AS ts, FREQ_DEVIATION_HZ AS dev FROM REGION_FREQ_MEASURE
             WHERE REGIONID = 'NSW1' AND HZ_QUALITY_FLAG = 1
               AND epoch_us(MEASUREMENT_DATETIME) >= LO AND epoch_us(MEASUREMENT_DATETIME) < HI
             ORDER BY ts""")
    fm, state = np.empty(len(f)), 0.0
    for i, v in enumerate(-f["dev"].to_numpy()):
        state = (1.0 - alpha) * state + alpha * v
        fm[i] = state
    con.register("fm", pd.DataFrame({"ts": f["ts"].to_numpy(), "fm": fm}))
    # steps 2-5: latest AWEFS_ASEFS forecast per (unit, interval), the
    # 4 s trajectory between the bracketing forecasts, deviations from
    # SCADA, performance by the sign of the frequency measure, summed per
    # 5-minute interval
    q(f"""CREATE OR REPLACE TEMP TABLE rs AS
        WITH latest AS (
          SELECT DUID AS duid, epoch_us(INTERVAL_DATETIME) AS t5, FORECAST_POE50 AS poe
          FROM INTERMITTENT_DS_PRED
          WHERE ORIGIN = 'AWEFS_ASEFS' AND epoch_us(INTERVAL_DATETIME) >= LO AND epoch_us(INTERVAL_DATETIME) < HI
          QUALIFY row_number() OVER (PARTITION BY DUID, INTERVAL_DATETIME
                                     ORDER BY RUN_DATETIME DESC, OFFERDATETIME DESC) = 1),
        spine AS (SELECT LO + 4000000 * i AS ts FROM range(0, {DAY_US // 4_000_000}) t(i)),
        grid AS (SELECT spine.ts, u.duid, spine.ts - spine.ts % {INTERVAL_US} AS t5
                 FROM spine CROSS JOIN (SELECT DISTINCT duid FROM latest) u),
        traj AS (
          SELECT g.ts, g.duid, coalesce(p.poe, 0.0) AS p0, coalesce(n.poe, p.poe, 0.0) AS n0,
                 ((g.ts - g.t5) // 1000)::DOUBLE / 300000.0 AS frac
          FROM grid g LEFT JOIN latest p ON p.duid = g.duid AND p.t5 = g.t5
                      LEFT JOIN latest n ON n.duid = g.duid AND n.t5 = g.t5 + {INTERVAL_US}),
        dev AS (
          SELECT t.ts, s.MEASURED_MW - (t.p0 + (t.n0 - t.p0) * t.frac) AS dev
          FROM traj t JOIN UNIT_MW s
            ON epoch_us(s.MEASUREMENT_DATETIME) = t.ts AND s.FPP_UNITID = t.duid)
        SELECT d.ts - d.ts % {INTERVAL_US} AS ts,
               sum(CASE WHEN fm.fm > 0 THEN fm.fm ELSE 0.0 END * d.dev) AS r,
               sum(CASE WHEN fm.fm < 0 THEN fm.fm ELSE 0.0 END * d.dev) AS l
        FROM dev d LEFT JOIN fm ON fm.ts = d.ts GROUP BY 1""")
    # steps 6-11: each constraint interval's DCF (residual, else default)
    # weights the residual performance into dollar charges
    r = q("""SELECT sum(rs.r * coalesce(rd.RESIDUAL_DCF, dc.DEFAULT_CONTRIBUTION_FACTOR) * pr.FPP_PAYMENT_RATE
                      + rs.l * coalesce(rd.RESIDUAL_DCF, dc.DEFAULT_CONTRIBUTION_FACTOR) * pr.FPP_RECOVERY_RATE) AS total
             FROM (SELECT CONSTRAINTID AS c, epoch_us(INTERVAL_DATETIME) AS ts FROM CONTRIBUTION_FACTOR
                   WHERE epoch_us(INTERVAL_DATETIME) >= LO AND epoch_us(INTERVAL_DATETIME) < HI) cf
             LEFT JOIN rs ON rs.ts = cf.ts
             LEFT JOIN DEFAULT_CONTRIBUTION_FACTOR dc
               ON dc.CONSTRAINTID = cf.c AND epoch_us(dc.INTERVAL_DATETIME) = cf.ts
             LEFT JOIN RESIDUAL_CONTRIBUTION_FACTOR rd
               ON rd.CONSTRAINTID = cf.c AND epoch_us(rd.INTERVAL_DATETIME) = cf.ts
             LEFT JOIN CONSTRAINT_RATES pr
               ON pr.CONSTRAINTID = cf.c AND epoch_us(pr.INTERVAL_DATETIME) = cf.ts""")
    return float(r["total"][0])
