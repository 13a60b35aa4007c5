"""Output checks and per-layer metrics of one benchmark run.

Checks run after the JVM side has finished, outside every timer. Each
compares what the program produced with something computed without it:
the generator's tallies, an independent DuckDB computation over the
generated CSV files, or the catalogue's own DuckDB oracle SQL over the
generated parquet tables.
"""
import datetime
import json
import math
import re
import statistics
from pathlib import Path

import duckdb
import pandas as pd

import mefgen
from tablegen import TABLES

NUM = re.compile(r"^-?\d+(\.\d+)?$")


def close(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def rows_close(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


class Verdicts:
    def __init__(self):
        self.checks = []
        self.op_ok = {}

    def check(self, name, ok, detail=""):
        self.checks.append({"name": name, "ok": bool(ok), "detail": "" if ok else str(detail)[:500]})


# ---- independent reading of the generated CSV files ---------------------

def read_csvs(paths):
    """Parse MEF CSVs without the program: decode (UTF-8 with optional BOM,
    else latin-1), canonical headers, year/month filter, plain-decimal
    measures (anything else is null). Returns a DuckDB connection with a
    `raw` table holding the valid rows."""
    frames = []
    for p in paths:
        data = Path(p).read_bytes()
        try:
            text = data.decode("utf-8-sig")
        except UnicodeDecodeError:
            text = data.decode("latin-1")
        lines = text.split("\n")
        header = [h.strip().upper() for h in lines[0].split(",")]
        idx = [header.index(c) for c in mefgen.COLS]
        recs = []
        for line in lines[1:]:
            if line:
                f = line.split(",")
                recs.append([f[i] for i in idx])
        frames.append(pd.DataFrame(recs, columns=mefgen.COLS))
    df = pd.concat(frames, ignore_index=True)
    df["ANO_EJE"] = df["ANO_EJE"].astype(int)
    df["MES_EJE"] = df["MES_EJE"].astype(int)
    df = df[(df["MES_EJE"] >= 1) & (df["MES_EJE"] <= 12)].copy()
    for m in mefgen.MEASURES:
        df[m] = [float(x) if NUM.match(x) else None for x in df[m]]
    con = duckdb.connect()
    con.register("raw_df", df)
    con.execute("CREATE TABLE raw AS SELECT *, (MES_EJE - 1) // 3 + 1 AS TRIM FROM raw_df")
    return con


KEY_COLS = ["NIVEL_GOBIERNO", "SEC_EJEC", "EJECUTORA", "PROGRAMA_PPTO", "TIPO_ACT_PROY",
            "PRODUCTO_PROYECTO", "ACTIVIDAD_ACCION_OBRA", "SEC_FUNC", "FUNCION",
            "DIVISION_FUNCIONAL", "GRUPO_FUNCIONAL", "META", "FINALIDAD", "DEPARTAMENTO_META",
            "FUENTE_FINANCIAMIENTO", "RUBRO", "TIPO_RECURSO", "CATEGORIA_GASTO",
            "TIPO_TRANSACCION", "GENERICA", "SUBGENERICA", "SUBGENERICA_DET", "ESPECIFICA",
            "ESPECIFICA_DET"]


def expected_analytic(con, q):
    """The answer to one analytic query (A4-A8), computed in DuckDB over the raw rows."""
    kind, p1, p2, sector, k = q[0], int(q[1]), int(q[2]), q[3], int(q[4])
    dev = "coalesce(MONTO_DEVENGADO, 0)"
    if kind == "a4":
        return con.execute(f"SELECT SECTOR_NOMBRE, sum({dev}) v FROM raw WHERE ANO_EJE = ? AND MES_EJE "
                           "BETWEEN 1 AND ? GROUP BY 1 ORDER BY v DESC, 1", [p1, p2]).fetchall()
    if kind == "a5":
        return con.execute(f"SELECT EJECUTORA_NOMBRE, sum({dev}) v FROM raw WHERE ANO_EJE = ? "
                           "GROUP BY 1 ORDER BY v DESC, 1 LIMIT ?", [p1, k]).fetchall()
    if kind == "a6":
        return con.execute(
            f"WITH y AS (SELECT EJECUTORA_NOMBRE n, sum({dev}) v FROM raw WHERE ANO_EJE = ? AND "
            "MES_EJE BETWEEN 1 AND ? AND SECTOR_NOMBRE = ? GROUP BY 1), t AS (SELECT sum(v) s FROM y) "
            "SELECT n, v, CASE WHEN s > 0 THEN v / s ELSE 0.0 END FROM y, t ORDER BY v DESC, n",
            [p1, p2, sector]).fetchall()
    if kind == "a7":
        return con.execute(
            "SELECT ESPECIFICA, ESPECIFICA_NOMBRE, c, d, c - d b FROM (SELECT ESPECIFICA, "
            "ESPECIFICA_NOMBRE, sum(coalesce(MONTO_COMPROMETIDO, 0)) c, "
            f"sum({dev}) d FROM raw WHERE ANO_EJE = ? AND MES_EJE BETWEEN 1 AND ? GROUP BY 1, 2) "
            "WHERE c - d > 0 ORDER BY b DESC, 1, 2 LIMIT ?", [p1, p2, k]).fetchall()
    if kind == "a8":
        return con.execute(f"SELECT ANO_EJE, TRIM, NIVEL_GOBIERNO_NOMBRE, sum({dev}) FROM raw WHERE "
                           "ANO_EJE BETWEEN ? AND ? GROUP BY 1, 2, 3 ORDER BY 1, 2, 3", [p1, p2]).fetchall()
    raise ValueError(kind)


def analytic_matches(kind, got, want):
    """Compare rows; name-keyed results are compared as sets (order of
    equal values is not part of the contract), top-k in order."""
    got = [list(r) for r in got]
    want = [list(r) for r in want]
    if kind in ("a4", "a6"):
        return rows_close(sorted(got, key=lambda r: r[0]), sorted(want, key=lambda r: r[0]))
    if kind == "a8":
        return rows_close(sorted(got, key=lambda r: (r[0], r[1], r[2])), want)
    return rows_close(got, want)


def read_matches(con, q, got):
    """One read-pass result against DuckDB over the raw rows: analytics
    row by row, the two wide views by (rows, devengado, pim) totals, the
    annual view in full."""
    kind = q[0]
    if kind.startswith("a"):
        return analytic_matches(kind, got, expected_analytic(con, q))
    dev, pim = "coalesce(MONTO_DEVENGADO, 0)", "coalesce(MONTO_PIM, 0)"
    if kind == "vw_gasto_mensual":
        grain = ", ".join(["ANO_EJE", "MES_EJE"] + KEY_COLS)
        want = con.execute(f"SELECT count(*), sum(d), sum(p) FROM (SELECT {grain}, sum({dev}) d, "
                           f"sum({pim}) p FROM raw GROUP BY ALL)").fetchall()
        return rows_close(got, want)
    if kind == "vw_gasto_agregado_mensual":
        want = con.execute(
            f"SELECT count(*), sum(d), sum(p) FROM (SELECT ANO_EJE, MES_EJE, EJECUTORA_NOMBRE, "
            "SECTOR_NOMBRE, PLIEGO_NOMBRE, DEPARTAMENTO_EJECUTORA_NOMBRE, PROVINCIA_EJECUTORA_NOMBRE, "
            "DISTRITO_EJECUTORA_NOMBRE, FUENTE_FINANCIAMIENTO_NOMBRE, CATEGORIA_GASTO_NOMBRE, "
            f"GENERICA_NOMBRE, ESPECIFICA_NOMBRE, sum({dev}) d, sum({pim}) p FROM raw GROUP BY ALL)").fetchall()
        return rows_close(got, want)
    want = con.execute(
        f"SELECT ANO_EJE, SECTOR_NOMBRE, PLIEGO_NOMBRE, sum({pim}), sum({dev}), "
        "sum(coalesce(MONTO_GIRADO, 0)) FROM raw GROUP BY 1, 2, 3 ORDER BY 1, 2, 3").fetchall()
    return rows_close(sorted(got, key=lambda r: (r[0], r[1], r[2])), want)


# ---- per-workload checks -------------------------------------------------

def check_star_totals(v, name, got_rows, tallies_files):
    """Star totals per (year, sector) against the generator's tallies."""
    want = {}
    for t in tallies_files:
        for sector, vals in t["totals"].items():
            acc = want.setdefault((t["year"], sector), [0.0] * 7)
            for i in range(7):
                acc[i] += vals[i]
    got = {(r[0], r[1]): r[3:] for r in got_rows}
    bad = [k for k in set(got) | set(want)
           if k not in got or k not in want or not all(
               math.isclose(a, b, rel_tol=1e-9, abs_tol=0.05) for a, b in zip(got[k], want[k]))]
    v.check(name, not bad, f"mismatched (year, sector): {sorted(bad)[:5]}")


def zero_violations(rows):
    return all(r[2] == 0 for r in rows) and len(rows) > 0


def run(workload, res, tallies, data, out):
    v = Verdicts()
    o = res["outputs"]
    if workload == "full_load":
        files = tallies["files"]
        for op, rows in zip((x for x in res["ops"] if x["ok"]), o["validate_per_op"]):
            v.op_ok[op["i"]] = zero_violations(rows)
        check_star_totals(v, "star_totals", o["star_totals"], files)
        v.check("fact_rows", o["fact_rows"] == sum(t["grains"] for t in files),
                f"{o['fact_rows']} vs {sum(t['grains'] for t in files)}")
        dropped = sum(t["rows"] for t in files) - o["transformed_rows"]
        v.check("p3_dropped_rows", dropped == sum(t["bad_month_rows"] for t in files),
                f"{dropped} vs {sum(t['bad_month_rows'] for t in files)}")
        if "side_append_fact_rows" in o:  # traced runs
            check_traced(v, o, read_csvs([data / t["name"] for t in files]), data, out)
            grown, again = o["side_append_fact_rows"]
            want = o["fact_rows"] + tallies["extra_month"]["grains"]
            v.check("side_append_fact_rows", grown == again == want, f"{grown}, {again} vs {want}")
    elif workload == "monthly_append":
        base, months = tallies["base"], tallies["months"]
        check_star_totals(v, "base_star_totals", o["base_star_totals"], [base])
        v.check("base_fact_rows", o["base_fact_rows"] == base["grains"])
        n = o["months_appended"]
        con = read_csvs([data / base["name"]] + [data / m["name"] for m in months[:n]])
        def refresh_ok(r):
            return analytic_matches("a4", r["rows"], expected_analytic(con, ["a4", r["year"], r["month"], "", 0]))
        warm, *timed = o["refreshes"]
        v.check("warm_append_refresh", refresh_ok(warm))
        for op, r in zip((x for x in res["ops"] if x["ok"]), timed):
            v.op_ok[op["i"]] = refresh_ok(r)
        want_rows = base["grains"] + sum(m["grains"] for m in months[:n])
        before, after = o["redelivery_fact_rows"]
        v.check("appended_fact_rows", before == want_rows, f"{before} vs {want_rows}")
        v.check("redelivery_fact_rows_unchanged", before == after, f"{before} -> {after}")
        v.check("redelivery_dim_ids_unchanged", o["redelivery_dims_unchanged"])
        m0 = months[0]
        v.check("p3_dropped_rows", m0["rows"] - o["transformed_rows"] == m0["bad_month_rows"],
                f"{m0['rows'] - o['transformed_rows']} vs {m0['bad_month_rows']}")
        if "final_validate" in o:  # traced runs
            check_traced(v, o, con, data, out)
            v.check("final_validate", zero_violations(o["final_validate"]), o["final_validate"])
    return {"checks": v.checks, "op_ok": v.op_ok}


def check_traced(v, o, con, data, out):
    """The traced runs' read pass against DuckDB over the loaded CSVs, and
    the catalogue pass against its oracles."""
    for r in json.loads((out / "read_pass.json").read_text()):
        v.check(f"read.{r['q'][0]}", read_matches(con, r["q"], r["rows"]), f"{r['q']}: {r['rows'][:3]}")
    check_catalog(v, o, data, out)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], datetime.date):
            df[c] = pd.to_datetime(df[c])
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True) if len(df) else df


def frames_match(got, want):
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    return all(close(a, b) or (a is None and b is None) or (a != a and b != b)
               for c in got.columns for a, b in zip(got[c].tolist(), want[c].tolist()))


def check_catalog(v, o, data, out):
    """Each representative's result against its SparkEntry.oracleSql twin
    in DuckDB over the same parquet tables (columns sorted by name, rows
    by all columns)."""
    for q, err in o["catalog_failures"].items():
        v.check(f"catalog.{q}", False, err)
    oracles = json.loads((out / "oracle_sql.json").read_text())
    tables = data / "tables"
    for q, sql in sorted(oracles.items()):
        if q in o["catalog_failures"]:
            continue
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables / t}.parquet'")
        try:
            want = canon(con.sql(sql).df())
            got = canon(pd.read_parquet(out / "catalog" / q))
            v.check(f"catalog.{q}", frames_match(got, want),
                    f"{len(got)} vs {len(want)} rows; cols {list(got.columns)} vs {list(want.columns)}")
        except Exception as e:  # a failing oracle is a failed check, not a crash
            v.check(f"catalog.{q}", False, repr(e))
        finally:
            con.close()


# ---- per-layer metrics (traced runs) -------------------------------------

PER_LAYER = [
    ("sources.csv_ingest.s", "s"), ("sources.csv_ingest.jobs", "count"),
    ("sources.csv_scan.bytes_read", "bytes"),
    ("mef.transform.s", "s"), ("mef.transform.rows_dropped", "count"), ("mef.normalize.s", "s"),
    ("mef.star.build.s", "s"), ("mef.star.build.jobs", "count"), ("mef.star.build.stages", "count"),
    ("mef.star.build.tasks", "count"), ("mef.star.build.shuffle_write_bytes", "bytes"),
    ("mef.star.build.spill_bytes", "bytes"), ("mef.star.build.grain_rows", "count"),
    ("mef.star.build.fact_rows", "count"), ("mef.star.build.consolidation_ratio", "ratio"),
    ("mef.star.append.s", "s"), ("mef.star.append.jobs", "count"), ("mef.star.append.stages", "count"),
    ("mef.star.append.tasks_per_stage", "ratio"), ("mef.star.append.fresh_fact_rows", "count"),
    ("mef.star.append.useful_ratio", "ratio"), ("mef.star.append.redelivery_s", "s"),
    ("mef.validate.s", "s"), ("mef.validate.jobs", "count"),
    ("mef.analytics.a4.s", "s"), ("mef.analytics.a5.s", "s"), ("mef.analytics.a6.s", "s"),
    ("mef.analytics.a7.s", "s"), ("mef.analytics.a8.s", "s"),
    ("mef.views.vw_gasto_mensual.s", "s"), ("mef.views.vw_gasto_agregado_mensual.s", "s"),
    ("mef.views.vw_gasto_agregado_anual.s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("exec.stages", "count"),
    ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
    ("queries.exec_s", "s"), ("queries.stages", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.tasks_per_stage", "ratio"), ("spark.busy_share", "ratio"),
    ("trace.drain_share", "ratio"),
]


def per_layer(workload, res, tallies, cpus):
    """Every per-layer metric and the tracing cost. A layer the timed op
    reaches reports its total per op (wall and counts summed over the
    op's spans of that layer, over the number of ops); otherwise its
    single-layer side measurement (totals over the pass) or its set-up
    span (the star build of monthly_append) reports."""
    L = res["layers"]
    o = res["outputs"]
    n_traced = max(1, sum(1 for x in res["ops"] if x["traced"]))

    def span(name, field=None):
        for phase in ("op", "side", "setup"):
            s = L[phase].get(name)
            if s:
                total = s["wall_s"] if field is None else s[field]
                return total / n_traced if phase == "op" else total
        return 0.0

    tot = res["traced_op_totals"]
    m = {}
    m["sources.csv_ingest.s"] = span("sources.csv_ingest")
    m["sources.csv_ingest.jobs"] = span("sources.csv_ingest", "jobs")
    m["sources.csv_scan.bytes_read"] = span("mef.transform", "bytes_read")
    m["mef.transform.s"] = span("mef.transform")
    monthly = workload == "monthly_append"
    raw_in = tallies["months"][0]["rows"] if monthly else tallies["rows"]
    m["mef.transform.rows_dropped"] = raw_in - o.get("transformed_rows", raw_in)
    m["mef.normalize.s"] = span("mef.normalize")
    for f in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        m[f"mef.star.build.{f}"] = span("mef.star.build", f)
    m["mef.star.build.s"] = span("mef.star.build")
    fact_rows = o.get("base_fact_rows" if monthly else "fact_rows", 0)
    built_from = tallies["base"]["rows"] if monthly else tallies["rows"]
    # distinct (month, dim keys) grains of the build's input, from the generator
    m["mef.star.build.grain_rows"] = tallies["base"]["grains"] if monthly else sum(
        t["grains"] for t in tallies["files"])
    m["mef.star.build.fact_rows"] = fact_rows
    m["mef.star.build.consolidation_ratio"] = built_from / fact_rows if fact_rows else 0.0
    m["mef.star.append.s"] = span("mef.star.append")
    m["mef.star.append.jobs"] = span("mef.star.append", "jobs")
    m["mef.star.append.stages"] = span("mef.star.append", "stages")
    stages = span("mef.star.append", "stages")
    m["mef.star.append.tasks_per_stage"] = span("mef.star.append", "tasks") / stages if stages else 0.0
    if monthly:
        fresh = o["fresh_fact_rows"]
        batches = [tallies["months"][x["i"] + 1] for x in res["ops"] if x["traced"]]
    else:  # the side append of one extra month
        fresh = [o["side_append_fact_rows"][0] - o["fact_rows"]] if "side_append_fact_rows" in o else []
        batches = [tallies["extra_month"]] if fresh else []
    m["mef.star.append.fresh_fact_rows"] = statistics.median(fresh) if fresh else 0
    m["mef.star.append.useful_ratio"] = statistics.median(
        f / t["grains"] for f, t in zip(fresh, batches)) if fresh else 0.0
    m["mef.star.append.redelivery_s"] = o.get("redelivery_s") or span("mef.star.append.redelivery")
    m["mef.validate.s"] = span("mef.validate")
    m["mef.validate.jobs"] = span("mef.validate", "jobs")
    for k in ("a4", "a5", "a6", "a7", "a8"):
        m[f"mef.analytics.{k}.s"] = span(f"mef.analytics.{k}")
    for k in ("vw_gasto_mensual", "vw_gasto_agregado_mensual", "vw_gasto_agregado_anual"):
        m[f"mef.views.{k}.s"] = span(f"mef.views.{k}")
    m["catalyst.analysis_s"] = tot["analysis_s"] / n_traced
    m["catalyst.optimization_s"] = tot["optimization_s"] / n_traced
    m["catalyst.planning_s"] = tot["planning_s"] / n_traced
    m["exec.stages"] = tot["stages"] / n_traced
    m["queries.construct_s"] = span("queries.construct")
    m["queries.construct_jobs"] = span("queries.construct", "jobs")
    m["queries.exec_s"] = span("queries.exec")
    m["queries.stages"] = span("queries.construct", "stages") + span("queries.exec", "stages")
    m["spark.executor_run_s"] = tot["executor_run_s"] / n_traced
    m["spark.executor_cpu_s"] = tot["executor_cpu_s"] / n_traced
    m["spark.gc_s"] = tot["gc_s"] / n_traced
    m["spark.tasks_per_stage"] = tot["tasks"] / tot["stages"] if tot["stages"] else 0.0
    wall = res["traced_op_wall_s"]
    m["spark.busy_share"] = tot["executor_run_s"] / (wall * cpus) if wall else 0.0
    m["trace.drain_share"] = tot["trace_s"] / wall if wall else 0.0
    units = dict(PER_LAYER)
    metrics = {k: {"value": float(m[k]), "unit": units[k]} for k, _ in PER_LAYER}
    extra = {"traced_ops": n_traced, "trace_s_per_op": tot["trace_s"] / n_traced,
             "traced_op_s": statistics.median(x["s"] for x in res["ops"])}
    return metrics, extra
