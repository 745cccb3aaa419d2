"""Checks the warm-up outputs against results computed without graft.

SparkEntry queries replay their own DuckDB `oracleSql` over the same
generated tables. The reference's analytics (graft.etl.Metrics) replay
the SQL below over the star schema the ETL wrote. Outputs compare as
column-name-sorted, row-sorted frames: numbers within a tolerance,
everything else by value.
"""
import glob
import os
import re

import duckdb
import numpy as np
import pandas as pd

FACT = "fact_registro_vehiculos"

# graft.etl.Metrics, written from the reference's SQL (dags/
# sri_vehiculos_etl_dag.py:772-814 and the notebook's dashboard query);
# top-k ties break on the grouping columns
METRICS_SQL = {
    "top_marcas": f"""
        SELECT v.Marca, count(*) AS total_registros,
               round(avg(f.MontoAvaluo), 2) AS promedio_avaluo
        FROM {FACT} f JOIN dim_vehiculo v ON f.ID_Vehiculo = v.ID_Vehiculo
        GROUP BY v.Marca ORDER BY total_registros DESC, v.Marca LIMIT 10""",
    "registros_por_anio": f"""
        SELECT t.Anio, count(*) AS total_registros,
               round(sum(f.MontoAvaluo), 2) AS monto_total_avaluo,
               round(avg(f.MontoAvaluo), 2) AS promedio_avaluo
        FROM {FACT} f JOIN dim_tiempo t ON f.ID_Tiempo = t.ID_Tiempo
        GROUP BY t.Anio ORDER BY t.Anio DESC LIMIT 5""",
    "top_provincias": f"""
        SELECT u.Provincia, u.Region, count(*) AS total_registros,
               round(sum(f.MontoAvaluo), 2) AS monto_total
        FROM {FACT} f JOIN dim_ubicacion u ON f.ID_Ubicacion = u.ID_Ubicacion
        GROUP BY u.Provincia, u.Region
        ORDER BY total_registros DESC, u.Provincia, u.Region LIMIT 10""",
    "dashboard": f"""
        SELECT t.Anio, v.Marca, u.Provincia, count(*) AS total_registros,
               round(avg(f.MontoAvaluo), 2) AS promedio_avaluo
        FROM {FACT} f
        JOIN dim_tiempo t ON f.ID_Tiempo = t.ID_Tiempo
        JOIN dim_vehiculo v ON f.ID_Vehiculo = v.ID_Vehiculo
        JOIN dim_ubicacion u ON f.ID_Ubicacion = u.ID_Ubicacion
        GROUP BY t.Anio, v.Marca, u.Provincia
        ORDER BY total_registros DESC, t.Anio, v.Marca, u.Provincia LIMIT 10""",
}
# both engines round to cents, but may round a half-cent differently
METRICS_ABS_TOL = 0.0100001


def materialized(sql):
    """The same query with every CTE materialized once. DuckDB otherwise
    inlines a CTE at each reference; the unrolled iterative oracles
    (q159's power iterations) then recompute exponentially."""
    return re.sub(r"(WITH |,\n)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql)


def _normalise(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: repr(list(v)) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare(expected, got, abs_tol):
    """None if the frames agree, else a short reason."""
    if sorted(expected.columns) != sorted(got.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(expected.columns)}"
    if len(expected) != len(got):
        return f"{len(got)} rows != oracle {len(expected)}"
    e, g = _normalise(expected), _normalise(got)
    for c in e.columns:
        a, b = e[c], g[c]
        numeric = all(pd.api.types.is_numeric_dtype(x) and not pd.api.types.is_bool_dtype(x)
                      for x in (a, b))
        if numeric:
            x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            ok = np.isclose(x, y, rtol=1e-9, atol=abs_tol, equal_nan=True)
        else:
            ok = ((a.astype(str) == b.astype(str)) | (a.isna() & b.isna())).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {b.iloc[i]!r} != oracle {a.iloc[i]!r}"
    return None


def check(work, tables_dir, res):
    """Checks every output the harness dumped; returns {op: reason} for
    each one that disagrees with its oracle."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    con.execute("SET threads TO 4")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    for name, path in dict(res.get("oracle_tables") or {}).items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)")
    oracle_sql = dict(res.get("oracle_sql") or {})
    bad = {}
    for name in res["verify"]:
        sql = oracle_sql.get(name) or METRICS_SQL.get(name)
        if sql is None:
            bad[name] = "no oracle"
            continue
        tol = METRICS_ABS_TOL if name in METRICS_SQL else 1e-9
        files = glob.glob(os.path.join(work, "verify", name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        try:
            try:
                expected = con.execute(materialized(sql)).df()
            except duckdb.Error:
                expected = con.execute(sql).df()
            reason = compare(expected, got, tol)
        except Exception as e:  # an oracle that cannot run is a failed check
            reason = f"oracle error: {e}"
        if reason:
            bad[name] = reason
    return bad
