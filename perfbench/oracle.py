"""Correctness gate: every timed operation's output against DuckDB or the
generated input.

Each check returns {key: reason} for the operations that failed; `run.py`
marks the operations with those keys failed. Result frames are compared the
way `tools/check.py` compares them: columns sorted by name, values
stringified (floats to six decimals), rows sorted. Oracle answers depend on
the generated content but not on the run seed, so they are cached by a
digest of the SQL, the generator and the library versions.
"""
import hashlib
import inspect
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# the star-schema CTEs of BankOracle.prelude, materialized once per check
STAR = ["dim_date", "dim_customer", "dim_account", "dim_merchant", "dim_location",
        "fact_spending"]


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{data_dir}/duckdb-tmp'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            out[c] = col.round(6).map(lambda v: f"{v:.6f}" if pd.notna(v) else "NULL")
        else:
            out[c] = col.map(lambda v: "NULL" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare(expect: pd.DataFrame, got: pd.DataFrame):
    """None when `got` equals the normalized `expect`, else a one-line reason."""
    e, g = expect, normalize(got)
    if list(e.columns) != list(g.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(e) != len(g):
        return f"rows {len(g)} != {len(e)}"
    if not e.equals(g):
        bad = (e != g).any(axis=1)
        i = bad[bad].index[0]
        return f"value mismatch: {g.loc[i].to_dict()} != {e.loc[i].to_dict()}"
    return None


def cache_key(*parts):
    """Digest of what an oracle answer depends on: the SQL and the generated
    content (generator code and library versions; not the run seed)."""
    h = hashlib.sha256()
    for part in parts + (inspect.getsource(gen), duckdb.__version__, np.__version__,
                         pa.__version__):
        h.update(part.encode())
    return h.hexdigest()[:24]


def expected(con, sql, run_sql, cache_dir):
    """The normalized oracle answer to `sql`, computed by `run_sql` on a
    cache miss and kept as JSON under `cache_dir`."""
    f = os.path.join(cache_dir, f"{cache_key(sql)}.json")
    if os.path.exists(f):
        with open(f) as fh:
            d = json.load(fh)
        return pd.DataFrame(d["rows"], columns=d["columns"], dtype=object)
    e = normalize(con.execute(run_sql).fetchdf())
    os.makedirs(cache_dir, exist_ok=True)
    with open(f + ".tmp", "w") as fh:
        json.dump({"columns": list(e.columns), "rows": e.values.tolist()}, fh)
    os.replace(f + ".tmp", f)
    return e


def guarded(fn):
    """Run one check; a checker error fails it too."""
    try:
        return fn()
    except Exception as ex:  # noqa: BLE001 - any error counts as a failed check
        return f"check error: {ex}"


def star_tables(con, prelude, cache_dir):
    """Materialize the oracle star schema as temp tables, kept as parquet
    under `cache_dir` (its rows do not depend on the run seed)."""
    d = os.path.join(cache_dir, cache_key(prelude))
    os.makedirs(d, exist_ok=True)
    for cte in STAR:
        f = os.path.join(d, f"{cte}.parquet")
        if not os.path.exists(f):
            con.execute(f"COPY ({prelude} SELECT * FROM {cte}) TO '{f}.tmp' (FORMAT parquet)")
            os.replace(f"{f}.tmp", f)
        con.execute(f"CREATE TEMP TABLE {cte} AS SELECT * FROM read_parquet('{f}')")


def check_etl_dashboards(con, checks, input_rows, cache_dir):
    """The ETL run's written warehouse equals the oracle star schema row for
    row, its read-back counts match and no data-quality check fires; each
    dashboard query's first result equals its oracle query."""
    etl = checks["etl"]
    prelude = etl["prelude"]
    star_tables(con, prelude, cache_dir)

    def body(sql):  # an oracle query, minus the prelude the star tables replace
        assert sql.startswith(prelude)
        return sql[len(prelude):]

    fails = {}
    golden = {}
    for table, sql in etl["oracle"].items():
        con.execute(f"CREATE TEMP TABLE o_{table} AS {body(sql)}")
        golden[table] = con.execute(f"SELECT count(*) FROM o_{table}").fetchone()[0]

    def etl_reason():
        if any(v != 0 for v in etl["dq"].values()):
            return f"data-quality violations {etl['dq']}"
        if etl["counts"] != golden:
            return f"counts {etl['counts']} != {golden}"
        if len([f for f in os.listdir(os.path.join(etl["dir"], "charts")) if f.endswith(".svg")]) != 3:
            return "expected three charts"
        for table in etl["oracle"]:
            cols = ", ".join(d[0] for d in con.execute(f"SELECT * FROM o_{table} LIMIT 0").description)
            src = f"read_parquet('{etl['dir']}/{table}/**/*.parquet')"
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM {src} EXCEPT ALL "
                f"SELECT {cols} FROM o_{table})), (SELECT count(*) FROM (SELECT {cols} "
                f"FROM o_{table} EXCEPT ALL SELECT {cols} FROM {src}))").fetchone()
            if diff != (0, 0):
                return f"{table}: {diff[0]} rows written not in oracle, {diff[1]} missing"
        return None

    reason = guarded(etl_reason)
    if reason:
        fails["etl"] = reason
    for key, p in checks.get("queries", {}).items():
        reason = guarded(lambda: compare(
            expected(con, p["oracle_sql"], body(p["oracle_sql"]), cache_dir),
            pd.DataFrame([list(r) for r in p["rows"]], columns=p["columns"])))
        if reason:
            fails[key] = reason
    stats = {"etl.fact_rows": golden["Fact_Spending"],
             "etl.accounts_dropped": input_rows["orders"] - golden["Dim_Account"],
             "etl.tx_dropped": input_rows["lineitem"] - golden["Fact_Spending"]}
    return fails, stats


def version_truth(chunk_dir):
    """Per committed version v (= the first v chunks in landing order), the
    per-event_type [rows, sum of floor(value * 100)]."""
    files = sorted(f for f in os.listdir(chunk_dir) if f.endswith(".parquet"))
    acc, out = {}, [{}]
    for f in files:
        t = pq.read_table(os.path.join(chunk_dir, f), columns=["event_type", "value"])
        cents = np.floor(t.column("value").to_numpy() * 100.0).astype("int64")
        for ty, c in zip(t.column("event_type").to_pylist(), cents):
            n, s = acc.get(ty, (0, 0))
            acc[ty] = (n + 1, s + int(c))
        out.append(dict(acc))
    return out


def check_ingest_operators(con, checks, chunk_dir, cache_dir):
    """Every read equals the input's totals at the version it read; the
    final table equals the input's totals at its version; each operator
    query's result equals its oracle query."""
    fails = {}
    truth = version_truth(chunk_dir)

    def want(v, types):
        return [[t, truth[v][t][0], truth[v][t][1]] for t in sorted(types) if t in truth[v]]

    stream = checks["stream"]
    v = stream["version"]
    if v >= len(truth) or [list(r) for r in stream["final"]] != want(v, truth[v]):
        fails["stream"] = f"table at v{v}: {stream['final']}"
    for r in stream["reads"]:
        if [list(x) for x in r["rows"]] != want(r["version"], r["subset"]):
            fails[f"v{r['version']}:{'+'.join(r['subset'])}"] = f"read {r['rows']}"
    for q, p in checks.get("mix", {}).items():
        reason = guarded(lambda: compare(
            expected(con, p["oracle_sql"], p["oracle_sql"], cache_dir),
            con.execute(f"SELECT * FROM read_parquet('{p['dir']}/*.parquet')").fetchdf()))
        if reason:
            fails[q] = reason
    return fails
