"""Output check of the query workloads against graft's DuckDB oracles.

Uses the comparison rules of tools/check_oracle.py (dtype-strict, columns
sorted by name, rows sorted by value) by importing them, so both checks
stay one rule. Oracle results depend only on the SQL text and the tables,
so they are cached in the build directory.
"""
import glob
import hashlib
import importlib.util
import pickle
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _check_oracle():
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _connect(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in _check_oracle().TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def oracle_rows(con, data_dir, sql, cache_dir):
    """Normalized oracle result (columns, types, rows), cached per SQL and tables."""
    key = hashlib.sha256((str(data_dir) + "\0" + sql).encode()).hexdigest()[:24]
    path = Path(cache_dir) / f"{key}.pkl"
    if path.exists():
        return pickle.loads(path.read_bytes())
    res = _check_oracle().norm(con.sql(sql).arrow())
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(pickle.dumps(res))
    return res


def check(names, oracle_sql, check_dir, data_dir, cache_dir):
    """Returns {name: (ok, message, oracle row count or None)}."""
    co = _check_oracle()
    con = _connect(data_dir)
    out = {}
    for name in names:
        sql = oracle_sql.get(name)
        if not sql:
            out[name] = (False, "no oracle SQL", None)
            continue
        try:
            dc, dt, dr = oracle_rows(con, data_dir, sql, cache_dir)
        except Exception as e:  # noqa: BLE001 - reported as a failed row
            out[name] = (False, f"oracle failed: {str(e)[:200]}", None)
            continue
        files = glob.glob(f"{check_dir}/{name}/*.parquet")
        if not files:
            out[name] = (False, "no spark output", len(dr))
            continue
        sc, st, sr = co.norm(con.sql(f"SELECT * FROM '{check_dir}/{name}/*.parquet'").arrow())
        if sc != dc:
            msg = f"columns {sc} vs {dc}"
        elif st != dt:
            msg = "dtypes differ: " + "; ".join(f"{c}: spark={a} duck={b}" for c, a, b in zip(sc, st, dt) if a != b)
        elif len(sr) != len(dr):
            msg = f"rows {len(sr)} vs {len(dr)}"
        else:
            bad = next((i for i, (r1, r2) in enumerate(zip(sr, dr))
                        if not all(co.cmp_vals(a, b) for a, b in zip(r1, r2))), None)
            msg = None if bad is None else f"row {bad}: spark={sr[bad]} duck={dr[bad]}"
        out[name] = (msg is None, msg or f"{len(sr)} rows match", len(dr))
    return out

