"""DuckDB comparison of analytics_suite results, under the rules of
tools/oracle_check.py (whose helpers it imports): columns sorted by name,
rows sorted by their rendering, values compared by their serialized form,
Arrow types compared by Python value class."""
import importlib.util
import json
from pathlib import Path

import duckdb


def _rules():
    spec = importlib.util.spec_from_file_location("oracle_check", Path("tools/oracle_check.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def check(sf_dir, out_dir):
    """Returns one message per query whose Spark result differs from DuckDB
    running its oracle SQL on the same tables; empty when all match."""
    oc = _rules()
    out = Path(out_dir)
    oracle_file = out / "oracle_sql.json"
    if not oracle_file.exists():
        return ["no oracle_sql.json written"]
    oracle = json.loads(oracle_file.read_text())
    if not oracle:
        return ["no query results written"]
    con = duckdb.connect()
    for t in oc.TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = []
    for name in sorted(oracle):
        qdir = out / name
        if not qdir.exists():
            bad.append(f"{name}: no spark output")
            continue
        try:
            s_rows, s_cols, s_types = oc.fetch_arrow(con.sql(f"SELECT * FROM '{qdir}/*.parquet'"))
            d_rows, d_cols, d_types = oc.fetch_arrow(con.sql(oracle[name]))
        except Exception as e:  # a failing oracle query is a mismatch, not a crash
            bad.append(f"{name}: exec error: {e}")
            continue
        s_rows, s_cols = oc.canon(s_rows, s_cols)
        d_rows, d_cols = oc.canon(d_rows, d_cols)
        if s_cols != d_cols:
            bad.append(f"{name}: columns spark={s_cols} duckdb={d_cols}")
        elif any(oc.type_class(s_types.get(c, "")) != oc.type_class(d_types.get(c, "")) for c in s_cols):
            bad.append(f"{name}: arrow types differ")
        elif len(s_rows) != len(d_rows):
            bad.append(f"{name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        elif any(not all(oc.values_eq(x, y) for x, y in zip(a, b)) for a, b in zip(s_rows, d_rows)):
            bad.append(f"{name}: values differ")
    return bad


def selftest(sf_dir, work):
    """The comparison must accept a right answer and reject a corrupted one."""
    work = Path(work)
    sql = "SELECT r_regionkey, r_name FROM region"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW region AS SELECT * FROM '{Path(sf_dir) / 'region.parquet'}'")
    ok = True
    for label, query, want_ok in [
        ("right answer", sql, True),
        ("corrupted answer", "SELECT r_regionkey, CASE WHEN r_regionkey = 0 THEN 'X' "
                             "ELSE r_name END AS r_name FROM region", False),
        ("missing row", sql + " WHERE r_regionkey > 0", False),
    ]:
        out = work / label.replace(" ", "_")
        (out / "q").mkdir(parents=True, exist_ok=True)
        con.execute(f"COPY ({query}) TO '{out / 'q' / 'part-0.parquet'}' (FORMAT PARQUET)")
        (out / "oracle_sql.json").write_text(json.dumps({"q": sql}))
        got_ok = not check(sf_dir, out)
        print(f"selftest {'ok' if got_ok == want_ok else 'FAILED'}: oracle {label}", flush=True)
        ok &= got_ok == want_ok
    return ok
