"""Output check for gate workloads: each gate's Spark output (a parquet
dump) must equal, as a row set, what DuckDB computes from the gate's
oracle SQL over the same input directory.

The comparison follows the row-set rules of the repository's oracle
compare: columns sorted by name, floats rounded to 9 places, NaN as a
token, rows sorted; and it fails on a decimal-versus-non-decimal column
type.
"""
import hashlib
import math
import os

import duckdb

from gen import TABLES


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


def digest(rows, cols):
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _fetch(con, sql):
    table = con.execute(sql).arrow()
    types = {f.name: str(f.type) for f in table.schema}
    cols = table.column_names
    rows = list(zip(*[c.to_pylist() for c in table.columns])) if cols else []
    return canon(rows, cols), types


def expected(data_dir, oracle_sql, threads):
    """{gate: ((canonical rows, columns), column types), or the error}."""
    con = duckdb.connect(config={"threads": threads})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            out[name] = _fetch(con, sql)
        except Exception as e:  # a broken oracle fails the gate's check
            out[name] = f"oracle error: {e}"
    con.close()
    return out


def compare(want, dump_dir):
    """{gate: why it is wrong} and {gate: digest of its checked output}."""
    con = duckdb.connect(config={"threads": 1})
    problems, digests = {}, {}
    for name, exp in sorted(want.items()):
        path = os.path.join(dump_dir, name)
        if isinstance(exp, str):
            problems[name] = exp
            continue
        if not os.path.isdir(path):
            problems[name] = "no output"
            continue
        (orows, ocols), otypes = exp
        try:
            (srows, scols), stypes = _fetch(con, f"SELECT * FROM '{path}/*.parquet'")
        except Exception as e:
            problems[name] = f"unreadable output: {e}"
            continue
        if ocols != scols:
            problems[name] = f"columns differ: oracle {ocols} vs {scols}"
        elif any(otypes[c].startswith("decimal") != stypes[c].startswith("decimal")
                 for c in ocols):
            problems[name] = "decimal/non-decimal column type"
        elif orows != srows:
            problems[name] = f"rows differ ({len(orows)} vs {len(srows)})"
        else:
            digests[name] = digest(srows, scols)
    con.close()
    return problems, digests
