#!/usr/bin/env python3
"""Dev-only mirror of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables, compare (column-name-sorted,
row-sorted) against the Spark parquet dumps from graft.Verify.

    python3 dev/compare_oracle.py [sf dir] [verify out dir] [gate,gate,...]

Exits 0 when every checked gate passes, 1 when one fails or none was
checked, 2 when a named gate is not in the dump's oracle_sql.json.

    python3 dev/compare_oracle.py [sf dir] <verify out dir> --against <other verify out dir> [gate,...]

compares two Verify dumps instead (say, of a change and of its parent),
with no oracle run and the sf dir unread: each gate's rows go through the
same `canon` on both sides. It prints one line per gate whose columns or
rows differ, or that only one side dumped, and exits 0 when every gate
dumped on either side holds the same rows, 1 otherwise (or when no gate
was compared), 2 on a usage error or an unknown gate name."""
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


def dump_rows(con, out_dir, name):
    """(canonical rows, sorted columns) of one gate's Verify dump."""
    d = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
    return canon(d.fetchall(), [c[0] for c in d.description])


def against_main(args):
    i = args.index("--against")
    if i + 1 >= len(args):
        print("--against needs a Verify output dir")
        return 2
    other = args[i + 1]
    pos = args[:i] + args[i + 2:]
    if not 1 <= len(pos) <= 3:
        print("usage: compare_oracle.py [sf dir] <verify out dir> "
              "--against <other verify out dir> [gate,...]")
        return 2
    out_dir = pos[1] if len(pos) > 1 else pos[0]
    only = pos[2].split(",") if len(pos) > 2 else None
    names = set()
    for d in (out_dir, other):
        names |= set(json.load(open(f"{d}/oracle_sql.json")))
    unknown = sorted(set(only or []) - names)
    if unknown:
        print(f"no such gate: {', '.join(unknown)}")
        return 2
    con = duckdb.connect()
    n_same = n_diff = 0
    for name in sorted(set(only) if only else names):
        dumped = [os.path.isdir(f"{d}/{name}") for d in (out_dir, other)]
        if not any(dumped):
            continue
        if not all(dumped):
            side = out_dir if dumped[0] else other
            print(f"DIFF {name}: dumped in {side} only")
            n_diff += 1
            continue
        (a, acols), (b, bcols) = (dump_rows(con, d, name) for d in (out_dir, other))
        if acols != bcols:
            print(f"DIFF {name}: columns differ {acols} vs {bcols}")
            n_diff += 1
        elif a != b:
            print(f"DIFF {name}: rows differ ({len(a)} vs {len(b)} rows, "
                  f"{len(set(a) ^ set(b))} distinct rows on one side only)")
            n_diff += 1
        else:
            n_same += 1
    print(f"== {n_same} same / {n_diff} differ ==")
    if n_same + n_diff == 0:
        print("no gate was compared")
        return 1
    return 1 if n_diff else 0


def main():
    if "--against" in sys.argv:
        return against_main(sys.argv[1:])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(set(only or []) - set(oracle))
    if unknown:
        print(f"no such gate: {', '.join(unknown)}")
        return 2
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            osch = con.execute(sql).arrow().schema
            otypes = {f.name: str(f.type) for f in osch}
            o = con.execute(sql)
            ocols = [d[0] for d in o.description]
            orows = o.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_fail += 1
            continue
        try:
            ssql = f"SELECT * FROM '{out_dir}/{name}/*.parquet'"
            stypes = {f.name: str(f.type) for f in con.execute(ssql).arrow().schema}
            s = con.execute(ssql)
            scols = [d[0] for d in s.description]
            srows = s.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark dump error: {e}")
            n_fail += 1
            continue
        # the driver lexsorts result rows with pandas, which CRASHES on
        # array/list cells (unhashable numpy.ndarray — the q_project r12
        # lesson). Hard-fail any array-typed output column locally so the
        # gate-shape bug never reaches the driver.
        listy = {c: t for c, t in list(otypes.items()) + list(stypes.items())
                 if "list" in t.lower() or t.lower().startswith("array")}
        if listy:
            print(f"FAIL {name}: array/list-typed output column(s) {listy} — "
                  f"the driver's pandas sort cannot handle arrays; "
                  f"stringify (array_to_string) or posexplode the column")
            n_fail += 1
            continue
        oc, ocn = canon(orows, ocols)
        sc, scn = canon(srows, scols)
        if ocn != scn:
            print(f"FAIL {name}: columns differ oracle={ocn} spark={scn}")
            n_fail += 1
            continue
        # the driver's hash is TYPED enough to fail on DuckDB's int128
        # widening (HUGEINT from sum()/list_sum → arrow decimal128) vs
        # Spark's BIGINT, but it tolerates int-width diffs (int32 vs
        # int64 passed every round). Mirror exactly that: fail on a
        # decimal-vs-nondecimal mismatch, stay silent otherwise.
        tdiff = {c: (otypes[c], stypes[c]) for c in ocn
                 if otypes[c].startswith("decimal") != stypes[c].startswith("decimal")}
        if tdiff:
            print(f"FAIL {name}: decimal/non-decimal TYPE mismatch "
                  f"(oracle,spark): {tdiff} — cast ::BIGINT/::DOUBLE in the oracle")
            n_fail += 1
            continue
        if oc == sc:
            print(f"PASS {name} ({len(sc)} rows)")
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: rows differ (oracle {len(oc)} vs spark {len(sc)})")
            so, ss = set(oc), set(sc)
            for r in list(so - ss)[:3]:
                print(f"    oracle-only: {r}")
            for r in list(ss - so)[:3]:
                print(f"    spark-only : {r}")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    if n_pass + n_fail == 0:
        print("no gate was checked")
        return 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
