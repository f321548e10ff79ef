#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate (dev tooling only —
not part of the engine). Runs each oracle SQL in DuckDB against the same
parquet tables and compares rows/schema/hash with the Verify dump.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
       python3 tools/check.py --same-as <otherVerifyOut> <verifyOutDir> [query ...]

--same-as compares two Verify dumps instead (for a change that must
leave every output as it was): each query dir, rows-only ones included,
must have the same column names, DuckDB types and exact row hash (rows
and columns sorted, floats by repr). Every query that differs or is on
one side only is named; oracle_sql.json is compared byte for byte.
"""
import glob
import hashlib
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def query_dirs(out_dir):
    return {q.rstrip("/").split("/")[-1]: q
            for q in glob.glob(f"{out_dir}/*/")}


def signature(con, qdir):
    """(column names + DuckDB types, row count, exact row hash) of a dump."""
    src = f"'{qdir}/*.parquet'"
    try:
        types = [(r[0], r[1]) for r in
                 con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        rows = con.execute(f"SELECT * FROM {src}").fetchall()
    except Exception as e:
        return ("ERR", str(e).replace(qdir, "<dir>")[:200])
    cols = [c for c, _ in types]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join("NULL" if r[i] is None else repr(r[i])
                            for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return (sorted(types), len(rows), h)


def same_as(other_dir, out_dir, only):
    con = duckdb.connect()
    mine, theirs = query_dirs(out_dir), query_dirs(other_dir)
    names = sorted(set(mine) | set(theirs))
    n_same = n_diff = 0
    for name in names:
        if only and name not in only:
            continue
        if name not in mine or name not in theirs:
            n_diff += 1
            side = out_dir if name in mine else other_dir
            print(f"{name:28s} DIFF only in {side}")
            continue
        a, b = signature(con, mine[name]), signature(con, theirs[name])
        if a == b:
            n_same += 1
            continue
        n_diff += 1
        if a[0] == "ERR" or b[0] == "ERR":
            print(f"{name:28s} DIFF read: {a[1] if a[0] == 'ERR' else 'ok'} / "
                  f"{b[1] if b[0] == 'ERR' else 'ok'}")
        elif a[0] != b[0]:
            print(f"{name:28s} DIFF columns: {a[0]} / {b[0]}")
        else:
            print(f"{name:28s} DIFF rows={a[1]}/{b[1]} hash differs")
    with open(f"{out_dir}/oracle_sql.json", "rb") as f:
        o_mine = f.read()
    with open(f"{other_dir}/oracle_sql.json", "rb") as f:
        o_theirs = f.read()
    if o_mine == o_theirs:
        print("oracle_sql.json identical")
    else:
        a, b = json.loads(o_mine), json.loads(o_theirs)
        changed = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
        print(f"oracle_sql.json DIFF ({len(changed)} queries): "
              f"{', '.join(changed)[:400]}")
        n_diff += 1
    print(f"== {n_same} identical / {n_diff} differ ==")
    sys.exit(1 if n_diff else 0)


def main():
    if sys.argv[1] == "--same-as":
        return same_as(sys.argv[2], sys.argv[3], set(sys.argv[4:]))
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_fail = 0
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = qdir.rstrip("/").split("/")[-1]
        if only and name not in only:
            continue
        try:
            sq = con.execute(
                f"SELECT * FROM '{qdir}/*.parquet'")
            s_cols = [d[0] for d in sq.description]
            s_rows = sq.fetchall()
            if name not in oracles:
                print(f"{name:28s} rows-only spark={len(s_rows)}")
                continue
            oq = con.execute(oracles[name])
            o_cols = [d[0] for d in oq.description]
            o_rows = oq.fetchall()
            # Twin-type lint (r15): no HUGEINT/DECIMAL output column may
            # ever ship — DuckDB releases canonicalize them differently
            # (r10 q_pack_sequences, r14 q_graph_pagerank both red from
            # an un-CAST sum promotion).
            bad_types = [
                (r[0], r[1]) for r in con.execute(
                    f"DESCRIBE ({oracles[name]})").fetchall()
                if "HUGEINT" in r[1] or "DECIMAL" in r[1]]
            if bad_types:
                n_fail += 1
                print(f"{name:28s} FAIL twin-type lint: {bad_types}")
                continue
            ok_rows = len(s_rows) == len(o_rows)
            ok_schema = sorted(s_cols) == sorted(o_cols)
            ok_hash = (ok_rows and ok_schema and
                       table_hash(s_rows, s_cols) == table_hash(o_rows, o_cols))
            ok = ok_rows and ok_schema and ok_hash
            n_pass += ok
            n_fail += not ok
            flag = "PASS" if ok else "FAIL"
            print(f"{name:28s} {flag} rows={len(s_rows)}/{len(o_rows)} "
                  f"schema={ok_schema} hash={ok_hash}")
            if not ok_schema:
                print(f"   spark cols: {sorted(s_cols)}")
                print(f"   oracle cols: {sorted(o_cols)}")
            if ok_rows and ok_schema and not ok_hash:
                # show first differing line
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_o = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
                ls = sorted("|".join(canon(r[i]) for i in order_s) for r in s_rows)
                lo = sorted("|".join(canon(r[i]) for i in order_o) for r in o_rows)
                for a, b in zip(ls, lo):
                    if a != b:
                        print(f"   spark : {a[:200]}")
                        print(f"   oracle: {b[:200]}")
                        break
        except Exception as e:
            n_fail += 1
            print(f"{name:28s} ERR  {str(e)[:200]}")
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
