"""Output checks, computed apart from the program with DuckDB or taken
from properties the method must have. Each check returns a list of
error strings; an empty list means every output was right.

KMeans is seeded but not bit-exact across partitionings, so nothing is
compared with a stored copy of earlier output.
"""
import hashlib
import json
import os

import duckdb

TABLES = ["documents", "embeddings", "orders", "lineitem"]  # as copied to data/
STRIDE = 24   # Pipeline.e1Scored's default window stride
NUM_ACTS = 3  # ActFeatures drops documents with fewer windows than acts
MAX_DEPTH = 5


def connect(data):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, cols):
    """Order-free hash of a result, columns matched by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for ln in sorted("|".join(canon(r[i]) for i in order) for r in rows):
        h.update(ln.encode() + b"\n")
    return h.hexdigest()


def oracle(con, entries):
    """Each declared query's output against its DuckDB twin."""
    errs = []
    for e in entries:
        name = e["name"]
        try:
            s = con.execute(f"SELECT * FROM '{e['output']}/*.parquet'")
            s_cols = [d[0] for d in s.description]
            s_rows = s.fetchall()
            o = con.execute(e["sql"])
            o_cols = [d[0] for d in o.description]
            o_rows = o.fetchall()
        except duckdb.Error as ex:
            errs.append(f"{name}: {ex}")
            continue
        if sorted(s_cols) != sorted(o_cols):
            errs.append(f"{name}: columns {sorted(s_cols)} != twin {sorted(o_cols)}")
        elif len(s_rows) != len(o_rows):
            errs.append(f"{name}: {len(s_rows)} rows != twin {len(o_rows)}")
        elif table_hash(s_rows, s_cols) != table_hash(o_rows, o_cols):
            errs.append(f"{name}: rows differ from twin")
    return errs


def graph_view(d):
    return f"read_parquet('{d}/*/*.parquet', hive_partitioning = true)"


def check_e1(res, data):
    con = connect(data)
    # windows per document from the cleaned text, cleaned by the SQL twin
    # of the engine's TextClean chain (clean_sql), so the expectation
    # holds whatever markup the text carries
    con.execute(f"""CREATE TABLE expect AS
        SELECT doc_id, greatest(CAST(ceil(len(string_split(c, ' ')) / {STRIDE}.0) AS BIGINT), 1) AS nwin
        FROM (SELECT doc_id, {res['clean_sql']} AS c FROM documents)""")
    want_movies = con.execute(
        f"SELECT count(*) FROM expect WHERE nwin >= {NUM_ACTS}").fetchone()[0]
    errs = []
    for i, d in enumerate(res["pass_dirs"]):
        tag = f"pass {i}"
        g = graph_view(f"{d}/graph")
        m = f"'{d}/movies/*.parquet'"
        bad_win = con.execute(f"""SELECT count(*) FROM expect e FULL JOIN (
              SELECT doc_id, count(*) AS n, count(DISTINCT window_id) AS nd,
                     min(window_id) AS lo, max(window_id) AS hi
              FROM '{d}/scored/*.parquet' GROUP BY 1) s ON s.doc_id = e.doc_id
            WHERE e.doc_id IS NULL OR s.doc_id IS NULL OR s.n <> e.nwin
              OR s.nd <> s.n OR s.lo <> 0 OR s.hi <> e.nwin - 1""").fetchone()[0]
        if bad_win:
            errs.append(f"{tag}: {bad_win} documents whose scored windows differ "
                        f"from the cleaned text's")
        n_nodes, max_depth = con.execute(f"SELECT count(*), max(depth) FROM {g}").fetchone()
        if not n_nodes or max_depth > MAX_DEPTH:
            errs.append(f"{tag}: {n_nodes} nodes, tree depth {max_depth} > {MAX_DEPTH}")
        n_mov, n_distinct = con.execute(
            f"SELECT count(*), count(DISTINCT movie_id) FROM {m}").fetchone()
        if n_mov != want_movies or n_distinct != n_mov:
            errs.append(f"{tag}: {n_mov} movies ({n_distinct} distinct), "
                        f"expected {want_movies} documents with >= {NUM_ACTS} windows")
        not_leaf = con.execute(f"""SELECT count(*) FROM {m} mv
            LEFT JOIN {g} n ON n.id = mv.graph_id
            WHERE n.id IS NULL OR n.type <> 'leaf' OR n.children_count <> 0""").fetchone()[0]
        if not_leaf:
            errs.append(f"{tag}: {not_leaf} movies not assigned to a leaf")
        bad_leaf = con.execute(f"""SELECT count(*) FROM {g} n
            LEFT JOIN (SELECT graph_id, count(*) AS c FROM {m} GROUP BY 1) a ON a.graph_id = n.id
            WHERE n.type = 'leaf' AND n.count <> coalesce(a.c, 0)""").fetchone()[0]
        if bad_leaf:
            errs.append(f"{tag}: {bad_leaf} leaves whose count differs from their movies")
    return errs + oracle(con, res["oracle"]) + check_chain(res["graph_chain"])


def check_chain(chain):
    """The graph and index chain's declared outputs against their twins,
    over the tables the chain read (None: the chain did not run)."""
    if chain is None:
        return []
    return [f"graph chain: {e}" for e in oracle(connect(chain["data"]), chain["oracle"])]


def check_serve(res, data):
    """Every response against DuckDB's answer for the same id."""
    con = connect(data)
    g = graph_view(res["graph_dir"])
    con.execute(f"CREATE TABLE g AS SELECT * FROM {g}")
    con.execute(f"CREATE TABLE mv AS SELECT * FROM '{res['movies_dir']}/*.parquet'")
    nodes = {r[0]: r[1:] for r in con.execute(
        "SELECT id, path, depth, children_count, count FROM g").fetchall()}
    # children by stripping the last path segment: a different route
    # from the engine's prefix + depth match
    kids = {}
    for pid, *row in con.execute("""
            SELECT p.id, c.id, c.path, c.name, c.type, c.children_count, c.count
            FROM g c JOIN g p ON regexp_replace(c.path, '\\.[^.]+$', '') = p.path
            WHERE c.path <> p.path""").fetchall():
        kids.setdefault(pid, []).append(row)
    movies = {}
    for gid, mid in con.execute("SELECT graph_id, movie_id FROM mv").fetchall():
        movies.setdefault(gid, []).append(mid)
    emb = {}
    for row in con.execute("""
            SELECT doc_id, source, dim, round(x, 6) + 0.0 FROM (
              SELECT d.doc_id, d.source,
                     unnest(generate_series(1, len(e.embedding))) AS dim,
                     unnest(list_transform(e.embedding, v -> CAST(v AS DOUBLE))) AS x
              FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)""").fetchall():
        emb.setdefault(row[0], []).append(list(row))

    def key(rows):
        return sorted(tuple(canon(v) for v in r) for r in rows)

    errs = []
    n = 0
    with open(res["responses"]) as f:
        for line in f:
            r = json.loads(line)
            n += 1
            i = r["id"]
            if r["type"] == "children":
                want = nodes.get(i)
                node = r["node"]
                if want is None or node is None or list(want) != node:
                    errs.append(f"children {i}: node row {node} != {want}")
                    continue
                got = r["children"]
                if key(got) != key(kids.get(i, [])):
                    errs.append(f"children {i}: children differ from DuckDB")
                if node[2] != len(got):
                    errs.append(f"children {i}: children_count {node[2]} != {len(got)} rows")
                if got and sum(c[5] for c in got) != node[3]:
                    errs.append(f"children {i}: children's counts sum to "
                                f"{sum(c[5] for c in got)}, node count {node[3]}")
                if r["movies"] != sorted(movies.get(i, [])):
                    errs.append(f"children {i}: movies differ from DuckDB")
            elif key(r["rows"]) != key(emb.get(i, [])):
                errs.append(f"movie {i}: rows differ from DuckDB")
    if n == 0:
        errs.append("no responses recorded")
    return errs


def check_graph(res, data):
    return check_chain(res["graph"])


def check(workload, res, data):
    fn = {"e1_batch": check_e1, "serve_explore": check_serve,
          "graph_index": check_graph}[workload]
    return fn(res, data)
