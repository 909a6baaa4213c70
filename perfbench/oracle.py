"""Independent checks of the benchmark's outputs, computed with DuckDB over
the same generated parquet the library read.

The expected graph follows the shape of SparkEntry's minimal-triples oracle
SQL; the canonical subject map comes from a union-find over the mention
table, not from the library's connected components. Tables are compared by
row count and an order-independent multiset hash (the sum of row hashes).
"""
import glob
import os

import duckdb
import pyarrow as pa

P = "https://example.org/transcript#"
X = "http://www.w3.org/2001/XMLSchema#"
COLS = "conv_id, turn_idx, role, text, tool, ts"


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _parquet(pattern):
    return f"read_parquet('{pattern}')"


def _minimal_triples(src):
    """Minimal-mode triples of the transcript rows in `src`, as the library's
    transcript mapping emits them."""
    def sel(pred, obj, dtype, where=""):
        return (f"SELECT 'urn:conv:' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj, "
                f"'{P}{pred}' AS pred, {obj} AS obj, FALSE AS obj_iri, "
                f"CAST(NULL AS VARCHAR) AS lang, {dtype} AS dtype FROM {src} {where}")
    none = "CAST(NULL AS VARCHAR)"
    return "\nUNION ALL\n".join([
        sel("conv_id", "conv_id", none),
        sel("turn_idx", "CAST(turn_idx AS VARCHAR)", f"'{X}integer'"),
        sel("role", "role", none),
        sel("text", "text", none),
        sel("tool", "tool", none, "WHERE tool <> ''"),
        sel("ts", "strftime(ts, '%Y-%m-%dT%H:%M:%S')", f"'{X}dateTime'"),
    ])


def _count_hash(con, sql, cols):
    n, h = con.execute(f"SELECT count(*), CAST(sum(CAST(hash({cols}) AS HUGEINT)) AS VARCHAR) "
                       f"FROM ({sql})").fetchone()
    return n, h or "0"


def input_hashes(gen_dir):
    """(rows, hash) per generated table."""
    con = _con()
    drops = os.path.join(gen_dir, "drops", "*", "*.parquet")
    return {
        "corpus": _count_hash(con, f"SELECT * FROM {_parquet(gen_dir + '/corpus/*.parquet')}", COLS),
        "conversations": _count_hash(
            con, f"SELECT * FROM {_parquet(gen_dir + '/conversations/*.parquet')}", "conv_id, title"),
        "dictionary": _count_hash(
            con, f"SELECT * FROM {_parquet(gen_dir + '/dictionary/*.parquet')}", "entity_id, surface"),
        "drops": _count_hash(con, f"SELECT {COLS} FROM read_parquet('{drops}', hive_partitioning = false)",
                             COLS),
    }


def _mentions(con, gen_dir):
    return con.execute(f"""
        WITH toks AS (
          SELECT 'urn:conv:' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
                 unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
          FROM {_parquet(gen_dir + '/corpus/*.parquet')})
        SELECT DISTINCT subj, entity_id
        FROM toks JOIN {_parquet(gen_dir + '/dictionary/*.parquet')} d ON tok = lower(d.surface)
        WHERE length(tok) > 1""").fetchall()


def _canonical_map(mentions):
    """subject -> lexicographic-min member of its component, where subjects
    that share an entity are connected."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first = {}
    for subj, ent in mentions:
        if ent in first:
            a, b = find(first[ent]), find(subj)
            if a != b:
                parent[max(a, b)] = min(a, b)
        else:
            first[ent] = subj
            find(subj)
    # union by min keeps every root the minimum of its component
    return {s: find(s) for s in parent}


def shape_stats(gen_dir, ingest_dir):
    con = _con()
    corpus = _parquet(gen_dir + "/corpus/*.parquet")
    turns, convs, largest = con.execute(
        f"SELECT count(*), count(DISTINCT conv_id), max(n) FROM "
        f"(SELECT conv_id, count(*) OVER (PARTITION BY conv_id) AS n FROM {corpus})").fetchone()
    ments = _mentions(con, gen_dir)
    per_ent = {}
    for s, e in ments:
        per_ent[e] = per_ent.get(e, 0) + 1
    mentioned = len({s for s, _ in ments})
    drops = _parquet(os.path.join(ingest_dir, "watch", "*.parquet"))
    drop_rows, late = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE conv_id LIKE 'late%') FROM {drops}").fetchone()
    fresh = con.execute(
        f"SELECT count(DISTINCT (conv_id, turn_idx)) FROM {drops} WHERE conv_id NOT LIKE 'late%'").fetchone()[0]
    return {"turns": turns, "conversations": convs, "largest_conversation": largest,
            "mention_share": round(mentioned / turns, 4),
            "hub_size": max(per_ent.values()) if per_ent else 0,
            "drop_rows": drop_rows, "redelivered": drop_rows - late - fresh, "late": late}


def expected_graph(gen_dir):
    con = _con()
    corpus = _parquet(gen_dir + "/corpus/*.parquet")
    dims = _parquet(gen_dir + "/conversations/*.parquet")
    exp = {
        "pk": con.execute(f"SELECT count(*) FROM (SELECT 1 FROM {corpus} "
                          "GROUP BY conv_id, turn_idx HAVING count(*) > 1)").fetchone()[0],
        "fk": con.execute(f"SELECT count(*) FROM {corpus} "
                          f"WHERE conv_id NOT IN (SELECT conv_id FROM {dims})").fetchone()[0],
        "invariant": con.execute(f"SELECT count(*) FROM (SELECT 1 FROM {corpus} "
                                 "GROUP BY conv_id, turn_idx HAVING count(DISTINCT text) > 1)").fetchone()[0],
        # every cell of the typed transcript columns is valid under the mapping
        "cell_errors": 0,
    }
    canon = _canonical_map(_mentions(con, gen_dir))
    con.register("canon", pa.table({"subj": list(canon.keys()), "canon": list(canon.values())}))
    graph = (f"SELECT DISTINCT coalesce(c.canon, t.subj) AS subj, t.pred, t.obj, t.obj_iri, t.lang, t.dtype "
             f"FROM ({_minimal_triples(corpus)}) t LEFT JOIN canon c ON t.subj = c.subj")
    exp["graph_rows"], exp["graph_hash"] = _count_hash(con, graph, "subj, pred, obj, obj_iri, lang, dtype")
    return exp


def check_job(job, exp):
    """Mismatches between one KG job's outputs and the expected values."""
    bad = [f"{k} {job[k]} != expected {exp[k]}" for k in ("pk", "fk", "invariant", "cell_errors")
           if job[k] != exp[k]]
    rows, h = _count_hash(_con(), f"SELECT * FROM {_parquet(job['graph'] + '/*.parquet')}",
                          "subj, pred, obj, obj_iri, lang, dtype")
    if job["triples"] != rows:
        bad.append(f"manifest rows {job['triples']} != {rows} rows written")
    if (rows, h) != (exp["graph_rows"], exp["graph_hash"]):
        bad.append(f"graph ({rows} rows, hash {h}) != expected ({exp['graph_rows']}, {exp['graph_hash']})")
    return bad


def check_ingest(ingest_dir, ing):
    """The stream's output against the distinct triples of the on-time turns
    it was delivered, and its watermark drops against the planted late rows."""
    con = _con()
    delivered = _parquet(os.path.join(ingest_dir, "watch", "*.parquet"))
    on_time = f"(SELECT * FROM {delivered} WHERE conv_id NOT LIKE 'late%')"
    late = f"(SELECT * FROM {delivered} WHERE conv_id LIKE 'late%')"
    exp_rows, exp_hash = _count_hash(
        con, f"SELECT DISTINCT subj, pred, obj FROM ({_minimal_triples(on_time)})", "subj, pred, obj")
    sent = con.execute(f"SELECT count(*) FROM ({_minimal_triples(on_time)})").fetchone()[0]
    late_triples = con.execute(f"SELECT count(*) FROM ({_minimal_triples(late)})").fetchone()[0]
    out = glob.glob(os.path.join(ingest_dir, "out", "*.parquet"))
    rows, h = _count_hash(con, f"SELECT subj, pred, obj FROM {_parquet(os.path.join(ingest_dir, 'out', '*.parquet'))}",
                          "subj, pred, obj") if out else (0, "0")
    failures = []
    if (rows, h) != (exp_rows, exp_hash):
        failures.append(f"output ({rows} rows, hash {h}) != distinct on-time triples ({exp_rows}, {exp_hash})")
    dropped = sum(b["late_dropped"] for b in ing["batches"])
    if dropped != late_triples:
        failures.append(f"late rows dropped {dropped} != planted late triples {late_triples}")
    return {"failures": failures,
            "expected": {"stream_rows": rows, "stream_delivered_triples": sent}}


def dir_bytes(path):
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))
