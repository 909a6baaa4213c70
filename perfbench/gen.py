"""Seeded workload generator: writes a workload's inputs as parquet.

Every value is a pure function of (seed, row id) through DuckDB's `hash`,
so the same seed yields the same tables; the library receives only the
files. Written per workload directory:

- `corpus/`: the transcript corpus, `4 × nproc` files, with `turn_idx`
  precomputed and planted duplicate `(conv_id, turn_idx)` rows;
- `conversations/`: the conversation dimension without the planted orphans;
- `dictionary/`: the entity dictionary;
- `drops/drop=<k>/`: the ingest drops, one file per drop.
"""
import os

import duckdb

T0 = 1704067200  # 2024-01-01T00:00:00Z
WORDS = ["alpha", "beta", "gamma", "delta", "kappa", "lambda", "sigma",
         "omega", "zulu", "yankee", "tango", "quartz", "ivory", "umber"]


class Sql:
    """SQL expressions over a row id `id` for one seed and workload."""

    def __init__(self, seed, p):
        self.seed, self.p = seed, p

    def hmod(self, k, m):
        return f"CAST(hash(id, {self.seed * 131 + k}) % {m} AS BIGINT)"

    def u(self, k):
        """Uniform draw in [0, 1) on stream k."""
        return f"({self.hmod(k, 1000003)} / 1000003.0)"

    def entity(self, k):
        p = self.p
        rest = (f"CAST(floor(exp({self.u(k + 1)} * ln({p['dict_size']}))) - 1 AS BIGINT)" if p["zipf"]
                else self.hmod(k + 1, p["dict_size"]))
        return f"('e' || CASE WHEN {self.u(k)} < {p['hub_share']} THEN 0 ELSE {rest} END)"

    def text(self):
        p = self.p
        words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
        word = lambda k: f"{words}[1 + {self.hmod(k, len(WORDS))}]"  # noqa: E731
        mentions = f"{self.u(10)} < {p['mention_share']}"
        second = (f"{mentions} AND {self.u(14)} < {p['two_mention_share'] / p['mention_share']}"
                  if p["mention_share"] > 0 else "FALSE")
        return (f"concat_ws(' ', {word(1)}, {word(2)}, CASE WHEN {mentions} THEN {self.entity(11)} END, "
                f"{word(3)}, CASE WHEN {second} THEN {self.entity(15)} END)")

    def row(self, conv, turn, text, ts):
        return (f"{conv} AS conv_id, CAST({turn} AS INTEGER) AS turn_idx, "
                f"['user', 'assistant', 'system', 'tool'][1 + id % 4] AS role, {text} AS text, "
                f"CASE WHEN {self.hmod(20, 5)} = 0 THEN 'tool_' || {self.hmod(21, 7)} ELSE '' END AS tool, "
                f"to_timestamp({ts}) AS ts")

    def conversation(self):
        c = self.p["conv_size"]
        if not self.p["mega"]:
            return f"'c' || (id // {c})", f"id % {c}"
        j = "(id - id // 10 - 1)"
        return (f"CASE WHEN id % 10 = 0 THEN 'mega_' || ((id // 10) % 3) ELSE 'c' || ({j} // {c}) END",
                f"CASE WHEN id % 10 = 0 THEN id // 30 ELSE {j} % {c} END")


def generate(out, seed, p):
    """Write every input of one workload under `out`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    q = Sql(seed, p)
    for d in ("corpus", "conversations", "dictionary"):
        os.makedirs(os.path.join(out, d), exist_ok=True)

    def copy(sql, path, options=""):
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET{options})")

    conv, turn = q.conversation()
    text = q.text()
    # a planted duplicate repeats its turn's key; every other one with other text
    dup_text = f"CASE WHEN {q.hmod(31, 2)} = 1 THEN {text} || ' redelivered' ELSE {text} END"
    for f in range(p["files"]):
        ids = f"range({f}, {p['turns']}, {p['files']}) t(id)"
        copy(f"SELECT {q.row(conv, turn, text, f'{T0} + id')} FROM {ids} "
             f"UNION ALL SELECT {q.row(conv, turn, dup_text, f'{T0} + id')} FROM {ids} "
             f"WHERE {q.u(30)} < {p['dup_share']}",
             os.path.join(out, "corpus", f"part-{f:05d}.parquet"))

    regular = p["turns"] - (p["turns"] + 9) // 10 if p["mega"] else p["turns"]
    n_conv = -(-regular // p["conv_size"])
    megas = " UNION ALL SELECT 'mega_' || id FROM range(3) t(id)" if p["mega"] else ""
    copy(f"SELECT conv_id, 'Conversation ' || conv_id AS title FROM ("
         f"SELECT 'c' || id AS conv_id FROM range({n_conv}) t(id) "
         f"WHERE id % {p['orphan_every']} <> 0{megas})",
         os.path.join(out, "conversations", "part-00000.parquet"))
    copy(f"SELECT 'E' || id AS entity_id, 'e' || id AS surface FROM range({p['dict_size']}) t(id)",
         os.path.join(out, "dictionary", "part-00000.parquet"))

    # drop k: its own turns, turns of the previous three drops delivered
    # again, and from `late_from` on turns stamped three hours early; one
    # partitioned write with one thread leaves one file per drop
    r, c = p["drop_turns"], p["conv_size"]
    n = p["drops"] * r
    late_per_drop = round(p["late_share"] * r)
    n_late = late_per_drop * max(0, p["drops"] - p["late_from"])
    late_drop = f"({p['late_from']} + (id - {n}) // {late_per_drop})"
    stream_row = lambda conv_prefix, ts: q.row(  # noqa: E731
        f"'{conv_prefix}' || (id // {c})", f"id % {c}", text, ts)
    on_time = stream_row("s", f"{T0} + (id // {r}) * 60 + ((id % {r}) * 60) // {r}")
    con.execute("SET threads TO 1")
    copy(f"SELECT * FROM ("
         f"SELECT id // {r} AS drop, {on_time} FROM range({n}) t(id) "
         f"UNION ALL SELECT id // {r} + 1 + {q.hmod(41, 3)} AS drop, {on_time} FROM range({n}) t(id) "
         f"WHERE {q.u(40)} < {p['redeliver_share']} "
         f"UNION ALL SELECT {late_drop} AS drop, "
         f"{stream_row('late', f'{T0} + {late_drop} * 60 - 3 * 3600 + (id - {n}) % {late_per_drop}')} "
         f"FROM range({n}, {n + n_late}) t(id)) WHERE drop < {p['drops']}",
         os.path.join(out, "drops"), ", PARTITION_BY (drop), OVERWRITE_OR_IGNORE")
    con.close()
