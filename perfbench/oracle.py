"""DuckDB oracles for the benchmark's output checks.

- `check_octadesk`: after a run, each pass's committed destination must
  equal the union of the batch inputs minus duplicates, compared on the
  columns listed in COMPARED: both merge keys, chat and ticket fields, the
  pivoted custom field, key synthesis, the `updatedAt` the drift batch
  lacks and the drift batch's sanitized custom-field column. Its status
  table must hold every ticket's status from the last batch that fetched it.
- `verify_registry`: one-time check of a registry workload's query outputs
  (dumped by the JVM) against `SparkEntry.oracleSql` run in DuckDB. The
  hashes of verified outputs become `expected.tsv`, which every run checks.
"""
import glob
import hashlib
import json
import os
import re

import duckdb
import pandas as pd

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def sanitized(name):
    """A column name as the destination must hold it (reference
    chat.py:21-26): characters outside [0-9A-Za-z_] become `_`, a leading
    digit gets a `_` prefix, at most 300 characters."""
    name = re.sub(r"[^0-9A-Za-z_]", "_", name)
    return ("_" + name if name[:1].isdigit() else name)[:300]


def _batch_frames(batches):
    tickets, chats = [], []
    for i, b in enumerate(batches):
        for uuid, num, _, status, email in b["tickets"]:
            tickets.append((i, b["id"], b["drift"], num, status, uuid, email))
        for c in b["chats"]:
            chats.append((i, c["number"], c["chat_id"], c["evt_ticket_ticketNumber"],
                          c["status"], c["Regiao"], c.get(gen.DRIFT_FIELD)))
    return (pd.DataFrame(tickets, columns=["bidx", "batch", "drift", "number", "status",
                                           "uuid", "email"]),
            pd.DataFrame(chats, columns=["bidx", "number", "chat_id", "ref", "status",
                                         "regiao", "drift_value"]))


# Destination columns the oracle compares. A row's uuid is the ticket's
# id, or one synthesized when the row has no ticket; updatedAt is present
# only on rows whose ticket came from a batch that sent it.
COMPARED = ("n_ticket, number, chat_id, status, regiao, status_ticket, email_ticket, "
            "n_do_pedido, uuid, has_updated_at, drift_value")


def check_octadesk(batches, check):
    """Return a list of mismatch descriptions for one pass (empty if equal)."""
    con = duckdb.connect()
    tickets, chats = _batch_frames(batches)
    con.register("tickets_in", tickets)
    con.register("chats_in", chats)
    con.execute("CREATE TABLE dest(n_ticket VARCHAR, number BIGINT, chat_id VARCHAR, "
                "status VARCHAR, regiao VARCHAR, status_ticket VARCHAR, email_ticket VARCHAR, "
                "n_do_pedido VARCHAR, uuid VARCHAR, has_updated_at BOOLEAN, "
                "drift_value VARCHAR)")
    for i in range(len(batches)):
        con.execute(f"""
            INSERT INTO dest
            WITH t AS (SELECT * FROM tickets_in WHERE bidx = {i}),
                 c AS (SELECT * FROM chats_in WHERE bidx = {i}),
                 m AS (SELECT coalesce(c.ref, CAST(t.number AS VARCHAR)) AS n_ticket,
                              c.number, c.chat_id, c.status, c.regiao,
                              t.status AS status_ticket, t.email AS email_ticket,
                              'PED-' || t.number AS n_do_pedido,
                              coalesce(t.uuid, '<synthesized>') AS uuid,
                              coalesce(NOT t.drift, false) AS has_updated_at,
                              c.drift_value
                       FROM c FULL OUTER JOIN t ON c.ref = CAST(t.number AS VARCHAR))
            SELECT * FROM m
            WHERE NOT EXISTS (SELECT 1 FROM dest d WHERE d.number = m.number)
              AND NOT EXISTS (SELECT 1 FROM dest d WHERE d.n_ticket = m.n_ticket)""")
    problems = []
    files = check["committed"]
    if not files:
        return ["no committed files"]
    listed = ", ".join("'" + f.replace("'", "''") + "'" for f in files)
    con.execute(f"CREATE VIEW committed AS SELECT * FROM read_parquet([{listed}], "
                "union_by_name = true)")
    columns = {r[0] for r in con.execute("DESCRIBE committed").fetchall()}
    drift_col = sanitized(gen.DRIFT_FIELD)
    if drift_col not in columns:
        return [f"no column {drift_col} in the destination"]
    con.execute(f"""CREATE VIEW got AS SELECT n_ticket, number, chat_id, status,
                        Regiao AS regiao, status_ticket, email_ticket,
                        ticket_n_do_pedido AS n_do_pedido,
                        CASE WHEN uuid LIKE 'tck-%' THEN uuid
                             WHEN trim(uuid) <> '' THEN '<synthesized>' END AS uuid,
                        updatedAt IS NOT NULL AS has_updated_at,
                        "{drift_col}" AS drift_value
                    FROM committed""")
    for a, b in (("got", "dest"), ("dest", "got")):
        n = con.execute(f"SELECT count(*) FROM (SELECT {COMPARED} FROM {a} EXCEPT ALL "
                        f"SELECT {COMPARED} FROM {b})").fetchone()[0]
        if n:
            problems.append(f"{n} destination rows in {a} but not in {b}")
    repeated = con.execute("SELECT count(uuid) - count(DISTINCT uuid) FROM committed "
                           "WHERE uuid NOT LIKE 'tck-%'").fetchone()[0]
    if repeated:
        problems.append(f"{repeated} synthesized uuids repeat")
    if not glob.glob(check["status"] + "/*.parquet"):
        return problems + ["no status table"]
    status = con.execute("""
        SELECT count(*) FROM (
          (SELECT CAST(number AS VARCHAR) AS n_ticket, status AS status_ticket, batch
           FROM tickets_in QUALIFY row_number() OVER (PARTITION BY number ORDER BY bidx DESC) = 1)
          EXCEPT ALL
          SELECT n_ticket, status_ticket, batch FROM read_parquet(?))""",
        [check["status"] + "/*.parquet"]).fetchone()[0]
    rows = con.execute("SELECT count(*) FROM read_parquet(?)",
                       [check["status"] + "/*.parquet"]).fetchone()[0]
    expected_rows = tickets["number"].nunique()
    if status or rows != expected_rows:
        problems.append(f"status table: {status} wrong rows, {rows} rows for "
                        f"{expected_rows} tickets")
    return problems


def _canon(df):
    """Order-independent hash of a result frame, as tools/check_oracle.py
    computes it: sort on every column, hash str() of each value."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns))
    rows = ["\x1f".join(str(v) for v in row) for row in df.itertuples(index=False)]
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def verify_registry(data_dir, dump_dir):
    """Compare every dumped query output with its oracle SQL in DuckDB.
    Returns {query: problem} for the queries that differ."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    with open(os.path.join(dump_dir, "oracle_sql.json"), encoding="utf-8") as f:
        oracle = json.load(f)
    problems = {}
    for name, sql in sorted(oracle.items()):
        parts = glob.glob(os.path.join(dump_dir, name, "*.parquet"))
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        want = con.execute(sql).df()
        if sorted(got.columns) != sorted(want.columns):
            problems[name] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif len(got) != len(want):
            problems[name] = f"{len(got)} rows != {len(want)}"
        elif _canon(got) != _canon(want):
            problems[name] = "values differ"
    return problems
