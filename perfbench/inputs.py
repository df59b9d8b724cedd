"""Seeded input generators for the benchmark (DuckDB, no Spark).

Two tables, each written unsorted across several parquet files:

* transcripts -- a frozen base event log (1500 users, 40-89 events each)
  replicated ``reps`` times with seed-shifted ``user_id``/``event_id``
  offsets, then turned into turns by the benchmark's own copy of the
  transcript SQL template.  Every planted-content rule keys on an
  ``event_id`` residue, so the seed moves every planted turn while the
  table's shape (sizes, turns per conversation) stays the same.
* docs -- a frozen base corpus of word-salad documents; every ``near_mod``-th
  document (the residue chosen by the seed) gets a near-duplicate copy with a
  three-word tail, and the whole corpus is replicated ``reps`` times with
  replica-unique word suffixes, so no shingle is shared across replicas and
  each replica keeps the base corpus's near-dup structure.

Hashing is md5 over decimal strings, not an engine hash function, so a seed
names the same rows on any DuckDB build.
"""

import hashlib
import os

import duckdb

FILES = 8
BASE_USERS = 1500
EID_STRIDE = BASE_USERS * 100      # base event ids are user * 100 + k, k < 100
BASE_DOCS = 1000
NEAR_MOD = 50
NEAR_OFFSET = 500_000
REP_OFFSET = 1_000_000

VOCAB = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "a", "hash", "slow", "group", "agg",
         "filter", "query", "big", "key", "window", "row", "table", "stream",
         "merge", "data", "join", "vector", "customer", "the", "plan", "cache",
         "index", "shard", "page", "tree"]

# The transcript SQL template: a frozen copy, kept here so that edits to the
# program's template cannot move the benchmark's inputs.  It references a
# relation named `events` and is valid in DuckDB and Spark SQL alike.
TRANSCRIPT_SQL = """
SELECT
  'conv-' || lpad(CAST(user_id AS VARCHAR(12)), 12, '0') AS conv_id,
  CAST(rn AS INT) AS turn_idx,
  CASE WHEN event_id % 97 = 0 THEN 'operator'
       WHEN rn = 0 THEN 'system'
       WHEN event_type = 'purchase' THEN 'tool'
       WHEN rn % 2 = 1 THEN 'user'
       ELSE 'assistant' END AS role,
  CASE WHEN event_id % 23 = 0 THEN ''
       WHEN event_id % 19 = 0 THEN '!!! ### $$$ %%% @@@ ^^^ &&& ***'
       WHEN event_id % 17 = 0 THEN 'again again again again again again again again again again'
       WHEN event_id % 13 = 0 THEN 'der die das und nicht ich sie wir haben sein werden koennen'
       ELSE
         CASE CAST(event_id % 7 AS INT)
           WHEN 0 THEN 'the quick brown fox jumps'
           WHEN 1 THEN 'a lazy dog sleeps quietly'
           WHEN 2 THEN 'we discussed the project plan'
           WHEN 3 THEN 'the model answers hard questions'
           WHEN 4 THEN 'spark jobs run very fast'
           WHEN 5 THEN 'data quality matters a lot'
           ELSE 'please check the latest results'
         END
         || CASE CAST(event_id % 5 AS INT)
           WHEN 0 THEN ' and then we continued working'
           WHEN 1 THEN ' with many more details today'
           WHEN 2 THEN ' over the large input table'
           WHEN 3 THEN ' during the long review session'
           ELSE ' before the next planned step'
         END
         || CASE CAST(event_id % 11 AS INT)
           WHEN 0 THEN ' because the answer was clear'
           WHEN 1 THEN ' although some parts were slow'
           WHEN 2 THEN ' since the cluster was busy'
           WHEN 3 THEN ' while the tests kept passing'
           WHEN 4 THEN ' after the results were saved'
           WHEN 5 THEN ' and the team agreed quickly'
           WHEN 6 THEN ' so the pipeline stayed green'
           WHEN 7 THEN ' but the costs stayed low'
           WHEN 8 THEN ' when the data was ready'
           WHEN 9 THEN ' if the schema stays stable'
           ELSE ' until the job was done'
         END
  END
  || CASE WHEN event_id % 29 = 0 THEN ' damn noise' ELSE '' END
  || CASE WHEN event_id % 37 = 0 THEN ' contact me at user' || CAST(user_id AS VARCHAR(12)) || '@example.com' ELSE '' END
  || CASE WHEN event_id % 41 = 0 THEN ' call 555-' || lpad(CAST(event_id % 900 + 100 AS VARCHAR(8)), 3, '0') || '-' || lpad(CAST(event_id % 9000 + 1000 AS VARCHAR(8)), 4, '0') ELSE '' END
  || CASE WHEN event_id % 43 = 0 THEN ' my ssn is 219-09-' || lpad(CAST(event_id % 9000 + 1000 AS VARCHAR(8)), 4, '0') ELSE '' END
  AS text,
  CASE WHEN event_id % 97 <> 0 AND rn > 0 AND event_type = 'purchase' THEN 'checkout' ELSE NULL END AS tool,
  ts
FROM (
  SELECT event_id, user_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
  FROM events
) numbered
"""

# 32-bit hash of (integer, salt)
MACROS = """
CREATE OR REPLACE MACRO mix(a, b) AS CAST(('0x' || substr(md5(
  CAST(a AS VARCHAR) || '-' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT);
"""


def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(MACROS)
    return con


def shift(seed, salt):
    """Seed-dependent id offset in [0, 10^6); the same hash as `mix`."""
    return int(hashlib.md5(f"{seed}-{salt}".encode()).hexdigest()[:8], 16) % 1_000_000


def _write_files(con, select_sql, order_key, out_dir):
    """Spread rows over FILES parquet files in hash order (unsorted by key)."""
    os.makedirs(out_dir)
    con.execute(f"CREATE OR REPLACE TEMP TABLE __out AS "
                f"SELECT *, {order_key} AS __h FROM ({select_sql}) s")
    for f in range(FILES):
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        con.execute(f"COPY (SELECT * EXCLUDE (__h) FROM __out "
                    f"WHERE __h % {FILES} = {f} ORDER BY __h) "
                    f"TO '{path}' (FORMAT PARQUET)")
    con.execute("DROP TABLE __out")


def write_transcripts(con, seed, reps, out_dir, users=BASE_USERS):
    eshift, ushift = shift(seed, 11), shift(seed, 13)
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE events AS
WITH users AS (
  SELECT range AS u, 40 + mix(range, 1) % 50 AS n FROM range({users})),
base AS (
  SELECT u, u * 100 + k AS eid FROM users, range(100) t(k) WHERE k < n)
SELECT
  eid + r * {EID_STRIDE} + {eshift} AS event_id,
  u + r * {BASE_USERS} + {ushift} AS user_id,
  TIMESTAMP '2024-01-01' + to_microseconds(
    (mix(eid, 2) % 2592000) * 1000000 + mix(eid, 3) % 1000000) AS ts,
  ['signup', 'click', 'error', 'view', 'purchase'][1 + mix(eid, 4) % 5]
    AS event_type
FROM base, range({reps}) rr(r)""")
    order = ("CAST(('0x' || substr(md5(conv_id || '/' || "
             "CAST(turn_idx AS VARCHAR)), 1, 8)) AS BIGINT)")
    _write_files(con, TRANSCRIPT_SQL, order, out_dir)
    con.execute("DROP TABLE events")


def write_docs(con, seed, reps, out_dir, base_docs=BASE_DOCS):
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    near = seed % NEAR_MOD
    con.execute(f"""
CREATE OR REPLACE TEMP TABLE base_docs AS
SELECT range AS doc_id,
  array_to_string(list_transform(range(10 + mix(range, 21) % 90),
    p -> {vocab}[1 + mix(range * 131 + p, 22) % {len(VOCAB)}]), ' ') AS text
FROM range({base_docs})""")
    planted = f"""
SELECT doc_id, text FROM base_docs
UNION ALL
SELECT doc_id + {NEAR_OFFSET}, text || ' extra tail words' FROM base_docs
WHERE doc_id % {NEAR_MOD} = {near}"""
    select = f"""
SELECT doc_id + r * {REP_OFFSET} AS doc_id,
  regexp_replace(text, '(\\S+)', '\\1r' || CAST(r AS VARCHAR), 'g') AS text
FROM ({planted}) p, range({reps}) rr(r)"""
    _write_files(con, select, "mix(doc_id, 23)", out_dir)
    con.execute("DROP TABLE base_docs")
