"""Independent correctness reference: DuckDB over the generated parquet.

Each function returns a flat {name: int} digest that is independent of row
order and partitioning.  The bench JVM (graftbench.Main) computes the same digest from
each job's output (outside the job's timed interval) and the runner compares
them key by key.
"""

# Quality-filter model constants: the benchmark's own copy of the program's
# stopword set, unigram log-prob table, thresholds and scrub patterns.
STOPWORDS = ["the", "a", "and", "we", "with", "over", "during", "before",
             "was", "so", "but", "when", "if", "until", "please", "because",
             "although", "since", "while", "after"]
CONTENT = ["quick", "brown", "fox", "jumps", "lazy", "dog", "sleeps",
           "quietly", "discussed", "project", "plan", "model", "answers",
           "hard", "questions", "spark", "jobs", "run", "very", "fast", "data",
           "quality", "matters", "lot", "check", "latest", "results", "then",
           "continued", "working", "many", "more", "details", "today", "large",
           "input", "table", "long", "review", "session", "next", "planned",
           "step", "answer", "clear", "some", "parts", "were", "slow",
           "cluster", "busy", "tests", "kept", "passing", "saved", "team",
           "agreed", "quickly", "pipeline", "stayed", "green", "costs", "low",
           "ready", "schema", "stays", "stable", "job", "done"]
RARE = ["contact", "me", "at", "user", "example", "com", "call", "my", "is",
        "ssn", "noise"]
OOV_LOGPROB = -7.0
PPL_THRESHOLD = -4.0
MIN_STOPWORD_HITS = 2
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{3}-[0-9]{4}\b"
SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
TOX_RE = r"\bdamn\b"
ALLOWED_ROLES = ["system", "user", "assistant", "tool"]

QF_FLAGS = ["lang_ok", "ppl_ok", "len_ok", "symbol_ok", "rep_ok",
            "role_seq_ok", "email_found", "phone_found", "ssn_found",
            "tox_found"]


def qf_turns_sql(src):
    """Per-turn flags, scrub and keep label (the qf oracle SQL body).

    Every rule except the role sequence is a function of the text alone, so
    text features are computed once per distinct text and joined back; the
    unigram model is a lookup table joined against the unnested tokens."""
    vocab = ", ".join(
        [f"('{w}', -1.0, 1)" for w in STOPWORDS] +
        [f"('{w}', -2.5, 0)" for w in CONTENT] +
        [f"('{w}', -3.0, 0)" for w in RARE])
    roles = ",".join(f"'{r}'" for r in ALLOWED_ROLES)
    return f"""WITH transcripts AS (SELECT * FROM {src}),
texts AS (SELECT DISTINCT text FROM transcripts),
vocab AS (SELECT * FROM (VALUES {vocab}) v(w, lp, stop)),
tokens AS (
  SELECT text, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM texts),
model AS (
  SELECT t.text, count(*) AS n_lt, sum(coalesce(v.lp, {OOV_LOGPROB})) AS lp_sum,
         sum(coalesce(v.stop, 0)) AS en_hits
  FROM tokens t LEFT JOIN vocab v ON v.w = t.w
  WHERE t.w <> '' GROUP BY t.text),
feat AS (
  SELECT x.text,
    coalesce(m.en_hits, 0) >= {MIN_STOPWORD_HITS} AS lang_ok,
    CASE WHEN m.n_lt IS NULL THEN {OOV_LOGPROB} ELSE m.lp_sum / m.n_lt END
      >= {PPL_THRESHOLD} AS ppl_ok,
    CASE WHEN trim(x.text) = '' THEN 0
         ELSE CAST(len(string_split_regex(trim(x.text), ' +')) AS INT) END AS n_tokens,
    CASE WHEN trim(x.text) = '' THEN 0.0
         ELSE CAST(len(list_distinct(string_split_regex(trim(x.text), ' +'))) AS DOUBLE)
              / len(string_split_regex(trim(x.text), ' +')) END AS distinct_ratio,
    CASE WHEN length(x.text) = 0 THEN 1.0
         ELSE CAST(len(regexp_extract_all(x.text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
              / length(x.text) END AS sym_ratio,
    regexp_matches(x.text, '{EMAIL_RE}') AS email_found,
    regexp_matches(x.text, '{PHONE_RE}') AS phone_found,
    regexp_matches(x.text, '{SSN_RE}') AS ssn_found,
    regexp_matches(x.text, '{TOX_RE}') AS tox_found,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(x.text,
      '{EMAIL_RE}', '[EMAIL]', 'g'), '{SSN_RE}', '[SSN]', 'g'),
      '{PHONE_RE}', '[PHONE]', 'g'), '{TOX_RE}', '[REDACTED]', 'g') AS scrubbed_text
  FROM texts x LEFT JOIN model m ON m.text = x.text),
labelled AS (
  SELECT t.conv_id, t.turn_idx, t.role, f.*,
    (f.n_tokens BETWEEN 3 AND 64) AND length(f.text) <= 500 AS len_ok,
    f.sym_ratio <= 0.25 AS symbol_ok,
    (f.n_tokens < 8 OR f.distinct_ratio >= 0.5) AS rep_ok,
    (t.role IN ({roles})
      AND (t.turn_idx <> 0 OR t.role = 'system')
      AND (lag(t.role) OVER (PARTITION BY t.conv_id ORDER BY t.turn_idx) IS NULL
           OR t.role <> lag(t.role) OVER (PARTITION BY t.conv_id ORDER BY t.turn_idx)
           OR t.role = 'tool')) AS role_seq_ok,
    (f.email_found OR f.phone_found OR f.ssn_found) AS pii_found
  FROM transcripts t JOIN feat f ON f.text = t.text
)
SELECT *, (lang_ok AND ppl_ok AND len_ok AND symbol_ok AND rep_ok
  AND role_seq_ok AND NOT tox_found) AS keep
FROM labelled"""


def _one_row(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    row = cur.fetchone()
    return {n: int(v) for n, v in zip(names, row)}


def qf_digest(con, src):
    flags = ", ".join(
        f"CAST(count(*) FILTER (WHERE {f}) AS BIGINT) AS \"flag.{f}\""
        for f in QF_FLAGS)
    sql = f"""SELECT CAST(count(*) AS BIGINT) AS rows_in,
  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS kept,
  CAST(count(*) FILTER (WHERE pii_found) AS BIGINT) AS pii,
  {flags},
  CAST(coalesce(sum(length(scrubbed_text)) FILTER (WHERE keep), 0) AS BIGINT)
    AS scrubbed_chars_kept
FROM ({qf_turns_sql(src)}) q"""
    d = _one_row(con, sql)
    for k in ("rows_in", "kept", "pii"):
        d["lineage." + k] = d[k]
    return d


# The validation suite, one entry per expectation in suite order:
# (id, family, unexpected condition, missing condition, mostly) for map
# expectations; (id, family, observed SQL, min, max) for aggregates.  The
# Spark side (Workloads.scala) declares the same expectations.
SUITE = [
    ("m_text_not_null", "map", "text IS NULL", "FALSE", 1.0),
    ("m_tool_not_null", "map", "tool IS NULL", "FALSE", 0.1),
    ("m_role_in_set", "map",
     f"role NOT IN ({','.join(repr(r) for r in ALLOWED_ROLES)})", "role IS NULL", 0.95),
    ("m_role_in_set_strict", "map",
     f"role NOT IN ({','.join(repr(r) for r in ALLOWED_ROLES)})", "role IS NULL", 0.995),
    ("m_text_length", "map", "NOT (length(text) BETWEEN 1 AND 200)", "text IS NULL", 1.0),
    ("m_text_no_email", "map", f"regexp_matches(text, '{EMAIL_RE}')", "text IS NULL", 0.95),
    ("m_text_no_ssn", "map", f"regexp_matches(text, '{SSN_RE}')", "text IS NULL", 1.0),
    ("w_conv_turn_unique", "window", "__dup > 1",
     "conv_id IS NULL AND turn_idx IS NULL", 1.0),
    ("w_ts_increasing", "window", "__prev IS NOT NULL AND ts < __prev", "ts IS NULL", 1.0),
    ("a_row_count", "agg", "count(*)", 1, None),
    ("a_turn_mean", "agg", "avg(turn_idx)", 0, 100),
    ("a_turn_min", "agg", "min(turn_idx)", 0, 0),
    ("a_turn_max", "agg", "max(turn_idx)", 0, 100),
]


def suite_digest(con, src):
    """Every expectation's counts from one scan with both windows."""
    cols = ["CAST(count(*) AS BIGINT) AS n"]
    for spec in SUITE:
        name, family = spec[0], spec[1]
        if family == "agg":
            cols.append(f"{spec[2]} AS \"{name}\"")
        else:
            _, _, unexpected, missing, _ = spec
            cols += [
                f"CAST(count(*) FILTER (WHERE {missing}) AS BIGINT) AS \"{name}.mc\"",
                f"CAST(count(*) FILTER (WHERE NOT ({missing}) AND ({unexpected}))"
                f" AS BIGINT) AS \"{name}.uc\""]
    cur = con.execute(f"""SELECT {", ".join(cols)} FROM (SELECT *,
  count(*) OVER (PARTITION BY conv_id, turn_idx) AS __dup,
  last_value(ts IGNORE NULLS) OVER (PARTITION BY conv_id ORDER BY turn_idx
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __prev
FROM {src}) b""")
    r = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    n = r["n"]
    out = {}
    for spec in SUITE:
        name, family = spec[0], spec[1]
        if family == "agg":
            _, _, _, lo, hi = spec
            v = r[name]
            ok = (lo is None or v >= lo) and (hi is None or v <= hi)
            # the mean is digested as mean * rows (turn_idx has no nulls), an
            # exact integer in both engines
            out[f"{name}.success"] = int(ok)
            out[f"{name}.observed"] = round(v * n) if name == "a_turn_mean" else int(v)
            continue
        mostly = spec[4]
        mc, uc = r[f"{name}.mc"], r[f"{name}.uc"]
        nonnull = n - mc
        out[f"{name}.success"] = int(nonnull == 0 or (nonnull - uc) / nonnull >= mostly)
        out[f"{name}.element_count"] = n
        out[f"{name}.unexpected_count"] = uc
        out[f"{name}.missing_count"] = mc
    return out


NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def dedup_pairs(con, src):
    """Verified near-dup pairs (word-3-gram Jaccard >= 0.5), doc_a < doc_b."""
    return con.execute(f"""WITH normd AS (
  SELECT doc_id, string_split({NORM}, ' ') AS w, {NORM} AS norm FROM {src}),
sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
  THEN list_transform(generate_series(1, len(w) - 2),
         i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
  ELSE [norm] END) AS s FROM normd),
posting AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i,
         min(a.n) AS na, min(b.n) AS nb
  FROM posting a JOIN posting b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b FROM shared WHERE 2 * i >= na + nb - i""").fetchall()


def dedup_digest(con, src):
    pairs = dedup_pairs(con, src)
    parent = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while x != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # the root of every component is its minimum id; only roots survive
    ids = [r[0] for r in con.execute(f"SELECT doc_id FROM {src}").fetchall()]
    survivors = [d for d in ids if find(d) == d]
    return {"survivors": len(survivors), "survivor_id_sum": sum(survivors),
            "pairs": len(pairs)}
