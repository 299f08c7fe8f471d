"""Seeded input generator and ground truth for the perfbench workloads.

Every input is a pure function of (workload, seed, size): rows are derived
from DuckDB's `hash(seed, stream, row)` so any thread count writes the same
bytes.  Next to the inputs the generator writes `truth.json`: the planted
counts and the digest (row count + order-free hash sum) of the triples a
correct run must commit, computed here in SQL from the planted values and
independent of the Spark code under test.
"""

import json
import os
import shutil

import duckdb

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
CSVW = "http://www.w3.org/ns/csvw#"
TP = "https://example.org/transcript#"

# The transcript mapping (the repository's FIXTURES §2.2 "full mapping"),
# handed to the program as a metadata document it parses and resolves.
TRANSCRIPT_METADATA = {
    "url": "http://example.org/transcripts",
    "tableSchema": {
        "aboutUrl": "urn:conv:{conv_id}/turn/{turn_idx}",
        "propertyUrl": TP + "{_name}",
        "primaryKey": ["conv_id", "turn_idx"],
        "rowTitles": ["text"],
        "columns": [
            {"name": "conv_id", "datatype": "string"},
            {"name": "turn_idx", "datatype": "integer"},
            {"name": "role", "datatype": "string"},
            {"name": "text", "datatype": "string"},
            {"name": "tool", "datatype": "string", "null": [""]},
            {"name": "ts", "datatype": {"base": "dateTime"}},
        ],
    },
}

# Filler vocabulary: ASCII, no word is a dictionary surface (`ent<N>`).
WORDS = ("alpha beta gamma delta omega river stone cloud paper light north "
         "south quick slow amber cobalt maple cedar orbit pixel vector matrix "
         "signal echo harbor summit canyon meadow lantern copper silver frost "
         "ember willow falcon badger otter raven tiger lotus").split()

# Input files per transcript table: the scan splits by file.
FILES = 8

# Planted traffic. Only the mega-conversation skew is taken from the
# repository: `TranscriptGen` sends every 10th turn to one of 3 mega
# conversations. Every other share below is an ASSUMPTION of this
# benchmark, taken from no repository data and no measured run; README.md
# reports the per-layer time mix they produce.
MEGA_EVERY, MEGA_CONVS = 10, 3  # from TranscriptGen
MENTION_PCT = 35                # assumption: ordinary kg_full turns that mention an entity
                                # (entity rank drawn Zipf s=1, also an assumption)
BRIDGE_EVERY = 8                # assumption: one bridge-turn slot per 8 turns
INVALID_PCT = 1                 # assumption: csvw_wide rows with one invalid cell
DUP_PK_EVERY = 400              # assumption: one duplicate primary key per 400 rows
FK_MISS_EVERY = 500             # assumption: one foreign-key miss per 500 rows
REPEAT_NEAR_PCT = 15            # assumption: stream rows re-sending the previous file's turns
REPEAT_OLD_PCT = 5              # assumption: stream rows re-sending turns behind the watermark

# Workload sizes. Each is a fixed share of work per measured iteration; the
# `warm` sizes feed the set-up warm-up.
SIZES = {
    "kg_full": {"turns": 40_000, "convs": 1_500, "groups": 1_000, "group": 3},
    "csvw_wide": {"rows": 20_000, "convs": 1_500},
    "stream_ingest": {"files": 100, "turns_per_file": 200, "convs": 500},
}
WARM = {
    "kg_full": {"turns": 10_000, "convs": 400, "groups": 250, "group": 1},
    "csvw_wide": {"rows": 5_000, "convs": 400},
    "stream_ingest": {"files": 12, "turns_per_file": 200, "convs": 50},
}


def size_key(size):
    return "-".join(f"{k}{v}" for k, v in sorted(size.items()))


def connect(tmp):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp}'")
    return con


def words_sql():
    return "[" + ",".join(f"'{w}'" for w in WORDS) + "]"


def w(h, shift):
    """SQL picking one filler word from hash column `h`."""
    return f"{words_sql()}[1 + CAST((({h} >> {shift}) % {len(WORDS)}) AS INTEGER)]"


def digest(con, rel):
    """(rows, order-free hash sum) of a triples relation; the same SQL
    digests the committed output, so the two compare exactly."""
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash(subj, pred, obj, obj_iri, lang, dtype)), 0) "
        f"AS VARCHAR) FROM ({rel})").fetchone()
    return int(n), h


def digest3(con, rel):
    n, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum(hash(subj, pred, obj)), 0) AS VARCHAR) "
        f"FROM ({rel})").fetchone()
    return int(n), h


def transcript_triples_sql(turns):
    """Minimal-mode triples of the transcript mapping, straight from the
    CSVW rules: string cells are plain literals kept verbatim, `tool` is
    null when empty, integers/dateTimes are typed literals."""
    subj = "'urn:conv:' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR)"
    return f"""
      SELECT {subj} AS subj, '{TP}conv_id' AS pred, conv_id AS obj, false AS obj_iri,
             NULL::VARCHAR AS lang, NULL::VARCHAR AS dtype FROM {turns}
      UNION ALL SELECT {subj}, '{TP}turn_idx', CAST(turn_idx AS VARCHAR), false, NULL, '{XSD}integer' FROM {turns}
      UNION ALL SELECT {subj}, '{TP}role', role, false, NULL, NULL FROM {turns}
      UNION ALL SELECT {subj}, '{TP}text', text, false, NULL, NULL FROM {turns}
      UNION ALL SELECT {subj}, '{TP}tool', tool, false, NULL, NULL FROM {turns} WHERE tool <> ''
      UNION ALL SELECT {subj}, '{TP}ts', strftime(ts, '%Y-%m-%dT%H:%M:%S'), false, NULL, '{XSD}dateTime'
        FROM {turns}"""


# ---------------------------------------------------------------- kg_full

def gen_kg(con, out, seed, size):
    """Transcripts with mega-conversations, a Zipfian entity dictionary and
    planted entity components.

    Entities come in groups of `group` (a chain). Every ordinary turn
    mentions at most one entity (Zipf over the entity rank: a few hot
    entities, a long cold tail); for each adjacent pair inside a group one
    bridge turn mentions both. So each group is exactly one connected
    component of the star-edge graph and its canonical subject is, in closed
    form, the minimum subject URN among the turns that mention any of its
    entities.
    """
    n, convs, groups, g = size["turns"], size["convs"], size["groups"], size["group"]
    n_ent = g * groups
    n_bridge = (g - 1) * groups
    assert n_bridge <= n // BRIDGE_EVERY, "bridge slots exhausted"
    con.execute(f"""
      CREATE TABLE raw AS
      SELECT i AS gid,
             hash({seed}, 1, i) AS h1, hash({seed}, 2, i) AS h2,
             hash({seed}, 3, i) AS h3, hash({seed}, 4, i) AS h4
      FROM range({n}) t(i)""")
    # bridge slot b = gid // BRIDGE_EVERY for gid % BRIDGE_EVERY == 3;
    # group b // (g-1), pair b % (g-1)
    con.execute(f"""
      CREATE TABLE turns_g AS
      SELECT gid,
        CASE WHEN gid % {MEGA_EVERY} = 0 THEN 'mega_' || CAST((gid // {MEGA_EVERY}) % {MEGA_CONVS} AS VARCHAR)
             ELSE 'c' || CAST(h1 % {convs} AS VARCHAR) END AS conv_id,
        ['user','assistant','system','tool'][1 + CAST(gid % 4 AS INTEGER)] AS role,
        CASE WHEN h2 % 5 = 0 THEN 'tool_' || CAST(h2 % 7 AS VARCHAR) ELSE '' END AS tool,
        to_timestamp(1704067200 + gid) AS ts,
        CASE
          WHEN gid % {BRIDGE_EVERY} = 3 AND gid // {BRIDGE_EVERY} < {n_bridge} THEN
            {g} * ((gid // {BRIDGE_EVERY}) // {max(g - 1, 1)}) + (gid // {BRIDGE_EVERY}) % {max(g - 1, 1)}
          WHEN h3 % 100 < {MENTION_PCT} THEN
            -- log-uniform rank in [1, n_ent]: density ~ 1/rank (Zipf s=1)
            LEAST({n_ent}, CAST(floor(exp(((h3 >> 8) % 1000000) / 1000000.0 * ln({n_ent}))) AS BIGINT)) - 1
          ELSE NULL END AS e1,
        CASE WHEN gid % {BRIDGE_EVERY} = 3 AND gid // {BRIDGE_EVERY} < {n_bridge} THEN
            {g} * ((gid // {BRIDGE_EVERY}) // {max(g - 1, 1)}) + (gid // {BRIDGE_EVERY}) % {max(g - 1, 1)} + 1
          ELSE NULL END AS e2,
        h4
      FROM raw""")
    con.execute(f"""
      CREATE TABLE turns AS
      SELECT conv_id,
        CAST(row_number() OVER (PARTITION BY conv_id ORDER BY gid) - 1 AS INTEGER) AS turn_idx,
        role,
        {w('h4', 0)} || ' ' || {w('h4', 6)}
          || CASE WHEN e1 IS NULL THEN '' ELSE ', ent' || CAST(e1 AS VARCHAR) END
          || ' ' || {w('h4', 12)} || '. ' || {w('h4', 18)}
          || CASE WHEN e2 IS NULL THEN '' ELSE ' (ent' || CAST(e2 AS VARCHAR) || ')' END
          || ' ' || {w('h4', 24)} AS text,
        tool, ts, gid
      FROM turns_g""")
    # dictionary: every planted entity plus a never-mentioned cold tail
    con.execute(f"""
      CREATE TABLE dict AS
      SELECT 'E' || CAST(i AS VARCHAR) AS entity_id,
             CASE WHEN i % 3 = 0 THEN 'ENT' ELSE 'ent' END || CAST(i AS VARCHAR) AS surface,
             i // {g} AS grp
      FROM range({n_ent + n_ent // 4}) t(i)""")
    os.makedirs(f"{out}/turns")
    os.makedirs(f"{out}/dict")
    # several files, so the scan splits across every core
    for p in range(FILES):
        con.execute(f"""COPY (SELECT conv_id, turn_idx, role, text, tool, ts FROM turns
                              WHERE gid * {FILES} // {n} = {p} ORDER BY gid)
                        TO '{out}/turns/part-{p}.parquet' (FORMAT PARQUET)""")
    con.execute(f"COPY (SELECT entity_id, surface FROM dict ORDER BY entity_id) "
                f"TO '{out}/dict/part-0.parquet' (FORMAT PARQUET)")
    with open(f"{out}/metadata.json", "w") as f:
        json.dump(TRANSCRIPT_METADATA, f, indent=1)

    # ---- ground truth: tokenize the texts as written, join the dictionary,
    # canonical subject = min subject URN over the planted component
    con.execute("""
      CREATE TABLE mentions AS
      SELECT subj, d.grp FROM (
        SELECT 'urn:conv:' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
               unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok
        FROM turns) m
      JOIN dict d ON lower(d.surface) = m.tok
      WHERE length(m.tok) > 1""")
    con.execute("""
      CREATE TABLE canon AS
      SELECT DISTINCT m.subj, c.canon FROM mentions m
      JOIN (SELECT grp, min(subj) AS canon FROM mentions GROUP BY grp) c USING (grp)""")
    expected = f"""
      SELECT DISTINCT coalesce(c.canon, t.subj) AS subj, pred, obj, obj_iri, lang, dtype
      FROM ({transcript_triples_sql('turns')}) t LEFT JOIN canon c ON c.subj = t.subj"""
    rows, h = digest(con, expected)
    comps = con.execute("SELECT count(DISTINCT grp) FROM mentions").fetchone()[0]
    rewritten = con.execute("SELECT count(*) FROM canon WHERE subj <> canon").fetchone()[0]
    return {"rows": rows, "digest": h, "turns": n, "components": comps,
            "rewritten_subjects": rewritten, "cell_errors": 0,
            "pk_violations": 0, "fk_violations": 0}


# ---------------------------------------------------------------- csvw_wide

CSVW_BASE = "https://example.org/csvw/"
EX = "https://example.org/"


def csvw_metadata():
    """Two tables, turns → conversations by foreign key, with a wide mapping:
    ordered and unordered lists, UAX-35 date and number formats, boolean
    formats, length/range facets, a column language, valueUrl templates and
    virtual columns."""
    turns = {
        "url": "turns.csv",
        "tableSchema": {
            "aboutUrl": EX + "turn/{conv_id}/{turn_idx}",
            "primaryKey": ["conv_id", "turn_idx"],
            "foreignKeys": [{"columnReference": "conv_id",
                             "reference": {"resource": "conversations.csv",
                                           "columnReference": "conv_id"}}],
            "columns": [
                {"name": "conv_id", "titles": "conv_id", "datatype": "string"},
                {"name": "turn_idx", "titles": "turn_idx", "datatype": "integer"},
                {"name": "role", "titles": "role", "datatype": "string",
                 "valueUrl": EX + "role/{role}"},
                {"name": "text", "titles": "text", "datatype": {"base": "string", "maxLength": 120},
                 "lang": "en"},
                {"name": "tags", "titles": "tags", "datatype": "string", "separator": ";",
                 "ordered": True},
                {"name": "keywords", "titles": "keywords", "datatype": "string",
                 "separator": " "},
                {"name": "score", "titles": "score",
                 "datatype": {"base": "decimal", "format": {"pattern": "#,##0.00"},
                              "minimum": "0", "maximum": "5000"}},
                {"name": "tokens", "titles": "tokens",
                 "datatype": {"base": "integer", "minimum": "0", "maximum": "100000"}},
                {"name": "created", "titles": "created",
                 "datatype": {"base": "date", "format": "dd/MM/yyyy"}},
                {"name": "updated", "titles": "updated",
                 "datatype": {"base": "dateTime", "format": "yyyy-MM-ddTHH:mm:ss"}},
                {"name": "flagged", "titles": "flagged",
                 "datatype": {"base": "boolean", "format": "yes|no"}},
                {"name": "lang_code", "titles": "lang_code",
                 "datatype": {"base": "string", "length": 2}},
                {"name": "type", "virtual": True, "propertyUrl": RDF + "type",
                 "valueUrl": EX + "Turn"},
                {"name": "in_conv", "virtual": True, "propertyUrl": EX + "inConversation",
                 "valueUrl": EX + "conv/{conv_id}"},
            ],
        },
    }
    convs = {
        "url": "conversations.csv",
        "tableSchema": {
            "aboutUrl": EX + "conv/{conv_id}",
            "primaryKey": ["conv_id"],
            "columns": [
                {"name": "conv_id", "titles": "conv_id", "datatype": "string"},
                {"name": "title", "titles": "title", "datatype": "string", "lang": "en"},
                {"name": "started", "titles": "started",
                 "datatype": {"base": "date", "format": "dd.MM.yyyy"}},
                {"name": "active", "titles": "active",
                 "datatype": {"base": "boolean", "format": "Y|N"}},
            ],
        },
    }
    return {"@context": "http://www.w3.org/ns/csvw", "tables": [turns, convs]}


def gen_csvw(con, out, seed, size):
    """Planted faults (shares set above): ~1% invalid cells (one error each,
    in one of five typed columns), duplicate primary keys (rows re-using an
    earlier key) and foreign-key misses (conversation ids absent from the
    referenced table)."""
    n, convs = size["rows"], size["convs"]
    n_dup = max(1, n // DUP_PK_EVERY)
    n_fkmiss = max(1, n // FK_MISS_EVERY)
    con.execute(f"""
      CREATE TABLE craw AS
      SELECT i, hash({seed}, 11, i) AS h1, hash({seed}, 12, i) AS h2,
             hash({seed}, 13, i) AS h3, hash({seed}, 14, i) AS h4
      FROM range({n}) t(i)""")
    # fault kind per row: 'inv' invalid cell, 'dup' duplicate PK, 'fk' FK miss
    con.execute(f"""
      CREATE TABLE cturns AS
      SELECT i AS row_no,
        CASE WHEN i % {DUP_PK_EVERY} = 7 AND i // {DUP_PK_EVERY} < {n_dup} THEN 'dup'
             WHEN i % {FK_MISS_EVERY} = 11 AND i // {FK_MISS_EVERY} < {n_fkmiss} THEN 'fk'
             WHEN h1 % 100 < {INVALID_PCT} THEN 'inv' ELSE '' END AS fault,
        CAST((h1 >> 8) % 5 AS INTEGER) AS inv_col,
        h1, h2, h3, h4
      FROM craw""")
    con.execute(f"""
      CREATE TABLE t0 AS
      SELECT row_no, fault, inv_col,
        CASE WHEN fault = 'fk' THEN 'zz' || CAST(row_no AS VARCHAR)
             ELSE 'c' || CAST(h1 % {convs} AS VARCHAR) END AS conv_id,
        ['user','assistant','system','tool'][1 + CAST(h2 % 4 AS INTEGER)] AS role,
        {w('h2', 2)} || ' ' || {w('h2', 8)} || ', ' || {w('h2', 14)} || ' ' || {w('h2', 20)} AS text,
        list_transform(range(1 + CAST(h3 % 3 AS INTEGER)),
                       k -> {words_sql()}[1 + CAST(((h3 >> (4 + 6 * k)) % {len(WORDS)}) AS INTEGER)]) AS tags,
        list_distinct(list_transform(range(1 + CAST((h3 >> 30) % 3 AS INTEGER)),
                       k -> 'kw' || CAST(((h3 >> (34 + 5 * k)) % 20) AS VARCHAR))) AS kws,
        CAST((h4 % 400000) AS BIGINT) AS score_cents,
        CAST((h4 >> 20) % 90000 AS BIGINT) AS tokens,
        DATE '2020-01-01' + CAST((h4 >> 40) % 1500 AS INTEGER) AS created,
        TIMESTAMP '2023-01-01 00:00:00' + to_seconds(CAST((h2 >> 30) % 30000000 AS BIGINT)) AS updated,
        (h3 >> 50) % 2 = 0 AS flagged,
        ['en','de','fr','es','it','nl'][1 + CAST((h4 >> 50) % 6 AS INTEGER)] AS lang_code
      FROM cturns""")
    # turn_idx: dense per conversation; a 'dup' row re-uses the key of the
    # nearest earlier row of the same conversation (turn_idx - 1)
    con.execute("""
      CREATE TABLE t1 AS
      SELECT *, CAST(row_number() OVER (PARTITION BY conv_id ORDER BY row_no) - 1 AS INTEGER) AS seq
      FROM t0""")
    con.execute("""
      CREATE TABLE t2 AS
      SELECT *, CASE WHEN fault = 'dup' AND seq > 0 THEN seq - 1 ELSE seq END AS turn_idx
      FROM t1""")
    # raw cell strings; an invalid cell replaces exactly one typed column
    con.execute("""
      CREATE TABLE traw AS
      SELECT *,
        CASE WHEN fault = 'inv' AND inv_col = 0 THEN 'n/a'
             ELSE format('{:,}', score_cents // 100) || '.' || lpad(CAST(score_cents % 100 AS VARCHAR), 2, '0')
        END AS score_raw,
        CASE WHEN fault = 'inv' AND inv_col = 1 THEN CAST(tokens + 200000 AS VARCHAR)
             ELSE CAST(tokens AS VARCHAR) END AS tokens_raw,
        CASE WHEN fault = 'inv' AND inv_col = 2 THEN strftime(created, '%Y.%m.%d')
             ELSE strftime(created, '%d/%m/%Y') END AS created_raw,
        strftime(updated, '%Y-%m-%dT%H:%M:%S') AS updated_raw,
        CASE WHEN fault = 'inv' AND inv_col = 3 THEN 'maybe'
             WHEN flagged THEN 'yes' ELSE 'no' END AS flagged_raw,
        CASE WHEN fault = 'inv' AND inv_col = 4 THEN lang_code || 'x'
             ELSE lang_code END AS lang_raw
      FROM t2""")
    con.execute(f"""
      CREATE TABLE convs AS
      SELECT 'c' || CAST(i AS VARCHAR) AS conv_id,
        {w('h', 0)} || ' ' || {w('h', 7)} AS title,
        DATE '2019-01-01' + CAST((h >> 14) % 2000 AS INTEGER) AS started,
        (h >> 30) % 3 <> 0 AS active
      FROM (SELECT i, hash({seed}, 21, i) AS h FROM range({convs}) t(i))""")
    con.execute(f"""
      COPY (SELECT conv_id, CAST(turn_idx AS VARCHAR) AS turn_idx, role, text,
                   array_to_string(tags, ';') AS tags, array_to_string(kws, ' ') AS keywords,
                   score_raw AS score, tokens_raw AS tokens, created_raw AS created,
                   updated_raw AS updated, flagged_raw AS flagged, lang_raw AS lang_code
            FROM traw ORDER BY row_no)
      TO '{out}/turns.csv' (FORMAT CSV, HEADER true, DELIMITER ',')""")
    con.execute(f"""
      COPY (SELECT conv_id, title, strftime(started, '%d.%m.%Y') AS started,
                   CASE WHEN active THEN 'Y' ELSE 'N' END AS active
            FROM convs ORDER BY conv_id)
      TO '{out}/conversations.csv' (FORMAT CSV, HEADER true, DELIMITER ',')""")
    with open(f"{out}/metadata.json", "w") as f:
        json.dump(csvw_metadata(), f, indent=1)

    # ---- ground truth: standard-mode triples from the planted values
    con.execute(f"""
      CREATE TABLE trows AS
      SELECT *, row_number() OVER (ORDER BY row_no) AS rn FROM traw""")
    con.execute(f"""
      CREATE TABLE crows AS
      SELECT *, row_number() OVER (ORDER BY conv_id) AS rn FROM convs""")
    tu, cu = CSVW_BASE + "turns.csv", CSVW_BASE + "conversations.csv"

    def rowlevel(tbl, idx, url):
        r = f"'_:r{idx}.' || CAST(rn AS VARCHAR)"
        return f"""
          SELECT '_:table{idx}' AS subj, '{CSVW}row' AS pred, {r} AS obj, true AS obj_iri,
                 NULL::VARCHAR AS lang, NULL::VARCHAR AS dtype FROM {tbl}
          UNION ALL SELECT {r}, '{CSVW}rownum', CAST(rn AS VARCHAR), false, NULL, '{XSD}integer' FROM {tbl}
          UNION ALL SELECT {r}, '{RDF}type', '{CSVW}Row', true, NULL, NULL FROM {tbl}
          UNION ALL SELECT {r}, '{CSVW}url', '{url}#row=' || CAST(rn + 1 AS VARCHAR), true, NULL, NULL FROM {tbl}
          UNION ALL SELECT {r}, '{CSVW}describes', about, true, NULL, NULL FROM {tbl}
          UNION ALL SELECT '_:tg', '{RDF}type', '{CSVW}TableGroup', true, NULL, NULL
          UNION ALL SELECT '_:tg', '{CSVW}table', '_:table{idx}', true, NULL, NULL
          UNION ALL SELECT '_:table{idx}', '{RDF}type', '{CSVW}Table', true, NULL, NULL
          UNION ALL SELECT '_:table{idx}', '{CSVW}url', '{url}', true, NULL, NULL"""

    def typed(col, raw, lex, dtype, bad):
        # an erroring cell degrades to a plain literal of its raw text
        return (f"SELECT about, '{tu}#{col}', CASE WHEN {bad} THEN {raw} ELSE {lex} END, false, "
                f"NULL, CASE WHEN {bad} THEN NULL ELSE '{XSD}{dtype}' END FROM tt")

    tag_bn = "'_:l1.' || CAST(rn AS VARCHAR) || '.tags.'"
    con.execute(f"""
      CREATE TABLE tt AS
      SELECT *, '{EX}turn/' || conv_id || '/' || CAST(turn_idx AS VARCHAR) AS about FROM trows""")
    con.execute(f"""
      CREATE TABLE ct AS
      SELECT *, '{EX}conv/' || conv_id AS about FROM crows""")
    expected = f"""
      SELECT DISTINCT * FROM (
        {rowlevel('tt', 1, tu)}
        UNION ALL {rowlevel('ct', 2, cu)}
        UNION ALL SELECT about, '{tu}#conv_id', conv_id, false, NULL, NULL FROM tt
        UNION ALL SELECT about, '{tu}#turn_idx', CAST(turn_idx AS VARCHAR), false, NULL, '{XSD}integer' FROM tt
        UNION ALL SELECT about, '{tu}#role', '{EX}role/' || role, true, NULL, NULL FROM tt
        UNION ALL SELECT about, '{tu}#text', text, false, 'en', NULL FROM tt
        UNION ALL SELECT about, '{tu}#tags', {tag_bn} || '0', true, NULL, NULL FROM tt
        UNION ALL SELECT {tag_bn} || CAST(k - 1 AS VARCHAR), '{RDF}first', tags[k], false, NULL, NULL
          FROM (SELECT rn, tags, unnest(range(1, len(tags) + 1)) AS k FROM tt)
        UNION ALL SELECT {tag_bn} || CAST(k - 1 AS VARCHAR), '{RDF}rest',
            CASE WHEN k = len(tags) THEN '{RDF}nil' ELSE {tag_bn} || CAST(k AS VARCHAR) END, true, NULL, NULL
          FROM (SELECT rn, tags, unnest(range(1, len(tags) + 1)) AS k FROM tt)
        UNION ALL SELECT about, '{tu}#keywords', unnest(kws), false, NULL, NULL FROM tt
        UNION ALL {typed('score', 'score_raw',
                         "CAST(score_cents // 100 AS VARCHAR) || '.' || lpad(CAST(score_cents % 100 AS VARCHAR), 2, '0')",
                         'decimal', "fault = 'inv' AND inv_col = 0")}
        UNION ALL {typed('tokens', 'tokens_raw', 'tokens_raw', 'integer', "fault = 'inv' AND inv_col = 1")}
        UNION ALL {typed('created', 'created_raw', "strftime(created, '%Y-%m-%d')", 'date',
                         "fault = 'inv' AND inv_col = 2")}
        UNION ALL SELECT about, '{tu}#updated', updated_raw, false, NULL, '{XSD}dateTime' FROM tt
        UNION ALL {typed('flagged', 'flagged_raw', "CASE WHEN flagged THEN 'true' ELSE 'false' END",
                         'boolean', "fault = 'inv' AND inv_col = 3")}
        UNION ALL SELECT about, '{tu}#lang_code', lang_raw, false, NULL, NULL FROM tt
        UNION ALL SELECT about, '{RDF}type', '{EX}Turn', true, NULL, NULL FROM tt
        UNION ALL SELECT about, '{EX}inConversation', '{EX}conv/' || conv_id, true, NULL, NULL FROM tt
        UNION ALL SELECT about, '{cu}#conv_id', conv_id, false, NULL, NULL FROM ct
        UNION ALL SELECT about, '{cu}#title', title, false, 'en', NULL FROM ct
        UNION ALL SELECT about, '{cu}#started', strftime(started, '%Y-%m-%d'), false, NULL, '{XSD}date' FROM ct
        UNION ALL SELECT about, '{cu}#active', CASE WHEN active THEN 'true' ELSE 'false' END,
            false, NULL, '{XSD}boolean' FROM ct
      )"""
    rows, h = digest(con, expected)
    counts = con.execute(f"""
      SELECT
        (SELECT count(*) FROM traw WHERE fault = 'inv'),
        (SELECT count(*) FROM (SELECT conv_id, turn_idx FROM traw GROUP BY ALL HAVING count(*) > 1)),
        (SELECT count(*) FROM traw t WHERE NOT EXISTS (SELECT 1 FROM convs c WHERE c.conv_id = t.conv_id))
    """).fetchone()
    return {"rows": rows, "digest": h, "csv_rows": n, "cell_errors": counts[0],
            "pk_violations": counts[1], "fk_violations": counts[2]}


# ------------------------------------------------------------ stream_ingest

def gen_stream(con, out, seed, size):
    """Transcript drops for the open-loop stream. File k holds turns
    [k*T, (k+1)*T) in event-time order plus a repeated share (set above):
    15% of its rows re-send turns of file k-1 (inside the dedup horizon) and
    5% re-send older turns (behind the watermark). A correct stream commits
    each distinct triple exactly once."""
    nf, per, convs = size["files"], size["turns_per_file"], size["convs"]
    n = nf * per
    con.execute(f"""
      CREATE TABLE sraw AS
      SELECT i AS gid, hash({seed}, 31, i) AS h1, hash({seed}, 32, i) AS h2, hash({seed}, 33, i) AS h3
      FROM range({n}) t(i)""")
    con.execute(f"""
      CREATE TABLE sturns AS
      SELECT gid,
        CASE WHEN gid % {MEGA_EVERY} = 0 THEN 'mega_' || CAST((gid // {MEGA_EVERY}) % {MEGA_CONVS} AS VARCHAR)
             ELSE 'c' || CAST(h1 % {convs} AS VARCHAR) END AS conv_id,
        ['user','assistant','system','tool'][1 + CAST(gid % 4 AS INTEGER)] AS role,
        {w('h3', 0)} || ' ' || {w('h3', 6)} || ' ' || {w('h3', 12)} AS text,
        CASE WHEN h2 % 5 = 0 THEN 'tool_' || CAST(h2 % 7 AS VARCHAR) ELSE '' END AS tool,
        to_timestamp(1704067200 + gid) AS ts
      FROM sraw""")
    con.execute("""
      CREATE TABLE sturns2 AS
      SELECT *, CAST(row_number() OVER (PARTITION BY conv_id ORDER BY gid) - 1 AS INTEGER) AS turn_idx
      FROM sturns""")
    rep_near, rep_old = per * REPEAT_NEAR_PCT // 100, per * REPEAT_OLD_PCT // 100
    os.makedirs(f"{out}/files")
    for k in range(nf):
        lo = k * per
        parts = [f"SELECT gid FROM range({lo}, {lo + per}) t(gid)"]
        if k > 0:
            # near repeats: the tail of the previous file (within 10 minutes
            # of event time); old repeats: spread over earlier files
            parts.append(f"SELECT {lo} - 1 - (hash({seed}, 34, {k}, j) % 500) AS gid "
                         f"FROM range({rep_near}) t(j)")
            parts.append(f"SELECT hash({seed}, 35, {k}, j) % {lo} AS gid FROM range({rep_old}) t(j)")
        con.execute(f"""
          COPY (SELECT conv_id, turn_idx, role, text, tool, ts FROM sturns2
                JOIN ({' UNION ALL '.join(parts)}) p USING (gid) ORDER BY ts)
          TO '{out}/files/drop-{k:04d}.parquet' (FORMAT PARQUET)""")
    with open(f"{out}/metadata.json", "w") as f:
        json.dump(TRANSCRIPT_METADATA, f, indent=1)
    rows, h = digest3(con, f"SELECT DISTINCT subj, pred, obj FROM ({transcript_triples_sql('sturns2')})")
    return {"rows": rows, "digest": h, "files": nf, "turns": n,
            "cell_errors": 0, "pk_violations": 0, "fk_violations": 0}


GENERATORS = {"kg_full": gen_kg, "csvw_wide": gen_csvw, "stream_ingest": gen_stream}


def ensure(cache_root, workload, seed, size):
    """Write (once) the inputs and truth for (workload, seed, size); return
    the directory. A half-written directory is never reused: the data is
    built under a temporary name and renamed into place."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-{size_key(size)}")
    if os.path.exists(os.path.join(d, "truth.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = connect(os.path.join(tmp, ".duckdb_tmp"))
    try:
        truth = GENERATORS[workload](con, tmp, seed, size)
    finally:
        con.close()
    shutil.rmtree(os.path.join(tmp, ".duckdb_tmp"), ignore_errors=True)
    truth.update({"workload": workload, "seed": seed, "size": size})
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
