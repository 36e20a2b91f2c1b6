"""Correctness checks run after the JVM exits, outside every timed span.

Suites: each query's untimed-pass result is compared with its DuckDB
oracle SQL over the same test tables, by the rules of
scripts/local_check.py, whose `canon` and `cell_eq` are used as they are:
columns sorted by name, rows sorted, equal row counts, equal dtype kinds,
floats equal as strings, cells exactly equal. The one departure: numpy
array cells (DuckDB's lists) become Python lists before `cell_eq`.

daemon_day: the catalog E3 left in Derby, the alert set and the two
reports are compared with a one-shot DuckDB recomputation over the same
landed probe events.
"""
import json
import os
import sys

import duckdb
import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from local_check import TABLES, canon, cell_eq  # noqa: E402


def _connect(threads, spill_dir):
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET preserve_insertion_order=false")
    return con


def _plain(v):
    """A numpy array cell (a DuckDB list) as a Python list, for cell_eq."""
    return [_plain(x) for x in v.tolist()] if isinstance(v, np.ndarray) else v


def _diff(got, want):
    """None when equal, else a one-line reason (local_check.py's checks,
    in its order)."""
    g, w = canon(got), canon(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for col in g.columns:
        kinds = {g[col].dtype.kind, w[col].dtype.kind}
        if len(kinds) > 1 and kinds != {"i", "u"}:
            return f"dtype col={col} spark={g[col].dtype} oracle={w[col].dtype}"
    for col in g.columns:
        if "f" in (g[col].dtype.kind, w[col].dtype.kind):
            for i, (a, b) in enumerate(zip(g[col].astype(str), w[col].astype(str))):
                if a != b:
                    return f"float col={col} row={i} spark={a} oracle={b}"
    for col in g.columns:
        for i, (a, b) in enumerate(zip(g[col], w[col])):
            if not cell_eq(_plain(a), _plain(b)):
                return f"cell col={col} row={i} spark={a!r} oracle={b!r}"
    return None


def check_suite(data_dir, run_dir, names, threads):
    """{query: reason} for every query whose result differs from its oracle."""
    con = _connect(threads, os.path.join(run_dir, "duckdb-tmp"))
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = {}
    for name in names:
        if name not in oracles:
            bad[name] = "no oracle SQL"
            continue
        dump = os.path.join(run_dir, "dumps", name)
        if not os.path.isdir(dump):
            bad[name] = "no result written"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{dump}/*.parquet')").fetchdf()
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad[name] = f"load/exec error: {e}"
            continue
        reason = _diff(got, want)
        if reason:
            bad[name] = reason
    return bad


_EVENT_COLUMNS = (
    "{url_id: 'VARCHAR', flow_address: 'VARCHAR', item: 'INTEGER', return_value: 'VARCHAR', "
    "lag_details: 'VARCHAR', streaming_protocol: 'VARCHAR', bitrate: 'VARCHAR', "
    "stream_length: 'VARCHAR', video_format: 'VARCHAR', video_resolution: 'VARCHAR', "
    "audio_format: 'VARCHAR', audio_sampling_rate: 'VARCHAR', created_time: 'VARCHAR', "
    "target_matching_id: 'VARCHAR', target_matching: 'VARCHAR'}")

# The day's rollup, score, resolution class and FHD/HD rematch, then the
# partial upsert into the starting catalog (FIXTURES.md A1-A3).
_FINAL_CATALOG_SQL = """
WITH e AS (
  SELECT *, CAST(created_time AS TIMESTAMP) AS ct
  FROM read_json('{landing}/cycle-*/*.json', format='newline_delimited',
                 columns={columns})),
roll AS (
  SELECT url_id,
    arg_min(video_format, ct) FILTER (WHERE length(video_format) > 0) AS video_format,
    COALESCE(arg_min(video_resolution, ct) FILTER (
               WHERE length(video_resolution) > 0 AND video_resolution <> '0x0'),
             arg_max(video_resolution, ct)) AS video_resolution,
    arg_min(audio_format, ct) FILTER (WHERE length(audio_format) > 0) AS audio_format,
    arg_min(audio_sampling_rate, ct) FILTER (WHERE length(audio_sampling_rate) > 0)
      AS audio_sampling_rate,
    arg_min(target_matching, ct) FILTER (WHERE length(target_matching) > 0) AS target_matching,
    arg_min(target_matching_id, ct) FILTER (WHERE length(target_matching_id) > 0)
      AS target_matching_id,
    SUM(CASE WHEN item <> 0 THEN 1 ELSE 0 END) AS n_error,
    COUNT(*) AS n_detection
  FROM e GROUP BY url_id),
scored AS (
  SELECT *,
    CAST(CASE WHEN n_detection > 0 AND n_error <= n_detection
         THEN TRUNC(GREATEST(0.0, CAST(n_detection - n_error AS DOUBLE)
                                  / CAST(n_detection AS DOUBLE) * 100.0))
         ELSE 0 END AS INT) AS flow_score,
    CASE video_resolution WHEN '1920x1080' THEN 17 WHEN '1280x720' THEN 13
         WHEN '640x360' THEN 4 WHEN '3840x2160' THEN 22 WHEN '' THEN 1 WHEN '0x0' THEN 1
         ELSE 27 END AS resolution_type
  FROM roll),
dim AS (SELECT stream_name, MIN(id) AS matched_id FROM programs GROUP BY 1),
fin AS (
  SELECT s.*, COALESCE(d.matched_id, s.target_matching_id) AS new_tmid
  FROM scored s LEFT JOIN dim d
    ON s.target_matching || (CASE WHEN s.resolution_type >= 17 THEN ' FHD' ELSE ' HD' END)
       = d.stream_name)
SELECT c.id, c.url, c.is_del, c.stream_type,
  COALESCE(NULLIF(f.video_format, ''), '') AS video_format,
  COALESCE(NULLIF(f.video_resolution, ''), '') AS video_resolution,
  COALESCE(NULLIF(f.audio_format, ''), '') AS audio_format,
  COALESCE(NULLIF(f.audio_sampling_rate, ''), '') AS audio_sampling_rate,
  COALESCE(NULLIF(f.new_tmid, ''), c.target_matching_id) AS target_matching_id,
  COALESCE(f.flow_score, c.flow_score) AS flow_score,
  COALESCE(f.resolution_type, 1) AS resolution_type,
  f.n_error
FROM catalog0 c LEFT JOIN fin f ON f.url_id = c.id
"""

_CATALOG_FIELDS = ["video_format", "video_resolution", "audio_format",
                   "audio_sampling_rate", "target_matching_id", "flow_score", "resolution_type"]


def _by_id(rows):
    return {str(r["id"]): tuple("" if r.get(k) is None else str(r[k]) for k in _CATALOG_FIELDS)
            for r in rows}


def check_daemon(day_dir, threshold, threads):
    """A list of named mismatches between the streamed day and a batch
    recomputation over the same events; empty when all agree."""
    def load(name):
        with open(os.path.join(day_dir, name)) as f:
            return json.load(f)

    if not os.path.isfile(os.path.join(day_dir, "catalog.json")):
        return ["daemon: E3 wrote no output to check"]
    con = _connect(threads, os.path.join(day_dir, "duckdb-tmp"))
    con.execute(f"CREATE TABLE catalog0 AS SELECT * FROM read_json('{day_dir}/catalog0.json')")
    con.execute(f"CREATE TABLE programs AS SELECT * FROM read_json('{day_dir}/programs.json')")
    con.execute("CREATE TABLE expected AS " + _FINAL_CATALOG_SQL.format(
        landing=os.path.join(day_dir, "landing"), columns=_EVENT_COLUMNS))
    cur = con.execute("SELECT * FROM expected")
    cols = [d[0] for d in cur.description]
    want_rows = [dict(zip(cols, r)) for r in cur.fetchall()]
    out = []

    want = _by_id(want_rows)
    for label, name in (("Derby catalog", "catalog.json"), ("upsertCatalog", "merged.json")):
        got = _by_id(load(name))
        wrong = sorted(k for k in set(want) | set(got) if want.get(k) != got.get(k))
        if wrong:
            k = wrong[0]
            out.append(f"{label}: {len(wrong)} rows differ, first {k}: "
                       f"got {got.get(k)} want {want.get(k)}")

    alerts = load("alerts.json")
    ids = [a[0] for a in alerts]
    errors = {r["id"]: r["n_error"] for r in want_rows if r["n_error"] is not None}
    expected_ids = {k for k, n in errors.items() if n >= threshold}
    if len(ids) != len(set(ids)):
        out.append("alerts: a stream alerted more than once")
    if set(ids) != expected_ids:
        out.append(f"alerts: {len(set(ids) ^ expected_ids)} streams differ "
                   f"(got {len(set(ids))}, want {len(expected_ids)})")
    if any(not threshold <= n <= errors.get(i, -1) for i, n, _ in alerts):
        out.append("alerts: an alert row's error count is outside [threshold, day total]")

    reports = load("reports.json")
    active = ("TRY_CAST(target_matching_id AS INT) >= 237 AND is_del = 0 "
              "AND stream_type <> 'XXX'")
    weak = [r[0] for r in con.execute(f"""
        SELECT DISTINCT p.stream_name FROM expected s JOIN programs p ON s.target_matching_id = p.id
        WHERE s.target_matching_id IN (SELECT target_matching_id FROM expected WHERE {active}
                                       GROUP BY 1 HAVING MAX(flow_score) <= 60)
        ORDER BY 1""").fetchall()]
    if reports["weak"] != weak:
        out.append(f"weak programs: got {len(reports['weak'])}, want {len(weak)}")
    vendors = sorted(list(r) for r in con.execute(f"""
        SELECT vendor, CAST(SUM(CASE WHEN flow_score < 60 THEN 1 ELSE 0 END) AS INT),
               CAST(SUM(CASE WHEN flow_score BETWEEN 60 AND 80 THEN 1 ELSE 0 END) AS INT),
               CAST(SUM(CASE WHEN flow_score > 80 AND flow_score <= 100 THEN 1 ELSE 0 END) AS INT),
               CAST(COUNT(*) AS INT)
        FROM (SELECT *, CASE WHEN url LIKE 'http://cdn-a.%' THEN 'VendorA'
                             WHEN url LIKE 'http://cdn-b.%' THEN 'VendorB'
                             WHEN url LIKE 'http://cdn-c.%' THEN 'VendorC' END AS vendor
              FROM expected WHERE {active})
        WHERE vendor IS NOT NULL GROUP BY vendor""").fetchall())
    if sorted(reports["vendors"]) != vendors:
        out.append(f"vendor stats: got {sorted(reports['vendors'])}, want {vendors}")
    return out
