"""Output checks: DuckDB recomputes the final silver and gold tables and the
read queries from the landed files, with the reference's merge semantics, and
compares them with what the pipeline produced.

  M1  users / workouts / heart_rate / completed_workouts / workout_bpm: insert-only,
      so the final table is the set of distinct keys ever landed.
  M2  gym_logs: the latest (largest) logout per (mac_address, gym, login).
  M3  user_profile: per user the `new`/`update` record with the newest timestamp.
  J4  completed_workouts: start x stop of one session, stop after start, < 3 h later.
  J5  workout_bpm: valid readings of the user's device in (start, end], end < time + 3 h.
  M5  workout_bpm_summary: per-session stats refreshed on every run, so equal to
      a recompute over the final workout_bpm and user_bins.

Timestamps are compared as epoch seconds; computed doubles within 1e-6.

Registry rows (traced runs) are compared with their `oracleSql` run by DuckDB
over the same generated tables, with the repository's oracle-gate
canonicalization (tools/check_oracle.py): same column names, same type widths,
same sorted rows.
"""
import math
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

AS_OF = "DATE '2024-06-01'"
BINS = [(18, "under 18"), (25, "18-25"), (35, "25-35"), (45, "35-45"), (55, "45-55"),
        (65, "55-65"), (75, "65-75"), (85, "75-85"), (95, "85-95")]

TABLES = {  # name: (columns, computed float columns)
    "users": ("user_id, device_id, mac_address, registration_timestamp", ()),
    "gym_logs": ("mac_address, gym, login, logout", ()),
    "user_profile": ("user_id, dob, sex, gender, first_name, last_name, street_address, city, state, zip, updated", ()),
    "heart_rate": ("device_id, time, heartrate, valid", ()),
    "workouts": ("user_id, workout_id, time, action, session_id", ()),
    "user_bins": ("user_id, age, gender, city, state", ()),
    "completed_workouts": ("user_id, workout_id, session_id, start_time, end_time", ()),
    "workout_bpm": ("user_id, workout_id, session_id, start_time, end_time, time, heartrate", ()),
    "workout_bpm_summary": ("start_time, end_time, workout_id, session_id, user_id, age, gender, city, state, "
                            "min_bpm, avg_bpm, max_bpm, num_recordings", ("avg_bpm",)),
    "gym_summary": ("date, gym, mac_address, workout_id, session_id, minutes_in_gym, minutes_exercising",
                    ("minutes_in_gym", "minutes_exercising")),
}
MUST_HAVE_ROWS = ("workout_bpm", "workout_bpm_summary", "gym_summary")


def _age_case():
    # Spark months_between(asOf, dob): whole months when the days of month
    # match, else the day difference over 31; age = floor(months / 12)
    mb = (f"((year({AS_OF}) - year(dob_d)) * 12 + month({AS_OF}) - month(dob_d) + "
          f"CASE WHEN day({AS_OF}) = day(dob_d) THEN 0 ELSE (day({AS_OF}) - day(dob_d)) / 31.0 END)")
    age = f"floor({mb} / 12)"
    parts = [f"WHEN {age} < 18 THEN 'under 18'"]
    for (lo, _), (hi, label) in zip(BINS, BINS[1:]):
        parts.append(f"WHEN {age} >= {lo} AND {age} < {hi} THEN '{label}'")
    parts.append(f"WHEN {age} >= 95 THEN '95+'")
    return "CASE " + " ".join(parts) + " ELSE 'invalid age' END"


def expected(con, sets_dir):
    g = lambda s: os.path.join(sets_dir, "*", s, "*")
    con.execute(f"""CREATE TABLE reg AS SELECT * FROM read_csv('{g("registered_users")}', header=true,
        columns={{'user_id':'BIGINT','device_id':'BIGINT','mac_address':'VARCHAR','registration_timestamp':'DOUBLE'}})""")
    con.execute(f"""CREATE TABLE gym AS SELECT * FROM read_csv('{g("gym_logins")}', header=true,
        columns={{'mac_address':'VARCHAR','gym':'BIGINT','login':'DOUBLE','logout':'DOUBLE'}})""")
    con.execute(f"""CREATE TABLE mux AS SELECT * FROM read_json('{g("multiplex")}', format='newline_delimited',
        columns={{'key':'VARCHAR','value':'VARCHAR','topic':'VARCHAR','partition':'BIGINT','offset':'BIGINT','timestamp':'BIGINT'}})""")
    j = lambda path, t: f"CAST(json_extract(value, '$.{path}') AS {t})"
    s = lambda path: f"json_extract_string(value, '$.{path}')"
    con.execute("""CREATE TABLE e_users AS SELECT DISTINCT user_id, device_id, mac_address,
        CAST(floor(registration_timestamp) AS BIGINT) AS registration_timestamp FROM reg""")
    con.execute("""CREATE TABLE e_gym_logs AS SELECT mac_address, gym, CAST(floor(login) AS BIGINT) AS login,
        CAST(max(floor(logout)) AS BIGINT) AS logout FROM gym GROUP BY 1, 2, 3""")
    con.execute(f"""CREATE TABLE e_user_profile AS
        WITH ui AS (SELECT DISTINCT {j('user_id', 'BIGINT')} AS user_id, {s('update_type')} AS ut,
            {j('timestamp', 'DOUBLE')} AS ts, {s('dob')} AS dob, {s('sex')} AS sex, {s('gender')} AS gender,
            {s('first_name')} AS first_name, {s('last_name')} AS last_name,
            {s('address.street_address')} AS street_address, {s('address.city')} AS city,
            {s('address.state')} AS state, {j('address.zip', 'INTEGER')} AS zip
          FROM mux WHERE topic = 'user_info')
        SELECT user_id, strftime(strptime(dob, '%m/%d/%Y'), '%Y-%m-%d') AS dob, sex, gender, first_name,
          last_name, street_address, city, state, zip, CAST(floor(ts) AS BIGINT) AS updated
        FROM ui WHERE ut IN ('new', 'update')
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1""")
    con.execute(f"""CREATE TABLE e_heart_rate AS SELECT DISTINCT {j('device_id', 'BIGINT')} AS device_id,
        CAST(floor({j('time', 'DOUBLE')}) AS BIGINT) AS time, {j('heartrate', 'DOUBLE')} AS heartrate,
        {j('heartrate', 'DOUBLE')} > 0 AS valid FROM mux WHERE topic = 'bpm'""")
    con.execute(f"""CREATE TABLE e_workouts AS SELECT DISTINCT {j('user_id', 'BIGINT')} AS user_id,
        {j('workout_id', 'INTEGER')} AS workout_id, CAST(floor({j('timestamp', 'DOUBLE')}) AS BIGINT) AS time,
        {s('action')} AS action, {j('session_id', 'INTEGER')} AS session_id FROM mux WHERE topic = 'workout'""")
    con.execute("""CREATE TABLE e_completed_workouts AS
        SELECT a.user_id, a.workout_id, a.session_id, a.time AS start_time, b.time AS end_time
        FROM e_workouts a JOIN e_workouts b ON a.user_id = b.user_id AND a.workout_id = b.workout_id
          AND a.session_id = b.session_id AND b.time > a.time AND b.time < a.time + 10800
        WHERE a.action = 'start' AND b.action = 'stop'""")
    con.execute("""CREATE TABLE e_workout_bpm AS
        SELECT c.user_id, c.workout_id, c.session_id, c.start_time, c.end_time, h.time, h.heartrate
        FROM e_completed_workouts c JOIN e_users u ON c.user_id = u.user_id
        JOIN e_heart_rate h ON h.device_id = u.device_id AND h.valid AND h.time > c.start_time
          AND h.time <= c.end_time AND c.end_time < h.time + 10800""")
    con.execute(f"""CREATE TABLE e_user_bins AS
        SELECT p.user_id, {_age_case()} AS age, p.gender, p.city, p.state
        FROM (SELECT *, CAST(dob AS DATE) AS dob_d FROM e_user_profile) p
        JOIN (SELECT DISTINCT user_id FROM e_users) u ON p.user_id = u.user_id""")
    con.execute("""CREATE TABLE e_workout_bpm_summary AS
        SELECT w.start_time, w.end_time, w.workout_id, w.session_id, w.user_id, b.age, b.gender, b.city,
          b.state, w.min_bpm, w.avg_bpm, w.max_bpm, w.num_recordings
        FROM (SELECT user_id, workout_id, session_id, start_time, end_time, min(heartrate) AS min_bpm,
                avg(heartrate) AS avg_bpm, max(heartrate) AS max_bpm, count(heartrate) AS num_recordings
              FROM e_workout_bpm GROUP BY 1, 2, 3, 4, 5) w
        JOIN e_user_bins b ON w.user_id = b.user_id""")
    con.execute("""CREATE TABLE e_gym_summary AS
        SELECT CAST(DATE '1970-01-01' + CAST(l.login // 86400 AS INTEGER) AS VARCHAR) AS date, l.gym,
          l.mac_address, c.workout_id, c.session_id, round((l.logout - l.login) / 60.0, 2) AS minutes_in_gym,
          round((c.end_time - c.start_time) / 60.0, 2) AS minutes_exercising
        FROM e_gym_logs l JOIN e_completed_workouts c ON c.start_time BETWEEN l.login AND l.logout
        JOIN e_users u ON u.user_id = c.user_id AND u.mac_address = l.mac_address""")


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _key(row):
    return tuple((0, round(v, 4)) if isinstance(v, float) else (1, str(v)) for v in row)


def rows_match(got, want):
    if len(got) != len(want):
        return False
    return all(all(_close(x, y) for x, y in zip(g, w)) and len(g) == len(w)
               for g, w in zip(sorted(map(tuple, got), key=_key), sorted(map(tuple, want), key=_key)))


def compare_table(con, name, export_dir):
    cols, floats = TABLES[name]
    path = os.path.join(export_dir, name, "*.parquet")
    want_n = con.execute(f"SELECT count(*) FROM e_{name}").fetchone()[0]
    if floats:  # computed doubles: compared within a tolerance
        got = con.execute(f"SELECT {cols} FROM read_parquet('{path}')").fetchall()
        same = rows_match(got, con.execute(f"SELECT {cols} FROM e_{name}").fetchall())
    else:  # exact, as multisets
        same = con.execute(f"""SELECT count(*) FROM (
            (SELECT {cols} FROM read_parquet('{path}') EXCEPT ALL SELECT {cols} FROM e_{name})
            UNION ALL
            (SELECT {cols} FROM e_{name} EXCEPT ALL SELECT {cols} FROM read_parquet('{path}')))""").fetchone()[0] == 0
    problems = []
    if not same:
        problems.append(f"{name}: rows differ from the expected {want_n}")
    if name in MUST_HAVE_ROWS and not want_n:
        problems.append(f"{name}: expected table is empty; the workload checks nothing")
    return want_n, problems


def expected_query(con, line):
    kind, *p = line.split("\t")
    if kind == "gym_summary":
        return con.execute(f"SELECT {TABLES['gym_summary'][0]} FROM e_gym_summary").fetchall()
    if kind == "user_summary":
        return con.execute(f"SELECT {TABLES['workout_bpm_summary'][0]} FROM e_workout_bpm_summary "
                           f"WHERE user_id = {int(p[0])}").fetchall()
    if kind == "device_range":
        return con.execute(f"SELECT device_id, time, heartrate, valid FROM e_heart_rate WHERE device_id = "
                           f"{int(p[0])} AND time BETWEEN {int(p[1])} AND {int(p[2])}").fetchall()
    if kind == "demographics":
        return con.execute("""SELECT b.age, b.gender, count(*), avg(s.avg_bpm), max(s.max_bpm),
            sum(s.num_recordings) FROM e_workout_bpm_summary s JOIN e_user_bins b ON s.user_id = b.user_id
            GROUP BY 1, 2""").fetchall()
    raise ValueError(kind)


def check(sets_dir, export_dir, results, threads):
    """Return (ok, problems, expected row counts)."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    expected(con, sets_dir)
    problems, counts = [], {}
    for name in TABLES:
        counts[name], p = compare_table(con, name, export_dir)
        problems += p
    for line, rows in sorted(results.items()):
        if not rows_match(rows, expected_query(con, line)):
            problems.append("query %r: result differs from DuckDB" % line)
    con.close()
    return not problems, problems, counts


def check_registry(tables_dir, export_dir, oracle, rows):
    """Problems of the registry rows' exported results against their oracles."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle as co
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")

    def sorted_rows(tbl):
        cols = sorted(tbl.schema.names)
        return sorted(tuple(co.canon(v) for v in r) for r in zip(*(tbl.column(c).to_pylist() for c in cols)))

    problems = []
    for name in rows:
        if name not in oracle:
            problems.append(f"{name}: no oracle SQL")
            continue
        try:
            want = con.execute(oracle[name]).arrow()
            got = con.execute(f"SELECT * FROM read_parquet('{export_dir}/{name}/*.parquet')").arrow()
        except Exception as e:  # a missing export or a failing oracle
            problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        if sorted(want.schema.names) != sorted(got.schema.names):
            problems.append(f"{name}: columns {sorted(got.schema.names)}, oracle {sorted(want.schema.names)}")
        elif co.schema_mismatches(want, got):
            problems.append(f"{name}: type widths differ: {co.schema_mismatches(want, got)}")
        elif sorted_rows(want) != sorted_rows(got):
            problems.append(f"{name}: {got.num_rows} rows differ from the oracle's {want.num_rows}")
        elif want.num_rows == 0:
            problems.append(f"{name}: the oracle returns no rows; the row checks nothing")
    con.close()
    return problems
