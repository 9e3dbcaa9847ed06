"""Independent answers for every op, computed with DuckDB from the same
generated inputs the program read, and the row-by-row comparison.

Both sides are brought to plain values before they are compared: numbers
(booleans as 0/1, integral floats as integers, NaN as null), strings,
dates as epoch days, timestamps as epoch seconds, and lists (arrays and
structs) as tuples. Rows are sorted, then compared pairwise: integers and
strings exactly, floats within a relative 1e-9.
"""
import datetime
import decimal
import math

import duckdb

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
REL = 1e-9


def _number(v):
    x = float(v)
    if math.isnan(x):
        return None
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    return int(x) if x.is_integer() and abs(x) < 2 ** 53 else x


def _timestamp(v):
    d = v - (_EPOCH_TZ if v.tzinfo is not None else _EPOCH)
    return _number(d.days * 86400 + d.seconds + d.microseconds / 1e6)


def _keep(v):
    return v


def _seq(v):
    return tuple(canon(x) for x in v)


_CANON = {type(None): _keep, str: _keep, int: _keep, bool: int, float: _number,
          decimal.Decimal: _number, datetime.datetime: _timestamp,
          datetime.date: lambda v: (v - datetime.date(1970, 1, 1)).days,
          list: _seq, tuple: _seq, dict: lambda v: _seq(v.values()),
          bytes: lambda v: v.hex(), bytearray: lambda v: v.hex()}


def canon(v):
    return _CANON.get(type(v), str)(v)


def _key(v):
    """Sort key of a canonical value; floats are rounded so that values
    equal within the tolerance sort alike."""
    t = type(v)
    if t is int:
        return (1, v)
    if t is float:
        return (1, float(f"{v:.6g}"))
    if t is str:
        return (2, v)
    if v is None:
        return (0, 0)
    return (3, tuple(map(_key, v)))


def _row_key(row):
    return tuple(map(_key, row))


def _close(a, b):
    if a == b:
        return True
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return (isinstance(a, (int, float)) and isinstance(b, (int, float))
                and abs(a - b) <= REL * max(1.0, abs(a), abs(b)))
    return False


def mismatch(got_cols, got_rows, want_cols, want_rows):
    """None when the program's rows equal the expected rows (in any order),
    else the first difference."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {got_cols} != {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"rows {len(got_rows)} != {len(want_rows)}"
    order = [want_cols.index(c) for c in got_cols]
    got = sorted((tuple(map(canon, r)) for r in got_rows), key=_row_key)
    want = sorted((tuple(canon(r[i]) for i in order) for r in want_rows), key=_row_key)
    for i, (g, w) in enumerate(zip(got, want)):
        if not _close(g, w):
            return f"sorted row {i} of {len(got)}: {g!r} != {w!r} ({', '.join(got_cols)})"
    return None


def answer(con, sql):
    """Columns (lower case) and rows of a DuckDB query."""
    cur = con.execute(sql)
    return [d[0].lower() for d in cur.description], cur.fetchall()


def connect(tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


# ---- bikeshare: the lake snapshots and the 22 reference queries over the raw CSVs

TRIPS = [("trip_id", "VARCHAR"), ("rideable_type", "VARCHAR"), ("started_at", "TIMESTAMP"),
         ("ended_at", "TIMESTAMP"), ("start_station_id", "VARCHAR"), ("end_station_id", "VARCHAR"),
         ("rider_id", "INTEGER")]
RIDERS = [("rider_id", "INTEGER"), ("first", "VARCHAR"), ("last", "VARCHAR"), ("address", "VARCHAR"),
          ("birthday", "DATE"), ("account_start_date", "DATE"), ("account_end_date", "DATE"),
          ("is_member", "BOOLEAN")]
PAYMENTS = [("payment_id", "INTEGER"), ("date_id", "DATE"), ("amount", "DECIMAL(10,0)"),
            ("rider_id", "INTEGER")]


def read_csv(path, cols):
    """DuckDB scan of one raw headerless CSV with its declared columns."""
    spec = ", ".join(f"'{c}': '{t}'" for c, t in cols)
    return (f"read_csv('{path}', header = false, columns = {{{spec}}}, "
            "timestampformat = '%Y-%m-%d %H:%M:%S')")


def _enriched_views(con):
    """Enrichment: whole-second duration, hour-truncated time_id, ages as
    day counts / 365 truncated toward zero; trips keep only known riders."""
    con.execute("""CREATE OR REPLACE VIEW riders_e AS SELECT *,
        CAST(trunc(date_diff('day', birthday, account_start_date) / 365.0) AS INTEGER)
          AS age_at_account_start FROM riders""")
    con.execute("""CREATE OR REPLACE VIEW trips_e AS SELECT t.*,
        epoch(t.ended_at)::BIGINT - epoch(t.started_at)::BIGINT AS duration,
        date_trunc('hour', t.started_at) AS time_id,
        CAST(trunc(date_diff('day', r.birthday, CAST(t.started_at AS DATE)) / 365.0) AS INTEGER)
          AS age_at_ride_time
        FROM trips t JOIN riders r USING (rider_id)""")


def _query_sql():
    """The 22 reference queries, written directly against the raw tables."""
    def by(key, agg, name, src="trips_e"):
        return f"SELECT {key}, {agg} AS {name} FROM {src} GROUP BY 1"
    dow = "dayofweek(started_at) + 1 AS day_of_week"
    q = {
        "q1": f"SELECT {dow}, avg(duration) AS avg_duration FROM trips_e GROUP BY 1",
        "q2": f"SELECT {dow}, sum(duration) AS total_duration FROM trips_e GROUP BY 1",
        "q3": by("started_at", "avg(duration)", "avg_duration"),
        "q4": by("started_at", "sum(duration)", "total_duration"),
        "q5": by("start_station_id", "avg(duration)", "avg_duration"),
        "q6": by("start_station_id", "sum(duration)", "total_duration"),
        "q7": by("end_station_id", "avg(duration)", "avg_duration"),
        "q8": by("end_station_id", "sum(duration)", "total_duration"),
    }
    tr = "trips_e JOIN riders_e USING (rider_id)"
    q["q9"] = by("age_at_account_start", "sum(duration)", "total_duration", tr)
    q["q10"] = by("age_at_account_start", "avg(duration)", "avg_duration", tr)
    q["q11"] = by("is_member", "avg(duration)", "avg_duration", tr)
    q["q12"] = by("is_member", "sum(duration)", "total_duration", tr)
    n = 13
    for part in ("month", "quarter", "year"):
        for agg in ("sum", "avg"):
            m = "sum(amount)" if agg == "sum" else "round(avg(amount), 4)"
            name = "total_amount" if agg == "sum" else "avg_amount"
            q[f"q{n}"] = f"SELECT {part}(date_id) AS {part}, {m} AS {name} FROM payments GROUP BY 1"
            n += 1
    members = "payments JOIN (SELECT * FROM riders_e WHERE is_member) USING (rider_id)"
    q["q19"] = by("age_at_account_start", "sum(amount)", "total_amount", members)
    q["q20"] = by("age_at_account_start", "round(avg(amount), 4)", "avg_amount", members)
    # q21/q22 over the reference's literal trips x payments per-rider fan-out
    fan = ("trips_e t JOIN payments p USING (rider_id) "
           "JOIN (SELECT rider_id FROM riders WHERE is_member) m USING (rider_id)")
    q["q21"] = (f"SELECT rider_id, month(t.time_id) AS month, round(avg(p.amount), 4) AS avg_amount, "
                f"count(t.trip_id) AS num_rides FROM {fan} GROUP BY 1, 2")
    q["q22"] = (f"SELECT rider_id, CAST(trunc(t.duration / 60.0) AS INTEGER) AS minutes, "
                f"month(t.time_id) AS month, round(avg(p.amount), 4) AS avg_amount, "
                f"avg(t.duration) AS avg_duration FROM {fan} GROUP BY 1, 2, 3")
    return q


def expect_bikeshare(con, check):
    """Expected rows of every op of a pass. The lake must hold, after
    each batch (and after the compaction that follows the last one), the
    last-writer-wins fold of the batches so far: every trip keeps the row
    of the latest batch that sent it. The queries see the final fold."""
    root = check["batches_dir"]
    for name, cols in (("riders", RIDERS), ("payments", PAYMENTS)):
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {read_csv(f'{root}/dims/{name}.csv', cols)}")
    want, sent = {}, []
    for b in range(check["batches"]):
        sent.append(f"SELECT *, {b + 1} AS version FROM {read_csv(f'{root}/batch_{b:03d}/trips.csv', TRIPS)}")
        con.execute(f"""CREATE OR REPLACE VIEW trips_v AS SELECT * FROM ({' UNION ALL '.join(sent)})
                        QUALIFY row_number() OVER (PARTITION BY trip_id ORDER BY version DESC) = 1""")
        want[f"batch_{b:02d}"] = answer(con, """
          SELECT t.trip_id, t.rideable_type, t.started_at, t.ended_at, t.start_station_id,
                 t.end_station_id, t.rider_id,
                 epoch(t.ended_at)::BIGINT - epoch(t.started_at)::BIGINT AS duration,
                 date_trunc('hour', t.started_at) AS time_id,
                 CAST(trunc(date_diff('day', r.birthday, CAST(t.started_at AS DATE)) / 365.0)
                   AS INTEGER) AS age_at_ride_time,
                 t.version, strftime(t.started_at, '%Y-%m') AS trip_month
          FROM trips_v t JOIN riders r USING (rider_id)""")
    want["compact"] = want[f"batch_{check['batches'] - 1:02d}"]
    con.execute("CREATE OR REPLACE TABLE trips AS SELECT * EXCLUDE (version) FROM trips_v")
    _enriched_views(con)
    want["warehouse"] = answer(con, """
      SELECT (SELECT date_diff('hour', min(time_id), max(time_id)) + 1 FROM trips_e) AS trip_hours,
             (SELECT date_diff('day', min(date_id), max(date_id)) + 1 FROM payments) AS payment_days""")
    for name, sql in _query_sql().items():
        want[name] = answer(con, sql)
    return want


# ---- operator_mix: the engine's own DuckDB oracle SQL ----------------------

def expect_mix(con, check):
    d = check["tables_dir"]
    for t in check["tables"]:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet/*.parquet')")
    return {q: answer(con, sql) for q, sql in check["oracle_sql"].items()}
