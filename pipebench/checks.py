"""Correctness checks computed apart from the engine, with DuckDB.

From the generated input files alone, DuckDB recomputes what each
layer must hold: bronze counts per date, dead letters with their
reasons, silver rows, 5m and 1h OHLCV bars with exact VWAP, and the
rows the watermark must drop. The engine's stores and its
`numRowsDroppedByWatermark` counters are compared against that. For
`serve`, DuckDB also runs each panel's SQL over the same parquet store
and compares it with the panel answers the engine returned.

Each comparison is also run once on a deliberately perturbed answer;
if the perturbed answer still passes, the check itself is dead and the
run is reported incorrect.
"""
import math
import os

import duckdb

WATERMARK_MS = 10 * 60 * 1000
MAX_PRICE = 1000000.0


def _connect():
    con = duckdb.connect()
    con.execute("SET threads=2")
    return con


def _reference(con, in_dir):
    con.execute(f"""
        CREATE TEMP TABLE parsed AS
        SELECT CAST(regexp_extract(filename, 'f(\\d+)\\.parquet$', 1) AS INTEGER) AS f,
               json_extract_string(value, '$.symbol') AS symbol,
               CAST(json_extract(value, '$.price') AS DOUBLE) AS price,
               CAST(json_extract(value, '$.volume') AS BIGINT) AS volume,
               CAST(json_extract(value, '$.timestamp') AS BIGINT) AS ts,
               CAST(json_extract(value, '$.ingestion_time') AS BIGINT) AS ingestion_time
        FROM read_parquet('{in_dir}/f*.parquet', filename=true)""")
    # A row is late when it is more than the watermark delay behind the
    # newest event of every earlier file.
    con.execute(f"""
        CREATE TEMP TABLE flagged AS
        WITH fm AS (SELECT f, max(ts) AS mx FROM parsed GROUP BY f),
        seen AS (SELECT f, max(mx) OVER (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING
                                                     AND 1 PRECEDING) AS before FROM fm)
        SELECT p.*, coalesce(p.ts < s.before - {WATERMARK_MS}, false) AS late
        FROM parsed p JOIN seen s USING (f)""")
    con.execute("""
        CREATE TEMP TABLE silver_ref AS
        SELECT DISTINCT symbol, round(price, 4) AS price, abs(volume) AS volume, ts,
               ingestion_time, CAST(epoch_ms(ts) AS DATE) AS trade_date
        FROM flagged WHERE abs(volume) > 0 AND round(price, 4) > 0 AND NOT late""")


def _bars_sql(src, interval):
    return f"""
        SELECT symbol, epoch_ms(time_bucket(INTERVAL '{interval}', epoch_ms(ts))) AS ws,
               arg_min(price, ts) AS open, max(price) AS high, min(price) AS low,
               arg_max(price, ts) AS close, sum(volume) AS volume, count(*) AS trade_count,
               (sum(CAST(round(price * 10000) AS BIGINT) * volume) * 100) // sum(volume) AS vwap_e6
        FROM {src} GROUP BY ALL"""


def _diff(con, a, b):
    """Rows in a but not b plus rows in b but not a (multisets)."""
    return con.execute(f"""
        SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) +
               (SELECT count(*) FROM ({b} EXCEPT ALL {a}))""").fetchone()[0]


def _store_checks(con, workload, raw, accounting):
    out = raw["out_dir"]
    problems = []
    con.execute(f"CREATE TEMP VIEW silver AS SELECT * FROM read_parquet("
                f"'{out}/silver/*/*.parquet', hive_partitioning=true)")
    grains = [g for g in ("gold5m", "gold1h") if os.path.isdir(os.path.join(out, g))]
    for g in grains:
        con.execute(f"CREATE TEMP TABLE {g} AS SELECT * FROM read_parquet("
                    f"'{out}/{g}/*/*/*.parquet', hive_partitioning=true)")
    dirty = workload == "dirty"

    offered = con.execute("SELECT count(*) FROM parsed").fetchone()[0]
    keys = con.execute("SELECT count(*) - count(DISTINCT (symbol, ts)) FROM silver_ref").fetchone()[0]
    if keys:
        problems.append(f"input holds {keys} conflicting (symbol, timestamp) duplicates")

    # Bronze and dead letters run in the dirty workload only.
    bronze = (f"SELECT trade_date, count(*) AS n FROM read_parquet('{out}/bronze/*/*.parquet', "
              f"hive_partitioning=true) GROUP BY ALL")
    bronze_ref = "SELECT CAST(epoch_ms(ts) AS DATE) AS trade_date, count(*) AS n FROM parsed GROUP BY ALL"
    if dirty and _diff(con, bronze, bronze_ref):
        problems.append("bronze rows per trade_date differ from the input")

    reasons = f"""array_to_string(list_filter([
        CASE WHEN symbol IS NULL THEN 'missing_symbol' END,
        CASE WHEN price IS NULL THEN 'missing_price' END,
        CASE WHEN price < 0 OR price > {MAX_PRICE} THEN 'price_out_of_range' END,
        CASE WHEN volume IS NULL THEN 'missing_volume' END,
        CASE WHEN volume < 0 THEN 'negative_volume' END,
        CASE WHEN volume = 0 THEN 'zero_volume' END,
        CASE WHEN ts IS NULL THEN 'missing_timestamp' END], x -> x IS NOT NULL), ',')"""
    dead_ref = f"SELECT * FROM (SELECT symbol, ts, {reasons} AS why FROM parsed) WHERE why <> ''"
    dead = (f"SELECT symbol, \"timestamp\" AS ts, array_to_string(from_json(errors, '[\"VARCHAR\"]'), ',') "
            f"AS why FROM read_parquet('{out}/dead_letters/*.parquet')")
    n = _diff(con, dead, dead_ref) if dirty else 0
    if n:
        problems.append(f"dead letters differ from the input's invalid rows ({n} rows)")

    silver = ("SELECT symbol, price, volume, \"timestamp\" AS ts, ingestion_time, trade_date "
              "FROM silver")
    n = _diff(con, silver, "SELECT * FROM silver_ref")
    if n:
        problems.append(f"silver differs from the reference ({n} rows)")

    cols = "symbol, epoch_ms(window_start) AS ws, open, high, low, close, volume, trade_count, vwap_e6"
    for g, iv in (("gold5m", "5 minutes"), ("gold1h", "1 hour")):
        if g not in grains:
            continue
        n = _diff(con, f"SELECT {cols} FROM {g}", _bars_sql("silver_ref", iv))
        if n:
            problems.append(f"{g} bars differ from the reference ({n} rows)")
    # Liveness: one perturbed close must be caught.
    con.execute("CREATE TEMP TABLE gold5m_bad AS SELECT * FROM gold5m")
    con.execute("UPDATE gold5m_bad SET close = close + 0.01 "
                "WHERE rowid = (SELECT min(rowid) FROM gold5m_bad)")
    if not _diff(con, f"SELECT {cols} FROM gold5m_bad", _bars_sql("silver_ref", "5 minutes")):
        problems.append("bar check is dead: a perturbed close passed")

    late = con.execute("SELECT count(*) FROM flagged WHERE late AND abs(volume) > 0 "
                       "AND round(price, 4) > 0").fetchone()[0]
    accounting.update(offered=offered, silver=con.execute("SELECT count(*) FROM silver").fetchone()[0])
    if dirty:
        accounting.update(
            bronze=con.execute(f"SELECT sum(n) FROM ({bronze})").fetchone()[0],
            dead_letters=con.execute(f"SELECT count(*) FROM ({dead})").fetchone()[0])
    accounting.update(late_reference=late, late_dropped=raw["late_drops"].get("silver"))
    if (late > 0) != dirty:
        problems.append(f"input holds {late} late rows, unexpected for workload {workload}")
    for q in ["silver"] + grains:
        got = raw["late_drops"].get(q)
        if got != late:
            problems.append(f"{q} dropped {got} rows behind the watermark, reference {late}")
    return problems


PANEL_SQL = {
    "q1": "SELECT count(*) AS n_trades FROM silver WHERE trade_date = DATE '{day}'",
    "q2": "SELECT sum(volume) AS total_volume FROM gold5m WHERE CAST(window_start AS DATE) = DATE '{day}'",
    "q3": ("SELECT max(epoch_ms(window_start)) AS max_window_start_ms FROM gold5m "
           "WHERE CAST(window_start AS DATE) = DATE '{day}'"),
    "q4": ("SELECT epoch_ms(window_start) AS window_start_ms, open, high, low, close, volume "
           "FROM gold5m WHERE symbol = '{symbol}' AND CAST(window_start AS DATE) = DATE '{day}' "
           "ORDER BY window_start_ms DESC LIMIT 12"),
    "q5": "SELECT symbol, sum(volume) AS total_volume FROM gold5m GROUP BY symbol",
    "q6": "SELECT symbol, sum(trade_count) AS total_trades FROM gold5m GROUP BY symbol",
    # Q7: per symbol, the last trade and the change against the one
    # before it. (symbol, event_time) is unique in silver, so the
    # engine's event_id tie-break does not change the answer.
    "q7": ("WITH r AS (SELECT symbol, price, volume, epoch_ms(event_time) AS t, row_number() "
           "OVER (PARTITION BY symbol ORDER BY event_time DESC) AS k FROM silver) "
           "SELECT a.symbol, a.price AS last_price, a.volume AS last_volume, "
           "a.t AS last_trade_time_ms, a.price - b.price AS price_change, "
           "CASE WHEN b.price IS NULL OR b.price = 0 THEN NULL "
           "ELSE (a.price - b.price) / b.price * 100 END AS price_change_pct "
           "FROM r a LEFT JOIN r b ON a.symbol = b.symbol AND b.k = 2 WHERE a.k = 1"),
    # Q8: the day's 20 latest trades of one symbol. event_id is left
    # out: it is not derived from the input, so only the other columns
    # are compared.
    "q8": ("SELECT symbol, price, volume, epoch_ms(event_time) AS event_time_ms FROM silver "
           "WHERE symbol = '{symbol}' AND trade_date = DATE '{day}' "
           "ORDER BY event_time_ms DESC LIMIT 20"),
    "q9": ("SELECT epoch_ms(window_start) AS window_start_ms, open, high, low, close, volume, "
           "trade_count, vwap_e6 FROM gold5m WHERE symbol = '{symbol}' AND "
           "CAST(window_start AS DATE) BETWEEN DATE '{day}' AND DATE '{day2}'"),
    "q10": ("SELECT round(sum(epoch_ms(event_time) - epoch_ms(CAST(trade_date AS TIMESTAMP))) "
            "/ count(*) / 1000.0, 6) AS avg_seconds_into_day FROM silver "
            "WHERE trade_date = DATE '{day}'"),
    "q11": ("SELECT symbol, count(*) AS n_trades, round(min(price), 4) AS min_price, "
            "round(max(price), 4) AS max_price FROM silver "
            "WHERE price BETWEEN {lo} AND {hi} GROUP BY symbol"),
}


# Q7 rounds its price changes to 6 decimals; the reference does not.
PANEL_TOL = {"q7": 1e-6}


def _same(a, b, tol):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=tol)
    return str(a) == str(b)


def _rows_match(got, want, tol=1e-9):
    key = lambda r: tuple("" if v is None else str(v) for v in r)  # noqa: E731
    got, want = sorted(got, key=key), sorted(want, key=key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y, tol) for x, y in zip(g, w))
        for g, w in zip(got, want))


def _project(answer, cols):
    """The answer's rows restricted to `cols`, by column name; None if
    the answer lacks one of them."""
    if not set(cols) <= set(answer["cols"]):
        return None
    idx = [answer["cols"].index(c) for c in cols]
    return [[r[i] for i in idx] for r in answer["rows"]]


def _panel_checks(raw):
    con = _connect()
    served = raw["out_dir"]
    con.execute(f"CREATE TEMP VIEW silver AS SELECT * FROM read_parquet("
                f"'{served}/silver/*/*.parquet', hive_partitioning=true)")
    con.execute(f"CREATE TEMP VIEW gold5m AS SELECT * FROM read_parquet("
                f"'{served}/gold5m/*/*/*.parquet', hive_partitioning=true)")
    raw = raw["serve"]
    problems = []
    checked = []
    for a in raw["answers"]:
        res = con.execute(PANEL_SQL[a["q"]].format(**a["params"]))
        want = [list(r) for r in res.fetchall()]
        got = _project(a, [d[0] for d in res.description])
        if got is None or not _rows_match(got, want, PANEL_TOL.get(a["q"], 1e-9)):
            problems.append(f"panel {a['q']} {a['params']} differs from DuckDB")
        checked.append((got or [], want))
    # Liveness: perturb one numeric value of one answer.
    for rows, want in checked:
        cells = [(i, j) for i, r in enumerate(rows) for j, v in enumerate(r)
                 if isinstance(v, (int, float)) and not isinstance(v, bool)]
        if cells:
            i, j = cells[0]
            bad = [list(r) for r in rows]
            bad[i][j] = bad[i][j] + 1
            if _rows_match(bad, want):
                problems.append("panel check is dead: a perturbed answer passed")
            break
    else:
        problems.append("no panel answer to check")
    con.close()
    # Q7 and Q8 fail on the store App writes (its silver has no event_id
    # column); they count as failed operations, not as wrong answers.
    # Any other panel's failure is a wrong answer.
    unexpected = sorted(set(raw["errors"]) - {"q7", "q8"})
    if unexpected:
        errs = raw["errors"]
        problems.append("panels failed: " + ", ".join(f"{q}: {errs[q]}" for q in unexpected))
    return problems


def check(workload, raw):
    """Return (problems, accounting): problems is empty when every
    output is right; accounting counts rows offered and where they went."""
    con = _connect()
    _reference(con, raw["in_dir"])
    accounting = {}
    problems = _store_checks(con, workload, raw, accounting)
    con.close()
    if accounting["offered"] != raw["offered_rows"]:
        problems.append(f"input holds {accounting['offered']} rows, "
                        f"the run offered {raw['offered_rows']}")
    panels = raw["serve"]["panels"]
    accounting.update(panels=len(panels), panels_failed=sum(not p["ok"] for p in panels))
    return problems + _panel_checks(raw), accounting
