"""Output checks of the pipeline benchmark, run with DuckDB after the JVM
exits so that they cost the run little time.  Each returns the list of
checks and the set of passes whose output failed one.

A check is (name, ok, detail).  Digests are order-free: the row count
and the sum of the row hashes.
"""
import os

import duckdb


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _digest(con, sql):
    n, h = con.execute(f"SELECT count(*), sum(hash(q)) FROM ({sql}) q").fetchone()
    return f"{n}:{h}"


def _same_digests(name, by_pass):
    if not by_pass:
        return (f"{name} digest repeats", False, "no pass produced output"), set()
    first = by_pass[0][1]
    bad = {p for p, d in by_pass if d != first}
    distinct = len({d for _, d in by_pass})
    return (f"{name} digest repeats", not bad, f"{distinct} distinct over {len(by_pass)} passes"), bad


def tick_drain(run_dir, passes, truth):
    """Emitted windows = the 15-min window aggregates of the landed raw
    files minus the planted late rows (the query TickAnalytics.
    windowAggregates runs), for every window the final watermark closed:
    volume_sum exactly, ma and volatility within 1e-4.  Each window is
    emitted once, and since every period repeats one seeded pattern, each
    window equals the first window at its offset in the period.  A wrong
    window fails the drain that closed it: the one whose watermark, max
    event time - 30 min, first reached the window's end."""
    con = _con()
    period, t0 = int(truth["period_s"]), truth["t0"]
    con.execute(f"""
        CREATE VIEW raw AS SELECT symbol, CAST("timestamp" AS TIMESTAMP) AS event_time, price, volume
        FROM read_csv('{run_dir}/raw/*.csv', header = true, columns = {{
            'symbol': 'VARCHAR', 'timestamp': 'VARCHAR', 'price': 'DOUBLE', 'open': 'DOUBLE',
            'high': 'DOUBLE', 'low': 'DOUBLE', 'volume': 'BIGINT'}})""")
    con.execute(f"""
        CREATE VIEW late AS SELECT symbol, CAST("timestamp" AS TIMESTAMP) AS event_time
        FROM read_csv('{run_dir}/in/late.csv', header = true,
                      columns = {{'symbol': 'VARCHAR', 'timestamp': 'VARCHAR'}})""")
    con.execute("CREATE VIEW watermark AS SELECT max(event_time) - INTERVAL 30 MINUTE AS w FROM raw")
    con.execute("""
        CREATE VIEW expected AS
        SELECT symbol, ws AS window_start, ws + INTERVAL 15 MINUTE AS window_end, ma, volatility, volume_sum
        FROM (SELECT symbol, time_bucket(INTERVAL 15 MINUTE, event_time) AS ws, avg(price) AS ma,
                     stddev_samp(price) AS volatility, sum(volume) AS volume_sum
              FROM raw ANTI JOIN late USING (symbol, event_time) GROUP BY ALL)
        WHERE ws + INTERVAL 15 MINUTE <= (SELECT w FROM watermark)""")
    con.execute(f"""
        CREATE VIEW emitted AS SELECT symbol, window_start, window_end, ma, volatility, volume_sum
        FROM read_parquet('{run_dir}/out/windows/*.parquet')""")
    closing = (f"CAST(ceil((epoch(window_end) - epoch(TIMESTAMP '{t0}') + 2) / {period}) AS INTEGER)")

    def close(c):
        return f"((e.{c} IS NULL AND o.{c} IS NULL) OR abs(e.{c} - o.{c}) <= 1e-4)"
    wrong = {r[0] for r in con.execute(f"""
        SELECT DISTINCT {closing} FROM (
          SELECT COALESCE(e.window_end, o.window_end) AS window_end, e.volume_sum AS ev, o.volume_sum AS ov,
                 {close('ma')} AND {close('volatility')} AS near
          FROM expected e FULL JOIN emitted o USING (symbol, window_start, window_end))
        WHERE ev IS NULL OR ov IS NULL OR ev <> ov OR NOT near""").fetchall()}
    n, unique = con.execute(
        "SELECT count(*), count(DISTINCT (symbol, window_start, window_end)) FROM emitted").fetchone()
    offset = f"(epoch(window_start) - epoch(TIMESTAMP '{t0}')) % {period}"
    drift = {r[0] for r in con.execute(f"""
        SELECT DISTINCT {closing} FROM (
          SELECT *, first_value((ma, volatility, volume_sum)) OVER w AS first
          FROM emitted WINDOW w AS (PARTITION BY symbol, ({offset} + {period}) % {period}
                                    ORDER BY window_start))
        WHERE (ma, volatility, volume_sum) IS DISTINCT FROM first""").fetchall()}
    checks = [
        ("emitted windows = windowAggregates minus late rows", not wrong,
         f"{len(wrong)} passes with wrong windows; {n} emitted"),
        ("each window emitted once", n == unique, f"{unique} keys, {n} rows"),
        ("windows repeat every period", not drift, f"{len(drift)} passes differ"),
    ]
    return checks, wrong | drift | (set() if n == unique else set(passes))


def corpus_curation(run_dir, passes, truth):
    """Per pass: doc_ids unique; no eval text in the corpus; the splits
    partition the corpus; the packing plan covers exactly the train
    split; every planted verbatim copy is gone; and the corpus and plan
    digests are the same in every pass."""
    con = _con()
    con.execute(f"CREATE VIEW eval AS SELECT text FROM read_parquet('{run_dir}/in/eval.parquet')")
    con.execute("CREATE TABLE copies AS SELECT unnest(?::BIGINT[]) AS doc_id", [truth["verbatim_copy_ids"]])
    checks, bad, digests = [], set(), []
    for p in passes:
        out = os.path.join(run_dir, "out", f"p{p}")
        con.execute(f"CREATE OR REPLACE VIEW corpus AS SELECT * FROM read_parquet("
                    f"'{out}/corpus/*/*.parquet', hive_partitioning = true)")
        con.execute(f"CREATE OR REPLACE VIEW plan AS SELECT * FROM read_parquet('{out}/packing_plan/*.parquet')")
        n, ids = con.execute("SELECT count(*), count(DISTINCT doc_id) FROM corpus").fetchone()
        leaked = con.execute("SELECT count(*) FROM corpus JOIN eval USING (text)").fetchone()[0]
        splits = dict(con.execute("SELECT split, count(*) FROM corpus GROUP BY split").fetchall())
        differ = con.execute("""
            SELECT count(*) FROM ((SELECT DISTINCT doc_id FROM plan
                                   EXCEPT SELECT doc_id FROM corpus WHERE split = 'train')
                                  UNION ALL (SELECT doc_id FROM corpus WHERE split = 'train'
                                   EXCEPT SELECT doc_id FROM plan))""").fetchone()[0]
        kept = con.execute("SELECT count(*) FROM corpus JOIN copies USING (doc_id)").fetchone()[0]
        mine = [
            (f"p{p} doc_ids unique", ids == n, f"{ids} ids, {n} rows"),
            (f"p{p} no eval twin leaked", leaked == 0, f"{leaked} leaked"),
            (f"p{p} splits partition the corpus",
             set(splits) <= {"train", "val", "test"} and sum(splits.values()) == n, str(splits)),
            (f"p{p} packing plan covers exactly the train split", differ == 0, f"{differ} ids differ"),
            (f"p{p} planted verbatim copies removed", kept == 0, f"{kept} kept"),
        ]
        checks += mine
        if not all(ok for _, ok, _ in mine):
            bad.add(p)
        digests.append((p, _digest(con, "SELECT * FROM corpus") + "/" + _digest(con, "SELECT * FROM plan")))
    dig, bad_dig = _same_digests("corpus+packing_plan", digests)
    return checks + [dig], bad | bad_dig


def batch_eod(run_dir, passes, truth):
    """Per pass: clean bars = the generator's valid, unique (symbol, date)
    rows; all symbols upper case; mart_stock_performance has one row per
    clean bar; mart_daily_summary one row per trade date; and the digests
    of the three outputs (without the run-time dbt_updated_at stamp) are
    the same in every pass."""
    con = _con()
    want_bars, want_dates = int(truth["clean_bars"]), int(truth["trade_dates"])
    checks, bad, digests = [], set(), []
    for p in passes:
        out = os.path.join(run_dir, "out", f"p{p}")
        con.execute(f"CREATE OR REPLACE VIEW bars AS SELECT * FROM read_parquet("
                    f"'{out}/bars/*/*.parquet', hive_partitioning = true)")
        con.execute(f"CREATE OR REPLACE VIEW perf AS SELECT * EXCLUDE (dbt_updated_at) FROM read_parquet("
                    f"'{out}/marts/mart_stock_performance/*/*.parquet', hive_partitioning = true)")
        con.execute(f"CREATE OR REPLACE VIEW summary AS SELECT * EXCLUDE (dbt_updated_at) FROM read_parquet("
                    f"'{out}/marts/mart_daily_summary/*.parquet')")
        n_bars, n_lower = con.execute(
            "SELECT count(*), count(*) FILTER (WHERE symbol <> upper(symbol)) FROM bars").fetchone()
        n_perf = con.execute("SELECT count(*) FROM perf").fetchone()[0]
        n_sum, n_dates = con.execute("SELECT count(*), count(DISTINCT trade_date) FROM summary").fetchone()
        mine = [
            (f"p{p} clean bars = valid unique (symbol, date)", n_bars == want_bars, f"{n_bars} vs {want_bars}"),
            (f"p{p} symbols upper case", n_lower == 0, f"{n_lower} lower-case rows"),
            (f"p{p} mart_stock_performance one row per bar", n_perf == n_bars, f"{n_perf} vs {n_bars}"),
            (f"p{p} mart_daily_summary one row per trade date", n_sum == want_dates == n_dates,
             f"{n_sum} rows, {n_dates} dates, {want_dates} expected"),
        ]
        checks += mine
        if not all(ok for _, ok, _ in mine):
            bad.add(p)
        digests.append((p, "/".join(_digest(con, f"SELECT * FROM {t}") for t in ("bars", "perf", "summary"))))
    dig, bad_dig = _same_digests("bars+marts", digests)
    return checks + [dig], bad | bad_dig
