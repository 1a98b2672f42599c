"""Output gate: compares what a run wrote with the DuckDB oracle built from
the program's own oracle SQL (the CTE chains graft keeps next to each
operator), over the same generated inputs.

Results are compared as order-independent digests: a row count plus the
wrapping sum of per-row hashes over name-sorted, type-normalized columns.
Oracle results depend only on the inputs and the oracle SQL, so they are
cached in the input directory under a hash of that SQL.
"""
import hashlib
import json
import math
import os
from fractions import Fraction

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds


def canon(df):
    out = {}
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64") + 0.0  # folds -0.0 into 0.0
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        else:
            s = s.astype(str)
        out[c] = s.to_numpy()
    return pd.DataFrame(out)


def digest(df):
    if len(df) == 0:
        return [0, 0]
    h = pd.util.hash_pandas_object(canon(df), index=False).to_numpy(np.uint64)
    return [int(len(df)), int(h.sum(dtype=np.uint64))]


def read_output(path):
    return ds.dataset(path, format="parquet").to_table().to_pandas()


def corrupted(df):
    """A copy with one value changed: the gate must reject it."""
    bad = df.copy()
    col = next(c for c in ("eta", "score_micro", "count") if c in bad.columns)
    bad.loc[bad.index[0], col] = bad[col].iloc[0] + 1
    return bad


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def cached(inp, key, sql_parts, compute):
    """Memoizes `compute()` (a JSON-able value) per input dir and SQL."""
    h = hashlib.sha256(json.dumps(sql_parts, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(inp, f"oracle-{key}-{h}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    val = compute()
    with open(path + ".tmp", "w") as fh:
        json.dump(val, fh)
    os.replace(path + ".tmp", path)
    return val


def csv_counts(con, inp):
    """The trend CSV as `raw_counts`, parsed the way `Csv.readCounts` does."""
    con.execute(f"""CREATE VIEW raw_counts AS
        SELECT strptime(trim(c0), '%Y%m%d%H%M%S')::TIMESTAMP AS ts,
               CAST(trim(c1) AS BIGINT) AS duration_sec,
               CAST(trim(c2) AS DOUBLE) AS count, c3 AS counter
        FROM read_csv('{inp}/csv/*.csv', header = false, quote = '',
                      escape = '', delim = ',',
                      columns = {{'c0': 'VARCHAR', 'c1': 'VARCHAR',
                                  'c2': 'VARCHAR', 'c3': 'VARCHAR'}})""")


def trend_batch(inp, work, meta, sql, ties):
    meta = meta["batch"]
    lib = sql["library"]
    lib_in = ", ".join(f"'{n}'" for n in lib)

    def oracle():
        con = connect()
        csv_counts(con, inp)
        con.execute(f"CREATE TABLE rb AS WITH {sql['rebin']}\n"
                    "SELECT counter, ts, duration_sec, count FROM rebinned")
        out = {}
        for m in ("poisson_lc", "poisson_cycle", "linreg", "mk", "wdt"):
            src = "rb" if m != "wdt" else f"(SELECT * FROM rb WHERE counter IN ({lib_in}))"
            where = "" if m == "poisson_lc" else f" WHERE eta > {sql['theta'][m]}"
            q = (f"WITH rebinned AS (SELECT * FROM {src}),\n{sql[m]}\n"
                 f"SELECT counter, ts, count, eta FROM scored{where}")
            out[m] = digest(con.execute(q).df())
        return out

    want = cached(inp, "trend-batch", sql, oracle)
    checks = {}
    lc = None
    for m, d in want.items():
        df = read_output(os.path.join(work, "out", m))
        if m == "poisson_lc":
            lc = df
        if m == "wdt":  # the oracle scores the library's counters only
            df = df[df["counter"].isin(lib)]
        checks[m] = digest(df) == d
        if m == "linreg" and not checks[m]:
            checks[m] = linreg_exact(inp, sql, df, ties)
    checks["rejects_corrupt"] = digest(corrupted(lc)) != want["poisson_lc"]
    return checks, burst_recall(lc, meta["bursts"])


def trim2_exact(x):
    """Rounding.trim2 of a Fraction: the 2-significant-digit half-up
    rounding, its rounding step, and whether x sits exactly on a tie."""
    if x <= 0:
        return Fraction(0), Fraction(0), False
    d = 1 - math.floor(math.log10(x))
    if Fraction(10) ** (1 - d) > x:  # float log10 of an exact power of ten
        d += 1
    step = Fraction(10) ** -d
    scaled = x / step + Fraction(1, 2)
    return math.floor(scaled) * step, step, scaled.denominator == 1


# TrendBatch's LinearRegressionModel parameters
MIN_POINTS = 10
AVG_WINDOW = 3


def linreg_exact(inp, sql, got, ties):
    """LinReg's eta is a slope of small integers, so it can sit exactly on
    a tie of the 2-significant-digit rounding, where an engine's last-ulp
    error decides the side (exact 21/20: DuckDB 1.0499999999999998 → 1.0;
    exact 75/2: Spark 37.4999… → 37). When the run and the oracle disagree,
    every point is recomputed with exact rational arithmetic: the run
    passes when each point equals the exact value, or, on an exact tie,
    one of the tie's two roundings. Tie points are counted in `ties`."""
    con = connect()
    csv_counts(con, inp)
    rb = con.execute(f"WITH {sql['rebin']}\n"
                     "SELECT counter, ts, count FROM rebinned ORDER BY counter, ts").df()
    theta = sql["theta"]["linreg"]
    keyed = {(r.counter, int(t)): r.eta
             for r, t in zip(got.itertuples(), canon(got[["ts"]])["ts"])}
    for counter, g in rb.groupby("counter"):
        counts = [Fraction(int(x)) for x in g["count"]]
        stamps = canon(g[["ts"]])["ts"].to_numpy()
        sx = sy = sxx = sxy = Fraction(0)
        for i, c in enumerate(counts):
            n = i + 1
            avg = sum(counts[n - AVG_WINDOW:n]) / AVG_WINDOW if n >= AVG_WINDOW else 0
            sx, sy, sxx, sxy = sx + n, sy + avg, sxx + n * n, sxy + n * avg
            var = sxx / n - (sx / n) ** 2
            slope = (sxy / n - sx * sy / n / n) / var if var else Fraction(0)
            eta, step, tie = trim2_exact(slope if n >= MIN_POINTS and abs(slope) >= 1e-12
                                         else Fraction(0))
            allowed = {float(e) if e > theta else None
                       for e in ((eta, eta - step) if tie else (eta,))}
            seen = keyed.pop((counter, int(stamps[i])), None)
            if seen not in allowed:
                return False
            ties["linreg"] = ties.get("linreg", 0) + tie
    return not keyed


def burst_recall(scored, bursts):
    """Share of planted bursts among the 10 counters with the highest peak
    score."""
    peak = scored.groupby("counter")["eta"].max().reset_index()
    top = peak.sort_values(["eta", "counter"], ascending=[False, True]).head(10)
    return float(top["counter"].isin(set(bursts)).sum()) / 10.0


def trend_stream(inp, work, sql):
    tag = hashlib.sha256(json.dumps(sql, sort_keys=True).encode()).hexdigest()[:16]

    def oracle():
        con = connect()
        con.execute(f"""CREATE VIEW raw_counts AS
            SELECT ts::TIMESTAMP AS ts, 1::BIGINT AS duration_sec, count, counter
            FROM read_parquet('{inp}/chunks/*.parquet')""")
        con.execute(f"CREATE TABLE rb AS WITH {sql['rebin']}\n"
                    "SELECT counter, ts, duration_sec, count FROM rebinned")
        rows = {}
        for m in ("lc", "mk"):
            df = con.execute(f"WITH rebinned AS (SELECT * FROM rb),\n{sql[m]}\n"
                             "SELECT counter, ts, count, eta FROM scored").df()
            path = os.path.join(inp, f"oracle-stream-{m}-{tag}.parquet")
            df.to_parquet(path + ".tmp")
            os.replace(path + ".tmp", path)
            rows[m] = path
        return rows

    paths = cached(inp, "trend-stream", sql, oracle)
    checks = {}
    for m, path in paths.items():
        got = read_output(os.path.join(work, "out", f"stream_{m}"))
        want = pd.read_parquet(path)
        if len(got) == 0:
            checks[m] = False
            continue
        # scores of a bin depend only on earlier bins, so the full-stream
        # oracle cut at the last emitted bin is the oracle of what streamed
        cut = canon(got[["ts"]])["ts"].max()
        want = want[canon(want[["ts"]])["ts"].to_numpy() <= cut]
        checks[m] = digest(got) == digest(want)
        if m == "lc":
            checks["rejects_corrupt"] = digest(corrupted(got)) != digest(want)
    return checks


def corpus_store(inp, work, meta, sql):
    with open(os.path.join(work, "out", "ids.json")) as fh:
        ids = json.load(fh)
    # a fold re-prices the appended documents into df / n_docs / avgdl;
    # deletions never retract scoring mass
    base = ids["kept"] + (ids["appended"] if ids["lex_action"] == "fold" else [])
    live = sorted(set(ids["kept"] + ids["appended"]) - set(ids["deleted"]))
    key = dict(sql, base=base, live=live)

    def oracle():
        con = connect()
        files = ", ".join(f"'{inp}/{p}_docs.parquet'" for p in ("queries", "base", "pool"))
        con.execute(f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet([{files}])")
        con.execute("CREATE TABLE base_ids(doc_id BIGINT)")
        con.execute("CREATE TABLE live_ids(doc_id BIGINT)")
        con.executemany("INSERT INTO base_ids VALUES (?)", [[i] for i in base])
        con.executemany("INSERT INTO live_ids VALUES (?)", [[i] for i in live])
        return {"bm25": digest(con.execute(sql["bm25"]).df())}

    want = cached(inp, "corpus-store", key, oracle)
    got = read_output(os.path.join(work, "out", "bm25"))
    checks = {"bm25": digest(got) == want["bm25"],
              "rejects_corrupt": digest(corrupted(got)) != want["bm25"]}
    return checks, None


def load_sql(work, name):
    with open(os.path.join(work, f"oracle-{name}.json")) as fh:
        return json.load(fh)


def check(workload, inp, work, meta):
    """(name -> passed, planted-burst recall or None, tie points accepted
    on either side, by model) for one run."""
    ties = {}
    if workload == "corpus-store":
        return corpus_store(inp, work, meta, load_sql(work, "store")) + (ties,)
    checks, recall = trend_batch(inp, work, meta, load_sql(work, "batch"), ties)
    stream = trend_stream(inp, work, load_sql(work, "stream"))
    checks.update({f"stream_{k}": v for k, v in stream.items()})
    return checks, recall, ties
