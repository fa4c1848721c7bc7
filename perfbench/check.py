"""Output checks, run after the JVM has exited (outside every timed pass).

Gates: the warm-up pass writes each gate's result as parquet. A gate with
an oracle must match it on row count and on an order-independent digest
of its rows (columns sorted by name, values as their pandas string form,
rows sorted); the oracle SQL comes from SparkEntry.oracleSql and runs live
in DuckDB over the same fixture files. A gate without an oracle must
return rows.

Flight: every TrainApp.run / ScoreApp.run call leaves parquet and CSV
sinks. Their row counts must agree, and MAE / RMSE of prediction against
ArrDelay must stay within the reference bounds that MLQuality enforces.
"""

import glob
import hashlib
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MAE_BOUND, RMSE_BOUND = 8.07, 12.87


def digest(df):
    """Row count and order-independent digest of a pandas frame."""
    cols = sorted(df.columns)
    rows = sorted("\x1f".join(r) for r in
                  df[cols].astype(str).itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), h.hexdigest()


def gates(names, data, work, oracle):
    """Returns {gate: reason} for every gate whose output is wrong."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    bad = {}
    for g in names:
        out = os.path.join(work, "check", g)
        if not glob.glob(os.path.join(out, "*.parquet")):
            bad[g] = "no output"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out}/*.parquet')").fetchdf()
            if g not in oracle:
                if len(got) == 0:
                    bad[g] = "no rows"
                continue
            want = con.execute(oracle[g]).fetchdf()
            if set(got.columns) != set(want.columns):
                bad[g] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif digest(got) != digest(want):
                bad[g] = f"rows {len(got)} vs oracle {len(want)}, digest differs"
        except Exception as e:  # a check that cannot run is a failed check
            bad[g] = f"check error: {e}"
    return bad


def _sink(con, base):
    """(parquet rows, csv rows, mae, rmse) of one sink pair."""
    n_pq, mae, rmse = con.execute(
        "SELECT count(*), avg(abs(prediction - ArrDelay)), "
        "sqrt(avg((prediction - ArrDelay) ^ 2)) "
        f"FROM read_parquet('{base}.parquet/*.parquet')").fetchone()
    n_csv = con.execute(
        f"SELECT count(*) FROM read_csv('{base}.csv', header=true)").fetchone()[0]
    return n_pq, n_csv, mae, rmse


def flight(work):
    """Returns {op: reason} for every app call whose outputs are wrong."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    bad = {}
    calls = sorted(glob.glob(os.path.join(work, "check", "*")))
    if not calls:
        return {"train": "no outputs", "score": "no outputs"}
    scored_rows = set()
    for d in calls:
        for op, base in (("train", "train/predictions"), ("score", "score/scored")):
            try:
                n_pq, n_csv, mae, rmse = _sink(con, os.path.join(d, base))
            except Exception as e:
                bad[op] = f"{d}: check error: {e}"
                continue
            if n_pq == 0 or n_pq != n_csv:
                bad[op] = f"{d}: parquet rows {n_pq} != csv rows {n_csv}"
            elif not (mae <= MAE_BOUND and rmse <= RMSE_BOUND):
                bad[op] = f"{d}: MAE {mae:.3f} RMSE {rmse:.3f} out of bounds"
            if op == "score":
                scored_rows.add(n_pq)
    if len(scored_rows) > 1:  # one input, one model: same rows every pass
        bad["score"] = f"scored row counts differ across passes: {sorted(scored_rows)}"
    return bad
