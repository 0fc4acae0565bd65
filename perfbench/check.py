"""Per-step correctness check: every step output is compared with the DuckDB
oracle of the graft gate it mirrors (perfbench/oracles/<step>.sql), run on
the step's actual inputs, so each step is judged on its own. Rows are
compared exactly, columns by name, as graft's oracle gate compares them.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

import fasthash

ORACLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracles")

# derived inputs of the curation steps, built from earlier step outputs
KEPT = "SELECT doc_id, text FROM out_lang_quality WHERE keep"
EXACT = f"SELECT * FROM ({KEPT}) WHERE doc_id IN (SELECT keep_id FROM out_exact_dedup)"
SURVIVORS = f"SELECT * FROM ({EXACT}) WHERE doc_id NOT IN (SELECT id_b FROM out_near_dedup)"
STG = "SELECT * FROM out_stg_frames"
EVENTS = "SELECT * FROM in_events"

# step -> the views its oracle reads
STEPS = {
    "kwwhat": [
        ("stg_frames", {"events": EVENTS}),
        ("status_changes", {"events": STG}),
        ("transactions", {"events": STG}),
        ("sessions", {"events": STG}),
        ("visits", {"events": STG}),
        ("offline_gaps", {"events": STG}),
        ("uptime_daily", {"events": STG}),
        ("interval_15m", {"events": STG}),
        ("faulted_outages", {"events": STG}),
        ("metric_layer", {"sessions": "SELECT * FROM out_sessions",
                          "uptime_daily": "SELECT * FROM out_uptime_daily"}),
        ("stream_changes", {"events": EVENTS}),
        ("stream_sessions", {"events": EVENTS}),
    ],
    "curation": [
        ("html_extract", {"documents": "SELECT * FROM in_documents"}),
        ("lang_quality", {"dg": "SELECT * FROM out_html_extract"}),
        ("exact_dedup", {"documents": KEPT}),
        ("near_dedup", {"documents": EXACT}),
        ("tokenize", {"documents": SURVIVORS}),
        ("pack", {"documents": SURVIVORS}),
    ],
}


def _lang_quality(con):
    con.register("mlpred", fasthash.lang_ml(con.execute("SELECT doc_id, text FROM dg").df()))
    return con.execute(fasthash.lang_quality_sql_without_ml()).df()


def _near_dedup(con):
    return fasthash.minhash_pairs(con.execute("SELECT doc_id, text FROM documents").df())


# steps whose oracle runs through the vectorized replay in fasthash.py
FAST = {"lang_quality": _lang_quality, "near_dedup": _near_dedup}


def oracle(con, step, fast=True):
    """The oracle result of `step` over the views already in place."""
    if fast and step in FAST:
        return FAST[step](con)
    with open(os.path.join(ORACLES, f"{step}.sql"), encoding="utf-8") as fh:
        return con.execute(fh.read()).df()


def _register(con, name, path):
    """View over a Spark-written parquet directory, UTC timestamps as
    plain TIMESTAMP (the type the oracles were written against)."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return
    src = f"read_parquet({files!r})"
    tz = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
          if r[1] == "TIMESTAMP WITH TIME ZONE"]
    rep = f" REPLACE ({', '.join(f'CAST({c} AS TIMESTAMP) AS {c}' for c in tz)})" if tz else ""
    con.execute(f"CREATE VIEW {name} AS SELECT *{rep} FROM {src}")


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s) or (
                s.dtype == object and len(s) > 0 and s.map(lambda v: isinstance(v, int)).all()):
            try:
                df[c] = s.astype("int64")
            except (TypeError, OverflowError, ValueError):
                pass
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """None when equal, else a one-line reason."""
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows, oracle {len(b)}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        same = (av == bv) | (pd.isna(av) & pd.isna(bv))
        if not np.asarray(same).all():
            i = int(np.flatnonzero(~np.asarray(same))[0])
            return f"column {c} differs, e.g. {a[c].iloc[i]!r} vs {b[c].iloc[i]!r}"
    return None


def check(workload, work):
    """{step: reason} for every step whose output is missing or differs."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass  # without ICU, TIMESTAMPTZ casts are UTC already
    for prefix, sub in (("in", "input"), ("out", "output")):
        for d in glob.glob(os.path.join(work, sub, "*.parquet")):
            _register(con, f"{prefix}_{os.path.basename(d)[:-len('.parquet')]}", d)
    failed = {}
    for step, views in STEPS[workload]:
        out = os.path.join(work, "output", f"{step}.parquet")
        files = sorted(glob.glob(os.path.join(out, "*.parquet")))
        if not files:
            failed[step] = "no output"
            continue
        try:
            for name, sql in views.items():
                con.execute(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")
            want = oracle(con, step)
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        except duckdb.Error as e:
            failed[step] = f"oracle error: {str(e).splitlines()[0][:200]}"
            continue
        reason = compare(got, want)
        if reason:
            failed[step] = reason
    con.close()
    return failed
