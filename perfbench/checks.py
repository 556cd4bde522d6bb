"""Output checks made outside the timed passes. Each returns a list of
(operation, problem or None).

- catalog: each query's result against its DuckDB oracle, compared the way
  tools/check.py does (columns sorted by name, rows sorted, exact values).
- corpus: no two survivors share a content hash, and each survivor's split
  is the stable function of its id that Sampling.withSplit documents.
"""
import glob
import hashlib
import json
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ("events", "embeddings", "documents")


def _norm(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _compare(mine, exp):
    a, b = _norm(mine), _norm(exp)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        both_na = av.isna() & bv.isna()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = (both_na | (av == bv)).all()
        else:
            ok = (both_na | (av.astype(str) == bv.astype(str))).all()
        if not ok:
            return f"column {c} differs"
    return None


def catalog(check_dir, main_dir, small_dir, checked_small):
    """Queries in checked_small were run on the small tables."""
    oracle = json.loads((Path(check_dir) / "oracle_sql.json").read_text())
    cons = {}
    for d in (main_dir, small_dir):
        con = cons[d] = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{d}/{t}.parquet')")
    out = []
    for q, sql in sorted(oracle.items()):
        try:
            if not sql:
                out.append((f"oracle {q}", "no oracle SQL"))
                continue
            files = glob.glob(f"{check_dir}/{q}/*.parquet")
            mine = pd.concat([pd.read_parquet(f) for f in files])
            con = cons[small_dir if q in checked_small else main_dir]
            out.append((f"oracle {q}", _compare(mine, con.sql(sql).df())))
        except Exception as e:  # an unreadable result or a failing oracle
            out.append((f"oracle {q}", f"{type(e).__name__}: {e}"[:300]))
    return out


def _bucket(doc_id):
    """Sampling.hashBucket: md5 of the id's string, first 14 hex digits as
    a number, modulo 100."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:14], 16) % 100


def corpus(check_dir, val_pct=10, test_pct=10):
    df = pd.concat(pd.read_parquet(f) for f in
                   glob.glob(f"{check_dir}/corpus/*.parquet"))
    out = []
    hashes = df["text"].map(lambda t: hashlib.md5(
        t.strip(" ").lower().encode()).hexdigest())
    dup = int(hashes.duplicated().sum())
    out.append(("corpus survivors unique", None if dup == 0 else
                f"{dup} survivors share a content hash"))

    def split_of(i):
        b = _bucket(i)
        return "val" if b < val_pct else "test" if b < val_pct + test_pct else "train"
    wrong = int((df["doc_id"].map(split_of) != df["split"]).sum())
    out.append(("corpus split", None if wrong == 0 else
                f"{wrong} of {len(df)} docs in the wrong split"))
    out.append(("corpus non-empty", None if len(df) else "no survivors"))
    return out
