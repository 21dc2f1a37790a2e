"""Output checks.

`oracle_failures` compares query outputs written as parquet against the
DuckDB oracle SQL (`SparkEntry.oracleSql`) over the same input tables, with
the rules of `scripts/check_oracle.py`, in its order: column names (sorted),
row count, dtype kind per column (signed and unsigned ints alike), then
values: floats exactly (NaN equal to NaN), everything else as strings.

`digest_failures` compares the digests of query outputs written as parquet
with the ones recorded from a run that passed the oracle (`digests.json`).
A digest depends on the row order, as the oracle comparison does."""
import glob
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(got, want):
    """Reasons why frame `got` differs from `want`; empty when they match."""
    import numpy as np
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    norm = lambda k: {"u": "i"}.get(k, k)
    why = [f"{c}: dtype {got[c].dtype} vs {want[c].dtype}" for c in got.columns
           if norm(got[c].dtype.kind) != norm(want[c].dtype.kind)]
    for c in got.columns:
        a, b = got[c], want[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a = a.astype(float).to_numpy()
            b = b.astype(float).to_numpy()
            same = (a == b) | (np.isnan(a) & np.isnan(b))
            if not same.all():
                i = int(np.argmin(same))
                why.append(f"{c}: row {i}: {a[i]!r} != {b[i]!r}")
        else:
            sa, sb = a.astype(str).to_numpy(), b.astype(str).to_numpy()
            if not (sa == sb).all():
                i = int(np.argmax(sa != sb))
                why.append(f"{c}: row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}")
    return why


def read_output(out_dir):
    """A query's output written as parquet under out_dir, as one frame in
    row order, or None if nothing was written."""
    import pandas as pd
    # Part files in name order are the result's partitions in order.
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def digest(df):
    """Digest of a frame: its column names (sorted) with their dtype kind,
    its row count, and a SHA-256 over the per-row hashes in row order.
    Integer columns hash as int64 and floats as float64, so the digest
    follows the values the oracle compares and not a widened column type."""
    import hashlib
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    kinds = []
    for c in df.columns:
        k = {"u": "i"}.get(df[c].dtype.kind, df[c].dtype.kind)
        if k in ("i", "f"):
            df[c] = df[c].astype({"i": "int64", "f": "float64"}[k])
        kinds.append(f"{c}:{k}")
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return f"{','.join(kinds)}|{len(df)}|{hashlib.sha256(rows.tobytes()).hexdigest()}"


def oracle_failures(sf_dir, out_dir, oracle_sql, queries, threads):
    """{query: reason} for each query whose parquet output under out_dir
    differs from its oracle result."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failed = {}
    for q in queries:
        got = read_output(os.path.join(out_dir, q))
        if q not in oracle_sql:
            failed[q] = "no oracle SQL"
        elif got is None:
            failed[q] = "no output written"
        else:
            why = compare(got, con.execute(oracle_sql[q]).df())
            if why:
                failed[q] = "; ".join(why[:3])
    con.close()
    return failed


def digest_failures(out_dir, expected, queries):
    """{query: reason} for each query whose output under out_dir has another
    digest than the record."""
    failed = {}
    for q in queries:
        got = read_output(os.path.join(out_dir, q))
        if q not in expected:
            failed[q] = "no recorded digest"
        elif got is None:
            failed[q] = "no output written"
        elif (d := digest(got)) != expected[q]:
            failed[q] = f"digest {d} != recorded {expected[q]}"
    return failed
