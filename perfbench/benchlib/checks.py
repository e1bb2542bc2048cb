"""Output checks and the operation counts behind `ok_share`.

An operation is one expected state key plus each injected poisoned
message (stream workloads), or one query (batch_mix). It fails if it
threw or its output check mismatched.
"""

ORACLE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings")


def stream_ops(keys, key_mismatches, poisoned, dlq):
    """(attempted, failed) for a stream run. Every expected or live key is
    one operation and fails when its (last_value, n_changes) differ or it
    is on one side only; every poisoned message is one operation and
    fails unless the DLQ holds its offset. A DLQ offset nobody poisoned is
    a failure too, counted against the key it should have updated."""
    poisoned, dlq = set(poisoned), set(dlq)
    attempted = keys + len(poisoned)
    failed = key_mismatches + len(poisoned - dlq) + len(dlq - poisoned)
    return attempted, min(failed, attempted)


def frame_rows(df):
    """Rows as sorted tuples of str() cells over name-sorted columns: the
    cell compare tools/selfcheck.py makes."""
    cols = sorted(df.columns)
    rows = [tuple(str(v) for v in t) for t in df[cols].itertuples(index=False)]
    rows.sort()
    return rows


def compare_frames(expected, actual):
    """None when the frames match, else a one-line reason."""
    ecols, acols = sorted(expected.columns), sorted(actual.columns)
    if ecols != acols:
        return f"columns differ: oracle {ecols} spark {acols}"
    if len(expected) != len(actual):
        return f"rows differ: oracle {len(expected)} spark {len(actual)}"
    bad = sum(1 for x, y in zip(frame_rows(expected), frame_rows(actual)) if x != y)
    return f"{bad}/{len(expected)} rows differ" if bad else None


def oracle_check(sf_dir, out_dir, oracle_sql, queries):
    """{query: None or reason} comparing each written result with its
    DuckDB oracle."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for q in queries:
        sql = oracle_sql.get(q)
        if sql is None:
            out[q] = "no oracle SQL"
            continue
        try:
            out[q] = compare_frames(con.execute(sql).fetchdf(), pd.read_parquet(f"{out_dir}/{q}"))
        except Exception as e:  # a query that threw or wrote nothing fails
            out[q] = f"compare error: {e}"
    con.close()
    return out


def batch_ops(queries, errors, mismatches):
    """(attempted, failed) for batch_mix: one operation per query, failed
    when it threw in either pass or its rows differ from the oracle."""
    failed = sum(1 for q in queries if errors.get(q) or mismatches.get(q))
    return len(queries), failed
