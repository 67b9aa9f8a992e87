"""Independent correctness checks, made with DuckDB after the timed region.

  compare_queries()  each query_mix result against its SparkEntry oracle SQL,
                     run by DuckDB over the same generated tables: same
                     column names, same row count, equal values after a
                     canonical row sort (exact, as the repo's oracle gate).
  recount_stages()   CorpusPipeline's reported StageCounts against a recount
                     of the parquet it staged.
"""
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
STAGES = ["survivors", "deboiled", "quality", "gated", "balanced", "clean",
          "chunks", "packed"]


def _plain(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _rows(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [[_plain(v) for v in r] for r in df.itertuples(index=False)]
    return list(df.columns), sorted(rows, key=lambda r: json.dumps(
        r, default=str))


def compare_queries(out_dir, oracle_sql, tables_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = []
    for q, sql in sorted(oracle_sql.items()):
        try:
            got = con.execute("SELECT * FROM read_parquet("
                              f"'{out_dir}/{q}/*.parquet')").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # a missing output or a broken oracle fails
            out.append((f"oracle_{q}", False, str(e)[:300]))
            continue
        gc, gr = _rows(got)
        ec, er = _rows(exp)
        if gc != ec:
            out.append((f"oracle_{q}", False, f"columns {gc} vs {ec}"))
        elif len(gr) != len(er):
            out.append((f"oracle_{q}", False, f"rows {len(gr)} vs {len(er)}"))
        else:
            diff = next((i for i, (a, b) in enumerate(zip(gr, er)) if a != b),
                        None)
            out.append((f"oracle_{q}", diff is None,
                        f"{len(gr)} rows" if diff is None else
                        f"row {diff}: {gr[diff]} vs {er[diff]}"))
    con.close()
    return out


def recount_stages(out_dir, counts):
    con = duckdb.connect()
    out = []
    for st in STAGES:
        try:
            n = con.execute("SELECT count(*) FROM read_parquet("
                            f"'{out_dir}/{st}/*.parquet')").fetchone()[0]
        except Exception as e:
            out.append((f"stage_{st}", False, str(e)[:300]))
            continue
        out.append((f"stage_{st}", n == counts[st], f"{n} vs {counts[st]}"))
    con.close()
    return out
