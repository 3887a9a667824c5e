"""The corpus_analytics workload: the fourteen headline queries of
``__spark_entry__.queries()`` over seed-generated tables.

Each query's result rows are collected inside the timed region, which
materialises every column (a ``.count()`` would let the optimiser prune
them).  Outside the timed region the same rows are compared with the
query's DuckDB oracle from ``__spark_entry__.oracle_sql()`` on the same
parquet files.
"""

from __future__ import annotations

import math
import os
import time

import duckdb

from corpus_tables import write_tables

FAMILIES = {
    "dedup": ["dedup_exact", "minhash_signatures", "lsh_candidate_pairs",
              "dedup_components", "simhash", "doc_fingerprint",
              "first_occurrence_dedup"],
    "ann": ["cosine_topk", "ann_lsh_buckets", "ann_ivf_topk"],
    "sql": ["tpch_pricing", "nation_revenue", "text_quality",
            "politeness_topk"],
}
HEADLINE = [q for qs in FAMILIES.values() for q in qs]
SF = 0.05   # scale factor of the generated tables (corpus_tables)


def write(out_dir: str, seed: int) -> dict:
    """Write the parquet tables; returns rows per table."""
    return write_tables(out_dir, seed, SF)


def load_tables(spark, out_dir: str, names) -> None:
    """Read every table through Spark and materialise all its columns."""
    for name in names:
        spark.read.parquet(os.path.join(out_dir, f"{name}.parquet")) \
            .write.format("noop").mode("overwrite").save()


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    """(sorted column names, sorted normalised rows) of an oracle query."""
    ddf = con.execute(sql).fetch_df()
    cols = sorted(ddf.columns)
    return cols, sorted(tuple(_norm(v) for v in row) for row in
                        ddf[cols].itertuples(index=False, name=None))


def compare(cols: list, rows: list, expected: tuple) -> str | None:
    """Column names and the order-insensitive multiset of rows vs the
    oracle's.  Returns an error or None."""
    exp_cols, exp_rows = expected
    cols = sorted(cols)
    if cols != exp_cols:
        return f"columns {cols} vs oracle {exp_cols}"
    got = sorted(tuple(_norm(r[c]) for c in cols) for r in rows)
    if got != exp_rows:
        return f"rows differ ({len(got)} vs oracle {len(exp_rows)})"
    return None


def oracle_connection(tables_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables_dir, t + '.parquet')}'")
    return con


def run_pass(spark, qs: dict, tables_dir: str, tracer=None,
             tag: str = "") -> tuple[dict, dict, list]:
    """Collect every headline query once; returns per-query seconds, the
    collected (columns, rows) and the errors of queries that raised."""
    times, results, errors = {}, {}, []
    for name in HEADLINE:
        if tracer is not None:
            tracer.run_id = f"{tag}/{name}"
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, tables_dir)
            results[name] = (df.columns, df.collect())
        except Exception as e:  # a failed query is reported, not fatal
            errors.append(f"{name}: {type(e).__name__}: {e}"[:400])
        times[name] = time.perf_counter() - t0
    return times, results, errors
