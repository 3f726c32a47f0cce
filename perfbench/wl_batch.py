"""``batch``: the curation and analytics side — 18 registered queries.

Set-up: a seeded copy of the engine's ten tables (relational tables at
sf0.1). A fixed share of documents and embeddings is re-appended as
perturbed near-duplicates, and fact-table rows are written in a seeded
order. There is no warm-up: a batch job runs in a fresh session.

One timed unit (a pass) runs the 18 queries in a fixed order via
``QUERIES[name](spark, dir)``, each collected to the driver. The first
pass is the session's first, so it includes JIT and Python-worker
start-up; at the benchmark's run length a run holds one pass.

Check: every collected result equals the query's registered
``oracle_sql`` on DuckDB over the same files, order-insensitive, with
the column names, dtypes and value formatting rules of the engine's
oracle gate.
"""

from __future__ import annotations

import math
import os
import shutil

import pandas as pd

import datagen
from harness import Unit

NAME = "batch"
SIZES = datagen.Sizes(sf=0.1, documents=400, embeddings=1_000)
DUP_SHARE = 0.1

# query -> the module that implements it (its layer in the traced record)
QUERY_LAYER = {
    "dedup_minhash_lsh": "operators.dedup",
    "dedup_ngram_jaccard": "operators.dedup",
    "dedup_quality_survivors": "operators.dedup",
    "incremental_neardup": "operators.dedup",
    "dup_passage_spans": "queries",
    "semdedup_keep": "operators.semdedup",
    "text_quality": "queries",
    "dsir_importance_weights": "operators.corpus",
    "sketch_catalog_overlap": "operators.sketches",
    "hll_distinct_users": "operators.sketches",
    "bpe_merge_table": "operators.bpe",
    "kmeans_cluster_profile": "operators.pq_exact",
    "pca_whiten_project": "operators.decomposition",
    "supplier_pagerank": "operators.graph",
    "copurchase_triangles": "operators.graph",
    "rfm_segments": "operators.events",
    "q1_pricing_summary": "queries",
    "profit_by_nation_year": "queries",
}


def prepare(ctx, rep: int) -> None:
    tables = datagen.make_tables(ctx.seed, SIZES, DUP_SHARE)
    shutil.rmtree(os.path.join(ctx.work, f"prep{rep - 1}"), ignore_errors=True)
    data = os.path.join(ctx.work, f"prep{rep}")
    nbytes = datagen.write_tables(tables, data)
    ctx.state.update(
        data=data,
        inputs={
            "rows": sum(t.num_rows for t in tables.values()),
            "bytes": nbytes,
            "tables": {k: t.num_rows for k, t in tables.items()},
            "dup_share": DUP_SHARE,
        },
    )


def unit(ctx, i: int) -> Unit:
    from vector_io_spark.queries import QUERIES

    lat, rows = [], {}
    for q, layer in QUERY_LAYER.items():
        with ctx.tracer.span(q, layer) as s:
            rows[q] = QUERIES[q](ctx.spark, ctx.state["data"]).toPandas()
            s.results = len(rows[q])
        lat.append(s.wall)
    ctx.state.setdefault("rows", []).append(rows)
    return Unit(rows=ctx.state["inputs"]["rows"], latencies=lat)


def _is_float(series) -> bool:
    return str(series.dtype).startswith("float")


def _fmt(v) -> str:
    return "nan" if v is None or math.isnan(v) else f"{v:.10g}"


def _sorted(df):
    """``df`` with columns by name, rows sorted by their formatted values
    (non-float columns first), and the formatted copy."""
    cols = sorted(df.columns, key=lambda c: (_is_float(df[c]), c))
    key = pd.DataFrame({c: df[c].map(_fmt) if _is_float(df[c]) else df[c].map(repr) for c in cols})
    order = key.sort_values(cols).index
    return df.loc[order, cols].reset_index(drop=True), key.loc[order].reset_index(drop=True)


def _last_place(v: float) -> float:
    """One unit in the last decimal place of ``repr(v)``."""
    mant, _, exp = repr(float(v)).lower().partition("e")
    decimals = len(mant.partition(".")[2])
    return 10.0 ** (int(exp or 0) - decimals)


def _tie(a: float, b: float) -> bool:
    """A rounded value on which two engines broke a half-way tie apart:
    they differ by one unit in the last decimal place."""
    return abs(a - b) <= 1.000001 * max(_last_place(a), _last_place(b))


def compare(spark_pd, duck_pd) -> str | None:
    """Why two result frames differ, or None. Column names, dtypes and row
    count must match; values match order-insensitively, floats at 10
    significant digits or within a rounding tie (see ``_tie``)."""
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        return f"columns {sorted(spark_pd.columns)} != {sorted(duck_pd.columns)}"
    for c in spark_pd.columns:
        if str(spark_pd[c].dtype) != str(duck_pd[c].dtype):
            return f"dtype of {c}: {spark_pd[c].dtype} != {duck_pd[c].dtype}"
    if len(spark_pd) != len(duck_pd):
        return f"{len(spark_pd)} rows != {len(duck_pd)}"
    (a, ka), (b, kb) = _sorted(spark_pd), _sorted(duck_pd)
    for c in ka.columns:
        for i in (ka[c] != kb[c]).to_numpy().nonzero()[0]:
            if not (_is_float(a[c]) and _tie(a[c][i], b[c][i])):
                return f"{c} row {i}: {ka[c][i]} != {kb[c][i]}"
    return None


def check(ctx, units) -> tuple[int, list[str]]:
    """Every collected query result against its DuckDB oracle."""
    import duckdb

    from vector_io_spark.queries import ORACLE

    data = ctx.state["data"]
    con = duckdb.connect()
    try:
        con.sql(f"SET temp_directory = '{os.path.join(ctx.work, 'duckdb_tmp')}'")
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        oracle = {q: con.sql(ORACLE[q]).df() for q in QUERY_LAYER}
    finally:
        con.close()
    problems = []
    for i, rows in enumerate(ctx.state["rows"]):
        for q, got in rows.items():
            why = compare(got, oracle[q])
            if why:
                problems.append(f"pass {i} {q}: {why}")
    return len(problems), problems
