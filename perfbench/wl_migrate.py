"""``migrate``: vector-io's own job, migration round trips.

Set-up: seeded vectors (``embeddings`` rows with seeded noise and
shuffled string ids) are loaded into an ``EmbeddedVectorDB`` collection,
and a seeded ``documents`` sample is written as a VDF dataset.

One timed unit is ``ROUNDS`` round trips from a fresh session, as a
migration job runs. One round:

1. export: ``paginated_read`` the collection (materialized, so the
   connector scan is charged to ``sources``) -> ``write_vdf``;
2. import: ``read_vdf`` -> ``partitioned_upsert`` into a new collection;
3. ``import_vdf_to_index(kind="ivf")`` from the exported dataset;
4. ``append_to_ivf_index`` with a seeded, tokened delta;
5. ``export_index_to_vdf`` of the grown index;
6. ``reembed_vdf(backend="hash")`` over the documents dataset.

Check (after the timed section, for every round): VDF_META counts equal
the input rows, the new collection holds every input id, and ids and
vectors round-trip exactly through the raw IVF layout.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen
from harness import Unit

NAME = "migrate"
N_VECTORS = 2_000  # sf0.1 embeddings
N_DELTA = 200
N_DOCS = 1_000
SHARD_ROWS = 250
NUM_CELLS = 8
ROUNDS = 3


def _schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])


def _frame(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({
        "id": [str(i) for i in ids],
        "embedding": list(vecs),
        "label": labels.astype("int32"),
    })


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def prepare(ctx, rep: int) -> None:
    from vector_io_spark.format.writer import write_vdf
    from vector_io_spark.sources import EmbeddedVectorDB

    rng = np.random.default_rng(ctx.seed)
    vecs, labels = datagen.embeddings(rng, N_VECTORS + N_DELTA)
    ids = rng.permutation(N_VECTORS + N_DELTA) + 10_000_000
    src = _frame(ids[:N_VECTORS], vecs[:N_VECTORS], labels[:N_VECTORS])
    delta = _frame(ids[N_VECTORS:], vecs[N_VECTORS:], labels[N_VECTORS:])
    docs = datagen.documents_table(rng, N_DOCS)

    base = os.path.join(ctx.work, f"prep{rep}")
    shutil.rmtree(os.path.join(ctx.work, f"prep{rep - 1}"), ignore_errors=True)
    db_root = os.path.join(base, "db")
    db = EmbeddedVectorDB(db_root)
    db.create_collection("emb", dimensions=datagen.EMB_DIM, metric="Cosine")
    for lo in range(0, N_VECTORS, SHARD_ROWS):
        db.upsert_batch("emb", src.iloc[lo:lo + SHARD_ROWS])
    docs_vdf = os.path.join(base, "docs_vdf")
    docs_df = ctx.spark.createDataFrame(docs.to_pandas()).withColumnRenamed("doc_id", "id")
    write_vdf({("docs", ""): docs_df}, docs_vdf)

    both = pd.concat([src, delta])
    ctx.state.update(
        db_root=db_root,
        docs_vdf=docs_vdf,
        delta_df=ctx.spark.createDataFrame(delta, _schema()),
        expected=dict(zip(both["id"], both["embedding"])),
        inputs={
            "vectors": N_VECTORS, "delta_vectors": N_DELTA, "documents": N_DOCS,
            "rows": N_VECTORS + N_DELTA + N_DOCS,
            "bytes": _dir_bytes(db_root) + _dir_bytes(docs_vdf),
        },
    )


def unit(ctx, i: int) -> Unit:
    """``ROUNDS`` round trips; an operation's latency is one round trip,
    what a migration's user waits for (each public call is a span)."""
    lat = []
    for r in range(i * ROUNDS, (i + 1) * ROUNDS):
        with ctx.tracer.span("migrate.round") as s:
            _round(ctx, r)
        lat.append(s.wall)
    return Unit(rows=ROUNDS * N_VECTORS, latencies=lat)


def _round(ctx, i: int) -> None:
    from vector_io_spark.embed import reembed_vdf
    from vector_io_spark.format.reader import read_vdf
    from vector_io_spark.format.writer import write_vdf
    from vector_io_spark.operators.export_catalog import (
        export_index_to_vdf,
        import_vdf_to_index,
    )
    from vector_io_spark.operators.similarity import append_to_ivf_index
    from vector_io_spark.sources import EmbeddedVectorDB, paginated_read, partitioned_upsert

    spark, tr, st = ctx.spark, ctx.tracer, ctx.state
    rd = os.path.join(ctx.work, f"round{i}")
    vdf1, vdf2 = os.path.join(rd, "vdf_export"), os.path.join(rd, "vdf_index")
    ivf, dst_root = os.path.join(rd, "ivf"), os.path.join(rd, "db_copy")
    db_root = st["db_root"]

    with tr.span("paginated_read", "sources") as s:
        df = paginated_read(spark, lambda: EmbeddedVectorDB(db_root), "emb", _schema(),
                            parallelism=ctx.cores).cache()
        s.results = df.count()
    with tr.span("write_vdf", "format"):
        write_vdf({("emb", ""): df}, vdf1, exported_from="embedded",
                  vector_columns=["embedding"], metric="cosine")
    df.unpersist()
    with tr.span("read_vdf", "format"):
        ds = read_vdf(spark, vdf1)
    with tr.span("partitioned_upsert", "sources"):
        EmbeddedVectorDB(dst_root).create_collection("emb", datagen.EMB_DIM, "Cosine")
        partitioned_upsert(ds.df("emb"), lambda: EmbeddedVectorDB(dst_root), "emb",
                           batch_size=500, num_partitions=ctx.cores)
    with tr.span("import_vdf_to_index", "operators.export_catalog"):
        import_vdf_to_index(spark, vdf1, ivf, kind="ivf", num_cells=NUM_CELLS, seed=ctx.seed)
    with tr.span("append_to_ivf_index", "operators.similarity"):
        append_to_ivf_index(st["delta_df"], ivf, corpus_id="id", corpus_vec="embedding",
                            delta_token=f"delta-{i}")
    with tr.span("export_index_to_vdf", "operators.export_catalog"):
        export_index_to_vdf(spark, ivf, vdf2, kind="ivf", index_name="emb",
                            id_column="id", vector_column="embedding")
    with tr.span("reembed_vdf", "embed"):
        reembed_vdf(read_vdf(spark, st["docs_vdf"]), os.path.join(rd, "docs_reembedded"),
                    text_column="text", backend="hash")


def _meta_count(vdf: str, index: str) -> int:
    with open(os.path.join(vdf, "VDF_META.json")) as fh:
        meta = json.load(fh)
    return sum(ns["total_vector_count"] for ns in meta["indexes"][index])


def _round_problems(rd: str, expected: dict) -> list[str]:
    from vector_io_spark.sources import EmbeddedVectorDB

    problems = []
    if _meta_count(os.path.join(rd, "vdf_export"), "emb") != N_VECTORS:
        problems.append(f"export VDF_META count != {N_VECTORS}")
    if EmbeddedVectorDB(os.path.join(rd, "db_copy")).count("emb") != N_VECTORS:
        problems.append(f"imported collection count != {N_VECTORS}")
    vdf2 = os.path.join(rd, "vdf_index")
    if _meta_count(vdf2, "emb") != N_VECTORS + N_DELTA:
        problems.append(f"index export VDF_META count != {N_VECTORS + N_DELTA}")
    back = pq.read_table(os.path.join(vdf2, "emb"), columns=["id", "embedding"]).to_pydict()
    got = dict(zip(back["id"], back["embedding"]))
    if got.keys() != expected.keys() or any(
        not np.array_equal(np.asarray(got[k], dtype=np.float32), expected[k]) for k in expected
    ):
        problems.append("ids/vectors differ after the IVF round trip")
    if _meta_count(os.path.join(rd, "docs_reembedded"), "docs") != N_DOCS:
        problems.append(f"re-embedded VDF_META count != {N_DOCS}")
    return problems


def check(ctx, units) -> tuple[int, list[str]]:
    """Check every round; a round with any problem is one failed operation."""
    failed, problems = 0, []
    for i in range(len(units) * ROUNDS):
        found = _round_problems(os.path.join(ctx.work, f"round{i}"), ctx.state["expected"])
        failed += bool(found)
        problems += [f"round {i}: {p}" for p in found]
    return failed, problems
