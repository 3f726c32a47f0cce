"""``serve``: read-only catalog probes, bound by job latency.

Set-up: persisted IVF, IVFPQ and SQ8 catalogs over seeded ``embeddings``
(with ``label`` kept as filterable metadata) and a sparse-postings
catalog over seeded ``documents``.

The probe mix is a fixed list of ten probe specs with seeded queries:
the three dense catalogs at batch sizes 1 and 16 (each once with and
once without a ``where=`` filter), plus the sparse and hybrid batch
probes at batch sizes 1 and 16. One timed unit runs the list ``CYCLES``
times from a fresh session, in a seeded order, each probe collected to
the driver.

Check: every timed probe result equals a reference run of the same
probe made after the timed section, and IVF at ``nprobe == num_cells``
equals a NumPy brute-force top-k.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from harness import Unit

NAME = "serve"
N_VECTORS = 2_000
N_DOCS = 5_000
NUM_CELLS = 16
NPROBE = 4
K = 10
FILTER = "label < 5"
CYCLES = 2  # probe cycles per timed unit


def _specs() -> list[tuple[str, int, bool]]:
    """(kind, batch size, filtered): every kind at batch 1 and 16; each
    dense kind probed once with and once without the filter."""
    dense = [(kind, b, (b == 16) == (kind != "ivfpq")) for kind in ("ivf", "ivfpq", "sq8") for b in (1, 16)]
    return dense + [(kind, b, False) for kind in ("sparse", "hybrid") for b in (1, 16)]


def prepare(ctx, rep: int) -> None:
    from vector_io_spark.operators.ranking import bm25_sparse_vectors
    from vector_io_spark.operators.similarity import write_ivf_index, write_ivfpq_index
    from vector_io_spark.operators.sparse_index import write_sparse_index
    from vector_io_spark.operators.sq8 import write_sq8_index

    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)
    emb_t = datagen.embeddings_table(rng, N_VECTORS)
    docs_t = datagen.documents_table(rng, N_DOCS)
    base = os.path.join(ctx.work, f"prep{rep}")
    shutil.rmtree(os.path.join(ctx.work, f"prep{rep - 1}"), ignore_errors=True)
    os.makedirs(base)
    pq.write_table(emb_t, os.path.join(base, "embeddings.parquet"))
    pq.write_table(docs_t, os.path.join(base, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    docs = spark.read.parquet(os.path.join(base, "documents.parquet"))

    paths = {k: os.path.join(base, k) for k in ("ivf", "ivfpq", "sq8", "sparse")}
    meta = ("label",)
    write_ivf_index(emb, paths["ivf"], num_cells=NUM_CELLS, seed=ctx.seed, metadata_cols=meta)
    write_ivfpq_index(emb, paths["ivfpq"], num_cells=NUM_CELLS, seed=ctx.seed, metadata_cols=meta)
    write_sq8_index(emb, paths["sq8"], num_cells=NUM_CELLS, seed=ctx.seed, metadata_cols=meta)
    write_sparse_index(bm25_sparse_vectors(docs, "doc_id", "text"), paths["sparse"], num_shards=8)

    buckets = sorted(set(pq.read_table(os.path.join(paths["sparse"], "postings"),
                                       columns=["bucket"]).column("bucket").to_pylist()))
    vecs = np.asarray(emb_t.column("embedding").to_pylist(), dtype=np.float32)
    probes = []
    for spec in _specs():
        batch = spec[1]
        picks = rng.choice(N_VECTORS, batch, replace=False)
        qv = vecs[picks] + 0.05 * rng.standard_normal((batch, datagen.EMB_DIM))
        qv = (qv / np.linalg.norm(qv, axis=1, keepdims=True)).astype(np.float32)
        terms = [[(int(b), 1.0) for b in rng.choice(buckets, 3, replace=False)]
                 for _ in range(batch)]
        probes.append((spec, qv, terms))
    order = rng.permutation(len(probes))
    ctx.state.update(
        paths=paths, probes=[probes[i] for i in order], vecs=vecs,
        inputs={
            "vectors": N_VECTORS, "documents": N_DOCS, "rows": N_VECTORS + N_DOCS,
            "bytes": sum(os.path.getsize(os.path.join(base, f))
                         for f in ("embeddings.parquet", "documents.parquet")),
            "probes_per_unit": len(probes),
        },
    )


def _query_frame(spark, qv: np.ndarray):
    from vector_io_spark.session import local_rows_df

    return local_rows_df(spark, [(i, [float(x) for x in v]) for i, v in enumerate(qv)],
                         "query_id bigint, embedding array<float>")


def _probe(ctx, spec, qv, terms, nprobe=NPROBE):
    """Run one probe and return its rows, sorted."""
    from vector_io_spark.operators.hybrid import hybrid_indexed_topk_batch
    from vector_io_spark.operators.similarity import ivf_index_probe_topk, ivfpq_index_probe_topk
    from vector_io_spark.operators.sparse_index import sparse_index_probe_topk_batch
    from vector_io_spark.operators.sq8 import sq8_index_probe_topk

    spark, paths = ctx.spark, ctx.state["paths"]
    kind, _, filtered = spec
    where = FILTER if filtered else None
    if kind == "sparse":
        df = sparse_index_probe_topk_batch(spark, paths["sparse"], list(enumerate(terms)), k=K)
    elif kind == "hybrid":
        df = hybrid_indexed_topk_batch(spark, paths["sparse"], paths["ivf"], list(enumerate(terms)),
                                       _query_frame(spark, qv), k=K, nprobe=NPROBE)
    else:
        fn = {"ivf": ivf_index_probe_topk, "ivfpq": ivfpq_index_probe_topk,
              "sq8": sq8_index_probe_topk}[kind]
        df = fn(spark, paths[kind], _query_frame(spark, qv), k=K, nprobe=nprobe, where=where)
    return sorted(tuple(r) for r in df.collect())


_LAYER = {"ivf": "operators.similarity", "ivfpq": "operators.similarity",
          "sq8": "operators.sq8", "sparse": "operators.sparse_index", "hybrid": "operators.hybrid"}


def unit(ctx, i: int) -> Unit:
    lat, rows = [], 0
    for _ in range(CYCLES):
        for spec, qv, terms in ctx.state["probes"]:
            kind, batch, filtered = spec
            with ctx.tracer.span(f"{kind}-b{batch}{'-where' if filtered else ''}", _LAYER[kind]) as s:
                res = _probe(ctx, spec, qv, terms)
                s.results = len(res)
            lat.append(s.wall)
            rows += batch
            ctx.state.setdefault("got", []).append(res)
    return Unit(rows=rows, latencies=lat)


def _brute_force_problems(ctx) -> list[str]:
    """IVF probing every cell must equal exact top-k by cosine."""
    vecs = ctx.state["vecs"]
    _, qv, terms = next(p for p in ctx.state["probes"] if p[0][:2] == ("ivf", 16))
    got = _probe(ctx, ("ivf", 16, False), qv, terms, nprobe=NUM_CELLS)
    ids = pc.cast(pq.read_table(os.path.join(ctx.state["paths"]["ivf"], "cells"),
                                columns=["vec_id"]).column("vec_id"), "int64").to_numpy()
    order = np.argsort(ids)
    ids = ids[order]
    corpus = vecs[ids]  # vec_id is the row number in the generated table
    qn = qv.astype(np.float64)
    scores = np.round(qn @ corpus.astype(np.float64).T
                      / np.linalg.norm(qn, axis=1)[:, None]
                      / np.linalg.norm(corpus, axis=1)[None, :], 6)
    problems = []
    by_q: dict[int, list] = {}
    for q, vid, score, rank in got:
        by_q.setdefault(q, []).append((rank, vid, score))
    for q in range(len(qv)):
        top = sorted(range(len(ids)), key=lambda j: (-scores[q, j], ids[j]))[:K]
        want = [int(ids[j]) for j in top]
        have = [vid for _, vid, _ in sorted(by_q.get(q, []))]
        if have != want:
            problems.append(f"ivf nprobe=num_cells query {q}: {have} != brute force {want}")
    return problems


def check(ctx, units) -> tuple[int, list[str]]:
    st = ctx.state
    n = len(st["probes"])
    expected = [_probe(ctx, *p) for p in st["probes"]]
    problems = []
    for j, res in enumerate(st["got"]):
        if res != expected[j % n]:
            problems.append(f"probe {j} ({st['probes'][j % n][0]}) differs from its reference run")
    failed = len(problems)
    bf = _brute_force_problems(ctx)
    return failed + (1 if bf else 0), problems + bf
