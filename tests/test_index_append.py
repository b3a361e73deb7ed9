"""The append contract every persisted index shares (cpx_etl_spark/
scratch.py append_index): an append that crashed after landing every
table but the last is retried to completion, each table then holds each
id's rows exactly once and serves like a one-shot build over both
batches, and a batch that landed whole is refused."""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from cpx_etl_spark.operators import dedup as D
from cpx_etl_spark.operators import similarity as S
from cpx_etl_spark.sources import load_table

PQ = dict(m=8, k_codes=16, dim=64)


@dataclass(frozen=True)
class Kind:
    """One appendable index kind. The one-shot reference is the union
    of both batches written at once or, for a ``trained`` kind (its
    append keeps batch 1's centroids or codebook), batch 1's index with
    batch 2 appended uncrashed."""

    source: str  # the corpus table the batches come from
    write: Callable  # (batch, path) -> None
    append: Callable  # (batch, path) -> None
    last: str  # the table an append writes last
    serve: Callable  # (spark, sf_dir, path) -> DataFrame
    trained: bool


def _new_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)


def _queries(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)


def _graph_serve(spark, sf_dir, path):
    idx = S.read_knn_graph_index(spark, path)
    edges = idx.table("edges").select(
        F.col("vec_id").alias("a"),
        F.explode(F.array("n1", "n2", "n3")).alias("b"),
    ).filter(F.col("b").isNotNull())
    return S.graph_beam_search(
        _queries(spark, sf_dir), idx.table("assignments"),
        idx.table("centroids"), edges, "vec_id", "embedding",
        k=10, beam=16, rounds=4, nprobe=8, per_cell=8, dim=64,
    )


KINDS = {
    "signature": Kind(
        "documents",
        lambda b, p: D.write_signature_index(b, p, "doc_id", "text",
                                             n=2, k=8, bands=4),
        D.append_to_signature_index, "counts",
        lambda spark, sf, p: D.cross_corpus_minhash_pairs_indexed(
            _new_docs(spark, sf), D.read_signature_index(spark, p),
            threshold=0.3),
        trained=False,
    ),
    "winnow": Kind(
        "documents",
        lambda b, p: D.write_winnow_index(b, p, "doc_id", "text", k=4, w=4),
        D.append_to_winnow_index, "fps",
        lambda spark, sf, p: D.cross_corpus_winnow_pairs_indexed(
            _new_docs(spark, sf), D.read_winnow_index(spark, p),
            min_shared=2, max_ref_df=64),
        trained=False,
    ),
    "ivf": Kind(
        "embeddings",
        lambda b, p: S.write_ivf_index(b, p, "vec_id", "embedding", "label"),
        S.append_to_ivf_index, "assignments",
        lambda spark, sf, p: S.ivf_topk_indexed(
            _queries(spark, sf), S.read_ivf_index(spark, p),
            "vec_id", "embedding", k=10, nprobe=2, dim=64),
        trained=True,
    ),
    "knn_graph": Kind(
        "embeddings",
        lambda b, p: S.write_knn_graph_index(b, p, "vec_id", "embedding"),
        S.append_to_knn_graph_index, "assignments", _graph_serve,
        trained=True,
    ),
    "pq": Kind(
        "embeddings",
        lambda b, p: S.write_pq_index(b, p, "vec_id", "embedding", **PQ),
        S.append_to_pq_index, "codes",
        lambda spark, sf, p: S.pq_serve(
            _queries(spark, sf), S.read_pq_index(spark, p), k=10, rerank=3),
        trained=True,
    ),
    "pq_cells": Kind(
        "embeddings",
        lambda b, p: S.write_pq_index(b, p, "vec_id", "embedding", **PQ,
                                      cell_col="label", by_residual=True),
        S.append_to_pq_index, "cells",
        lambda spark, sf, p: S.pq_serve(
            _queries(spark, sf), S.read_pq_index(spark, p),
            k=10, rerank=3, nprobe=2),
        trained=True,
    ),
}


def _crash_before(table: str):
    """DataFrameWriter.parquet that fails on ``table``'s directory: the
    append stops after landing every table written before it."""
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if os.path.basename(os.path.normpath(path)) == table:
            raise RuntimeError(f"crash before writing {table}")
        return real(self, path, *args, **kwargs)

    return parquet


@pytest.fixture(scope="module", params=sorted(KINDS))
def appended(request, spark, sf_dir, tmp_path_factory):
    """(kind, batch 2, the crashed-then-retried index, the one-shot
    reference) for each kind. Batch 1 holds the even ids, batch 2 the
    rest of the standing side."""
    kind = KINDS[request.param]
    data = load_table(spark, sf_dir, kind.source)
    ident = F.col("doc_id" if kind.source == "documents" else "vec_id")
    if kind.source == "documents":  # odd doc_ids are the probing crawl
        b1, b2 = data.filter(ident % 4 == 0), data.filter(ident % 4 == 2)
    else:
        b1, b2 = data.filter(ident % 2 == 0), data.filter(ident % 2 == 1)
    root = tmp_path_factory.mktemp(request.param)
    inc, ref = str(root / "inc"), str(root / "ref")
    kind.write(b1, inc)
    if kind.trained:
        shutil.copytree(inc, ref)
        kind.append(b2, ref)
    else:
        kind.write(b1.unionByName(b2), ref)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", _crash_before(kind.last))
        with pytest.raises(RuntimeError, match="crash before"):
            kind.append(b2, inc)
    kind.append(b2, inc)  # the retry
    return kind, b2, inc, ref


def _rows(spark, path):
    def plain(v):
        return tuple(map(plain, v)) if isinstance(v, (list, tuple)) else v

    df = spark.read.parquet(path)
    return sorted((plain(list(r)) for r in df.select(sorted(df.columns)).collect()),
                  key=repr)


def _tables(path):
    return sorted(d for d in os.listdir(path) if not d.startswith(("_", ".")))


def test_retry_after_crash_lands_each_row_once(appended, spark):
    _, _, inc, ref = appended
    assert _tables(inc) == _tables(ref)
    for name in _tables(ref):
        got = _rows(spark, os.path.join(inc, name))
        assert got == _rows(spark, os.path.join(ref, name)), name
        assert got, name


def test_retry_after_crash_serves_like_one_shot(appended, spark, sf_dir):
    kind, _, inc, ref = appended
    got = sorted(map(tuple, kind.serve(spark, sf_dir, inc).collect()))
    assert got == sorted(map(tuple, kind.serve(spark, sf_dir, ref).collect()))
    assert got


def test_batch_that_landed_whole_is_refused(appended, spark):
    kind, b2, inc, _ = appended
    before = _rows(spark, os.path.join(inc, kind.last))
    with pytest.raises(ValueError, match="already exists"):
        kind.append(b2.limit(1), inc)
    assert _rows(spark, os.path.join(inc, kind.last)) == before
