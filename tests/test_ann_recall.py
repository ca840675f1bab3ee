"""Recall gates for the approximate top-k paths.  The value oracles
replicate each algorithm, so they cannot see recall; these tests
measure recall@5 against the exact ``brute_force_topk`` on the sf0.1
embeddings with the knobs ``bench.py`` runs (LSH: dim 64, 4 planes,
16 tables; IVF: 32 cells, nprobe 4).  Hyperplanes and the IVF
quantizer are seeded, so each recall is a fixed number."""

import os

import pytest
from pyspark.sql import functions as F

from marc2rdf_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)

# the sf0.1 table bench.py reads by default (TESTDATA.md); fixed, so
# the gate measures one table whatever bench.py is pointed at
EMBEDDINGS = "/root/testdata/sf0.1/embeddings.parquet"
MIN_RECALL_AT_5 = 0.9

pytestmark = pytest.mark.skipif(
    not os.path.exists(EMBEDDINGS), reason="sf0.1 embeddings not present"
)


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(EMBEDDINGS).repartition(4).cache()
    df.count()
    yield df
    df.unpersist()


def _neighbours(df) -> dict:
    got: dict = {}
    for r in df.select("q_id", "n_id").collect():
        got.setdefault(r.q_id, set()).add(r.n_id)
    return got


def _recall_at_5(emb, approx) -> float:
    q = emb.filter(F.col("vec_id") < 10)
    truth = _neighbours(brute_force_topk(emb, q, k=5))
    got = _neighbours(approx(emb, q))
    assert len(truth) == 10 and all(len(v) == 5 for v in truth.values())
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    return hits / sum(len(v) for v in truth.values())


def test_lsh_topk_recall_at_5(emb):
    recall = _recall_at_5(
        emb,
        lambda e, q: lsh_topk(e, q, k=5, dim=64, n_planes=4, n_tables=16),
    )
    assert recall >= MIN_RECALL_AT_5, recall


def test_ivf_topk_recall_at_5(emb):
    recall = _recall_at_5(
        emb,
        lambda e, q: ivf_topk(
            e, q, k=5, n_cells=32, nprobe=4, vectorized=True
        ),
    )
    assert recall >= MIN_RECALL_AT_5, recall
