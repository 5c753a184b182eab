"""kNN label classification: agreement with an exact NumPy computation
on the real embeddings table, plus hand-built tie-break cases."""

import numpy as np
from pyspark.sql import functions as F

from impresso_ta.operators.knn import knn_classify

SF = "/root/testdata/sf0.001"


def test_knn_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = {
        r["query_id"]: r["pred_label"]
        for r in knn_classify(
            emb.filter(F.col("vec_id") >= 10),
            emb.filter(F.col("vec_id") < 10).drop("label"),
            k=5,
        ).collect()
    }
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    labels = {r["vec_id"]: r["label"] for r in rows}
    corpus_ids = sorted(i for i in vecs if i >= 10)
    for qid in range(10):
        qv = vecs[qid]
        sims = [
            (
                round(
                    float(
                        vecs[cid] @ qv / (np.linalg.norm(vecs[cid]) * np.linalg.norm(qv))
                    ),
                    4,
                ),
                cid,
            )
            for cid in corpus_ids
        ]
        top = sorted(sims, key=lambda t: (-t[0], t[1]))[:5]
        votes = {}
        for s, cid in top:
            lab = labels[cid]
            n, ss = votes.get(lab, (0, 0.0))
            votes[lab] = (n + 1, ss + s)
        pred = min(
            votes, key=lambda lab: (-votes[lab][0], -round(votes[lab][1], 4), lab)
        )
        assert out[qid] == pred, (qid, out[qid], pred, votes)


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_knn_majority_beats_nearest(spark):
    # nearest neighbor has label 9, but 2-of-3 vote goes to label 1
    corpus = _emb_df(
        spark,
        [
            (10, [1.0, 0.0], 9),
            (11, [0.9, 0.1], 1),
            (12, [0.8, 0.2], 1),
        ],
    )
    queries = _emb_df(spark, [(0, [1.0, 0.0], 0)]).drop("label")
    r = knn_classify(corpus, queries, k=3).collect()[0]
    assert r["pred_label"] == 1 and r["n_votes"] == 2


def test_knn_tie_breaks_on_similarity_then_label(spark):
    # 2 votes each; label 5's members are closer → wins on sim_sum
    corpus = _emb_df(
        spark,
        [
            (10, [1.0, 0.0], 5),
            (11, [0.9, 0.1], 5),
            (12, [0.1, 0.9], 2),
            (13, [0.0, 1.0], 2),
        ],
    )
    queries = _emb_df(spark, [(0, [1.0, 0.1], 0)]).drop("label")
    r = knn_classify(corpus, queries, k=4).collect()[0]
    assert r["pred_label"] == 5
    # exact symmetric tie → smaller label
    corpus2 = _emb_df(
        spark,
        [
            (10, [1.0, 0.0], 7),
            (11, [0.0, 1.0], 3),
        ],
    )
    queries2 = _emb_df(spark, [(0, [1.0, 1.0], 0)]).drop("label")
    r2 = knn_classify(corpus2, queries2, k=2).collect()[0]
    assert r2["pred_label"] == 3 and r2["n_votes"] == 1
