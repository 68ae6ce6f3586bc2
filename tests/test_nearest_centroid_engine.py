"""The integer nearest-centroid contract shared by k-means, PQ, the
trained-IVF probe and the nearest-centroid classifier: integer squared
distance, ties to the lowest centroid index, and one ValueError naming
the vec_id for a malformed vector (raised in the Python worker, it
reaches the driver wrapped in Spark's PythonException)."""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException

from skyway_spark.operators.kmeans import kmeans_fit_assign, pq_codes
from skyway_spark.operators.similarity import nearest_centroid_confusion


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_codes_tie_picks_lower_code(spark):
    # iters=0 keeps the k lowest-id init rows as sub-centroids:
    # block 0 = {-1, 0, 1}, block 1 = {1, 0, -1}
    df = _vectors(
        spark,
        [
            (0, [-1.0, 1.0]),
            (1, [0.0, 0.0]),
            (2, [1.0, -1.0]),
            (3, [0.5, 0.5]),  # block 0 ties codes 1/2, block 1 ties 0/1
            (4, [-0.5, -0.5]),  # block 0 ties codes 0/1, block 1 ties 1/2
        ],
    )
    got = {
        r.vec_id: (r.code_0, r.dist_0, r.code_1, r.dist_1)
        for r in pq_codes(df, m=2, k=3, iters=0, dim=2).collect()
    }
    half_sq = (1 << 19) ** 2
    assert got[3] == (1, half_sq, 0, half_sq)
    assert got[4] == (0, half_sq, 1, half_sq)
    assert got[1] == (1, 0, 1, 0)


def test_nearest_centroid_tie_picks_lower_label(spark):
    # label 5's mean (0.0 + 1.0) / 2 and label 3's 0.5 are the same
    # centroid, so every vector ties and must go to label 3
    df = spark.createDataFrame(
        [(0, [0.0], 5), (1, [1.0], 5), (2, [0.5], 3)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r.label, r.pred): r.n for r in nearest_centroid_confusion(df).collect()}
    assert got == {(5, 3): 2, (3, 3): 1}


def _malformed(spark, bad):
    rows = [(i, [0.1 * i, -0.1 * i, 0.05 * i, 0.2]) for i in range(8)]
    return _vectors(spark, rows + [(42, bad)])


@pytest.mark.parametrize("bad", [None, [0.5, 0.5]], ids=["null", "short"])
def test_kmeans_malformed_vector_names_vec_id(spark, bad):
    with pytest.raises(PythonException, match=r"ValueError: vec_id 42: vector 'q'"):
        kmeans_fit_assign(_malformed(spark, bad), k=2, iters=1).collect()


@pytest.mark.parametrize("bad", [None, [0.5, 0.5]], ids=["null", "short"])
def test_pq_codes_malformed_vector_names_vec_id(spark, bad):
    with pytest.raises(PythonException, match=r"ValueError: vec_id 42: vector '__q"):
        pq_codes(_malformed(spark, bad), m=2, k=2, iters=1, dim=4).collect()


def test_malformed_init_vector_names_vec_id(spark):
    # the lowest id seeds the codebook: the check runs on the driver
    df = _vectors(spark, [(0, None), (1, [0.0, 1.0]), (2, [1.0, 0.0])])
    with pytest.raises(ValueError, match=r"vec_id 0: vector 'q'"):
        kmeans_fit_assign(df, k=2, iters=1)


def test_null_element_names_vec_id(spark):
    df = _vectors(spark, [(0, [0.0, 1.0]), (1, [1.0, 0.0]), (7, [0.5, None])])
    with pytest.raises(PythonException, match=r"ValueError: vec_id 7"):
        kmeans_fit_assign(df, k=2, iters=1).collect()
