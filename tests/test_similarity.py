"""Exact cosine top-k on a clustered fixture: the brute-force operator
agrees with a Python reference."""

import math
import random

import pytest
from pyspark.sql import functions as F

from cloudbrush_spark.operators import similarity


@pytest.fixture(scope="module")
def clustered(spark):
    """4 well-separated clusters x 25 vectors in 8-d."""
    rng = random.Random(3)
    centers = [[10 * (1 if i == c else 0) for i in range(8)] for c in range(4)]
    rows = []
    vid = 0
    for c, ctr in enumerate(centers):
        for _ in range(25):
            rows.append((vid, c, [x + rng.gauss(0, 0.5) for x in ctr]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, cluster int, embedding array<double>")


def test_bruteforce_topk_is_exact(spark, clustered):
    q = clustered.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk_bruteforce(clustered, q, k=5)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    # python reference for query 0
    data = {r.vec_id: r.embedding for r in clustered.collect()}
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))
    want = sorted(((cos(data[0], v), k) for k, v in data.items() if k != 0),
                  key=lambda t: (-t[0], t[1]))[:5]
    got = sorted(((r.cosine, r.neighbor_id) for r in rows if r.query_id == 0),
                 key=lambda t: (-t[0], t[1]))
    assert [k for _, k in want] == [k for _, k in got]
