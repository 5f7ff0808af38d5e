"""Pinned-cache registry: semantic_dedup pins its cluster assignment
(read three times); release_pins() must free every pin (round-2
ADVICE: the pins used to leak executor storage for the session)."""

import numpy as np

from pyogrio_spark import release_pins
from pyogrio_spark.cache import pinned_count
from pyogrio_spark.operators.similarity import make_centroids, semantic_dedup


def test_release_pins_frees_semantic_dedup_pin(spark):
    release_pins()  # start clean
    # other modules legitimately hold session-lifetime caches (query
    # fixtures, checkpoints pending GC) — assert against a snapshot, not
    # global emptiness, so the check is order-independent
    before = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    # 10 random directions, each repeated 10 times: every copy after the
    # lowest key is an exact duplicate (cosine 1), distinct directions in
    # 16-d are far below the threshold
    dirs = np.random.default_rng(5).normal(0, 1, (10, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in dirs[i % 10]]) for i in range(100)],
        "vec_id bigint, embedding array<float>",
    )
    out = semantic_dedup(df, make_centroids(16, 4), threshold=0.99)
    n = out.count()  # materialize while the pin is alive
    assert n == 10  # one kept row per direction
    assert pinned_count() >= 1
    released = release_pins()
    assert released >= 1 and pinned_count() == 0
    # no NEW cached RDD blocks left behind by the pinned operator
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    leaked = [str(i) for i in infos if i.id() not in before]
    assert not leaked, leaked
