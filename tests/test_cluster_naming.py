"""operators/cluster.name_clusters against a pandas reference: every
member's cluster_id is its cluster's minimum member name, on labels
with one giant component, singletons and names that tie on prefix."""

import numpy as np
import pandas as pd

from datasketches_java_spark.operators.cluster import name_clusters


def test_name_clusters_matches_pandas_min_name(spark):
    rng = np.random.default_rng(3)
    n = 400
    keys = rng.permutation(n).astype(np.int64)
    # 220 rows (55%) in one component, 24 clusters of 2..9, 60 singletons
    sizes = [220] + list(range(2, 10)) * 2 + [4] * 8 + [1] * 60
    assert sum(sizes) == n
    cluster = np.repeat(np.arange(len(sizes)), sizes)
    labels = pd.DataFrame({"id64": keys, "__c": cluster})
    grouped = labels.groupby("__c")["id64"]
    labels["cluster_id"] = grouped.transform("min")
    labels["cluster_size"] = grouped.transform("size").astype(np.int32)
    labels = labels.drop(columns="__c")
    # "img_1" < "img_10" < "img_100" < "img_11": string order, not key
    # or number order, decides the name
    names = pd.DataFrame({
        "id64": keys,
        "image_id": [f"img_{j}" for j in rng.permutation(np.arange(1, n + 1))],
    })

    got = name_clusters(
        spark.createDataFrame(labels, "id64 long, cluster_id long, cluster_size int"),
        spark.createDataFrame(names, "id64 long, image_id string"),
        "id64",
    ).toPandas()

    ref = labels.merge(names, on="id64")
    ref["cluster_id"] = ref.groupby("cluster_id")["image_id"].transform("min")
    key = ["image_id", "cluster_id", "cluster_size"]
    assert list(got.columns) == key
    assert sorted(map(tuple, got[key].itertuples(index=False))) == sorted(
        map(tuple, ref[key].itertuples(index=False)))
