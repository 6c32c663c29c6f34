"""Connected-components collapse pinned against a driver-side union-find."""

from etl_poor_main_pipeline_spark.operators.dedup import connected_components


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in component
    labels = {}
    for x in range(n_nodes):
        r = find(x)
        labels.setdefault(r, min(i for i in range(n_nodes) if find(i) == r))
    return {x: labels[find(x)] for x in range(n_nodes)}


def test_components_match_union_find(spark):
    edges = [(0, 1), (1, 2), (3, 4), (6, 7), (7, 8), (8, 9), (9, 6)]
    n = 10  # node 5 is a singleton
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    got = {
        r.doc_id: r.component
        for r in connected_components(pairs, nodes).collect()
    }
    assert got == _union_find(n, edges)
    assert got[5] == 5  # singleton keeps itself


def test_components_chain_converges(spark):
    # a long path graph stresses iteration count (diameter = n-1)
    n = 12
    edges = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    got = {r.doc_id: r.component for r in connected_components(pairs, nodes).collect()}
    assert set(got.values()) == {0}  # one component labeled by the min id
