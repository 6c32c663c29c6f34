"""Wave 20: PageRank over the near-dup graph, Z-order layout."""

from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.registry_ext19 import (
    _z_expr,
    q_pagerank_docs,
    q_zorder_layout,
)
from etl_poor_main_pipeline_spark.sources.read import load_table

SF = "/root/testdata/sf0.001"


def test_pagerank_conserves_and_ranks_hubs(spark):
    n = load_table(spark, SF, "documents").count()
    rows = q_pagerank_docs(spark, SF).collect()
    assert len(rows) == n
    total = sum(r.rank_nano for r in rows) / 1e9
    # dangling rank is dropped, never created: total in (0, 1]
    assert 0.0 < total <= 1.0 + 1e-6
    base_nano = round(0.15 / n * 1e9)
    # every rank is at least the teleport term
    assert all(r.rank_nano >= base_nano - 1 for r in rows)


def test_pagerank_reliable_checkpoint_matches_local(spark, tmp_path):
    """A deployment-configured ``spark.checkpoint.dir`` turns every
    ``session.barrier`` into ``df.checkpoint()`` against fault-tolerant
    storage (the 100 TB posture); ranks must be bit-identical to the
    local-checkpoint default. The reliable side runs in its own
    subprocess session: a checkpoint dir cannot be unset, so on the
    shared session it would turn every later test's barriers reliable."""
    import json
    import os
    import subprocess
    import sys

    assert spark.sparkContext.getCheckpointDir() is None
    local = {r.doc_id: r.rank_nano for r in q_pagerank_docs(spark, SF).collect()}

    ckpt = tmp_path / "ckpt"
    script = f"""
import json
from etl_poor_main_pipeline_spark.registry_ext19 import q_pagerank_docs
from etl_poor_main_pipeline_spark.session import get_spark

spark = get_spark(
    master="local[2]",
    extra_confs={{"spark.checkpoint.dir": {str(ckpt)!r}}},
)
assert spark.sparkContext.getCheckpointDir() is not None
rows = q_pagerank_docs(spark, {SF!r}).collect()
print(json.dumps({{r.doc_id: r.rank_nano for r in rows}}))
spark.stop()
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "ENGINE_DRIVER_MEMORY": "2g"},
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    ).stdout
    reliable = {int(k): v for k, v in json.loads(out.splitlines()[-1]).items()}
    assert reliable == local
    # the reliable path actually wrote checkpoint data to the dir
    assert any(p.is_file() for p in ckpt.rglob("*"))


def test_zorder_morton_bit_exact(spark):
    # z(3, 5): x=0b011 -> even positions 0,2; y=0b101 -> odd positions 1,5
    # z = 1 + 4 (x bits) + 2 + 32 (y bits) = 39
    row = spark.sql(f"SELECT ({_z_expr('3', '5')}) AS z").collect()[0]
    assert row.z == 39
    # interleave is a bijection on the 16-bit box: distinct inputs, distinct z
    df = spark.range(100).selectExpr(
        "id % 10 AS x", "id div 10 AS y"
    ).selectExpr(f"({_z_expr('x', 'y')}) AS z")
    assert df.distinct().count() == 100


def test_zorder_buckets_are_tight_in_both_dims(spark):
    rows = q_zorder_layout(spark, SF).collect()
    assert rows
    # z-bucketing must bound BOTH dimensions: every bucket's span in each
    # raw dimension is far below the global span (the skipping property)
    o = load_table(spark, SF, "orders")
    g = o.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("ck_span"),
    ).collect()[0]
    if len(rows) >= 4:  # tiny SFs may collapse to a couple of buckets
        avg_ck_span = sum(r.custkey_max - r.custkey_min for r in rows) / len(rows)
        assert avg_ck_span < g.ck_span
