"""``session.scratch_dir``: one scratch root per Spark application, removed
when the interpreter exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"

#: Per-call-site temp directory prefixes used before scratch_dir existed;
#: none may appear directly under the temp dir any more.
_OLD_PREFIXES = (
    "ivf_", "csv_rt_", "jsonl_rt_", "schema_evo_", "upsert_", "orc_rt_",
    "lay_", "pq_codes_", "manifest_stream_",
)


def test_scratch_root_removed_at_exit(tmp_path):
    """A session builds the IVF index and runs two queries that write
    scratch files, then exits: its root is gone and no old-style per-site
    directory was left in the temp dir."""
    script = f"""
import json
from etl_poor_main_pipeline_spark.operators.similarity import ensure_ivf_index
from etl_poor_main_pipeline_spark.registry_ext12 import q_similarity_pq_serving
from etl_poor_main_pipeline_spark.registry_ext41 import q_csv_quoting_round_trip
from etl_poor_main_pipeline_spark.session import get_spark, scratch_dir

spark = get_spark(master="local[2]")
idx = ensure_ivf_index(spark, {SF!r}, num_centroids=16)
n = q_csv_quoting_round_trip(spark, {SF!r}).count()
n += q_similarity_pq_serving(spark, {SF!r}).count()
root = scratch_dir(spark)
print(json.dumps({{"root": root, "index": idx, "rows": n}}))
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path), "ENGINE_DRIVER_MEMORY": "2g"},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["rows"] > 0
    assert rep["root"].startswith(str(tmp_path) + os.sep + "spark_graft_")
    assert rep["index"].startswith(rep["root"] + os.sep)
    assert not os.path.exists(rep["root"])
    left = sorted(p.name for p in tmp_path.iterdir() if p.name.startswith(_OLD_PREFIXES))
    assert left == []
    assert not list(tmp_path.glob("spark_graft_*"))
