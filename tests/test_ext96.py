"""Wave 97: link prediction, KMV set algebra, Krippendorff alpha, t-closeness."""

from pyspark.sql import functions as F

from etl_poor_main_pipeline_spark.registry_ext96 import (
    _AA_TOPK,
    _KSO_K,
    _TC_BINS,
    q_adamic_adar_linkpred,
    q_kmv_set_ops,
    q_krippendorff_alpha_nominal,
    q_t_closeness_emd,
)

SF = "/root/testdata/sf0.001"


def test_adamic_adar_ranks_and_bounds(spark):
    rows = q_adamic_adar_linkpred(spark, SF).collect()
    assert 0 < len(rows) <= _AA_TOPK
    # ranked by aa desc with (id_a, id_b) tiebreak: a total order
    keys = [(-r.aa_micro, r.id_a, r.id_b) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r.id_a < r.id_b
        assert r.cn >= 1
        # AA weight per shared trigram is at most 1/ln(2) ~ 1.4427e6 and at
        # least 1/ln(cap); RA is within (0, 0.5e6]
        assert 0 < r.aa_micro <= r.cn * 1_442_695
        assert 0 < r.ra_micro <= r.cn * 500_000


def test_kmv_set_ops_consistency(spark):
    rows = q_kmv_set_ops(spark, SF).collect()
    assert len(rows) == 10  # C(5,2) event-type pairs
    # exact ground truth at this SF (few distinct users -> sketches exact)
    from etl_poor_main_pipeline_spark.sources.read import load_table

    e = load_table(spark, SF, "events")
    truth = {
        r.event_type: set(x.user_id for x in e.where(F.col("event_type") == r.event_type).select("user_id").distinct().collect())
        for r in e.select("event_type").distinct().collect()
    }
    for r in rows:
        a, b = truth[r.type_a], truth[r.type_b]
        if len(a) < _KSO_K and len(b) < _KSO_K:
            assert r.est_a == len(a) and r.est_b == len(b)
            assert r.est_union == len(a | b)
            assert r.est_intersect == len(a & b)
        assert 0 <= r.jaccard_micro <= 1_000_000
        assert r.est_union >= max(r.est_a, r.est_b)


def test_krippendorff_alpha_in_range(spark):
    r = q_krippendorff_alpha_nominal(spark, SF).collect()
    assert len(r) == 1
    row = r[0]
    assert row.n_units > 0 and row.n_ratings >= 2
    assert row.e_pairs >= 0 and row.s_scaled >= 0
    # nominal alpha is bounded below by -1 in pathological cases; <= 1 always
    assert -2_000_000 <= row.alpha_micro <= 1_000_000


def test_t_closeness_rows_and_bounds(spark):
    rows = q_t_closeness_emd(spark, SF).collect()
    assert len(rows) == 5  # one per event_type
    for r in rows:
        assert r.n_g > 0
        # 1-D EMD over normalized histograms is within [0, 1]
        assert 0 <= r.emd_micro <= 1_000_000
        assert r.meets_t == (r.emd_micro <= 200_000)
    # fixed bin domain: recompute one group's EMD in python as a check
    from etl_poor_main_pipeline_spark.sources.read import load_table

    e = load_table(spark, SF, "events").select("event_type", "value").collect()
    import collections

    glob = collections.Counter()
    grp = collections.defaultdict(collections.Counter)
    for row in e:
        b = min(_TC_BINS - 1, max(0, int(row.value // 10)))
        glob[b] += 1
        grp[row.event_type][b] += 1
    n = sum(glob.values())
    et = rows[0].event_type
    ng = sum(grp[et].values())
    cum_p = cum_q = 0.0
    emd = 0.0
    for b in range(_TC_BINS - 1):
        cum_p += glob[b] / n
        cum_q += grp[et][b] / ng
        emd += abs(cum_p - cum_q)
    emd /= _TC_BINS - 1
    assert abs(rows[0].emd_micro - round(emd * 1e6)) <= 2
