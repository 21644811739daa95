"""Hot-key detection + salting helpers."""

from __future__ import annotations

import pyspark.sql.functions as F

from rocket_etl_spark.generate import change_events
from rocket_etl_spark.operators.skew import detect_hot_keys, with_salt


def test_detect_hot_keys_finds_the_zipf_head(spark):
    ev = change_events(spark, 30_000, seed=31, n_repos=50, skew=6.0)
    hot = detect_hot_keys(ev, ["repo"], sample_fraction=0.2, hot_share=0.1)
    assert hot, "expected at least one hot repo"
    # the detected keys really are the head of the distribution
    top = {r["repo"] for r in ev.groupBy("repo").count().orderBy(F.desc("count")).limit(5).collect()}
    assert all(hk[0] in top for hk in hot)


def test_with_salt_spreads_only_hot_keys(spark):
    ev = change_events(spark, 10_000, seed=31, n_repos=50, skew=6.0)
    hot = detect_hot_keys(ev, ["repo"], sample_fraction=0.3, hot_share=0.1)
    salted = with_salt(ev, ["repo"], hot, salt_buckets=8, entropy_col="event_seq")
    pdf = salted.groupBy("repo", "_salt").count().toPandas()
    hot_names = {h[0] for h in hot}
    assert pdf[pdf.repo.isin(hot_names)]._salt.nunique() == 8   # hot: spread
    cold = pdf[~pdf.repo.isin(hot_names)]
    assert (cold._salt == 0).all()                              # cold: untouched
    # deterministic: same entropy column -> same salt
    pdf2 = with_salt(ev, ["repo"], hot, salt_buckets=8, entropy_col="event_seq").groupBy(
        "repo", "_salt").count().toPandas()
    assert pdf.sort_values(["repo", "_salt"]).reset_index(drop=True).equals(
        pdf2.sort_values(["repo", "_salt"]).reset_index(drop=True))
