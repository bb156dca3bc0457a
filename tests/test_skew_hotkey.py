"""Hot-key skew behavior for shuffle joins.

A 100 TB dedup run lives or dies on what happens when one blocking key
holds a huge share of the rows (a boilerplate-heavy crawl: one (lang,
fingerprint) block with 50% of documents). The engine session keeps
AQE skew-join splitting ON, so shuffle joins get runtime re-splitting
of oversized partitions; aggregations over hot keys use the two-phase
salted groupBy (``operators/skew.salted_sum_count``).
"""

from __future__ import annotations


def test_session_keeps_aqe_skew_join_on(spark):
    """Unsalted shuffle joins rely on AQE's runtime skew splitting —
    the engine session must keep it enabled."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
