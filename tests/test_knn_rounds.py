"""kNN round bookkeeping: the Observation-fed ring histogram, the bounded
lazy active chain, the guarded density broadcast and the per-call job
budget — each checked against knn_bruteforce."""

import logging

import pytest

from osmspark.operators import knn


@pytest.fixture(scope="module")
def queries(spark):
    pts = [("q0", 1.29, 103.85), ("q1", 1.35, 103.69), ("q2", 1.44, 103.79),
           ("q3", 1.20, 104.05), ("q4", 1.50, 103.62)]
    return spark.createDataFrame(pts, "query_id string, lat double, lon double")


@pytest.fixture(scope="module")
def pts(nodes):
    return nodes.select("id", "lat", "lon")


def _rows(df):
    return sorted((r["query_id"], r["rank"], r["point_id"], round(r["dist"], 6))
                  for r in df.collect())


def _stats(caplog, run):
    """Run `run()` and return the knn_kring DEBUG record's counts."""
    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="osmspark.knn"):
        out = run()
    (rec,) = [r for r in caplog.records if r.name == "osmspark.knn"]
    return out, rec.args  # a lone dict argument becomes record.args


def test_knn_key_table_shuffle_fallback_equals_broadcast(
        pts, queries, caplog, monkeypatch):
    """Forcing the key tables past their broadcast guard takes the
    shuffle joins (density counts, per-round done ids) and yields the same
    frame as the default path."""
    default, st = _stats(caplog, lambda: _rows(
        knn.knn_kring(pts, queries, k=10, res=8)))
    assert st["density_join"] == "broadcast"
    monkeypatch.setattr(knn, "BROADCAST_KEY_ROWS", 0)
    forced, st = _stats(caplog, lambda: _rows(
        knn.knn_kring(pts, queries, k=10, res=8)))
    assert st["density_join"] == "merge"
    assert forced == default and len(default) == 50


def test_knn_five_rounds_equals_bruteforce(spark, caplog):
    """A decoy in the query's cell makes the density estimate start at
    ring 2 while the second neighbour sits ~1.6 km out: the rings double
    2 -> 32 over five rounds, crossing the every-4th-round checkpoint of
    the lazy active chain."""
    points = [("decoy", 1.30001, 103.80)] + [
        (f"n{i}", 1.3144 + 0.0001 * i, 103.80) for i in range(5)]
    p = spark.createDataFrame(points, "id string, lat double, lon double")
    q = spark.createDataFrame([("q", 1.30, 103.80)],
                              "query_id string, lat double, lon double")
    got, st = _stats(caplog, lambda: _rows(
        knn.knn_kring(p, q, k=2, res=11, max_ring=64)))
    assert len(st["rounds"]) >= 5 and st["leftover"] == 0
    assert got == _rows(knn.knn_bruteforce(p, q, k=2))


def test_knn_round_budget_leftover_equals_bruteforce(pts, queries, caplog):
    """One round and a tiny max_ring push queries to the brute-force
    fallback; the histogram-derived leftover count must route them."""
    got, st = _stats(caplog, lambda: _rows(
        knn.knn_kring(pts, queries, k=10, res=8, max_rounds=1, max_ring=2)))
    assert len(st["rounds"]) == 1 and st["leftover"] > 0
    assert got == _rows(knn.knn_bruteforce(pts, queries, k=10))


def test_knn_small_call_job_budget(spark, pts, queries):
    """A one-query, one-round call (plus its collect) runs a fixed number
    of jobs: the count table, the prep checkpoint, the round's top-k
    checkpoint and the collect, with their broadcasts.  Measured 12; the
    per-round stats collects, done join and leftover probe this replaced
    made it 24."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup("knn-job-budget", "knn job budget")
        knn.knn_kring(pts, queries.limit(1), k=10, res=8).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("knn-job-budget")) <= 12
