"""Parallelism invariance: the same replay at different local
parallelism/shuffle settings produces byte-identical final state —
the sandbox stand-in for the N vs 4N executor equality requirement.

(Throughput at both levels is measured by ``python3 ingestbench/run.py
--workload bulk_replay_cow --trace 1``, which prints
``engine.scaling_eff_1to4``; this test pins the *correctness* half:
state is independent of partitioning.)"""

import os

import pyspark.sql.functions as F

from tests.test_cdc_engine import events_df, final_state, make_engine


def test_state_invariant_to_shuffle_partitions(spark, tmp_path):
    """Same input, radically different shuffle widths -> same bytes."""
    ev = events_df(spark, n_events=2000, hot_frac=0.4, dirty_frac=0.1)

    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        e_narrow = make_engine(spark, str(tmp_path / "narrow"), num_buckets=4)
        e_narrow.replay(ev, num_batches=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        e_wide = make_engine(spark, str(tmp_path / "wide"), num_buckets=4)
        e_wide.replay(ev, num_batches=2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    assert final_state(e_narrow) == final_state(e_wide)


def test_state_invariant_to_bucket_count(spark, tmp_path):
    """Bucket layout is physical, not semantic: 2 vs 32 buckets give the
    same logical table."""
    ev = events_df(spark, n_events=2000, hot_frac=0.4, dirty_frac=0.1)
    e2 = make_engine(spark, str(tmp_path / "b2"), num_buckets=2)
    e32 = make_engine(spark, str(tmp_path / "b32"), num_buckets=32)
    e2.replay(ev, num_batches=2)
    e32.replay(ev, num_batches=2)
    assert final_state(e2) == final_state(e32)
