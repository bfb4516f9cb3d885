"""Z-order clustering (lake/zorder.py): key correctness against a
Python reimplementation, and the actual pruning win — files clustered
by the interleave key hold tight min/max rectangles in BOTH dimensions,
so range predicates on either column skip files, which a linear sort
can only deliver for its leading column."""

import pyspark.sql.functions as F
import pytest

from filters_spark.lake.zorder import zorder_key, zorder_py


class TestZorderKey:
    def test_matches_python_twin(self, spark):
        rows = [(a, b) for a in [0, 1, 5, 170, 255] for b in [0, 3, 128, 254, 255]]
        df = spark.createDataFrame(rows, "a long, b long")
        got = {
            (r.a, r.b): r.z
            for r in df.select("a", "b", zorder_key(F.col("a"), F.col("b"), 8).alias("z")).collect()
        }
        for (a, b), z in got.items():
            assert z == zorder_py(a, b, 8)

    def test_inputs_masked_and_validated(self, spark):
        df = spark.createDataFrame([(65536 + 7, 3)], "a long, b long")
        z = df.select(zorder_key(F.col("a"), F.col("b"), 16).alias("z")).head().z
        assert z == zorder_py(7, 3, 16)
        with pytest.raises(ValueError):
            zorder_key(F.col("a"), F.col("b"), 0)


class TestZorderPruning:
    def _per_file_ranges(self, spark, path):
        return {
            r.f: ((r.amin, r.amax), (r.bmin, r.bmax))
            for r in spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("a").alias("amin"), F.max("a").alias("amax"),
                F.min("b").alias("bmin"), F.max("b").alias("bmax"),
            )
            .collect()
        }

    @staticmethod
    def _skipped(ranges, dim, lo, hi):
        i = 0 if dim == "a" else 1
        return sum(1 for (ra, rb) in ranges.values() if (ra, rb)[i][1] < lo or (ra, rb)[i][0] > hi)

    def test_zsort_prunes_both_dimensions(self, spark, tmp_path):
        # 256x256 uniform grid
        grid = spark.range(65536).select(
            (F.col("id") % 256).alias("a"), (F.col("id") / 256).cast("long").alias("b")
        )
        z = grid.withColumn("zkey", zorder_key(F.col("a"), F.col("b"), 8))

        lin = str(tmp_path / "linear")
        zo = str(tmp_path / "zorder")
        grid.repartitionByRange(8, "a").write.parquet(lin)
        z.repartitionByRange(8, "zkey").drop("zkey").write.parquet(zo)

        lin_r = self._per_file_ranges(spark, lin)
        zo_r = self._per_file_ranges(spark, zo)
        assert len(lin_r) == 8 and len(zo_r) == 8

        # predicate b in [0, 31]: the linear (a-sorted) layout cannot
        # skip anything (every file spans all of b); the z-order layout
        # skips every file whose rectangle lives in the b >= 32 half
        assert self._skipped(lin_r, "b", 0, 31) == 0
        assert self._skipped(zo_r, "b", 0, 31) >= 2
        # and z-order still prunes on a too — tight rectangles, not slabs
        assert self._skipped(zo_r, "a", 0, 31) >= 2


class TestQuantizeRank:
    def test_equal_mass_buckets_on_skewed_data(self, spark):
        from filters_spark.lake.zorder import quantize_rank

        # heavily skewed: exponential-ish values
        df = spark.createDataFrame(
            [(i, float(2 ** (i % 40))) for i in range(4000)], "id long, v double"
        )
        q = quantize_rank(df, "v", bits=3, tiebreak=["id"])
        sizes = [r[1] for r in q.groupBy("v_q3").count().orderBy("v_q3").collect()]
        assert len(sizes) == 8
        # round-to-nearest makes the two EDGE buckets half-mass by
        # design; interior buckets carry ~N/7 each regardless of skew
        interior, edge = 4000 / 7, 4000 / 14
        assert all(abs(c - interior) < 0.2 * interior for c in sizes[1:-1])
        assert all(abs(c - edge) < 0.3 * edge for c in (sizes[0], sizes[-1]))

    def test_bounds_and_determinism(self, spark):
        from filters_spark.lake.zorder import quantize_rank

        df = spark.createDataFrame([(i, float(i % 5)) for i in range(100)], "id long, v double")
        a = sorted(map(tuple, quantize_rank(df, "v", 4, tiebreak=["id"]).collect()))
        b = sorted(map(tuple, quantize_rank(df, "v", 4, tiebreak=["id"]).collect()))
        assert a == b
        qs = [t[2] for t in a]
        assert min(qs) == 0 and max(qs) == 15

    def test_validation(self, spark):
        from filters_spark.lake.zorder import quantize_rank

        df = spark.createDataFrame([(1.0,)], "v: double")
        with pytest.raises(ValueError):
            quantize_rank(df, "v", bits=0)

    def test_bare_global_window_warns(self, spark):
        # group_cols=() = unpartitioned window = one sort task: allowed
        # for small frames but must never ship silently
        import warnings

        from filters_spark.lake.zorder import quantize_rank

        df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
        with pytest.warns(UserWarning, match="UNPARTITIONED"):
            quantize_rank(df, "v", bits=2)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            quantize_rank(df, "v", bits=2, group_cols=("id",))


class TestRewriteZorder:
    """Lake-level z-order re-clustering (lake/table.py rewrite_zorder):
    state identity, two-dimensional pruning, changes() transparency,
    pending-delta safety."""

    def _mk(self, spark, root, n=1024, grid=32):
        from filters_spark.lake.table import LakeTable

        t = LakeTable.create(
            spark, str(root), ["repo", "path"], num_buckets=1,
            stats_cols=["commit", "event_seq"],
        )
        df = (
            spark.range(n)
            .select(
                F.lit("r").alias("repo"),
                F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
                F.format_string("%012x", F.col("id") % grid).alias("commit"),
                (F.col("id") / grid).cast("long").alias("event_seq"),
                F.lit("py").alias("lang"),
                F.concat(F.lit("c"), F.col("id").cast("string")).alias("content"),
            )
            .select(
                "*",
                F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("content_sha"),
                F.lit(0).alias("_bucket"),
            )
            .repartition(8)  # random placement: nothing prunes pre-rewrite
        )
        t.commit_buckets(df, [0], {})
        return t

    def test_rewrite_zorder_prunes_both_dims_state_identical(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "zl")
        before = sorted(map(tuple, t.read().collect()))
        pre_sid = t.current_snapshot_id()
        wa = ("commit", "%012x" % 0, "%012x" % 3)
        wb = ("event_seq", 0, 3)
        pre_a = t.prune_report(wa)
        snap = t.rewrite_zorder(("commit", "event_seq"), bits=6,
                                target_file_bytes=6000)
        assert snap is not None and snap["operation"] == "rewrite"
        assert sorted(map(tuple, t.read().collect())) == before  # byte-lossless
        n_files = sum(len(fl) for fl in snap["buckets"].values())
        assert n_files >= 4  # actually split along the z-curve
        rep_a, rep_b = t.prune_report(wa), t.prune_report(wb)
        # every file spans the domain pre-rewrite: nothing skippable
        assert pre_a["files_skipped"] == 0
        # post-rewrite, BOTH dimensions prune
        assert rep_a["files_skipped"] > 0 and rep_b["files_skipped"] > 0
        # and the pruned read is still value-correct
        got = {r["path"] for r in t.read(where=wb).collect()}
        want = {r[1] for r in before if 0 <= r[3] <= 3}
        assert got == want
        # physical reorg: no logical change
        assert t.changes(pre_sid) is None

    def test_rewrite_zorder_skips_pending_delta_buckets(self, spark, tmp_path):
        t = self._mk(spark, tmp_path / "zl2", n=64, grid=8)
        d = spark.createDataFrame(
            [("r", "p1", "0000000000ff", 99, "py", "vv", "U")],
            "repo string, path string, `commit` string, event_seq long, "
            "lang string, content string, op string",
        ).select("*", F.lit(0).alias("_bucket"))
        t.commit_deltas(d, [0], {0: "0000000000ff:0000000099"})
        assert t.rewrite_zorder(("commit", "event_seq")) is None
