"""Per-file Bloom-filter index (Delta bloom-index / Iceberg puffin
analog): equality-predicate file skipping for columns min/max ranges
can't prune — unclustered low-cardinality columns and point lookups.

Reference parity tier: the reference library has no storage layer;
this pins lake-side surface the north rule's 100-TB serving reads lean
on. Build is one column-pruned Spark job per commit over only the new
files (lake/table.py _collect_file_blooms); the probe is driver-only
through the pure-Python xxhash64 twin (lake/xxh.py) — bit-equality
between the two paths is pinned here directly.
"""

import json
import os

import pyspark.sql.functions as F
import pytest

from filters_spark.lake.table import LakeTable, bucket_expr

DDL = (
    "repo string, path string, commit string, event_seq long, "
    "lang string, content string, content_sha string"
)

DELTA_DDL = (
    "repo string, path string, commit string, event_seq long, "
    "lang string, content string, op string"
)

LANGS = ["py", "rs", "go"]


def _rows(df):
    if df is None:
        return []
    cols = ["repo", "path", "event_seq", "lang"]
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _with_bucket(df, num_buckets):
    return df.withColumn(
        "_bucket",
        bucket_expr(F.col("repo"), F.col("path"), num_buckets, 16).cast("int"),
    )


def _base_rows():
    rows = [
        (f"r{i % 7}", f"p{i % 251}.py", "%012x" % 1, i,
         LANGS[i % 3], f"v{i}", f"s{i}")
        for i in range(1200)
    ]
    # one slice with lang entirely NULL — its files must record an
    # EMPTY filter and prune under ANY equality value
    rows += [
        (f"r{i % 7}", f"q{i}.md", "%012x" % 1, 10_000 + i, None, f"n{i}", f"t{i}")
        for i in range(100)
    ]
    return rows


def _seed_slices(spark, t, root, rows, num_buckets, wm):
    """Write one parquet file per (bucket, lang slice) and commit the
    file lists metadata-only — the per-file bloom harvest runs inside
    commit_bucket_files exactly as it does for writer-produced files."""
    from filters_spark.lake.xxh import bucket_of

    new_files = {str(b): [] for b in range(num_buckets)}
    for b in range(num_buckets):
        for lv in LANGS + [None]:
            slice_rows = [
                r for r in rows
                if r[4] == lv and bucket_of(r[0], r[1], num_buckets) == b
            ]
            if not slice_rows:
                continue
            d = os.path.join(root, "data", f"seed-b{b}-{lv or 'null'}")
            spark.createDataFrame(slice_rows, DDL).coalesce(1).write.parquet(d)
            new_files[str(b)].extend(
                os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
            )
    t.commit_bucket_files(
        {b: fl for b, fl in new_files.items() if fl},
        {b: wm for b in range(num_buckets)},
    )


class TestBloomIndex:
    @pytest.fixture(scope="class")
    def table(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("bloom") / "lake")
        t = LakeTable.create(
            spark, root, ["repo", "path"], num_buckets=4,
            bloom_cols=["lang"],
        )
        # one parquet file per (bucket, lang slice), committed through
        # the metadata-only commit_bucket_files — each bucket holds one
        # file per lang plus one all-NULL file, the layout where
        # equality pruning is selective, pinned deterministically
        # (letting the writer lay out files leaves homogeneity to AQE
        # partition coalescing, which merges tiny test slices)
        _seed_slices(spark, t, root, _base_rows(), 4, "000000000001:0")
        return t

    def test_manifests_carry_bloom_words(self, table):
        with_bloom = empty = 0
        for name in table.io.listdir(table.meta_dir):
            if not name.startswith("manifest-"):
                continue
            body = json.loads(table.io.read_text(os.path.join(table.meta_dir, name)))
            for f, st in body.get("stats", {}).items():
                assert "__bloom:lang" in st, f"file missing bloom: {f}"
                words = st["__bloom:lang"]
                assert isinstance(words, list)
                for w, bits in words:
                    assert 0 <= w < (1 << 16) // 64
                    assert isinstance(bits, int)
                with_bloom += 1
                if not words:
                    empty += 1
        assert with_bloom > 4, "expected multiple files per bucket with blooms"
        assert empty > 0, "the all-NULL lang slice must record EMPTY filters"

    def test_equality_read_matches_row_filter(self, spark, table):
        full = table.read()
        for lang in LANGS:
            got = _rows(table.read(where_eq=("lang", lang)))
            want = _rows(full.filter(F.col("lang") == lang))
            assert got == want and len(got) == 400

    def test_pruning_engages(self, table):
        rep = table.prune_report(where_eq=("lang", "py"))
        assert rep["files_skipped"] > 0, rep
        assert rep["files_read"] + rep["files_skipped"] == rep["files_total"]

    def test_absent_value_prunes_everything(self, table):
        # no file contains 'zz'; with 2^16 bits and <=3 distinct values
        # per file a false positive is ~impossible, so ALL files skip —
        # including the all-NULL files, whose EMPTY filter is the only
        # machinery that can prove "this file cannot match any equality"
        rep = table.prune_report(where_eq=("lang", "zz"))
        assert rep["files_read"] == 0, rep
        df = table.read(where_eq=("lang", "zz"))
        assert df is None or df.count() == 0

    def test_where_eq_null_value_raises(self, table):
        with pytest.raises(ValueError):
            table.read(where_eq=("lang", None))

    def test_composes_with_range_where(self, spark, table):
        got = _rows(table.read(where=("event_seq", 0, 599), where_eq=("lang", "py")))
        want = _rows(
            table.read().filter((F.col("event_seq") <= 599) & (F.col("lang") == "py"))
        )
        assert got == want and len(got) == 200

    def test_spark_vs_python_twin_bit_equality(self, spark, table):
        """The Spark-side build's (word, bit) pairs for a single value
        must be exactly the driver-side probe's — the property the
        whole prune soundness rests on."""
        from filters_spark.lake.xxh import _bit_mask, mixp31

        bloom = table.current()["bloom"]
        m, k = bloom["m"], bloom["k"]
        for value in LANGS + ["zz", "", "🦀", "a" * 100]:
            rows = (
                spark.range(1).select(F.lit(value).alias("v"))
                .select(F.xxhash64(F.col("v").cast("string")).alias("_h"))
                .select(
                    F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_k"), "_h"
                )
                .withColumn("_bit", F.pmod(mixp31(F.col("_h"), F.col("_k")), F.lit(m)))
                .select(
                    F.shiftright(F.col("_bit"), 6).alias("w"),
                    _bit_mask(F.col("_bit")).alias("mask"),
                )
                .collect()
            )
            spark_side = sorted(
                (int(r["w"]), int(r["mask"]) & 0xFFFFFFFFFFFFFFFF) for r in rows
            )
            py_side = sorted(LakeTable._bloom_word_masks(value, m, k))
            assert spark_side == py_side, value

    def test_delta_buckets_exempt_but_correct(self, spark, table, tmp_path):
        """A bucket carrying deltas is read in full (value-pruning a
        MoR bucket is unsound) and the equality still filters rows
        after the LWW fold."""
        root = str(tmp_path / "lake2")
        t = LakeTable.create(
            spark, root, ["repo", "path"], num_buckets=2, bloom_cols=["lang"],
        )
        df = _with_bucket(spark.createDataFrame(_base_rows()[:300], DDL), 2)
        t.commit_buckets(df.repartition(3, "lang"), [0, 1],
                         {0: "000000000001:0", 1: "000000000001:0"})
        # delta: flip one py row to go (LWW winner changes lang)
        flip = spark.createDataFrame(
            [("r0", "p0.py", "%012x" % 2, 999_999, "go", "flipped", "U")],
            DELTA_DDL,
        )
        flip = _with_bucket(flip, 2)
        b = flip.select("_bucket").first()[0]
        t.commit_deltas(flip, [b], {b: "000000000002:999999"})

        rep = t.prune_report(where_eq=("lang", "py"))
        assert b in rep["buckets_with_deltas"]
        got = _rows(t.read(where_eq=("lang", "py")))
        want = _rows(t.read().filter(F.col("lang") == "py"))
        assert got == want
        assert ("r0", "p0.py", 999_999, "go") in _rows(t.read(where_eq=("lang", "go")))

    def test_rollback_keeps_bloom_config(self, spark, table, tmp_path):
        root = str(tmp_path / "lake3")
        t = LakeTable.create(
            spark, root, ["repo", "path"], num_buckets=2, bloom_cols=["lang"],
        )
        df = _with_bucket(spark.createDataFrame(_base_rows()[:200], DDL), 2)
        t.commit_buckets(df.repartition(3, "lang"), [0, 1],
                         {0: "000000000001:0", 1: "000000000001:0"})
        df2 = _with_bucket(
            spark.createDataFrame(_base_rows()[200:300], DDL), 2
        ).repartition(2, "lang")
        t.commit_buckets(df2, [0, 1], {0: "000000000002:0", 1: "000000000002:0"})
        t.rollback(1)
        assert t.current()["bloom"] == {"cols": ["lang"], "m": 1 << 16, "k": 5}
        assert t.prune_report(where_eq=("lang", "zz"))["files_read"] == 0


def test_rewrite_reharvests_blooms(spark, tmp_path):
    """Physical reorg (rewrite_data_files binpack) flows through the
    same commit path as ingest, so the rewritten files get FRESH bloom
    filters: equality reads stay exact and absent-value pruning stays
    total after the rewrite."""
    from filters_spark.lake.table import LakeTable

    root = str(tmp_path / "lake")
    t = LakeTable.create(
        spark, root, ["repo", "path"], num_buckets=2, bloom_cols=["lang"],
    )
    _seed_slices(spark, t, root, _base_rows()[:400], 2, "000000000001:0000000000")
    before = {p["bucket"]: p["files"] for p in t.partitions()}
    snap = t.rewrite_data_files(target_file_bytes=1 << 30)
    assert snap is not None, "seeded slices must be binpack candidates"

    for fl in snap["buckets"].values():
        for f in fl:
            st = t._file_stats_cache.get(f) or {}
            assert "__bloom:lang" in st, f"rewritten file missing bloom: {f}"

    full = t.read()
    for lang in LANGS:
        got = _rows(t.read(where_eq=("lang", lang)))
        want = _rows(full.filter(F.col("lang") == lang))
        assert got == want
    assert t.prune_report(where_eq=("lang", "zz"))["files_read"] == 0
    after = {p["bucket"]: p["files"] for p in t.partitions()}
    assert sum(after.values()) < sum(before.values())


def test_shallow_clone_keeps_bloom_pruning(spark, tmp_path):
    """Shallow clones seed the source's per-file stats (blooms ride the
    same dicts), so equality pruning works on the fork without a
    re-harvest — and the re-written clone manifests persist it."""
    from filters_spark.lake.clone import clone_table
    from filters_spark.lake.table import LakeTable

    root = str(tmp_path / "lake")
    t = LakeTable.create(
        spark, root, ["repo", "path"], num_buckets=2, bloom_cols=["lang"],
    )
    _seed_slices(spark, t, root, _base_rows()[:300], 2, "000000000001:0000000000")
    fork = clone_table(t, str(tmp_path / "fork"))
    rep = fork.prune_report(where_eq=("lang", "py"))
    assert rep["files_skipped"] > 0, rep
    assert fork.prune_report(where_eq=("lang", "zz"))["files_read"] == 0
    # a RELOADED handle resolves blooms from the clone's own manifests
    fork2 = LakeTable.load(spark, str(tmp_path / "fork"))
    fork2.snapshot()  # populate stats cache from manifests
    assert fork2.prune_report(where_eq=("lang", "zz"))["files_read"] == 0


def test_high_cardinality_filter_survives_saturation_gate(spark, tmp_path):
    """Regression (review finding): the saturation gate must measure
    SET-BIT density, not nonzero words — a 1000-distinct-value file is
    an excellent filter (fp ~1e-6 at m=65536, k=5) and must be kept."""
    from filters_spark.lake.table import LakeTable

    root = str(tmp_path / "lake")
    t = LakeTable.create(
        spark, root, ["repo", "path"], num_buckets=1, bloom_cols=["lang"],
    )
    rows = [
        ("r0", f"p{i}.py", "%012x" % 1, i, f"val-{i}", f"v{i}", f"s{i}")
        for i in range(1000)
    ]
    d = os.path.join(root, "data", "seed-hc")
    spark.createDataFrame(rows, DDL).coalesce(1).write.parquet(d)
    files = [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    t.commit_bucket_files({"0": files}, {0: "000000000001:0000000000"})

    st = t._file_stats_cache.get(files[0]) or {}
    assert "__bloom:lang" in st, "high-cardinality filter was dropped"
    # present values hit, absent values prune the (only) file
    assert t.prune_report(where_eq=("lang", "val-500"))["files_read"] == 1
    assert t.prune_report(where_eq=("lang", "nope"))["files_read"] == 0


def test_outside_data_dir_paths_never_false_prune(spark, tmp_path):
    """Regression (review finding): files committed from OUTSIDE the
    table's data/ dir must not be recorded as empty (always-prune)
    filters when the identity mapping is exercised — either the filter
    is correct or it is absent, never wrong."""
    from filters_spark.lake.table import LakeTable

    root = str(tmp_path / "lake")
    t = LakeTable.create(
        spark, root, ["repo", "path"], num_buckets=1, bloom_cols=["lang"],
    )
    ext = str(tmp_path / "imports" / "seed")
    rows = [("r0", f"p{i}.py", "%012x" % 1, i, "py", f"v{i}", f"s{i}")
            for i in range(50)]
    spark.createDataFrame(rows, DDL).coalesce(1).write.parquet(ext)
    files = [os.path.join(ext, f) for f in os.listdir(ext) if f.endswith(".parquet")]
    t.commit_bucket_files({"0": files}, {0: "000000000001:0000000000"})

    # whatever the harvest managed, a read for a PRESENT value must
    # return the rows — a false empty filter would silently drop them
    got = t.read(where_eq=("lang", "py"))
    assert got is not None and got.count() == 50


def test_non_string_probe_values_never_crash_or_misprune(spark, tmp_path):
    """Regression (review finding): bool/float probes (whose Python
    spelling diverges from Spark's cast) skip FILE pruning; a probe
    typed against mismatched stats declines instead of raising."""
    from filters_spark.lake.table import LakeTable

    root = str(tmp_path / "lake")
    t = LakeTable.create(
        spark, root, ["repo", "path"], num_buckets=2, bloom_cols=["lang"],
    )
    _seed_slices(spark, t, root, _base_rows()[:200], 2, "000000000001:0000000000")
    # bool probe: no crash, no file pruned (bloom skipped for non-str)
    rep = t.prune_report(where_eq=("lang", True))
    assert rep["files_skipped"] == 0
    # int probe against string stats: declines, never raises
    rep2 = t.prune_report(where_eq=("lang", 5))
    assert rep2["files_read"] == rep2["files_total"]
