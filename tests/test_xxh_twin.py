"""Driver-side xxhash64 twin (lake/xxh.py) — bit-equality vs Spark.

``LakeTable.lookup`` computes the key's bucket with the pure-Python
:func:`bucket_of` instead of a one-row Spark job; every assertion here
pins that the twin reproduces Spark's ``xxhash64`` expression (XXH64,
seed 42, UTF-8 string views / little-endian long views) EXACTLY, so a
divergence can never silently read the wrong bucket.
"""

import random

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from filters_spark.lake.table import LakeTable, bucket_expr
from filters_spark.lake.xxh import SPARK_SEED, bucket_of, buckets_of, xxh64, xxh64_long

# every XXH64 code path: empty, <4 tail bytes, 4-byte lane, 8-byte
# lanes, the 32-byte block loop (31/32/33/100/1000), multi-byte UTF-8,
# control chars
STRINGS = [
    "", "a", "ab", "abc", "abcd", "hello", "hello wo", "hello world",
    "x" * 31, "y" * 32, "z" * 33, "w" * 100, "r" * 1000,
    "héllo", "naïve café", "日本語テキスト", "emoji🎉mix", chr(0) + "nul" + chr(1),
    "repo/path/to/file.py", "linux.git", " leading and trailing ",
]

LONGS = [0, 1, -1, 5, 15, 42, 2**31, -(2**31), 2**63 - 1, -(2**63)]


def test_xxh64_known_vector():
    # public XXH64 spec vector (Cyan4973/xxHash): empty input, seed 0
    assert xxh64(b"", seed=0) == -1205034819632174695  # 0xEF46DB3751D8E999 signed


def test_string_hash_matches_spark(spark):
    df = spark.createDataFrame([(s,) for s in STRINGS], "v string").select(
        "v", F.xxhash64("v").alias("h")
    )
    for r in df.collect():
        assert r["h"] == xxh64(r["v"].encode("utf-8"), SPARK_SEED), r["v"]


def test_long_and_chained_hash_matches_spark(spark):
    # multi-arg xxhash64(a, b): hash(a) seeds hash(b); longs hash their
    # 8 LE bytes — exactly the shape bucket_expr composes
    rows = [(s, n) for s in STRINGS[:8] for n in LONGS]
    df = spark.createDataFrame(rows, "s string, n long").select(
        "s", "n", F.xxhash64("n").alias("hn"), F.xxhash64("s", "n").alias("hc")
    )
    for r in df.collect():
        assert r["hn"] == xxh64_long(r["n"], SPARK_SEED)
        assert r["hc"] == xxh64_long(r["n"], seed=xxh64(r["s"].encode("utf-8"), SPARK_SEED))


@pytest.mark.parametrize("num_buckets,path_salt", [(32, 16), (64, 16), (7, 3), (1, 1)])
def test_bucket_of_matches_bucket_expr(spark, num_buckets, path_salt):
    keys = [
        (f"repo-{i % 11}", f"src/dir{i % 5}/file{i}.py") for i in range(200)
    ] + [("日本/repo", "パス/file"), ("", ""), ("r", "p" * 300)]
    df = spark.createDataFrame(keys, "repo string, path string").select(
        "repo", "path",
        bucket_expr(F.col("repo"), F.col("path"), num_buckets, path_salt).alias("b"),
    )
    for r in df.collect():
        assert r["b"] == bucket_of(r["repo"], r["path"], num_buckets, path_salt), (
            r["repo"], r["path"])


class TestLookupStatsPrune:
    def test_lookup_skips_files_by_path_stats(self, spark, tmp_path):
        """With path in stats_cols + sort_cols, a point lookup reads a
        strict subset of even its own bucket's base files."""
        t = LakeTable.create(
            spark, str(tmp_path / "lk"), ["repo", "path"], num_buckets=2,
            stats_cols=["path"], sort_cols=["path"],
        )
        ddl = (
            "repo string, path string, commit string, event_seq long, "
            "lang string, content string, content_sha string"
        )
        rows = [
            ("r1", f"f{i:04d}.py", "%012x" % 1, i, "py", f"v{i}", f"s{i}")
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, ddl).withColumn(
            "_bucket", bucket_expr(F.col("repo"), F.col("path"), 2, 16)
        )
        # range-partition on path so each write task holds a contiguous
        # path slice -> many files per bucket with tight path ranges
        df = df.repartitionByRange(8, "path")
        touched = sorted(r._bucket for r in df.select("_bucket").distinct().collect())
        t.commit_buckets(df, touched, {b: "%012x:0" % 2 for b in touched})

        got = t.lookup("r1", "f0123.py").collect()
        assert len(got) == 1 and got[0]["content"] == "v123"
        assert t.lookup("r1", "zzz-absent.py").count() == 0

        snap = t.snapshot()
        b = bucket_of("r1", "f0123.py", 2, 16)
        bucket_files = len(snap["buckets"][str(b)])
        n_in = len(t.lookup("r1", "f0123.py").inputFiles())
        assert bucket_files > 1, "need multi-file bucket for the prune to show"
        assert n_in < bucket_files, (n_in, bucket_files)

    def test_lookup_without_stats_still_correct(self, spark, tmp_path):
        t = LakeTable.create(spark, str(tmp_path / "ns"), ["repo", "path"], num_buckets=2)
        ddl = (
            "repo string, path string, commit string, event_seq long, "
            "lang string, content string, content_sha string"
        )
        df = spark.createDataFrame(
            [("r1", "a.py", "%012x" % 1, 1, "py", "va", "sa"),
             ("r2", "b.py", "%012x" % 1, 2, "py", "vb", "sb")], ddl
        ).withColumn("_bucket", bucket_expr(F.col("repo"), F.col("path"), 2, 16))
        touched = sorted(r._bucket for r in df.select("_bucket").distinct().collect())
        t.commit_buckets(df, touched, {b: "%012x:0" % 2 for b in touched})
        assert t.lookup("r2", "b.py").collect()[0]["content"] == "vb"


def test_buckets_for_repo_complete_and_bounded(spark):
    """The repo-scoped candidate set is COMPLETE (every key's actual
    bucket is in it — bit-equality with bucket_expr across many paths)
    and bounded by path_salt."""
    import pyspark.sql.functions as F

    from filters_spark.lake.table import bucket_expr
    from filters_spark.lake.xxh import bucket_of, buckets_for_repo

    B, S = 64, 4
    for repo in ("repo-00000", "linux", "a/b.git", "unicode-répo"):
        cand = buckets_for_repo(repo, B, S)
        assert 1 <= len(cand) <= S
        for i in range(200):
            assert bucket_of(repo, f"src/f{i}.py", B, S) in cand
    # and against the Spark-side expression itself
    df = spark.range(300).select(
        F.lit("repo-00000").alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
    ).select(bucket_expr(F.col("repo"), F.col("path"), B, S).alias("b"))
    spark_buckets = {r["b"] for r in df.distinct().collect()}
    assert spark_buckets <= set(buckets_for_repo("repo-00000", B, S))


def test_read_repo_scoped_scan(spark, tmp_path):
    import pyspark.sql.functions as F

    from filters_spark.lake.table import LakeTable, bucket_expr

    B, S = 32, 4
    t = LakeTable.create(spark, str(tmp_path / "l"), ["repo", "path"],
                         num_buckets=B, path_salt=S)
    rows = [(f"r{i % 10}", f"p{i}.py", "000000000001", i, "py", f"c{i}")
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "repo string, path string, `commit` string, event_seq long, "
              "lang string, content string"
    ).select(
        "*",
        F.sha2(F.col("content"), 256).alias("content_sha"),
        bucket_expr(F.col("repo"), F.col("path"), B, S).cast("int").alias("_bucket"),
    )
    touched = sorted(r[0] for r in df.select("_bucket").distinct().collect())
    t.commit_buckets(df, touched, {})

    got = {r["path"] for r in t.read_repo("r7").collect()}
    want = {r["path"] for r in t.read().filter(F.col("repo") == "r7").collect()}
    assert got == want and len(got) == 40
    # the scoped read opened at most path_salt buckets
    from filters_spark.lake.xxh import buckets_for_repo
    assert len(buckets_for_repo("r7", B, S)) <= S < len(touched)
    # absent repo: empty, not None
    assert t.read_repo("nope").count() == 0


def test_read_repo_absent_repo_with_empty_candidate_buckets(spark, tmp_path):
    """An absent repo whose candidate buckets hold NO files at all must
    still read as an EMPTY frame on a populated table — returning None
    there would tell a docstring-following caller the table is empty
    (or crash it on .count())."""
    import pyspark.sql.functions as F

    from filters_spark.lake.table import LakeTable, bucket_expr
    from filters_spark.lake.xxh import buckets_for_repo

    B, S = 64, 4
    t = LakeTable.create(spark, str(tmp_path / "l"), ["repo", "path"],
                         num_buckets=B, path_salt=S)
    df = spark.createDataFrame(
        [("only-repo", "p.py", "000000000001", 1, "py", "c")],
        "repo string, path string, `commit` string, event_seq long, "
        "lang string, content string",
    ).select(
        "*",
        F.sha2(F.col("content"), 256).alias("content_sha"),
        bucket_expr(F.col("repo"), F.col("path"), B, S).cast("int").alias("_bucket"),
    )
    touched = sorted(r[0] for r in df.select("_bucket").distinct().collect())
    t.commit_buckets(df, touched, {})
    populated = set(touched)
    probe = next(
        f"probe{i}" for i in range(10_000)
        if not set(buckets_for_repo(f"probe{i}", B, S)) & populated
    )
    got = t.read_repo(probe)
    assert got is not None and got.count() == 0
    # the truly-empty-table contract is unchanged
    t2 = LakeTable.create(spark, str(tmp_path / "l2"), ["repo", "path"],
                          num_buckets=B, path_salt=S)
    assert t2.read_repo(probe) is None


def test_bucket_of_null_parts_match_bucket_expr(spark):
    """Spark's xxhash64 skips NULL children; the twin must too (the
    driver-side apply buckets key-less dead letters with it)."""
    keys = [(None, "a.py"), ("r", None), (None, None), ("", None)]
    df = spark.createDataFrame(keys, "repo string, path string").select(
        "repo", "path", bucket_expr(F.col("repo"), F.col("path"), 7, 3).alias("b"),
    )
    for r in df.collect():
        assert r["b"] == bucket_of(r["repo"], r["path"], 7, 3), (r["repo"], r["path"])


def test_buckets_of_matches_bucket_expr(spark):
    """The column-wise twin (the driver-side apply's bucketing) over
    every length up to three 32-byte blocks, multi-byte UTF-8, NULL
    parts, and an Arrow array that is a slice of a larger one."""
    rnd = random.Random(7)
    alpha = "ab/._-09é日🎉" + chr(0)
    words = [None, *STRINGS] + [
        "".join(rnd.choice(alpha) for _ in range(n)) for n in range(100)
    ]
    keys = [(rnd.choice(words), rnd.choice(words)) for _ in range(600)]
    df = spark.createDataFrame(keys, "repo string, path string").select(
        "repo", "path", bucket_expr(F.col("repo"), F.col("path"), 7, 3).alias("b"),
    )
    rows = df.collect()
    repo = pa.array([None] * 5 + [r["repo"] for r in rows], pa.string()).slice(5)
    path = pa.array([r["path"] for r in rows], pa.string())
    assert buckets_of(repo, path, 7, 3).to_pylist() == [r["b"] for r in rows]
    assert buckets_of(repo, path, 32, 16).to_pylist() == [
        bucket_of(r["repo"], r["path"], 32, 16) for r in rows
    ]
