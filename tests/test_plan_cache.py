"""Plan-handle cache (r13 optimization round): staleness is the failure
mode that matters — every test here mutates a store and asserts the
next read REFLECTS the mutation (a stale cached plan would serve the
old file set), plus the positive cache-hit property and the bit-parity
of the SQL-string query-vector literal."""

import os

import pytest
from pyspark.sql import functions as F

from pg_vectorize_spark.plan_cache import (
    cached_parquet_scan,
    dir_entries_stamp,
    tree_stamp,
)
from pg_vectorize_spark.sources.parquet_snapshot import (
    BucketedSnapshotDataset,
    SnapshotDataset,
)


class TestSnapshotReadCache:
    def test_hit_same_version_miss_new_version(self, spark, tmp_path):
        ds = SnapshotDataset(spark, str(tmp_path / "snap"))
        ds.write_full(spark.createDataFrame([(1, "a")], "id long, t string"))
        df1 = ds.read()
        assert ds.read() is df1  # same plan handle while version holds
        assert [r["t"] for r in df1.collect()] == ["a"]
        ds.write_full(
            spark.createDataFrame([(1, "b"), (2, "c")], "id long, t string")
        )
        df2 = ds.read()
        assert df2 is not df1
        assert sorted(r["t"] for r in df2.collect()) == ["b", "c"]

    def test_merge_invalidates(self, spark, tmp_path):
        ds = SnapshotDataset(spark, str(tmp_path / "m"))
        ds.write_full(spark.createDataFrame([(1, "a")], "id long, t string"))
        ds.read().collect()
        ds.merge_upsert(
            spark.createDataFrame([(2, "b")], "id long, t string"), "id"
        )
        assert sorted(r["t"] for r in ds.read().collect()) == ["a", "b"]

    def test_bucketed_merge_invalidates(self, spark, tmp_path):
        ds = BucketedSnapshotDataset(spark, str(tmp_path / "b"), n_buckets=4)
        ds.write_full(
            spark.createDataFrame([(1, "a")], "id long, t string"), "id"
        )
        assert [r["t"] for r in ds.read().collect()] == ["a"]
        ds.merge_upsert(
            spark.createDataFrame([(1, "z"), (9, "y")], "id long, t string"),
            "id",
        )
        assert sorted(r["t"] for r in ds.read().collect()) == ["y", "z"]

    def test_drop_and_recreate_restarts_versions(self, spark, tmp_path):
        """Version numbers RESTART at v=1 after a dataset is dropped and
        recreated at the same root — the bare version number would
        serve the dead v=1's plan (the dedup-index empty-then-refill
        regression); the stamp's inode/mtime guard must miss."""
        import shutil

        root = str(tmp_path / "re")
        ds = SnapshotDataset(spark, root)
        ds.write_full(spark.createDataFrame([(1, "old")], "id long, t string"))
        assert [r["t"] for r in ds.read().collect()] == ["old"]
        shutil.rmtree(root)
        ds2 = SnapshotDataset(spark, root)
        ds2.write_full(
            spark.createDataFrame([(2, "new")], "id long, t string")
        )
        assert ds2.current_version() == 1  # numbering really restarted
        assert [r["t"] for r in ds2.read().collect()] == ["new"]

    def test_two_roots_do_not_collide(self, spark, tmp_path):
        a = SnapshotDataset(spark, str(tmp_path / "a"))
        b = SnapshotDataset(spark, str(tmp_path / "bb"))
        a.write_full(spark.createDataFrame([(1, "a")], "id long, t string"))
        b.write_full(spark.createDataFrame([(1, "b")], "id long, t string"))
        assert [r["t"] for r in a.read().collect()] == ["a"]
        assert [r["t"] for r in b.read().collect()] == ["b"]


class TestStamps:
    def test_dir_entries_stamp_changes_on_subdir_write(self, tmp_path):
        d = tmp_path / "idx"
        (d / "cell=0").mkdir(parents=True)
        (d / "cell=0" / "p0.parquet").write_bytes(b"x")
        s1 = dir_entries_stamp(str(d))
        assert s1 is not None
        # a file added INSIDE a partition subdir bumps that entry's mtime
        os.utime(d / "cell=0")  # what a create/replace/remove does
        assert dir_entries_stamp(str(d)) != s1
        assert dir_entries_stamp(str(d / "missing")) is None

    def test_tree_stamp_sees_nested_and_inplace_changes(self, tmp_path):
        d = tmp_path / "src"
        (d / "date=1" / "hour=2").mkdir(parents=True)
        f = d / "date=1" / "hour=2" / "p.parquet"
        f.write_bytes(b"aaaa")
        s1 = tree_stamp(str(d))
        assert s1 is not None
        f.write_bytes(b"bbbbbb")  # in-place rewrite, two levels deep
        assert tree_stamp(str(d)) != s1
        assert tree_stamp(str(d / "missing")) is None

    def test_stamp_none_bypasses_cache(self, spark, tmp_path):
        p = tmp_path / "plain"
        spark.createDataFrame([(1,)], "id long").write.parquet(str(p))
        d1 = cached_parquet_scan(spark, str(p), None)
        d2 = cached_parquet_scan(spark, str(p), None)
        assert d1 is not d2  # never cached without a stamp


class TestIndexScanInvalidation:
    def test_ivf_candidates_see_upsert(self, spark, tmp_path):
        from pg_vectorize_spark.index_manager import JobIndexManager

        mgr = JobIndexManager(
            spark,
            str(tmp_path / "ivf"),
            "ivf",
            {"n_centroids": 2, "nprobe": 2},
        )
        base = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(8)],
            "id long, embeddings array<double>",
        )
        mgr.build(base, "id")
        q = [1.0, 1.0]
        got = {r["id"] for r in mgr.candidates(q).collect()}
        assert got == set(range(8))
        mgr.upsert(
            spark.createDataFrame(
                [(99, [1.0, 1.0])], "id long, embeddings array<double>"
            ),
            "id",
        )
        got2 = {r["id"] for r in mgr.candidates(q).collect()}
        assert 99 in got2  # a stale cached scan would miss the new file

    def test_fts_probe_sees_upsert(self, spark, tmp_path):
        from pg_vectorize_spark.fts_index import JobFtsIndexManager

        mgr = JobFtsIndexManager(
            spark, str(tmp_path / "fts"), {"term_buckets": 4}
        )
        mgr.build(
            spark.createDataFrame(
                [(1, ["apple", "pear"])],
                "id long, search_tokens array<string>",
            ),
            "id",
            "search_tokens",
        )
        assert {r["id"] for r in mgr.probe(["apple"]).collect()} == {1}
        mgr.upsert(
            spark.createDataFrame(
                [(2, ["apple"])], "id long, search_tokens array<string>"
            ),
            "id",
            None,
        )
        assert {r["id"] for r in mgr.probe(["apple"]).collect()} == {1, 2}


class TestQueryVectorLit:
    """The one-parse query-vector literal must carry the exact Python
    doubles — pinned against the inputs' own ``float.hex()`` and a
    pure-Python left-to-right dot fold."""

    def test_bit_parity_with_elementwise_form(self, spark):
        import random

        from pg_vectorize_spark.functions.vector import (
            dot_product,
            query_vector_lit,
        )

        random.seed(7)
        vecs = [
            [1.0, -2.5, 0.0, 3.14159265358979],
            [1e-300, -1e300, 5e-324, 1.7976931348623157e308],
            [random.uniform(-1, 1) for _ in range(64)],
            [-0.0, 2.2250738585072014e-308, 4.9406564584124654e-324],
        ]
        df = spark.range(1)
        for v in vecs:
            lit, dot = df.select(
                query_vector_lit(v).alias("v"),
                dot_product(query_vector_lit(v), query_vector_lit(v)),
            ).collect()[0]
            assert [float(a).hex() for a in lit] == [x.hex() for x in v]
            want = 0.0
            for x in v:
                want = want + x * x
            assert float(dot).hex() == want.hex()

    def test_empty_and_nonfinite_fallback(self, spark):
        # formerly the element-wise fallback's inputs; now the same parse
        from pg_vectorize_spark.functions.vector import query_vector_lit

        df = spark.range(1)
        empty = df.select(query_vector_lit([]).alias("e"))
        assert empty.schema["e"].dataType.simpleString() == "array<double>"
        assert empty.collect()[0]["e"] == []
        v = [float("inf"), 1.0, float("-inf"), float("nan"), -0.0]
        got = df.select(query_vector_lit(v).alias("e")).collect()[0]["e"]
        assert [float(x).hex() for x in got] == [x.hex() for x in v]
