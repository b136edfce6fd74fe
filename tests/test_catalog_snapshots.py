"""Snapshot history / time-travel on the Catalog (the parquet stand-in
for Iceberg's snapshot log): versioned commits, VERSION AS OF reads,
rollback, and the expire_snapshots maintenance action, plus the
manifest commit protocol's object-store contract and stats pruning."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from otel2pv_spark.sources.catalog import Catalog


def _df(spark, tag: str, n: int = 5):
    return spark.range(n).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _guard_posix_renames(monkeypatch):
    """Make the posix calls an object store lacks fail inside the
    catalog module: hardlinks, directory renames and moves. The only
    rename the commit protocol may use is a single-FILE os.replace
    (the manifest / VERSION pointer swap)."""
    import otel2pv_spark.sources.catalog as cmod

    real_replace = os.replace

    def no_link(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("os.link used by the catalog")

    def no_rename(src, dst, **k):  # pragma: no cover - failure path
        raise AssertionError(f"os.rename used by the catalog: {src} -> {dst}")

    def file_only_replace(src, dst, **k):
        assert os.path.isfile(src), (
            f"the catalog may only replace FILES, got dir: {src}"
        )
        return real_replace(src, dst, **k)

    monkeypatch.setattr(cmod.os, "link", no_link)
    monkeypatch.setattr(cmod.os, "rename", no_rename)
    monkeypatch.setattr(cmod.os, "replace", file_only_replace)
    monkeypatch.setattr(cmod.shutil, "move", no_rename)


@pytest.fixture(params=["manifest", "posix"])
def mkcat(request, spark, tmp_path, monkeypatch):
    """Catalog factory rooted in the test's tmp dir. Each semantic test
    runs twice: ``[manifest]`` as is, and ``[posix]`` with the posix
    calls an object store lacks (hardlink, directory rename, move)
    made to fail, so every operation the test drives also proves the
    catalog never relies on them."""
    if request.param == "posix":
        _guard_posix_renames(monkeypatch)

    def make(keep_snapshots: int = 0, sub: str = "cat"):
        return Catalog(
            spark, str(tmp_path / sub), keep_snapshots=keep_snapshots
        )

    return make


class TestSnapshots:
    def test_default_keeps_nothing(self, spark, mkcat):
        cat = mkcat()
        cat.write(_df(spark, "a"), "t")
        cat.write(_df(spark, "b"), "t")
        assert cat.snapshots("t") == []
        assert {r.tag for r in cat.read("t").collect()} == {"b"}

    def test_time_travel_read(self, spark, mkcat):
        cat = mkcat(keep_snapshots=3)
        cat.write(_df(spark, "a"), "t")
        cat.write(_df(spark, "b"), "t")
        cat.write(_df(spark, "c"), "t")
        assert cat.snapshots("t") == [1, 2]
        assert {r.tag for r in cat.read("t").collect()} == {"c"}
        assert {r.tag for r in cat.read("t", version=1).collect()} == {"a"}
        assert {r.tag for r in cat.read("t", version=2).collect()} == {"b"}

    def test_expiry_trims_oldest(self, spark, mkcat):
        cat = mkcat(keep_snapshots=2)
        for tag in "abcde":
            cat.write(_df(spark, tag), "t")
        # versions count monotonically; only the newest 2 remain
        assert cat.snapshots("t") == [3, 4]
        with pytest.raises(ValueError):
            cat.read("t", version=1)

    def test_rollback_restores_and_archives(self, spark, mkcat):
        cat = mkcat(keep_snapshots=5)
        cat.write(_df(spark, "a"), "t")
        cat.write(_df(spark, "b"), "t")
        cat.rollback("t", 1)
        assert {r.tag for r in cat.read("t").collect()} == {"a"}
        # pre-rollback state (b) was archived, and v1 is still in the log
        tags = {
            v: {r.tag for r in cat.read("t", version=v).collect()}
            for v in cat.snapshots("t")
        }
        assert {"a"} in tags.values() and {"b"} in tags.values()

    def test_rollback_unknown_version_raises(self, spark, mkcat):
        cat = mkcat(keep_snapshots=2)
        cat.write(_df(spark, "a"), "t")
        with pytest.raises(ValueError):
            cat.rollback("t", 9)

    def test_fanout_commit_versions_both_tables(self, spark, mkcat):
        cat = mkcat(keep_snapshots=2)
        routed = spark.range(10).select(
            F.col("id"),
            F.when(F.col("id") % 5 == 0, "__reject_parse__")
            .otherwise(F.concat(F.lit("sink_"), (F.col("id") % 2).cast("string")))
            .alias("sink"),
        )
        cat.commit_fanout_split(routed, "main", "rej")
        cat.commit_fanout_split(routed, "main", "rej")
        assert cat.snapshots("main") == [1] and cat.snapshots("rej") == [1]
        assert cat.read("main").count() == 8
        assert cat.read("main", version=1).count() == 8
        assert cat.read("rej").count() == 2
        assert {r.sink for r in cat.read("main").collect()} == {
            "sink_0", "sink_1"
        }

    def test_snapshot_dirs_not_visible_as_tables(self, spark, mkcat, tmp_path):
        cat = mkcat(keep_snapshots=2)
        cat.write(_df(spark, "a"), "t")
        cat.write(_df(spark, "b"), "t")
        assert not cat.exists("t.v1")
        # manifests under _meta/, immutable data under _data/
        assert os.path.isdir(os.path.join(str(tmp_path / "cat"), "_meta", "t"))
        assert os.path.isdir(os.path.join(str(tmp_path / "cat"), "_data", "t"))


class TestSnapshotDiff:
    def test_snapshot_diff_golden(self, spark):
        """insert / delete / update classification, changed-column
        names, null-safe compare (NULL == NULL is unchanged,
        NULL vs value is a change), unchanged keys absent."""
        from otel2pv_spark.operators.diff import snapshot_diff

        old = spark.createDataFrame(
            [
                (1, "a", 10),       # unchanged
                (2, "b", 20),       # value updated
                (3, None, 30),      # NULL == NULL -> unchanged
                (4, "d", 40),       # deleted
                (5, None, 50),      # NULL -> value: update
            ],
            "k int, s string, v int",
        )
        new = spark.createDataFrame(
            [
                (1, "a", 10),
                (2, "b", 21),
                (3, None, 30),
                (5, "e", 51),       # both columns change
                (6, "f", 60),       # inserted
            ],
            "k int, s string, v int",
        )
        got = sorted(
            (r.k, r.change, r.changed_cols)
            for r in snapshot_diff(old, new, ["k"]).collect()
        )
        assert got == [
            (2, "update", "v"),
            (4, "delete", ""),
            (5, "update", "s,v"),
            (6, "insert", ""),
        ]

    def test_snapshot_diff_explicit_compare_cols(self, spark):
        from otel2pv_spark.operators.diff import snapshot_diff

        old = spark.createDataFrame([(1, "a", 10)], "k int, s string, v int")
        new = spark.createDataFrame([(1, "a", 11)], "k int, s string, v int")
        # v not compared -> no change row at all
        assert snapshot_diff(old, new, ["k"], compare_cols=["s"]).count() == 0

    def test_catalog_diff_between_versions(self, spark, mkcat):
        """Catalog.diff = changelog scan between two retained versions
        (and vs the current state)."""
        cat = mkcat(keep_snapshots=3)
        v1 = spark.range(4).select("id", F.lit("x").alias("tag"))
        v2 = spark.range(1, 5).select(  # drop id=0, add id=4
            "id",
            F.when(F.col("id") == 2, "y").otherwise("x").alias("tag"),
        )
        cat.write(v1, "t")
        cat.write(v2, "t")
        got = sorted(
            (r.id, r.change)
            for r in cat.diff("t", ["id"], old_version=1).collect()
        )
        assert got == [(0, "delete"), (2, "update"), (4, "insert")]

    def test_snapshot_diff_reserved_names_rejected(self, spark):
        import pytest as _pytest

        from otel2pv_spark.operators.diff import snapshot_diff

        df = spark.createDataFrame([(1, "i")], "change int, s string")
        with _pytest.raises(ValueError, match="reserved"):
            snapshot_diff(df, df, ["change"])
        df2 = spark.createDataFrame([(1, "i")], "k int, changed_cols string")
        with _pytest.raises(ValueError, match="reserved"):
            snapshot_diff(df2, df2, ["k"])

    def test_diff_apply_round_trip(self, spark):
        """The CDC round-trip law: applying a value-carrying diff to
        the old state reproduces the new state exactly — inserts,
        deletes, updates, null transitions and all."""
        from otel2pv_spark.operators.diff import apply_changes, snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "d", 40)],
            "k int, s string, v int",
        )
        new = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 21), (3, "c", 30), (6, None, 60)],
            "k int, s string, v int",
        )
        d = snapshot_diff(old, new, ["k"], include_values=True)
        got = apply_changes(old, d, ["k"])
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, new.collect())
        )
        # empty diff applies as identity
        empty = snapshot_diff(old, old, ["k"], include_values=True)
        same = apply_changes(old, empty, ["k"])
        assert sorted(map(tuple, same.collect())) == sorted(
            map(tuple, old.collect())
        )

    def test_apply_changes_rejects_valueless_diff(self, spark):
        import pytest as _pytest

        from otel2pv_spark.operators.diff import apply_changes, snapshot_diff

        old = spark.createDataFrame([(1, "a")], "k int, s string")
        new = spark.createDataFrame([(1, "b")], "k int, s string")
        d = snapshot_diff(old, new, ["k"])  # no include_values
        with _pytest.raises(ValueError, match="include_values"):
            apply_changes(old, d, ["k"])

    def test_diff_round_trip_with_null_keys(self, spark):
        """Null key values are one identity (null-safe matching): the
        round-trip law holds when a null-keyed row updates."""
        from otel2pv_spark.operators.diff import apply_changes, snapshot_diff

        old = spark.createDataFrame([(None, "x"), (1, "a")], "k int, s string")
        new = spark.createDataFrame([(None, "y"), (1, "a")], "k int, s string")
        d = snapshot_diff(old, new, ["k"], include_values=True)
        assert [(r.k, r.change) for r in d.collect()] == [(None, "update")]
        got = apply_changes(old, d, ["k"])
        assert sorted(map(tuple, got.collect()), key=str) == sorted(
            map(tuple, new.collect()), key=str
        )


class TestAppendEvolve:
    def test_append_same_schema(self, spark, mkcat):
        cat = mkcat()
        cat.write(_df(spark, "a", 3), "t")
        cat.append(_df(spark, "b", 2), "t")
        got = sorted((r.id, r.tag) for r in cat.read("t").collect())
        assert [t for _, t in got].count("a") == 3
        assert [t for _, t in got].count("b") == 2
        # unevolved: no union schema, cheap reads
        man = cat._load_manifest("t")
        assert not man["evolved"] and man["schema"] is None

    def test_append_rejects_silent_schema_drift(self, spark, mkcat):
        cat = mkcat()
        cat.write(_df(spark, "a"), "t")
        widened = _df(spark, "b").withColumn("score", F.lit(1.5))
        with pytest.raises(ValueError, match="merge_schema"):
            cat.append(widened, "t")

    def test_append_evolves_schema_old_rows_null(self, spark, mkcat):
        """Iceberg ADD COLUMN semantics: after an evolved append, every
        reader sees the union schema; pre-evolution rows project NULL
        for the new column."""
        cat = mkcat()
        cat.write(_df(spark, "a", 2), "t")
        widened = _df(spark, "b", 2).withColumn("score", F.lit(1.5))
        cat.append(widened, "t", merge_schema=True)
        rows = {(r.id, r.tag): r.score for r in cat.read("t").collect()}
        assert set(cat.read("t").columns) == {"id", "tag", "score"}
        assert all(v is None for (i, t), v in rows.items() if t == "a")
        assert all(v == 1.5 for (i, t), v in rows.items() if t == "b")

    def test_append_batch_may_omit_columns(self, spark, mkcat):
        cat = mkcat()
        cat.write(_df(spark, "a", 2), "t")
        narrow = spark.range(2).select("id")  # omits tag
        cat.append(narrow, "t", merge_schema=True)
        got = cat.read("t")
        assert set(got.columns) == {"id", "tag"}
        assert got.filter(F.col("tag").isNull()).count() == 2

    def test_append_type_conflict_always_rejected(self, spark, mkcat):
        cat = mkcat()
        cat.write(_df(spark, "a"), "t")
        bad = spark.range(2).select("id", F.lit(7).alias("tag"))  # tag int
        with pytest.raises(ValueError, match="type changes"):
            cat.append(bad, "t", merge_schema=True)

    def test_append_snapshot_history_and_marker_sticks(self, spark, mkcat):
        """Appends version like any commit; once evolved, later
        same-schema appends keep the merge semantics (old thin files
        remain in the table)."""
        cat = mkcat(keep_snapshots=3)
        cat.write(_df(spark, "a", 2), "t")
        widened = _df(spark, "b", 1).withColumn("score", F.lit(2.0))
        cat.append(widened, "t", merge_schema=True)
        cat.append(widened, "t", merge_schema=True)
        assert cat.read("t").count() == 4
        assert set(cat.read("t").columns) == {"id", "tag", "score"}
        # pre-append version still readable, WITHOUT the new column
        v1 = cat.snapshots("t")[0]
        assert set(cat.read("t", version=v1).columns) == {"id", "tag"}

    def test_append_to_partitioned_table_rejected(self, spark, mkcat):
        cat = mkcat()
        cat.write(_df(spark, "a"), "t", partition_by=["tag"])
        with pytest.raises(ValueError, match="partitioned"):
            cat.append(_df(spark, "b"), "t")

    def test_append_creates_missing_table(self, spark, mkcat):
        cat = mkcat()
        cat.append(_df(spark, "a", 3), "t")
        assert cat.read("t").count() == 3


class TestTypeWidening:
    """Iceberg-safe type widening on append (int→long, float→double):
    accepted with merge_schema=True, table reads back WIDENED with
    exact values from both old (narrow) and new (wide) files; every
    other type change still rejected."""

    def _narrow(self, spark, n=3):
        return spark.range(n).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * F.lit(0.5)).cast("float").alias("x"),
            F.lit("old").alias("tag"),
        )

    def _wide(self, spark, n=2):
        return spark.range(100, 100 + n).select(
            F.col("id").cast("bigint").alias("k"),
            (F.col("id") * F.lit(0.25)).cast("double").alias("x"),
            F.lit("new").alias("tag"),
        )

    def test_widening_round_trip(self, spark, mkcat):
        cat = mkcat()
        cat.write(self._narrow(spark), "t")
        cat.append(self._wide(spark), "t", merge_schema=True)
        got = cat.read("t")
        types = dict(got.dtypes)
        assert types["k"] == "bigint" and types["x"] == "double"
        rows = {r.k: (r.x, r.tag) for r in got.collect()}
        # old int32/float files project up losslessly
        assert rows[0] == (0.0, "old") and rows[2] == (1.0, "old")
        assert rows[100] == (25.0, "new") and rows[101] == (25.25, "new")

    def test_widening_requires_merge_schema(self, spark, mkcat):
        cat = mkcat()
        cat.write(self._narrow(spark), "t")
        with pytest.raises(ValueError, match="merge_schema"):
            cat.append(self._wide(spark), "t")

    def test_narrow_batch_into_wide_table(self, spark, mkcat):
        """The mirror case: an int batch appended to a bigint table —
        the table schema stays WIDE and the narrow file projects up."""
        cat = mkcat()
        cat.write(self._wide(spark), "t")
        cat.append(self._narrow(spark), "t", merge_schema=True)
        got = cat.read("t")
        types = dict(got.dtypes)
        assert types["k"] == "bigint" and types["x"] == "double"
        assert got.count() == 5

    def test_unsafe_change_still_rejected(self, spark, mkcat):
        cat = mkcat()
        cat.write(self._narrow(spark), "t")
        bad = spark.range(2).select(
            F.col("id").cast("string").alias("k"),  # int→string: never
            F.lit(1.0).cast("double").alias("x"),
            F.lit("z").alias("tag"),
        )
        with pytest.raises(ValueError, match="type changes"):
            cat.append(bad, "t", merge_schema=True)

    def test_widened_old_version_time_travel(self, spark, mkcat):
        """Time travel to the pre-widening version reads the ORIGINAL
        narrow schema (Iceberg: each snapshot pins its schema id)."""
        cat = mkcat(keep_snapshots=2)
        cat.write(self._narrow(spark), "t")
        cat.append(self._wide(spark), "t", merge_schema=True)
        v1 = cat.snapshots("t")[0]
        assert dict(cat.read("t", version=v1).dtypes)["k"] == "int"
        assert dict(cat.read("t").dtypes)["k"] == "bigint"


class TestOverwritePartitions:
    def _ev(self, spark, sink, tag, n=3):
        return spark.range(n).select(
            "id", F.lit(sink).alias("sink"), F.lit(tag).alias("tag")
        )

    def test_only_present_partitions_replaced(self, spark, mkcat):
        cat = mkcat()
        base = self._ev(spark, "a", "old").unionByName(self._ev(spark, "b", "old"))
        cat.write(base, "t", partition_by=["sink"])
        cat.overwrite_partitions(self._ev(spark, "a", "new", 2), "t", ["sink"])
        got = {(r.sink, r.tag) for r in cat.read("t").collect()}
        assert got == {("a", "new"), ("b", "old")}
        assert cat.read("t").filter(F.col("sink") == "a").count() == 2

    def test_new_partition_value_appears(self, spark, mkcat):
        cat = mkcat()
        cat.write(self._ev(spark, "a", "old"), "t", partition_by=["sink"])
        cat.overwrite_partitions(self._ev(spark, "c", "new"), "t", ["sink"])
        got = {r.sink for r in cat.read("t").collect()}
        assert got == {"a", "c"}

    def test_multi_level_swaps_at_leaf_grain(self, spark, mkcat):
        """(sink, day) spec: restating (a, d1) must not touch (a, d2)."""
        cat = mkcat()

        def mk(sink, day, tag):
            return spark.range(2).select(
                "id", F.lit(sink).alias("sink"), F.lit(day).alias("day"),
                F.lit(tag).alias("tag"),
            )

        base = mk("a", "d1", "old").unionByName(mk("a", "d2", "old"))
        cat.write(base, "t", partition_by=["sink", "day"])
        cat.overwrite_partitions(mk("a", "d1", "new"), "t", ["sink", "day"])
        got = {(r.day, r.tag) for r in cat.read("t").collect()}
        assert got == {("d1", "new"), ("d2", "old")}

    def test_unpartitioned_target_rejected(self, spark, mkcat):
        cat = mkcat()
        cat.write(self._ev(spark, "a", "x"), "t")  # unpartitioned
        with pytest.raises(ValueError, match="not hive-partitioned"):
            cat.overwrite_partitions(self._ev(spark, "a", "y"), "t", ["sink"])

    def test_missing_table_created(self, spark, mkcat):
        cat = mkcat()
        cat.overwrite_partitions(self._ev(spark, "a", "x"), "t", ["sink"])
        assert cat.read("t").count() == 3


class TestManifestPurity:
    """The catalog's object-store contract: NO hardlinks, NO
    directory renames — the only rename anywhere is the single-file
    pointer/manifest os.replace. Enforced by instrumenting the os
    module during a full workload (write, partitioned write, append,
    evolve, fanout split, partition overwrite, rollback, compact)."""

    def test_no_hardlinks_or_dir_renames(self, spark, tmp_path, monkeypatch):
        _guard_posix_renames(monkeypatch)

        cat = Catalog(spark, str(tmp_path / "cat"), keep_snapshots=2)
        cat.write(_df(spark, "a", 4), "t")
        cat.append(_df(spark, "b", 2), "t")
        cat.append(
            _df(spark, "c", 2).withColumn("score", F.lit(1.0)),
            "t",
            merge_schema=True,
        )
        assert cat.read("t").count() == 8
        cat.rollback("t", cat.snapshots("t")[0])
        cat.compact("t")

        part = spark.range(6).select(
            "id", (F.col("id") % 2).cast("string").alias("sink")
        )
        cat.write(part, "p", partition_by=["sink"])
        cat.overwrite_partitions(
            spark.range(10, 12).select("id", F.lit("0").alias("sink")),
            "p",
            ["sink"],
        )
        assert cat.read("p").filter(F.col("sink") == "0").count() == 2

        routed = spark.range(10).select(
            F.col("id"),
            F.when(F.col("id") % 5 == 0, "__reject_parse__")
            .otherwise("sink_a")
            .alias("sink"),
        )
        cat.commit_fanout_split(routed, "main", "rej")
        assert cat.read("main").count() == 8
        assert cat.read("rej").count() == 2

    def test_gc_keeps_shared_fanout_stage(self, spark, tmp_path):
        """commit_fanout_split makes two tables reference ONE staged
        dir; churning the MAIN table past its retention must not GC
        the stage while the rejects manifest still points into it."""
        cat = Catalog(spark, str(tmp_path / "cat"), keep_snapshots=0)
        routed = spark.range(10).select(
            F.col("id"),
            F.when(F.col("id") % 5 == 0, "__reject_parse__")
            .otherwise("sink_a")
            .alias("sink"),
        )
        cat.commit_fanout_split(routed, "main", "rej")
        # replace main twice: its old versions expire and GC runs
        cat.write(_df(spark, "x", 3), "main")
        cat.write(_df(spark, "y", 3), "main")
        # the rejects table still reads through the shared stage
        assert cat.read("rej").count() == 2

    def test_crash_before_pointer_swap_invisible(self, spark, tmp_path):
        """Staged data + manifest files are invisible until the pointer
        names them: simulate a crash by staging without the pointer
        swap and assert reads still see the old version."""
        import json as _json

        cat = Catalog(spark, str(tmp_path / "cat"))
        cat.write(_df(spark, "a", 3), "t")
        # hand-stage an orphan (what a crash mid-commit leaves behind)
        stage = cat._new_stage("t")
        _df(spark, "ghost", 7).write.mode("overwrite").parquet(stage)
        with open(cat._manifest_path("t", 99), "w") as fh:
            _json.dump(
                {
                    "version": 99,
                    "entries": [{"path": stage, "base": None}],
                    "evolved": False,
                    "partition_by": None,
                    "schema": None,
                },
                fh,
            )
        assert {r.tag for r in cat.read("t").collect()} == {"a"}
        # next commit garbage-collects the orphaned manifest's stage
        # only when the manifest itself is expired — the orphan v99 is
        # above the pointer; a fresh commit supersedes it
        cat.write(_df(spark, "b", 2), "t")
        assert {r.tag for r in cat.read("t").collect()} == {"b"}


class TestReviewFindings:
    """Regressions for the round-3 code-review findings."""

    def test_all_rejects_fanout_commits_readable_empty_main(self, spark, tmp_path):
        """Every row routed to a reject sink: the MAIN table must still
        commit readable (empty, full schema) — a zero-entry manifest /
        empty directory would break every downstream readback."""
        cat = Catalog(spark, str(tmp_path / "cat"))
        routed = spark.range(4).select(
            F.col("id"), F.lit("__reject_parse__").alias("sink")
        )
        cat.commit_fanout_split(routed, "main", "rej")
        assert cat.read("main").count() == 0
        assert set(cat.read("main").columns) >= {"id"}
        assert cat.read("rej").count() == 4

    def test_orphan_manifest_above_pointer_not_retained(self, spark, tmp_path):
        """A crash between manifest write and pointer swap leaves an
        orphan v>current manifest: snapshots()/expiry must IGNORE it
        (never expire real history in its favor, never serve it), and
        the next commit cleans it up."""
        import json as _json

        cat = Catalog(spark, str(tmp_path / "cat"), keep_snapshots=1)
        cat.write(_df(spark, "a"), "t")   # v1
        cat.write(_df(spark, "b"), "t")   # v2 current, v1 retained
        # orphan v9 (manifest written, pointer swap never happened)
        stage = cat._new_stage("t")
        _df(spark, "ghost").write.mode("overwrite").parquet(stage)
        with open(cat._manifest_path("t", 9), "w") as fh:
            _json.dump(
                {"version": 9, "entries": [{"path": stage, "base": None}],
                 "evolved": False, "partition_by": None, "schema": None},
                fh,
            )
        assert cat.snapshots("t") == [1]          # orphan not listed
        cat.expire_snapshots("t")
        assert cat.snapshots("t") == [1]          # v1 survives expiry
        assert {r.tag for r in cat.read("t", version=1).collect()} == {"a"}
        cat.write(_df(spark, "c"), "t")           # v3; orphan removed
        assert 9 not in cat._manifest_versions("t")
        assert cat.snapshots("t") == [2]

    def test_gc_safe_under_different_root_spelling(self, spark, tmp_path):
        """Manifests store root-RELATIVE paths, so a catalog opened via
        a different spelling of the same root (absolute vs
        dot-relative) must neither GC live data nor fail to read."""
        root = str(tmp_path / "cat")
        cat_abs = Catalog(spark, root)
        cat_abs.write(_df(spark, "a", 4), "t")
        # same root via an equivalent but differently-spelled path
        alias = str(tmp_path / "." / "cat")
        cat_alias = Catalog(spark, alias, keep_snapshots=0)
        cat_alias.write(_df(spark, "b", 4), "other")  # triggers GC sweep
        assert {r.tag for r in cat_abs.read("t").collect()} == {"a"}
        assert {r.tag for r in cat_alias.read("t").collect()} == {"a"}
        # manifest entries are relative — portable if the root moves
        man = cat_abs._load_manifest("t")
        assert all(not os.path.isabs(e["path"]) for e in man["entries"])


class TestSecondReviewFindings:
    """Regressions for the second review pass."""

    def test_manifest_relative_root_round_trips(self, spark, tmp_path, monkeypatch):
        """A manifest catalog constructed with a CWD-RELATIVE root must
        read back its own writes (the relativization change once made
        _abs double-join the root)."""
        monkeypatch.chdir(tmp_path)
        cat = Catalog(spark, "relcat")
        cat.write(_df(spark, "a", 4), "t")
        assert {r.tag for r in cat.read("t").collect()} == {"a"}
        cat.append(_df(spark, "b", 2), "t")
        assert cat.read("t").count() == 6
        assert cat._table_file_stats("t")[0] > 0


def test_plain_parquet_dir_is_named_not_a_catalog_table(tmp_path):
    """A ``<root>/<table>`` directory of plain parquet (an older
    directory-rename layout, or run_stream_pipeline's raw appends) has
    no manifest pointer: reading it through the Catalog names the path
    and says what it is, instead of claiming the table is absent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "cat"
    flat = root / "t"
    flat.mkdir(parents=True)
    pq.write_table(pa.table({"id": [1, 2]}), str(flat / "part-0.parquet"))
    parted = root / "sequenced_events" / "sink=sink_user"
    parted.mkdir(parents=True)
    pq.write_table(pa.table({"id": [3]}), str(parted / "part-0.parquet"))

    cat = Catalog(None, str(root))  # the error path needs no session
    for tbl in ("t", "sequenced_events"):
        with pytest.raises(ValueError, match="plain parquet directory") as e:
            cat.read(tbl)
        assert str(root / tbl) in str(e.value)
        with pytest.raises(ValueError, match="plain parquet directory"):
            cat.count_rows(tbl)
    assert not cat.exists("t")
    with pytest.raises(ValueError, match="table 'gone' does not exist"):
        cat.read("gone")


class TestManifestStatsPruning:
    """Per-entry [min, max] column stats in ManifestCatalog manifests +
    stats-pruned reads (r3 verdict missing #2): Iceberg's
    manifest-level file skipping — a selective predicate drops whole
    entries BEFORE the scan is built, so no footer of a pruned file is
    ever opened at planning time."""

    def _cat(self, spark, tmp_path, sub="statcat"):
        return Catalog(
            spark, str(tmp_path / sub),
            stats_columns=("id", "ts", "tag"),
        )

    def _batch(self, spark, lo: int, hi: int, tag: str):
        return spark.range(lo, hi).select(
            F.col("id"),
            F.timestamp_micros(F.lit(1704067200000000) + F.col("id") * 1000000)
            .alias("ts"),
            F.lit(tag).alias("tag"),
        )

    def test_stats_recorded_on_commit(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.write(self._batch(spark, 0, 10, "a"), "t")
        man = cat._load_manifest("t")
        st = man["entries"][0]["stats"]
        assert st["id"] == [0, 9, "num"]
        assert st["tag"] == ["a", "a", "str"]
        # timestamps lower to exact integer epoch micros JVM-side
        # (unix_micros), tagged so only datetime predicates compare
        assert st["ts"][2] == "ts" and isinstance(st["ts"][0], int)
        assert st["ts"][0] == 1704067200000000

    def test_pruned_read_scans_strictly_fewer_files(self, spark, tmp_path):
        """Three disjoint-id append batches; a predicate selecting one
        batch must plan a scan over strictly fewer files — and return
        exactly read().filter(...)'s rows."""
        cat = self._cat(spark, tmp_path)
        cat.write(self._batch(spark, 0, 100, "a"), "t")
        cat.append(self._batch(spark, 100, 200, "b"), "t")
        cat.append(self._batch(spark, 200, 300, "c"), "t")
        full_files = set(cat.read("t").inputFiles())
        pruned = cat.read("t", where=("id", ">=", 250))
        pruned_files = set(pruned.inputFiles())
        assert pruned_files < full_files  # strict subset
        want = sorted(
            (r.id, r.tag)
            for r in cat.read("t").filter(F.col("id") >= 250).collect()
        )
        got = sorted((r.id, r.tag) for r in pruned.collect())
        assert got == want and len(got) == 50

    def test_pruned_read_timestamp_and_between(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.write(self._batch(spark, 0, 100, "a"), "t")
        cat.append(self._batch(spark, 100, 200, "b"), "t")
        import datetime

        cut = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=150)
        pruned = cat.read("t", where=("ts", ">=", cut))
        assert set(pruned.inputFiles()) < set(cat.read("t").inputFiles())
        assert pruned.count() == cat.read("t").filter(F.col("ts") >= cut).count()
        # conjunction + between
        both = cat.read(
            "t", where=[("id", "between", (120, 130)), ("tag", "=", "b")]
        )
        assert both.count() == 11
        assert len(set(both.inputFiles())) < len(set(cat.read("t").inputFiles()))

    def test_all_pruned_keeps_schema_returns_empty(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        cat.write(self._batch(spark, 0, 10, "a"), "t")
        out = cat.read("t", where=("id", ">", 10_000))
        assert out.count() == 0
        assert set(out.columns) == {"id", "ts", "tag"}

    def test_stats_survive_append_and_rollback_without_recompute(
        self, spark, tmp_path
    ):
        """Old entries keep their stats verbatim through append and
        rollback (metadata-only recommits never re-read old data)."""
        cat = Catalog(
            spark, str(tmp_path / "rb"),
            keep_snapshots=2, stats_columns=("id",),
        )
        cat.write(self._batch(spark, 0, 10, "a"), "t")
        st0 = cat._load_manifest("t")["entries"][0]["stats"]
        cat.append(self._batch(spark, 10, 20, "b"), "t")
        man = cat._load_manifest("t")
        assert man["entries"][0]["stats"] == st0
        assert man["entries"][1]["stats"]["id"] == [10, 19, "num"]
        cat.rollback("t", 1)
        assert cat._load_manifest("t")["entries"][0]["stats"] == st0

    def test_unconfigured_catalog_records_no_stats(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path / "nostat"))
        cat.write(self._batch(spark, 0, 10, "a"), "t")
        assert "stats" not in cat._load_manifest("t")["entries"][0]
        # where= still works, as a plain filter
        assert cat.read("t", where=("id", ">=", 5)).count() == 5

    def test_kind_mismatch_never_misprunes(self, spark, tmp_path):
        """Review finding: comparable-but-wrong lowered types (date
        ordinal vs datetime epoch-micros) must NOT prune — the result
        must equal read().filter() even when the predicate literal's
        type doesn't match the column's stats kind."""
        import datetime

        cat = Catalog(
            spark, str(tmp_path / "kinds"),
            stats_columns=("d", "ts"),
        )
        df = spark.range(0, 10).select(
            F.col("id"),
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int"))
            .alias("d"),
            F.timestamp_micros(F.lit(1704067200000000) + F.col("id") * 1000000)
            .alias("ts"),
        )
        cat.write(df, "t")
        st = cat._load_manifest("t")["entries"][0]["stats"]
        assert st["d"][2] == "date"
        # datetime literal against DATE stats: ordinal (~7e5) is tiny
        # vs epoch micros (~1.7e15) — naive lowering would prune ALL
        # entries; kind tagging must keep them and let the filter run
        cut = datetime.datetime(2024, 1, 5)
        got = cat.read("t", where=("d", ">=", cut)).count()
        want = cat.read("t").filter(F.col("d") >= cut).count()
        assert got == want and got > 0
        # and a matching date literal still prunes correct rows
        got2 = cat.read("t", where=("d", ">=", datetime.date(2024, 1, 5))).count()
        assert got2 == want
        # int literal against TIMESTAMP stats: NOT pruned (kind
        # mismatch); Spark's own filter then rejects the comparison —
        # exactly what read().filter() does, never a silent empty result
        from pyspark.errors import AnalysisException

        with pytest.raises(AnalysisException):
            cat.read("t", where=("ts", ">", 0)).count()

    def test_fanout_leaf_stats_grouped_and_partition_col(
        self, spark, tmp_path
    ):
        """commit_fanout_split records stats for every sink entry via
        ONE grouped agg (incl. min=max stats on the partition column
        itself), enabling sink-selective pruned reads."""
        import conftest as _cf
        from otel2pv_spark.plans import pipeline as pl

        out = str(tmp_path / "fanstats")
        cfg = pl.PipelineConfig(
            out_root=out, run_id="fs1", stats_columns=("sink", "turn_idx")
        )
        pl.run_from_events(spark, _cf.SF_DIR, cfg)
        cat = Catalog(spark, out, stats_columns=("sink", "turn_idx"))
        man = cat._load_manifest("sequenced_events")
        assert all("stats" in e for e in man["entries"])
        for e in man["entries"]:
            sv = e["leaf"].split("=", 1)[1]
            assert e["stats"]["sink"] == [sv, sv, "str"]
        one = cat.read("sequenced_events", where=("sink", "=", "sink_user"))
        assert len(set(one.inputFiles())) < len(
            set(cat.read("sequenced_events").inputFiles())
        )
        assert one.count() == (
            cat.read("sequenced_events").filter(F.col("sink") == "sink_user").count()
        )

    def test_overwrite_partitions_never_rereads_legacy_entries(
        self, spark, tmp_path
    ):
        """A table written BEFORE stats were enabled keeps its old
        entries stats-less (metadata-only recommit, no data re-read)
        while freshly staged leaves gain stats."""
        root = str(tmp_path / "legacy")
        old = Catalog(spark, root)
        df = spark.range(0, 20).select(
            F.col("id"),
            (F.col("id") % 2).cast("string").alias("p"),
        )
        old.write(df, "t", partition_by=["p"])
        cat = Catalog(spark, root, stats_columns=("id",))
        newdf = spark.range(100, 110).select(
            F.col("id"), F.lit("1").alias("p")
        )
        cat.overwrite_partitions(newdf, "t", ["p"])
        man = cat._load_manifest("t")
        by_leaf = {e["leaf"]: e for e in man["entries"]}
        assert "stats" not in by_leaf["p=0"]  # legacy: untouched
        assert by_leaf["p=1"]["stats"]["id"] == [100, 109, "num"]

    def test_multi_level_leaf_stats(self, spark, tmp_path):
        """Two-level hive leaves ('a=…/b=…'): grouped leaf stats key
        rebuild, partition-value stats for BOTH levels, and pruned
        reads all work at leaf grain."""
        cat = Catalog(
            spark, str(tmp_path / "ml"),
            stats_columns=("a", "b", "id"),
        )
        df = spark.range(0, 40).select(
            F.col("id"),
            (F.col("id") % 2).cast("string").alias("a"),
            (F.col("id") % 4 < 2).cast("string").alias("b"),
        )
        cat.write(df, "t", partition_by=["a", "b"])
        man = cat._load_manifest("t")
        assert len(man["entries"]) == 4
        for e in man["entries"]:
            segs = dict(s.split("=", 1) for s in e["leaf"].split("/"))
            # stats follow the READ schema: Spark's partition-value
            # type inference reads 'a=0' back as INTEGER, so the stat
            # is numeric — which keeps pruning comparisons consistent
            # with what the filter actually sees; 'b' (true/false) is
            # not inferred and stays string
            assert e["stats"]["a"] == [int(segs["a"]), int(segs["a"]), "num"]
            assert e["stats"]["b"] == [segs["b"], segs["b"], "str"]
            assert e["stats"]["id"][2] == "num"
        pruned = cat.read("t", where=[("a", "=", 1), ("b", "=", "true")])
        assert len(set(pruned.inputFiles())) < len(
            set(cat.read("t").inputFiles())
        )
        want = (
            cat.read("t")
            .filter((F.col("a") == 1) & (F.col("b") == "true"))
            .count()
        )
        assert pruned.count() == want and want > 0

    def test_nan_bounds_never_misprune(self, spark, tmp_path):
        """Review finding: Spark's max() over a double column with any
        NaN returns NaN; every Python comparison with NaN is False, so
        an unguarded bound would PRUNE entries holding matching rows.
        NaN bounds must record nothing (missing = cannot prune)."""
        cat = Catalog(spark, str(tmp_path / "nan"), stats_columns=("score",))
        df = spark.range(0, 10).select(
            F.col("id"),
            F.when(F.col("id") == 7, F.lit(float("nan")))
            .otherwise(F.col("id") / 10.0)
            .alias("score"),
        )
        cat.write(df, "t")
        st = cat._load_manifest("t")["entries"][0].get("stats") or {}
        assert "score" not in st  # NaN bound recorded nothing
        got = cat.read("t", where=("score", ">", 0.5)).count()
        want = cat.read("t").filter(F.col("score") > 0.5).count()
        assert got == want and got > 0

    def test_single_leaf_partition_stats_recorded(self, spark, tmp_path):
        """Review finding: a single-leaf partitioned commit previously
        fell back to a basePath-less read that lost the partition
        column — its min=max stat must be recorded regardless of leaf
        count (derived from the leaf NAME, zero extra jobs)."""
        cat = Catalog(
            spark, str(tmp_path / "oneleaf"),
            stats_columns=("p", "id"),
        )
        df = spark.range(0, 5).select(F.col("id"), F.lit("only").alias("p"))
        cat.write(df, "t", partition_by=["p"])
        man = cat._load_manifest("t")
        assert len(man["entries"]) == 1
        st = man["entries"][0]["stats"]
        assert st["p"] == ["only", "only", "str"]
        assert st["id"] == [0, 4, "num"]

    def test_naive_ts_predicate_lowers_in_session_tz(self):
        """Review finding: naive datetime predicates must lower in the
        SPARK SESSION timezone (get_spark pins UTC), not the host's —
        unit-level check of the helper across zones."""
        import datetime

        from otel2pv_spark.sources.catalog import _lower_pred_value

        naive = datetime.datetime(2024, 1, 1)
        utc = _lower_pred_value(naive, "ts", "UTC")
        ny = _lower_pred_value(naive, "ts", "America/New_York")
        assert utc == 1704067200000000
        assert ny == utc + 5 * 3600 * 1_000_000  # EST is UTC-5 in Jan
        assert _lower_pred_value(naive, "ts", None) is None  # unknown tz
        assert _lower_pred_value(naive, "ts", "bogus/zone") is None
        # NaN predicate can never prune
        assert _lower_pred_value(float("nan"), "num", "UTC") is None

    def test_cross_type_predicate_fails_open(self, spark, tmp_path):
        """A predicate literal of the wrong type must not crash pruning
        — the entry is kept and Spark's filter cast semantics decide."""
        cat = self._cat(spark, tmp_path, "xtype")
        cat.write(self._batch(spark, 0, 10, "a"), "t")
        out = cat.read("t", where=("id", ">=", "5"))  # string vs int stats
        assert out.count() == 5  # Spark casts and filters correctly

    def test_bad_where_spec_raises(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path, "bad")
        cat.write(self._batch(spark, 0, 10, "a"), "t")
        with pytest.raises(ValueError, match="where conjunct"):
            cat.read("t", where=("id", "~", 3))
        with pytest.raises(ValueError, match="between"):
            cat.read("t", where=("id", "between", (1, 2, 3)))
        with pytest.raises(ValueError, match="in needs"):
            cat.read("t", where=("tag", "in", "abc"))  # string is not a list

    def test_pruned_read_in_predicate(self, spark, tmp_path):
        """IN over disjoint batches prunes to the touched entries only
        — the committed-ANN-index probed-cell read shape — and returns
        exactly read().filter(isin)'s rows. An empty list matches
        nothing (schema-only scan)."""
        cat = self._cat(spark, tmp_path, "incat")
        cat.write(self._batch(spark, 0, 100, "a"), "t")
        cat.append(self._batch(spark, 100, 200, "b"), "t")
        cat.append(self._batch(spark, 200, 300, "c"), "t")
        pruned = cat.read("t", where=("id", "in", [5, 250]))
        assert set(pruned.inputFiles()) < set(cat.read("t").inputFiles())
        got = sorted(r.id for r in pruned.collect())
        assert got == [5, 250]
        # string-typed IN on the tag column prunes to one batch
        one = cat.read("t", where=("tag", "in", ["b"]))
        assert set(one.inputFiles()) < set(cat.read("t").inputFiles())
        assert one.count() == 100
        assert cat.read("t", where=("id", "in", [])).count() == 0
        # a set also works (order-free) and the result is identical
        assert cat.read("t", where=("id", "in", {250, 5})).count() == 2

    def test_pruned_read_and_of_ranges(self, spark, tmp_path):
        """AND of two range conjuncts on the same column prunes to the
        one entry whose [min, max] intersects the window."""
        cat = self._cat(spark, tmp_path, "rngcat")
        cat.write(self._batch(spark, 0, 100, "a"), "t")
        cat.append(self._batch(spark, 100, 200, "b"), "t")
        cat.append(self._batch(spark, 200, 300, "c"), "t")
        pruned = cat.read("t", where=[("id", ">=", 120), ("id", "<=", 180)])
        assert set(pruned.inputFiles()) < set(cat.read("t").inputFiles())
        assert pruned.count() == 61
        # window straddling two batches keeps both, drops the third
        two = cat.read("t", where=[("id", ">", 150), ("id", "<", 250)])
        full = set(cat.read("t").inputFiles())
        assert len(set(two.inputFiles())) < len(full)
        assert two.count() == 99

    def test_count_rows_short_circuit(self, spark, tmp_path):
        """Unpredicated count comes from committed per-entry row counts
        (metadata only); predicated counts fall back to the scan; both
        equal read().count()."""
        cat = self._cat(spark, tmp_path, "cnt")
        cat.write(self._batch(spark, 0, 100, "a"), "t")
        cat.append(self._batch(spark, 100, 250, "b"), "t")
        man = cat._load_manifest("t")
        assert [e.get("rows") for e in man["entries"]] == [100, 150]
        assert cat.count_rows("t") == 250
        assert cat.count_rows("t", where=("id", "<", 120)) == 120
        # an entry without a recorded count (stats not configured)
        # falls back to the scan instead of guessing
        legacy = Catalog(spark, str(tmp_path / "cnt_legacy"))
        legacy.write(self._batch(spark, 0, 30, "a"), "t")
        man2 = legacy._load_manifest("t")
        assert all("rows" not in e for e in man2["entries"])
        assert legacy.count_rows("t") == 30  # scan fallback

    def test_huge_int_predicate_vs_float_bounds_fails_open(self):
        """Review finding (the symmetric hole): a >= 2^53 INTEGER
        predicate against FLOAT stat bounds (double-column stats) must
        keep the entry — Spark's filter casts the int literal to double
        and can match rows the exact compare says are outside."""
        from otel2pv_spark.sources.catalog import _entry_may_match

        stats = {"x": [float(2**60), float(2**60), "num"]}
        # double(2^60+1) == double(2^60): the filter WOULD match
        assert _entry_may_match(stats, "x", "=", 2**60 + 1)
        assert _entry_may_match(stats, "x", "in", [2**60 + 1])
        assert _entry_may_match(stats, "x", "between", (2**60 + 1, 2**60 + 2))
        # small ints against float bounds still prune exactly
        small = {"x": [10.0, 20.0, "num"]}
        assert not _entry_may_match(small, "x", "=", 5)
        assert _entry_may_match(small, "x", "=", 15)

    def test_float_predicate_vs_huge_int_bounds_fails_open(self):
        """Advice finding: Spark's filter compares bigint columns to a
        float literal after a double cast (lossy at >= 2^53), so exact
        Python pruning must keep such entries or read(where=) loses
        rows vs read().filter()."""
        from otel2pv_spark.sources.catalog import _entry_may_match

        stats = {"id": [2**60 + 1, 2**60 + 1, "num"]}
        # double(2^60) == double(2^60+1): the Spark filter would MATCH,
        # so pruning must keep the entry despite exact inequality
        assert _entry_may_match(stats, "id", "=", float(2**60))
        assert _entry_may_match(stats, "id", "in", [float(2**60)])
        assert _entry_may_match(
            stats, "id", "between", (float(2**60), float(2**60))
        )
        # small-integer bounds still prune float predicates exactly
        small = {"id": [10, 20, "num"]}
        assert not _entry_may_match(small, "id", "=", 5.0)
        assert _entry_may_match(small, "id", "=", 15.0)

    def test_decimal_stat_bounds_widen_conservatively(self):
        """Advice finding: decimal→float stat lowering is lossy; an
        inexact conversion must widen OUTWARD (min down, max up) so the
        inclusive bounds never exclude a row the exact comparison
        keeps. Inexact decimal PREDICATES cannot prune at all."""
        import decimal
        import math

        from otel2pv_spark.sources.catalog import (
            _lower_pred_value,
            _lower_stat_value,
        )

        exact = decimal.Decimal("2.5")
        assert _lower_stat_value(exact, "num", "min") == 2.5
        assert _lower_stat_value(exact, "num", "max") == 2.5
        inexact = decimal.Decimal("0.1000000000000000000000001")
        lo = _lower_stat_value(inexact, "num", "min")
        hi = _lower_stat_value(inexact, "num", "max")
        assert lo < hi
        assert decimal.Decimal(lo) < inexact < decimal.Decimal(hi)
        assert hi <= math.nextafter(math.nextafter(lo, math.inf), math.inf)
        # predicate side: inexact decimal fails open (None = keep)
        assert _lower_pred_value(inexact, "num") is None
        assert _lower_pred_value(exact, "num") == 2.5

