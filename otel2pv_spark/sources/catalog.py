"""Table layer — parquet directories standing in for Iceberg tables.

The production target is Iceberg (atomic snapshot commits, partition
pruning on conv_id buckets / days(ts)); the sandbox has no Iceberg jars,
so this thin layer gives the same API over parquet dirs and gates the
Iceberg path behind an import/availability check (SURVEY §7.4 risk 4).

ALL commit mechanics live HERE — operators and plans never touch the
filesystem directly, so an Iceberg-backed Catalog (snapshot commit,
partition overwrite, metadata-only partition moves) slots in without
changing the pipeline.

ONE commit protocol implements the API: the Iceberg snapshot commit
in miniature, safe for object stores. Data files are staged into
IMMUTABLE directories that are never renamed or hardlinked; each
commit writes a new manifest JSON (the file list + partition spec +
schema-evolution flag) and then atomically swaps a single VERSION
pointer file. That pointer swap is the only rename in the protocol:
the same temp + fsync + rename step as the reference's atomic file
writer (Server/atomicWrite.go:153-226), applied to one small file —
the POSIX stand-in for an object store's atomic conditional PUT
(If-Match) of the pointer object, exactly how Iceberg's
version-hint/metadata pointer commit works. Appends reference
existing files from the new manifest (a metadata-only append), time
travel reads an older manifest, partition overwrite is ONE atomic
whole-commit pointer swap, and snapshot expiry garbage-collects
staged directories no retained manifest references.

Single-writer assumption (documented): concurrent commits to the same
table last-write-win at the pointer; real Iceberg arbitrates with the
catalog's atomic compare-and-swap.

Iceberg mapping of each method (what the real implementation does):
- ``write``            → ``df.writeTo(tbl).createOrReplace()``
- ``commit_fanout_split`` → one ``writeTo(staging).create()`` with sink
  partitioning, then TWO metadata-only operations: move the reserved
  reject partitions into the rejects table (partition-level REPLACE)
  and snapshot-swap staging into the main table. No data rewrite.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reserved reject sink partition prefix (operators/route.py assigns the
# sinks): the single-pass plan ROUTES invalid rows here, and the commit
# splits them out into the rejects table at metadata level.
from ..operators.route import REJECT_SINK_PREFIX


def _has_parquet(d: str) -> bool:
    return any(
        f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs
    )


def _commit_empty_schema_file(df: DataFrame, d: str) -> None:
    """Commit an EMPTY table with the full schema into ``d`` — an empty
    directory is not a readable parquet table (schema inference fails).
    limit(0) optimizes to an empty relation: a no-scan job. ONE shared
    helper so the three empty-commit sites cannot drift."""
    df.limit(0).write.mode("overwrite").parquet(d)


# --------------------------------------------- predicate / stats pruning
# `where` specs are conjunctive lists of (column, op, value) triples —
# a deliberately tiny predicate language: exactly the shapes manifest
# [min, max] stats can prune on (Iceberg's InclusiveMetricsEvaluator
# covers the same comparisons). `in` takes a list/tuple/set of values
# (an entry survives if ANY value can fall in its [min, max] — the
# committed-ANN-index probed-cell read shape). Anything richer belongs
# in a normal .filter() AFTER the read.
_WHERE_OPS = ("=", "==", "<", "<=", ">", ">=", "between", "in")

# float predicates cannot prune against integer bounds at or beyond
# 2^53: Spark's filter compares after casting the bigint column to
# double (lossy there), while pruning would compare Python-exact —
# read(where=) could lose rows vs read().filter() (advice finding)
_FLOAT_EXACT_INT = 2**53


def _field_stat_kind(dt) -> str | None:
    """Stats type tag for a Spark column type. Stored WITH the [min,
    max] so pruning only ever compares predicate literals lowered under
    the SAME interpretation — a date-ordinal never silently compares
    against epoch micros (review finding: comparable-but-wrong
    cross-type compares pruned matching entries)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.TimestampType):
        return "ts"
    if isinstance(dt, T.TimestampNTZType):
        return "tsntz"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.NumericType):
        return "num"
    if isinstance(dt, T.StringType):
        return "str"
    return None


def _lower_stat_value(v, kind: str, direction: str | None = None):
    """Lower a COMMITTED stat value to its JSON form for ``kind``.
    'ts' values arrive already lowered (unix_micros in the agg — exact
    integer epoch micros straight from the JVM, timezone-free; a naive
    Python datetime.timestamp() would be host-TZ-dependent AND
    float-lossy, review finding). 'tsntz' is a wall-time without zone:
    fixed UTC-interpretation integer micros. 'date' → ordinal.
    ``direction`` ('min'/'max') widens lossy decimal→float conversions
    conservatively outward."""
    import calendar
    import decimal

    if kind == "tsntz":
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if kind == "date":
        return v.toordinal()
    if kind == "num" and isinstance(v, decimal.Decimal):
        # float() is lossy for high-precision decimals: a bound rounded
        # TOWARD the predicate could prune an entry whose rows satisfy
        # the exact decimal comparison Spark's filter performs (advice
        # finding). Widen inexact conversions one ulp OUTWARD per
        # ``direction`` ('min' → down, 'max' → up) — inclusive bounds
        # may only ever grow.
        f = float(v)
        if direction and decimal.Decimal(f) != v:
            import math

            f = math.nextafter(
                f, -math.inf if direction == "min" else math.inf
            )
        return f
    return v


def _lower_pred_value(val, kind: str | None, session_tz: str | None = None):
    """Lower a PREDICATE literal for comparison against stats of
    ``kind``; None = incompatible (cannot prune — the Spark filter's
    cast semantics own cross-type predicates). ``session_tz`` is the
    SPARK SESSION timezone: a naive datetime literal must be
    interpreted exactly as the Spark filter will interpret it (the
    repo's get_spark pins spark.sql.session.timeZone=UTC, which is NOT
    necessarily the host tz — review finding: mktime lowered in host
    local time and mis-pruned on non-UTC hosts)."""
    import calendar
    import datetime
    import decimal

    if kind is None:
        return None
    if isinstance(val, bool):
        return val if kind == "bool" else None
    if isinstance(val, datetime.datetime):
        if kind == "ts":
            if val.tzinfo is None:
                if not session_tz:
                    return None  # cannot know the filter's reading
                try:
                    from zoneinfo import ZoneInfo

                    val = val.replace(tzinfo=ZoneInfo(session_tz))
                except Exception:
                    return None  # unparseable tz: fail open, no prune
            return (
                calendar.timegm(val.utctimetuple()) * 1_000_000
                + val.microsecond
            )
        if kind == "tsntz" and val.tzinfo is None:
            return calendar.timegm(val.timetuple()) * 1_000_000 + val.microsecond
        return None
    if isinstance(val, datetime.date):
        return val.toordinal() if kind == "date" else None
    if isinstance(val, decimal.Decimal):
        if kind != "num":
            return None
        f = float(val)
        # an INEXACT decimal literal could round across a stat bound in
        # either direction — cannot prune safely, fail open
        return f if decimal.Decimal(f) == val else None
    if isinstance(val, (int, float)):
        if kind != "num":
            return None
        return None if isinstance(val, float) and val != val else val
    if isinstance(val, str):
        return val if kind == "str" else None
    return None


def _where_conjuncts(where) -> list[tuple]:
    """Normalize a `where` spec: one (col, op, val) triple or a list of
    them (ANDed). Fails loud on unknown ops."""
    if where is None:
        return []
    conj = [where] if isinstance(where, tuple) else list(where)
    for c in conj:
        if len(c) != 3 or c[1] not in _WHERE_OPS:
            raise ValueError(
                f"where conjunct {c!r}: expected (col, op, value) with "
                f"op in {_WHERE_OPS}"
            )
        if c[1] == "between" and len(c[2]) != 2:
            raise ValueError(f"between needs a (lo, hi) pair, got {c[2]!r}")
        if c[1] == "in" and (
            isinstance(c[2], (str, bytes))
            or not isinstance(c[2], (list, tuple, set, frozenset))
        ):
            raise ValueError(
                f"in needs a list/tuple/set of values, got {c[2]!r}"
            )
    return conj


def _where_column(conjuncts: list[tuple]):
    """The exact Spark filter for the conjuncts — applied to the pruned
    scan so read(where=...) ≡ read().filter(...) row-for-row even if an
    entry survives pruning (stats are inclusive bounds, not an index)."""
    cond = F.lit(True)
    for col, op, val in conjuncts:
        c = F.col(col)
        if op in ("=", "=="):
            cond = cond & (c == val)
        elif op == "<":
            cond = cond & (c < val)
        elif op == "<=":
            cond = cond & (c <= val)
        elif op == ">":
            cond = cond & (c > val)
        elif op == ">=":
            cond = cond & (c >= val)
        elif op == "in":
            vals = sorted(val) if isinstance(val, (set, frozenset)) else list(val)
            # empty list matches nothing (c.isin() with no args errors)
            cond = cond & (c.isin(vals) if vals else F.lit(False))
        else:
            cond = cond & c.between(val[0], val[1])
    return cond


def _parse_partition_value(raw: str | None, kind: str):
    """Typed lowering of a hive leaf-dir value ("sink=sink_user" →
    "sink_user") for min=max partition-column stats — no Spark job
    needed, the directory name IS the value. Unparseable/exotic values
    return None (no stat recorded, cannot prune — never wrong)."""
    if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    try:
        if kind == "str":
            from urllib.parse import unquote

            return unquote(raw)  # hive percent-escapes special chars
        if kind == "num":
            try:
                return int(raw)
            except ValueError:
                return float(raw)
        if kind == "bool":
            return {"true": True, "false": False}[raw.lower()]
        if kind == "date":
            import datetime

            return datetime.date.fromisoformat(raw).toordinal()
    except (ValueError, KeyError):
        return None
    return None  # ts/tsntz partition values: skip (tz-laden parsing)


def _entry_may_match(
    stats: dict | None, col: str, op: str, val, session_tz: str | None = None
) -> bool:
    """Inclusive metrics check: False ONLY when the entry's [min, max]
    proves no row can satisfy the conjunct. Missing stats (column not
    configured, all-null entry), kind-less records, NaN bounds, or a
    predicate literal whose type doesn't match the stats' kind keep the
    entry — pruning must never be load-bearing for correctness."""
    if not stats or col not in stats:
        return True
    rec = stats[col]
    if len(rec) != 3:
        return True  # kind-less record: cannot prune safely
    mn, mx, kind = rec
    # NaN bounds make every comparison False in Python — which would
    # PRUNE entries that hold matching rows (review finding: Spark's
    # max() returns NaN if any value is NaN, and json round-trips it)
    if any(isinstance(b, float) and b != b for b in (mn, mx)):
        return True

    def _lossy(v) -> bool:
        # Cross-representation compares where a double cast rounds are
        # unprunable in BOTH directions (advice + review finding):
        # Spark's filter compares int-vs-double operands after a lossy
        # double cast at >= 2^53 while this check compares Python-exact
        # — pruning could drop entries whose rows pass the filter.
        # (a) float predicate vs huge-int bounds (bigint column stats);
        # (b) huge-int predicate vs float bounds (double column stats).
        def _big_int(x) -> bool:
            return (
                isinstance(x, int)
                and not isinstance(x, bool)
                and abs(x) >= _FLOAT_EXACT_INT
            )

        if isinstance(v, float):
            return any(_big_int(b) for b in (mn, mx))
        if _big_int(v):
            return any(isinstance(b, float) for b in (mn, mx))
        return False

    try:
        if op == "between":
            lo = _lower_pred_value(val[0], kind, session_tz)
            hi = _lower_pred_value(val[1], kind, session_tz)
            if lo is None or hi is None or _lossy(lo) or _lossy(hi):
                return True
            return mx >= lo and mn <= hi
        if op == "in":
            lowered = []
            for item in val:
                v = _lower_pred_value(item, kind, session_tz)
                if v is None or _lossy(v):
                    return True  # any unprunable member keeps the entry
                lowered.append(v)
            # empty list: the filter matches nothing — prune (the
            # surviving-entry floor in _prune_entries keeps the schema)
            return any(mn <= v <= mx for v in lowered)
        v = _lower_pred_value(val, kind, session_tz)
        if v is None or _lossy(v):
            return True
        if op in ("=", "=="):
            return mn <= v <= mx
        if op == "<":
            return mn < v
        if op == "<=":
            return mn <= v
        if op == ">":
            return mx > v
        return mx >= v  # ">="
    except TypeError:
        # belt-and-braces: any residual cross-type compare keeps the
        # entry; the Spark-side filter still applies
        return True


class _CatalogBase:
    """The table operations composed from ``read``/``write`` (diff,
    keyed merge, compaction, metadata tables, append validation).
    The commit protocol itself — staging, manifests, the pointer swap
    — is ``ManifestCatalog``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        keep_snapshots: int = 0,
        stats_columns: tuple[str, ...] | list[str] | None = None,
    ):
        """``keep_snapshots``: number of previous table versions to
        retain on every commit (0 = none, the default — replaced data
        is dropped). With N > 0 each commit keeps the outgoing version
        readable (``read(version=...)`` time-travel, ``rollback``,
        ``expire_snapshots``) — the stand-in for Iceberg's snapshot
        log.

        ``stats_columns``: columns whose per-entry [min, max] each
        commit records (one column-pruned map-side-combined agg over
        just the staged batch) and ``read(where=...)`` uses to skip
        whole entries before the scan is even built — Iceberg's
        manifest-level file skipping. At 100 TB a selective predicate
        otherwise pays a footer-read per file at planning time;
        manifest stats prune files before any footer is opened."""
        self.spark = spark
        # the root is pinned ABSOLUTE at construction: manifests store
        # root-relative entry paths, and a cwd-relative root would make
        # freshly staged paths ambiguous with stored relative entries
        # (review finding: reads double-joined the root). abspath also
        # makes path() stable if the caller later chdirs.
        self.root = os.path.abspath(root)
        self.keep_snapshots = keep_snapshots
        self.stats_columns = tuple(stats_columns or ())
        os.makedirs(self.root, exist_ok=True)

    def path(self, table: str) -> str:
        """Logical path of the table under the catalog root, for run
        manifests and messages only: no data lives there (it lives in
        staged dirs under ``_data/``, named by ``_meta/``)."""
        return os.path.join(self.root, table)

    # ------------------------------------------------------ shared ops
    def diff(
        self,
        table: str,
        key_cols: list[str],
        old_version: int,
        new_version: int | None = None,
        compare_cols: list[str] | None = None,
        include_values: bool = False,
    ) -> DataFrame:
        """Keyed change capture between two retained versions of a
        table (``new_version=None`` = the current state) — the parquet
        stand-in for Iceberg's changelog scan. ``include_values=True``
        carries after-images so the result feeds
        ``operators.diff.apply_changes`` (see snapshot_diff for
        semantics and scale shape)."""
        from ..operators.diff import snapshot_diff

        return snapshot_diff(
            self.read(table, version=old_version),
            self.read(table, version=new_version),
            key_cols,
            compare_cols=compare_cols,
            include_values=include_values,
        )

    def replace_keys(
        self,
        table: str,
        staging_table: str,
        keys: DataFrame,
        key_col: str = "conv_id",
        partition_by: list[str] | None = None,
    ) -> None:
        """Key-level merge: rows of ``table`` whose ``key_col`` appears
        in ``keys`` are replaced by the contents of ``staging_table``
        (which holds the recomputed rows for exactly those keys).

        Iceberg analog: MERGE INTO / DELETE WHERE key IN (...) +
        APPEND, file-pruned by the key-bucket partition spec — a
        metadata+affected-files operation. The parquet stand-in
        rewrites the table (anti-join ∪ staging) behind the same
        atomic commit; the CALLER's semantics are identical.

        Idempotent: re-running the same merge with the same staging
        contents yields the same table (anti-join removes the
        previously merged rows first)."""
        staged = self.read(staging_table)
        if self.exists(table):
            old = self.read(table)
            merged = old.join(keys, key_col, "left_anti").unionByName(staged)
        else:
            merged = staged
        self.write(merged, table, partition_by=partition_by)

    def compact(
        self,
        table: str,
        target_file_mb: int = 256,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction: rewrite ``table`` into
        ceil(bytes / target_file_mb) files behind the same atomic
        commit.

        Fan-out sinks accumulate one file per (task, partition value)
        per run — at 10^12-turn scale that is millions of KB-sized
        files, and scan planning cost grows with file count, so
        periodic compaction is part of the operating contract.
        Iceberg analog: the ``rewrite_data_files`` maintenance action
        (bin-packs small files into target-sized ones at snapshot
        level). For partitioned tables pass ``partition_by`` — rows
        are clustered on the partition columns so each output task
        writes whole partition files instead of a sliver per partition
        value."""
        files_before, total_bytes = self._table_file_stats(table)
        n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
        df = self.read(table)
        if partition_by:
            df = df.repartition(n_files, *partition_by)
        else:
            df = df.repartition(n_files)
        self.write(df, table, partition_by=partition_by)
        return {
            "table": table,
            "files_before": files_before,
            "target_files": int(n_files),
            "bytes": total_bytes,
        }

    # ------------------------------------------------ metadata tables
    def history(self, table: str) -> DataFrame:
        """Iceberg's ``<table>.history`` metadata table as a DataFrame:
        one row per retained version (current included, flagged) with
        file count and byte size. Config-sized by construction —
        retained versions are bounded by ``keep_snapshots``."""
        rows = []
        for v in self.snapshots(table):
            f, b = self._version_file_stats(table, v)
            rows.append((v, False, f, b))
        if self.exists(table):
            f, b = self._table_file_stats(table)
            rows.append((self._current_version_number(table), True, f, b))
        return self.spark.createDataFrame(
            rows, "version int, is_current boolean, n_files bigint, bytes bigint"
        )

    def files(self, table: str, version: int | None = None) -> DataFrame:
        """Iceberg's ``<table>.files`` metadata table: one row per data
        file of a version (default current) with its size — the input
        to compaction policy and audit tooling. Listing happens on the
        driver over table metadata (file counts, not data)."""
        rows = [
            (p, sz) for p, sz in self._data_files(table, version)
        ]
        return self.spark.createDataFrame(
            rows, "file_path string, bytes bigint"
        )

    def _validate_append(
        self, df: DataFrame, table: str, merge_schema: bool
    ):
        """Shared append-time schema validation (Iceberg write-schema
        check). Returns (evolves, current_table_schema) — the schema is
        resolved ONCE here and reused by the caller for the union
        schema (appends run per micro-batch; resolving manifests or
        parquet footers twice per call is waste). A column present on
        both sides must keep its exact type except the Iceberg-safe
        widenings (see ``_SAFE_WIDENINGS``): with ``merge_schema=True``
        an int→long / float→double batch column is accepted and read
        back widened; everything else raises."""
        cur_schema = self.read(table).schema
        cur_types = {f.name: f.dataType for f in cur_schema.fields}
        new_types = {f.name: f.dataType for f in df.schema.fields}
        shared = cur_types.keys() & new_types.keys()
        conflicts = {c for c in shared if cur_types[c] != new_types[c]}
        widenings = {
            c
            for c in conflicts
            if (
                cur_types[c].simpleString(),
                new_types[c].simpleString(),
            )
            in _SAFE_WIDENINGS
            or (
                new_types[c].simpleString(),
                cur_types[c].simpleString(),
            )
            in _SAFE_WIDENINGS
        }
        hard = conflicts - widenings
        if hard:
            raise ValueError(
                f"column type changes not supported in append: {sorted(hard)}"
            )
        evolves = bool(conflicts) or cur_types.keys() != new_types.keys()
        if evolves and not merge_schema:
            raise ValueError(
                f"schema mismatch appending to {table!r} "
                f"(batch adds {sorted(new_types.keys() - cur_types.keys())}, "
                f"omits {sorted(cur_types.keys() - new_types.keys())}, "
                f"widens {sorted(conflicts)}); "
                "pass merge_schema=True to evolve"
            )
        return evolves, cur_schema


# Iceberg's safe primitive widenings (spec §Schema Evolution): stored as
# (narrow, wide) simpleString pairs. A batch may be on EITHER side — the
# table schema widens to the wider of the two and old files project up.
_SAFE_WIDENINGS = {
    ("int", "bigint"),
    ("float", "double"),
}


def _widened(cur, new):
    """Union schema column type: the wider of the two when they differ
    by a safe widening (validated upstream), else the shared type."""
    if cur == new:
        return cur
    pair = (cur.simpleString(), new.simpleString())
    if pair in _SAFE_WIDENINGS:
        return new
    return cur  # (new, cur) in _SAFE_WIDENINGS — table already wider


def _union_schema(cur, new):
    """Union (evolved) table schema: current fields (widened where the
    batch widens them), then batch-only fields. This is what an
    Iceberg table's metadata schema becomes after the same evolution;
    readers apply it EXPLICITLY (Spark's parquet reader promotes
    int32→int64 / float→double per file under an explicit schema —
    verified; ``mergeSchema`` would refuse the merge)."""
    from pyspark.sql import types as T

    new_by = {f.name: f for f in new.fields}
    fields = [
        T.StructField(
            f.name,
            _widened(f.dataType, new_by[f.name].dataType)
            if f.name in new_by
            else f.dataType,
            True,
        )
        for f in cur.fields
    ]
    cur_names = {f.name for f in cur.fields}
    fields += [
        T.StructField(f.name, f.dataType, True)
        for f in new.fields
        if f.name not in cur_names
    ]
    return T.StructType(fields)


def _leaf_partitions(root: str, depth: int, rel: str = ""):
    """Leaf partition dirs: one key=value path component per partition
    column (multi-level specs operate at LEAF grain — the
    dynamic-overwrite contract — not at the first level)."""
    base = os.path.join(root, rel) if rel else root
    for d in os.listdir(base):
        if "=" not in d or not os.path.isdir(os.path.join(base, d)):
            continue
        sub = os.path.join(rel, d) if rel else d
        if depth == 1:
            yield sub
        else:
            yield from _leaf_partitions(root, depth - 1, sub)


class ManifestCatalog(_CatalogBase):
    """The commit protocol: immutable staged data directories +
    per-version manifest JSON + one atomic single-file pointer swap.

    Layout under the catalog root::

        _data/<table>/s-<uuid>/...      immutable staged parquet dirs
        _meta/<table>/v<N>.json         manifest per committed version
        _meta/<table>/VERSION           current-version pointer file

    No hardlinks. No directory renames. The ONLY rename anywhere is
    ``os.replace`` of the single VERSION pointer file — the POSIX
    emulation of an object store's atomic conditional PUT (real
    Iceberg: the catalog's compare-and-swap of the metadata pointer).
    A crash at ANY point leaves the current version fully intact:
    staged dirs and manifest files are invisible until the pointer
    names them, and orphans are garbage-collected by the next commit's
    expiry pass.

    Note on Spark's own committer: ``df.write.parquet(staged_dir)``
    internally uses a Hadoop output committer whose default also
    renames; on a real object store you pair this catalog with the
    S3A magic committer / direct cloud committer (a spark-submit
    conf, not a code change). The CATALOG layer — the part this class
    owns — performs no directory renames of its own.
    """

    # --------------------------------------------------------- layout
    def _meta_dir(self, table: str) -> str:
        return os.path.join(self.root, "_meta", table)

    def _data_dir(self, table: str) -> str:
        return os.path.join(self.root, "_data", table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._meta_dir(table), "VERSION")

    def _new_stage(self, table: str) -> str:
        d = os.path.join(self._data_dir(table), "s-" + uuid.uuid4().hex[:12])
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d

    def _current_version(self, table: str) -> int | None:
        try:
            with open(self._pointer(table)) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def _manifest_path(self, table: str, version: int) -> str:
        return os.path.join(self._meta_dir(table), f"v{version}.json")

    def _load_manifest(self, table: str, version: int | None = None) -> dict:
        if version is None:
            version = self._current_version(table)
            if version is None:
                p = self.path(table)
                if os.path.isdir(p) and _has_parquet(p):
                    # written outside the Catalog (run_stream_pipeline's
                    # raw appends) or by a pre-manifest directory layout
                    raise ValueError(
                        f"{p} is a plain parquet directory, not a Catalog "
                        f"table (no {self._pointer(table)}); read it with "
                        "spark.read.parquet"
                    )
                raise ValueError(f"table {table!r} does not exist")
        p = self._manifest_path(table, version)
        if not os.path.isfile(p):
            raise ValueError(f"no snapshot v{version} of table {table!r}")
        with open(p) as fh:
            return json.load(fh)

    # Manifests store paths RELATIVE TO THE CATALOG ROOT (like Iceberg
    # metadata): the catalog stays valid if the root is mounted at a
    # different absolute path, opened via a different cwd-relative
    # spelling, or moved wholesale — and GC reference comparison can
    # never be defeated by two spellings of the same root (absolute vs
    # relative vs symlinked), which would otherwise delete live data.
    def _rel(self, p: str) -> str:
        if not os.path.isabs(p):
            # already root-relative (entries re-committed by append /
            # overwrite / rollback) — NEVER resolve via the process
            # cwd, that is the bug class this helper exists to prevent
            return os.path.normpath(p)
        ap = os.path.abspath(p)
        rroot = os.path.abspath(self.root)
        if ap == rroot or ap.startswith(rroot + os.sep):
            return os.path.relpath(ap, rroot)
        return ap  # outside the root (never produced by this class)

    def _abs(self, p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(self.root, p)

    def _commit(
        self,
        table: str,
        entries: list[dict],
        evolved: bool,
        partition_by: list[str] | None,
        schema: dict | None = None,
    ) -> None:
        """Write manifest v(N+1), swap the pointer file atomically,
        expire history beyond ``keep_snapshots`` and GC unreferenced
        staged dirs. The pointer swap is the commit point: everything
        before it is invisible, everything after it is cleanup."""
        meta = self._meta_dir(table)
        os.makedirs(meta, exist_ok=True)
        nxt = (self._current_version(table) or 0) + 1
        entries = [
            {
                **e,
                "path": self._rel(e["path"]),
                **({"base": self._rel(e["base"])} if e.get("base") else {}),
            }
            for e in entries
        ]
        man = {
            "version": nxt,
            "entries": entries,
            "evolved": bool(evolved),
            "partition_by": partition_by,
            "schema": schema,
        }
        man_path = self._manifest_path(table, nxt)
        man_tmp = man_path + ".tmp-" + uuid.uuid4().hex[:8]
        with open(man_tmp, "w") as fh:
            json.dump(man, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(man_tmp, man_path)  # single-file atomic
        ptr_tmp = self._pointer(table) + ".tmp-" + uuid.uuid4().hex[:8]
        with open(ptr_tmp, "w") as fh:
            fh.write(str(nxt))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(ptr_tmp, self._pointer(table))  # THE commit point
        # a crash between a previous attempt's manifest write and its
        # pointer swap leaves an orphan v>current manifest; it was
        # never committed, so drop it (snapshots() also ignores
        # above-pointer versions, but the file should not linger)
        for v in self._manifest_versions(table):
            if v > nxt:
                try:
                    os.remove(self._manifest_path(table, v))
                except OSError:
                    pass
        self.expire_snapshots(table)

    # ------------------------------------------------ snapshot history
    def _manifest_versions(self, table: str) -> list[int]:
        d = self._meta_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(v[1:-5])
            for v in os.listdir(d)
            if v.startswith("v") and v.endswith(".json") and v[1:-5].isdigit()
        )

    def snapshots(self, table: str) -> list[int]:
        """Retained PREVIOUS versions, oldest first (the current
        version is not listed).
        Versions ABOVE the pointer are crash orphans (manifest written,
        never committed) — excluded, so expiry can neither retain an
        uncommitted snapshot nor expire real history in its favor."""
        cur = self._current_version(table)
        if cur is None:
            return list(self._manifest_versions(table))
        return [v for v in self._manifest_versions(table) if v < cur]

    def expire_snapshots(self, table: str, keep: int | None = None) -> list[int]:
        """Delete all but the newest ``keep`` previous manifests, then
        garbage-collect staged dirs no retained manifest references.
        References are resolved across ALL tables in this catalog
        (commit_fanout_split makes two tables share one staged dir)."""
        keep = self.keep_snapshots if keep is None else keep
        versions = self.snapshots(table)
        expired = versions[: max(0, len(versions) - keep)]
        for v in expired:
            try:
                os.remove(self._manifest_path(table, v))
            except OSError:
                pass
        self._gc_unreferenced(table)
        return expired

    def _stage_roots(self, man: dict) -> set[str]:
        """Root-RELATIVE stage roots referenced by a manifest (legacy
        absolute entries are relativized for comparison)."""
        roots = set()
        for e in man["entries"]:
            p = e.get("base") or e["path"]
            # stored entries are already root-relative; only a legacy
            # absolute entry needs relativizing (never pass a relative
            # path through _rel — abspath would resolve it against the
            # process cwd, not the catalog root)
            if os.path.isabs(p):
                p = self._rel(p)
            roots.add(os.path.normpath(p))
        return roots

    def _gc_unreferenced(self, table: str) -> None:
        data = self._data_dir(table)
        if not os.path.isdir(data):
            return
        referenced: set[str] = set()
        meta_root = os.path.join(self.root, "_meta")
        if os.path.isdir(meta_root):
            for t in os.listdir(meta_root):
                tdir = os.path.join(meta_root, t)
                if not os.path.isdir(tdir):
                    continue
                for v in os.listdir(tdir):
                    if not (v.startswith("v") and v.endswith(".json")):
                        continue
                    try:
                        with open(os.path.join(tdir, v)) as fh:
                            man = json.load(fh)
                    except (OSError, json.JSONDecodeError):
                        continue
                    referenced |= self._stage_roots(man)
        for d in os.listdir(data):
            rel = os.path.normpath(self._rel(os.path.join(data, d)))
            if rel not in referenced:
                shutil.rmtree(os.path.join(data, d), ignore_errors=True)

    def rollback(self, table: str, version: int) -> None:
        """Make ``version`` current again: a NEW manifest referencing
        the old version's files (pure metadata — no data copied, the
        exact Iceberg rollback), committed through the same pointer
        swap; the pre-rollback state stays in the retained history."""
        man = self._load_manifest(table, version)
        self._commit(
            table,
            man["entries"],
            man["evolved"],
            man.get("partition_by"),
            schema=man.get("schema"),
        )

    # ------------------------------------------------------- table ops
    def exists(self, table: str) -> bool:
        return self._current_version(table) is not None

    # --------------------------------------------- per-entry column stats
    def _stat_cols(self, schema) -> list[tuple[str, str]]:
        """(column, kind) pairs of the configured stats columns present
        in ``schema`` with a supported atomic type."""
        out = []
        for fld in schema.fields:
            if fld.name not in self.stats_columns:
                continue
            kind = _field_stat_kind(fld.dataType)
            if kind is not None:
                out.append((fld.name, kind))
        return out

    @staticmethod
    def _stat_aggs(cols: list[tuple[str, str]]) -> list:
        """min/max agg expressions per column plus the entry row count
        (count-star short-circuit fuel — same one pass, no extra job);
        TIMESTAMP lowers to exact integer epoch micros JVM-side
        (unix_micros) — timezone-free, no float round-trip."""
        aggs = [F.count(F.lit(1)).alias("_stat_rows")]
        for c, kind in cols:
            mn, mx = F.min(c), F.max(c)
            if kind == "ts":
                mn, mx = F.unix_micros(mn), F.unix_micros(mx)
            aggs += [mn.alias(f"mn_{c}"), mx.alias(f"mx_{c}")]
        return aggs

    @staticmethod
    def _stats_from_row(row, cols: list[tuple[str, str]]) -> dict | None:
        """[min, max, kind] per column from one agg row; all-null
        columns record nothing (missing = cannot prune, never empty)."""
        stats = {}
        for c, kind in cols:
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            if mn is None or mx is None:
                continue
            if kind != "ts":  # ts already lowered JVM-side
                mn = _lower_stat_value(mn, kind, "min")
                mx = _lower_stat_value(mx, kind, "max")
            if any(isinstance(b, float) and b != b for b in (mn, mx)):
                continue  # NaN bound: record nothing (Spark max() is
                #           NaN if ANY value is — a poisoned bound
                #           would mis-prune, review finding)
            stats[c] = [mn, mx, kind]
        return stats or None

    def _entry_stats(self, path: str) -> tuple[dict | None, int | None]:
        """([min, max, kind] per configured column, row count) for one
        staged entry — ONE column-pruned, map-side-combined agg over
        just that entry's files at commit time (an object-store
        deployment would harvest the same numbers from the parquet
        footers it just wrote)."""
        if not self.stats_columns:
            return None, None
        df = self.spark.read.parquet(self._abs(path))
        cols = self._stat_cols(df.schema)
        if not cols:
            return None, None
        row = df.agg(*self._stat_aggs(cols)).head()
        return self._stats_from_row(row, cols), row["_stat_rows"]

    def _leaf_stats(
        self, base: str, leaves: list[str]
    ) -> dict[str, dict | None]:
        """Stats for MANY partition leaves of one staged dir in ONE
        grouped agg job (a per-entry loop would launch one Spark job
        per sink partition, review finding). Leaf keys are rebuilt from
        the grouped partition values; a leaf that doesn't round-trip
        (exotic hive escaping) falls back to the per-entry path."""
        df = self.spark.read.option("basePath", self._abs(base)).parquet(
            *[os.path.join(self._abs(base), leaf) for leaf in leaves]
        )
        part_cols = [seg.split("=", 1)[0] for seg in leaves[0].split("/")]
        cols = [
            (c, k) for c, k in self._stat_cols(df.schema)
            if c not in part_cols
        ]
        # partition columns in stats_columns get min = max = the leaf
        # value — read off the LEAF NAMES, zero Spark jobs (review
        # finding: a distinct() scan re-derived values the caller
        # already holds)
        part_stat_cols = [
            (c, k)
            for c, k in self._stat_cols(df.schema)
            if c in part_cols
        ]

        def leaf_part_stats(leaf: str) -> dict:
            segs = dict(seg.split("=", 1) for seg in leaf.split("/"))
            st = {}
            for c, k in part_stat_cols:
                v = _parse_partition_value(segs.get(c), k)
                if v is not None:
                    st[c] = [v, v, k]
            return st

        out: dict[str, tuple[dict | None, int | None]] = {}
        if not cols:
            # partition-only stats need zero data jobs, but the row
            # count is one zero-data-column grouped count (answered
            # from parquet row-group metadata by the scan)
            counts: dict[str, int] = {}
            for row in (
                df.groupBy(*part_cols)
                .agg(F.count(F.lit(1)).alias("_stat_rows"))
                .collect()
            ):
                counts["/".join(f"{c}={row[c]}" for c in part_cols)] = row[
                    "_stat_rows"
                ]
            for leaf in leaves:
                out[leaf] = (leaf_part_stats(leaf) or None, counts.get(leaf))
            return out
        rows = df.groupBy(*part_cols).agg(*self._stat_aggs(cols)).collect()
        for row in rows:
            leaf = "/".join(f"{c}={row[c]}" for c in part_cols)
            if leaf not in leaves:
                continue  # didn't round-trip; caller falls back
            st = dict(self._stats_from_row(row, cols) or {})
            st.update(leaf_part_stats(leaf))
            out[leaf] = (st or None, row["_stat_rows"])
        return out

    def _attach_stats(self, entries: list[dict]) -> list[dict]:
        """Attach stats to entries that lack them (freshly staged);
        entries re-committed from an older manifest (append, rollback,
        partition overwrite carry-over) keep theirs untouched and are
        never re-read. Leaves sharing a staged base dir are aggregated
        in one grouped job."""
        if not self.stats_columns:
            return entries
        out = list(entries)
        todo = [i for i, e in enumerate(out) if "stats" not in e]
        by_base: dict[str | None, list[int]] = {}
        for i in todo:
            by_base.setdefault(out[i].get("base"), []).append(i)
        for base, idxs in by_base.items():
            grouped: dict[str, dict | None] = {}
            # route ALL base+leaf entries through _leaf_stats — even a
            # single leaf: _entry_stats reads the leaf dir without
            # basePath, so the partition column is absent from its
            # schema and its min=max stat would silently go missing
            # (review finding: stats capability depended on how many
            # sinks a run happened to produce)
            if base is not None and all(out[i].get("leaf") for i in idxs):
                grouped = self._leaf_stats(
                    base, [out[i]["leaf"] for i in idxs]
                )
            for i in idxs:
                leaf = out[i].get("leaf")
                if leaf in grouped:
                    st, nrows = grouped[leaf]
                else:
                    st, nrows = self._entry_stats(out[i]["path"])
                extra = {}
                if st:
                    extra["stats"] = st
                if nrows is not None:
                    extra["rows"] = nrows
                if extra:
                    out[i] = {**out[i], **extra}
        return out

    def read(
        self, table: str, version: int | None = None, where=None
    ) -> DataFrame:
        """Assemble the DataFrame from the manifest's file references.
        Entries sharing a ``base`` (partitioned tables — the base is
        the staged dir, so hive partition columns survive) load in one
        multi-path scan; groups from different commits union by name.
        Evolved tables read with footer merging / missing-column
        NULLs, exactly Iceberg's read-time projection.

        ``where`` — (col, op, value) or a list of them (ANDed): entries
        whose recorded [min, max] cannot satisfy every conjunct are
        dropped BEFORE the scan is built (Iceberg's manifest-level file
        skipping — at 100 TB this is the difference between a
        planning-time footer read per file and none), and the same
        predicate is applied as a filter on the surviving scan so the
        result equals ``read().filter(...)`` row-for-row."""
        man = self._load_manifest(table, version)
        if not man["entries"]:
            # commits guarantee >=1 entry (empty tables get a limit(0)
            # schema file); fail loud if an external tool wrote one
            raise ValueError(f"manifest of {table!r} has no data entries")
        conj = _where_conjuncts(where)
        entries = self._prune_entries(
            man["entries"],
            conj,
            self.spark.conf.get("spark.sql.session.timeZone", None),
        )
        groups: dict[str | None, list[str]] = {}
        for e in entries:
            base = e.get("base")
            groups.setdefault(
                self._abs(base) if base else None, []
            ).append(self._abs(e["path"]))
        schema = None
        if man.get("schema") is not None:
            # evolved table: the manifest's union schema is the read
            # contract (Iceberg's metadata schema) — NULL projection of
            # files lacking a column, per-file promotion of safe
            # widenings; mergeSchema could do neither
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(man["schema"])
        dfs = []
        for base, paths in sorted(
            groups.items(), key=lambda kv: (kv[0] is not None, kv[0] or "")
        ):
            r = self.spark.read
            if schema is not None:
                r = r.schema(schema)
            elif man["evolved"]:
                r = r.option("mergeSchema", "true")
            if base is not None:
                r = r.option("basePath", base)
            dfs.append(r.parquet(*sorted(paths)))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=man["evolved"])
        return out.filter(_where_column(conj)) if conj else out

    @staticmethod
    def _prune_entries(
        entries: list[dict], conj: list[tuple], session_tz: str | None = None
    ) -> list[dict]:
        """Entries that may contain matching rows. When EVERY entry is
        provably empty under the predicate, ONE entry is kept so the
        scan still carries the table schema — the filter then returns
        zero rows (a schema-only scan, not a correctness path)."""
        if not conj:
            return entries
        kept = [
            e
            for e in entries
            if all(
                _entry_may_match(e.get("stats"), c, o, v, session_tz)
                for c, o, v in conj
            )
        ]
        return kept or entries[:1]

    def count_rows(
        self, table: str, where=None, version: int | None = None
    ) -> int:
        """COUNT(*) short-circuit: an unpredicated count is the sum of
        the committed per-entry row counts — pure metadata, zero Spark
        jobs (Iceberg answers SELECT COUNT(*) from manifest record
        counts the same way). Runs the scan and counts when a predicate
        is given or any entry lacks a recorded row count (fail open,
        never guess)."""
        if where is None:
            man = self._load_manifest(table, version)
            rows = [e.get("rows") for e in man["entries"]]
            if rows and all(r is not None for r in rows):
                return sum(rows)
        return self.read(table, version=version, where=where).count()

    def write(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Atomic replace: stage, then ONE pointer swap."""
        stage = self._new_stage(table)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(stage)
        if partition_by and not _has_parquet(stage):
            # a partitioned write of an EMPTY DataFrame emits only
            # _SUCCESS — commit an unpartitioned schema file instead
            _commit_empty_schema_file(df, stage)
            partition_by = None
        if partition_by:
            entries = [
                {"path": os.path.join(stage, leaf), "base": stage, "leaf": leaf}
                for leaf in _leaf_partitions(stage, len(partition_by))
            ]
        else:
            entries = [{"path": stage, "base": None}]
        self._commit(
            table,
            self._attach_stats(entries),
            evolved=False,
            partition_by=partition_by,
        )

    def append(
        self, df: DataFrame, table: str, merge_schema: bool = False
    ) -> None:
        """TRUE metadata append: the new manifest lists every previous
        entry untouched plus the new batch's staged dir — no hardlink
        emulation, no file copies, exactly Iceberg's append snapshot.
        Schema evolution (``_validate_append``, Iceberg's write-schema
        check): with ``merge_schema=True`` the batch may add or omit
        columns (readers see NULLs where a file lacks one) and apply
        the safe widenings int→long and float→double; any other
        difference raises. Unpartitioned tables only (use
        ``commit_fanout_split`` / ``replace_keys`` on partitioned
        ones)."""
        if not self.exists(table):
            self.write(df, table)
            return
        man = self._load_manifest(table)
        if man.get("partition_by"):
            raise ValueError(
                f"append targets unpartitioned tables; {table!r} is "
                "hive-partitioned (use replace_keys/commit_fanout_split)"
            )
        evolves, cur_schema = self._validate_append(df, table, merge_schema)
        union = _union_schema(cur_schema, df.schema)
        stage = self._new_stage(table)
        df.write.mode("overwrite").parquet(stage)
        entries = list(man["entries"]) + self._attach_stats(
            [{"path": stage, "base": None}]
        )
        evolved = man["evolved"] or evolves
        self._commit(
            table,
            entries,
            evolved=evolved,
            partition_by=None,
            schema=union.jsonValue() if evolved else None,
        )

    def commit_fanout_split(
        self,
        routed_all: DataFrame,
        table: str,
        rejects_table: str,
        reject_prefix: str = REJECT_SINK_PREFIX,
    ) -> None:
        """One staged dynamic-partition write; the reject partitions
        become the rejects table PURELY at manifest level (both tables'
        manifests reference slices of the same immutable staged dir —
        the partition-level REPLACE of the Iceberg analog with zero
        file moves). Two pointer swaps commit the two tables (rejects
        first, so a crash between them is re-driven by the caller's
        run-manifest)."""
        stage = self._new_stage(table)
        routed_all.write.mode("overwrite").partitionBy("sink").parquet(stage)
        rej_entries: list[dict] = []
        main_entries: list[dict] = []
        for d in sorted(os.listdir(stage)):
            if "=" not in d or not os.path.isdir(os.path.join(stage, d)):
                continue
            entry = {"path": os.path.join(stage, d), "base": stage, "leaf": d}
            # reject_prefix matches the DIRECTORY name ("sink=__reject_")
            if d.startswith(reject_prefix):
                rej_entries.append(entry)
            else:
                main_entries.append(entry)
        rej_entries = self._attach_stats(rej_entries)
        main_entries = self._attach_stats(main_entries)
        if rej_entries:
            self._commit(rejects_table, rej_entries, False, ["sink"])
        else:
            rstage = self._new_stage(rejects_table)
            _commit_empty_schema_file(routed_all, rstage)
            self._commit(
                rejects_table, [{"path": rstage, "base": None}], False, None
            )
        if not main_entries:
            # every row routed to a reject sink: commit an EMPTY main
            # table with the full schema (a zero-entry manifest would
            # be unreadable), mirroring the empty-rejects case
            mstage = self._new_stage(table)
            _commit_empty_schema_file(routed_all, mstage)
            self._commit(table, [{"path": mstage, "base": None}], False, None)
        else:
            self._commit(table, main_entries, False, ["sink"])

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        """Dynamic partition overwrite as ONE atomic commit: the new
        manifest carries the staged leaves for partition values present
        in ``df`` and the previous manifest's entries for every other
        leaf — a single pointer swap, so a crash can never leave a
        half-restated table. This is Iceberg's dynamic INSERT OVERWRITE
        exactly: only the partition values PRESENT in ``df`` are
        replaced (the backfill/restatement primitive)."""
        if not partition_by:
            raise ValueError("overwrite_partitions requires partition columns")
        if not self.exists(table):
            self.write(df, table, partition_by=partition_by)
            return
        man = self._load_manifest(table)
        if not man.get("partition_by"):
            raise ValueError(
                f"{table!r} is not hive-partitioned; use write() to replace it"
            )
        stage = self._new_stage(table)
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(stage)
        merged = {e["leaf"]: e for e in man["entries"]}
        # stats only for the NEW staged leaves: carried-over entries
        # (with or without stats) are metadata-only recommits and must
        # never be re-read at commit time (review finding — a legacy
        # stats-less history would otherwise be fully rescanned here)
        new_entries = self._attach_stats(
            [
                {"path": os.path.join(stage, leaf), "base": stage, "leaf": leaf}
                for leaf in _leaf_partitions(stage, len(partition_by))
            ]
        )
        for e in new_entries:
            merged[e["leaf"]] = e
        self._commit(
            table,
            [merged[k] for k in sorted(merged)],
            man["evolved"],
            partition_by,
            schema=man.get("schema"),
        )

    def _table_file_stats(self, table: str) -> tuple[int, int]:
        return self._version_file_stats(table, None)

    def _current_version_number(self, table: str) -> int:
        v = self._current_version(table)
        if v is None:
            raise ValueError(f"table {table!r} does not exist")
        return v

    def _version_file_stats(
        self, table: str, version: int | None
    ) -> tuple[int, int]:
        man = self._load_manifest(table, version)
        files = 0
        total = 0
        for e in man["entries"]:
            for dirpath, _dirnames, filenames in os.walk(self._abs(e["path"])):
                for f in filenames:
                    if f.endswith(".parquet"):
                        files += 1
                        total += os.path.getsize(os.path.join(dirpath, f))
        return files, total

    def _data_files(self, table: str, version: int | None = None):
        man = self._load_manifest(table, version)
        for e in man["entries"]:
            for dirpath, _dirnames, filenames in os.walk(self._abs(e["path"])):
                for f in sorted(filenames):
                    if f.endswith(".parquet"):
                        p = os.path.join(dirpath, f)
                        yield p, os.path.getsize(p)

    def drop(self, table: str) -> None:
        shutil.rmtree(self._meta_dir(table), ignore_errors=True)
        shutil.rmtree(self._data_dir(table), ignore_errors=True)


# Empty placeholder, not a catalog: perfbench/run.py:265 still resolves
# this name when it lists the methods its tracer wraps. The
# benchmark-only change that drops it from ``traced_targets`` deletes
# this class; it must define no methods, or the tracer would wrap them.
class PosixCatalog:
    pass


# The table catalog: ``Catalog(spark, root, keep_snapshots=0,
# stats_columns=None)`` (see ``_CatalogBase.__init__``).
Catalog = ManifestCatalog
