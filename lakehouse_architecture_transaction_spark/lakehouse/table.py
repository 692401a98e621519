"""Persistent lakehouse table with Delta-style merge semantics.

Parity with the reference's storage layer (reference
scripts/glue/script.py:201-227): first write creates the table
partitioned by a chosen column; subsequent batches MERGE on the
primary key (whenMatchedUpdateAll + whenNotMatchedInsertAll).

The storage is parquet with an atomic directory-swap rewrite. The
merge itself is the join-based operator in operators/merge.py — the
same logical plan as Delta's update-all/insert-all merge.

One commit rule serves every write that replaces the table's
contents (``create``, ``overwrite``, the parquet ``upsert``,
``compact`` and the versioned ``append``), in ``LakeTable._replace``:

- ``versioned=True``: copy-on-write snapshots. The commit writes a
  fresh ``_versions/v%08d`` directory and then atomically advances the
  ``_LATEST`` pointer — Delta's two user-visible transaction behaviors
  (time travel via ``read(version=)``, and readers never seeing a
  half-written table because old snapshot files are immutable) without
  the Delta log format. ``vacuum()`` is the retention knob.
- a plain table that does not exist yet is written in place;
- any other plain table is materialized in a hidden sibling staging
  directory and swapped in with two renames. The new contents may be a
  lazy plan over the files being replaced (a merge or compaction reads
  the table it rewrites), so an in-place overwrite would corrupt the
  plan's own source mid-read.

The plain ``append`` adds files to the table directory and writes no
schema sidecar.

Scale notes: a full-outer-join merge rewrites the table — that is
what Delta does logically too (copy-on-write); Delta wins at scale by
pruning untouched FILES via the log.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from lakehouse_architecture_transaction_spark.operators.merge import merge_upsert


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips: ``.``-prefixed entries
    (checksums, staging dirs) and ``_``-prefixed ones (``_temporary``,
    ``_SUCCESS``, ``_versions``) unless they are ``col=value``
    partition directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(target: str) -> list[str]:
    """The parquet files a Spark read of ``target`` sees, in walk order
    (files sorted within each directory). A crashed writer's
    ``_temporary/`` or a hidden staging dir under ``target`` is not
    part of the table."""
    out = []
    for root, dirs, files in os.walk(target):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".parquet") and not _hidden(f)]
    return out


def _parquet_footer_rows(target: str) -> int:
    """Row count from parquet footers only — no Spark job, no data
    read. Used for commit-log metadata so a commit doesn't pay a
    second full-table scan."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _data_files(target))


def _read_snapshot(spark: SparkSession, target: str) -> DataFrame:
    """Read a snapshot directory; prefer the schema sidecar.

    The sidecar (written by ``LakeTable._write``) makes two things work
    that bare inference cannot: an EMPTY PARTITIONED snapshot (the
    partitioned writer emits no data files for an empty frame, so
    there is no footer to infer from — r9 degenerate-sweep finding),
    and at scale it skips the footer-sampling schema inference
    entirely. Snapshots written before the sidecar existed fall back
    to inference unchanged."""
    sidecar = os.path.join(target, "_schema.json")
    if os.path.exists(sidecar):
        from pyspark.sql.types import StructType

        with open(sidecar) as f:
            schema = StructType.fromJson(json.load(f))
        return spark.read.schema(schema).parquet(target)
    return spark.read.parquet(target)


class LakeTable:
    """A named, partitioned, upsertable table rooted at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        partition_by: str | None = None,
        versioned: bool = False,
        constraints: dict[str, str] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = keys
        self.partition_by = partition_by
        self.versioned = versioned
        #: Delta-style CHECK constraints: {name: sql_predicate}. Every
        #: write verifies them distributedly (one filter+limit job per
        #: constraint) and refuses the commit on violation.
        self.constraints = constraints or {}

    def _check_constraints(self, df: DataFrame) -> None:
        from pyspark.sql import functions as F  # local: keep module header lean

        for name, predicate in self.constraints.items():
            bad = df.filter(~F.expr(predicate)).limit(1).count()
            if bad:
                raise ValueError(f"CHECK constraint {name!r} violated: NOT ({predicate})")

    # -- versioning ----------------------------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.path, "_LATEST")

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.path, "_versions", f"v{version:08d}")

    def latest_version(self) -> int | None:
        try:
            with open(self._pointer_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def history(self) -> list[int]:
        """Committed snapshot versions, oldest first (vacuumed ones
        excluded)."""
        vdir = os.path.join(self.path, "_versions")
        if not os.path.isdir(vdir):
            return []
        latest = self.latest_version()
        out = []
        for d in sorted(os.listdir(vdir)):
            if d.startswith("v") and d[1:].isdigit() and int(d[1:]) <= (latest if latest is not None else -1):
                out.append(int(d[1:]))
        return out

    def _commit(self, df: DataFrame, operation: str) -> int:
        """Write the next snapshot and atomically advance the pointer.
        The write happens BEFORE the pointer moves, so a crashed commit
        leaves an orphan directory, never a visible broken table; the
        log entry is appended AFTER the pointer advance, so the log
        never describes a version that was never visible (a crash
        between advance and append loses only the log line, and
        ``describe_history`` tolerates that by keying on versions)."""
        latest = self.latest_version()
        next_v = 0 if latest is None else latest + 1
        target = self._version_dir(next_v)
        self._write(df, target)
        n_rows = _parquet_footer_rows(target)
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(next_v))
        os.replace(tmp, self._pointer_path())
        with open(os.path.join(self.path, "_commits.jsonl"), "a") as f:
            f.write(
                json.dumps(
                    {
                        "version": next_v,
                        "operation": operation,
                        "n_rows": n_rows,
                        "timestamp": datetime.now(timezone.utc).isoformat(),
                    }
                )
                + "\n"
            )
        return next_v

    def describe_history(self) -> list[dict]:
        """Commit log, newest first (Delta DESCRIBE HISTORY shape),
        restricted to commits whose snapshot is still visible."""
        log_path = os.path.join(self.path, "_commits.jsonl")
        if not os.path.exists(log_path):
            return []
        latest = self.latest_version()
        with open(log_path) as f:
            entries = [json.loads(line) for line in f if line.strip()]
        # key by version, last entry wins: a retried commit may append
        # the same version twice
        by_version: dict[int, dict] = {}
        for e in entries:
            if latest is not None and e["version"] <= latest:
                by_version[e["version"]] = e
        return [by_version[v] for v in sorted(by_version, reverse=True)]

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF``: roll the table
        back to an earlier snapshot AS A NEW COMMIT — history moves
        forward (the bad versions stay queryable for forensics), only
        the current pointer changes. Returns the new version number."""
        if not self.versioned:
            raise ValueError("restore requires versioned=True")
        if not os.path.isdir(self._version_dir(version)):
            raise FileNotFoundError(f"version {version} not found at {self.path}")
        return self._commit(self.read(version), operation=f"restore(v{version})")

    def clone(self, target_path: str) -> "LakeTable":
        """Delta ``CLONE`` (deep): a new independent table initialized
        from this table's CURRENT snapshot — the dev/test-copy
        primitive. The clone starts its own history at v0."""
        out = LakeTable(
            self.spark,
            target_path,
            keys=self.keys,
            partition_by=self.partition_by,
            versioned=self.versioned,
            constraints=self.constraints,
        )
        out.create(self.read())
        return out

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the last ``keep_last`` snapshots (Delta's
        VACUUM retention, directory-granular). Returns removed
        versions."""
        hist = self.history()
        to_drop = hist[:-keep_last] if keep_last > 0 else hist[:-1]
        for v in to_drop:
            shutil.rmtree(self._version_dir(v), ignore_errors=True)
        return to_drop

    # -- state ---------------------------------------------------------

    def exists(self) -> bool:
        if self.versioned:
            return self.latest_version() is not None
        return os.path.isdir(self.path) and bool(os.listdir(self.path))

    def _snapshot_dir(self, version: int | None = None) -> str:
        """Directory of the current (or time-traveled) snapshot."""
        if self.versioned:
            v = self.latest_version() if version is None else version
            if v is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            return self._version_dir(v)
        if version is not None:
            raise ValueError("time travel requires versioned=True")
        return self.path

    def num_rows(self) -> int:
        """Row count of the current snapshot from the parquet footers —
        no Spark job."""
        return _parquet_footer_rows(self._snapshot_dir())

    def read(self, version: int | None = None) -> DataFrame:
        return _read_snapshot(self.spark, self._snapshot_dir(version))

    # -- writes --------------------------------------------------------

    def _writer(self, df: DataFrame):
        """A parquet writer for ``df`` in the table's partitioning."""
        writer = df.write
        if self.partition_by and self.partition_by in df.columns:
            writer = writer.partitionBy(self.partition_by)
        return writer.format("parquet")

    def _write(self, df: DataFrame, target: str) -> None:
        self._writer(df).mode("overwrite").save(target)
        # after the data write: overwrite mode has already cleared the
        # directory, so the sidecar always describes THIS snapshot
        # (partition column included — the explicit-schema read then
        # types partition values identically to the written frame)
        with open(os.path.join(target, "_schema.json"), "w") as f:
            f.write(df.schema.json())

    def _replace(self, df: DataFrame, operation: str) -> int:
        """Make ``df`` the table's contents under the module's commit
        rule. Returns the committed version (0 on a plain table)."""
        if self.versioned:
            return self._commit(df, operation=operation)
        if not self.exists():
            self._write(df, self.path)
            return 0
        tmp = tempfile.mkdtemp(prefix=".replace-", dir=os.path.dirname(os.path.abspath(self.path)))
        staging = os.path.join(tmp, "data")
        self._write(df, staging)
        os.rename(self.path, os.path.join(tmp, "old"))
        os.rename(staging, self.path)
        shutil.rmtree(tmp, ignore_errors=True)
        return 0

    def create(self, df: DataFrame) -> None:
        """Initial load (reference scripts/glue/script.py:219-227)."""
        self._check_constraints(df)
        self._replace(df, "create")

    def overwrite(self, df: DataFrame, operation: str = "overwrite") -> int:
        """Full-replace commit: the whole table becomes ``df`` as a
        NEW snapshot (versioned tables keep history — ``diff()``
        between overwrite commits yields the replacement delta). The
        refresh primitive for derived tables (e.g. the persisted ANN
        index, lakehouse/ann_index.py) where merge-on-key semantics
        would never delete rows that fell out of the new build.
        ``df`` may derive from reading this very table."""
        self._check_constraints(df)
        return self._replace(df, operation)

    def upsert(self, source: DataFrame, evolve_schema: bool = False) -> None:
        """MERGE ``source`` on the key columns; creates on first call
        (reference scripts/glue/script.py:202-216 try-merge-except-create).
        ``evolve_schema`` forwards Delta mergeSchema semantics: new
        source columns join the table schema, and columns the source
        lacks keep their values (operators/merge.py).
        """
        if not self.exists():
            self.create(source)
            return
        self._check_constraints(source)
        self._replace(merge_upsert(self.read(), source, keys=self.keys, evolve_schema=evolve_schema), "merge")

    def compact(self, target_files: int = 8) -> int:
        """Small-file compaction (Delta OPTIMIZE / bin-packing): the
        rejected-zone's blind appends and streaming micro-batches each
        add files, and at scale the file count — not the byte count —
        becomes the scan bottleneck (driver listing, task scheduling,
        footer reads). Rewrites the current contents into
        ``target_files`` coalesced files. Returns the new file count."""
        self._replace(self.read().coalesce(target_files), "compact")
        return len(_data_files(self._snapshot_dir()))

    def diff(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Change-data-capture between two committed snapshots (Delta's
        CHANGE DATA FEED surface, computed from the copy-on-write
        versions): one row per changed key with ``_change_type`` ∈
        {insert, update_postimage, delete}. Unchanged rows are dropped.

        Values come from the NEW snapshot for insert/update and the
        OLD one for delete (postimage CDC). One full-outer join on the
        keys; non-key comparison is a single null-safe struct
        equality, so wide tables don't multiply join conditions.
        Columns are aligned by name (schema evolution adds columns as
        NULL on the older side)."""
        if not self.versioned:
            raise ValueError("diff requires versioned=True")
        from pyspark.sql import functions as F

        old = self.read(from_version)
        new = self.read(to_version)
        cols = list(dict.fromkeys(new.columns + [c for c in old.columns if c not in new.columns]))
        nonkey = [c for c in cols if c not in self.keys]
        for c in cols:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
        o = old.select(*self.keys, F.struct(*[F.col(c) for c in nonkey]).alias("__o"))
        n = new.select(*self.keys, F.struct(*[F.col(c) for c in nonkey]).alias("__n"))
        j = o.join(n, on=self.keys, how="full_outer")
        change = (
            F.when(F.col("__o").isNull(), F.lit("insert"))
            .when(F.col("__n").isNull(), F.lit("delete"))
            .when(~F.col("__o").eqNullSafe(F.col("__n")), F.lit("update_postimage"))
        )
        payload = F.coalesce(F.col("__n"), F.col("__o"))
        return (
            j.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(
                *self.keys,
                *[payload.getField(c).alias(c) for c in nonkey],
                "_change_type",
            )
        )

    def scan(self, where: list[Predicate], version: int | None = None) -> tuple[DataFrame, dict]:
        """Predicate scan with file-level data skipping over the
        current (or time-traveled) snapshot — the Delta/Iceberg
        manifest-pruning behavior, served from parquet footer stats
        (see :func:`pruned_read`). Pair with a ``zorder_write``-style
        clustered layout for tight per-file ranges."""
        return pruned_read(self.spark, self._snapshot_dir(version), where)

    def register_scan(
        self, name: str, where: list[Predicate], version: int | None = None
    ) -> dict:
        """Register a footer-pruned scan as a temp view so SQL-BY-NAME
        queries get file-level data skipping too — the metastore leg of
        the Delta/Iceberg contract (the reference's Athena queries hit
        a Glue-crawled table whose manifest prunes partitions;
        reference code/step_function_code.json "StartCrawler" →
        Athena). The view's relation is built from the kept file list,
        so every ``spark.sql(f"SELECT ... FROM {name}")`` plan scans
        only surviving files; the residual predicates are applied in
        the view, keeping correctness pruning-independent. Returns the
        skipping report (files_total/read/skipped)."""
        df, report = self.scan(where, version=version)
        df.createOrReplaceTempView(name)
        return report

    def append(self, df: DataFrame) -> None:
        """Blind append (the reference's rejected-records zone uses
        this mode — scripts/glue/script.py:190-192).

        On a ``versioned=True`` table the append is itself a commit
        (read latest snapshot, union, new immutable snapshot):
        writing files straight into the table root would be invisible
        to versioned ``read()`` and would litter the snapshot area."""
        self._check_constraints(df)
        if self.versioned:
            self._replace(self.read().unionByName(df) if self.exists() else df, "append")
            return
        self._writer(df).mode("append").save(self.path)


def _interleave_bits(scaled, bits: int):
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            bit = F.shiftright(s, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(scaled) + i))
    return z


def zorder_value(df: DataFrame, cols: list[str], bits: int = 10):
    """Z-order (Morton) key: interleave the bits of each column's
    quantile-scaled value. Sorting a write by this key clusters rows
    that are close in EVERY dimension into the same files, so min/max
    file skipping prunes multi-predicate scans — Delta/Iceberg's
    OPTIMIZE ZORDER, as a plain column expression.

    Columns are scaled to [0, 2^bits) by APPROXIMATE QUANTILE rank:
    ``approxQuantile`` (Greenwald–Khanna, one pass, driver receives
    only 2^bits boundary values) + a binary-search bucket lookup via a
    broadcast boundary array. Quantile scaling keeps the curve robust
    to skew — and unlike a ``percent_rank`` window (which funnels the
    whole table through ONE partition to rank it) nothing here
    materializes a global sort, so the same code runs at 100 TB.
    Lookup is JVM-side (higher-order filter on a literal array); no
    UDF."""
    from pyspark.sql import functions as F

    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    # relative error 1/(4·bins): boundaries land within a quarter-bin
    bounds = df.stat.approxQuantile(cols, probs, 1.0 / (4 * n_bins))

    def _scaled(c: str, bs: list[float]):
        # bucket = #boundaries <= value, as a name-resolved expr over a
        # literal array (bounded by 2^bits, data-independent)
        lits = ", ".join(f"CAST({b!r} AS DOUBLE)" for b in bs)
        return F.expr(
            f"CAST(size(filter(array({lits}), b -> b <= CAST({c} AS DOUBLE))) AS BIGINT)"
        )

    return _interleave_bits([_scaled(c, bs) for c, bs in zip(cols, bounds)], bits)


def zorder_write(df: DataFrame, path: str, cols: list[str], num_files: int = 8, bits: int = 10) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``:
    range-partition then sort by the Morton key so each output file
    covers a compact hyper-rectangle of the key space (tight min/max
    footer stats on every zorder column → multi-column file skipping).
    Two passes over the input (quantile sketch, then write) and one
    range shuffle — no global sort, no single-partition stage."""
    z = df.withColumn("__z", zorder_value(df, cols, bits=bits))
    (
        z.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    num_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) external
    table registered as ``name``.

    Bucketing pre-shuffles ON WRITE: every join or aggregation keyed on
    ``bucket_cols`` between tables with matching bucket counts runs
    with ZERO exchange — at 100 TB this converts the nightly fact-fact
    join from the dominant shuffle into a local zip of bucket files.
    Requires the session catalog (bucket metadata lives there, which is
    why LakeTable's path-only API doesn't carry it)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.option("path", path).format("parquet").saveAsTable(name)


# ---------------------------------------------------- file skipping

#: Conjunctive predicate: (column, op, literal) with op ∈ <,<=,>,>=,=.
Predicate = tuple[str, str, object]


def _file_column_ranges(target: str, cols: set[str]) -> list[tuple[str, dict[str, tuple]]]:
    """Per-parquet-file [min, max] per requested column, from footer
    statistics only — the same metadata a Delta/Iceberg log snapshots,
    read here straight from the files (no Spark job, no data pages).
    A column with missing stats in any row group is reported absent
    for that file (→ never pruned on it)."""
    import pyarrow.parquet as pq

    out: list[tuple[str, dict[str, tuple]]] = []
    for fpath in _data_files(target):
        md = pq.ParquetFile(fpath).metadata
        ranges: dict[str, tuple] = {}
        ok: set[str] = set(cols)
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in ok:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    ok.discard(name)
                    ranges.pop(name, None)
                    continue
                lo, hi = st.min, st.max
                if name in ranges:
                    plo, phi = ranges[name]
                    lo, hi = min(plo, lo), max(phi, hi)
                ranges[name] = (lo, hi)
        out.append((fpath, ranges))
    return out


def _range_may_match(rng: tuple, op: str, value) -> bool:
    lo, hi = rng
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True  # incomparable literal/stat types: never prune
    raise ValueError(f"unsupported op {op!r}")


def pruned_read(
    spark: SparkSession, path: str, where: list[Predicate]
) -> tuple[DataFrame, dict]:
    """Read a parquet directory with FILE-LEVEL data skipping: drop
    every file whose footer min/max proves it cannot satisfy the
    conjunctive ``where``, then apply the same predicates as ordinary
    filters (pruning is an optimization; correctness never depends on
    it — exactly Delta/Iceberg's contract, with the footer stats
    standing in for the transaction-log manifest).

    Returns (DataFrame, report) where report carries files_total /
    files_read / files_skipped — the number a 100 TB table lives or
    dies by: a zorder_write clustered on the predicate columns turns
    this from "scan everything" into "scan a handful of files".

    Driver cost is one footer read per file (no data pages). At real
    scale the stats come from a manifest instead of refooting — same
    pruning decision, cheaper metadata path; see zorder_write for the
    layout that makes the ranges tight.
    """
    from pyspark.sql import functions as F

    cols = {c for c, _op, _v in where}
    stats = _file_column_ranges(path, cols)
    keep = [
        fpath
        for fpath, ranges in stats
        if all(c not in ranges or _range_may_match(ranges[c], op, v) for c, op, v in where)
    ]
    report = {
        "files_total": len(stats),
        "files_read": len(keep),
        "files_skipped": len(stats) - len(keep),
    }
    base = spark.read.parquet(*keep) if keep else _read_snapshot(spark, path).limit(0)
    import datetime as _dt
    import operator as _op

    from pyspark.sql.types import TimestampNTZType

    apply = {"=": _op.eq, "<": _op.lt, "<=": _op.le, ">": _op.gt, ">=": _op.ge}
    types = {f.name: f.dataType for f in base.schema.fields}
    for c, op, v in where:
        # ONLY the datetime-vs-TIMESTAMP_NTZ pairing needs a cast (a
        # naive-datetime literal otherwise lands as session-tz TIMESTAMP
        # and fails to resolve against the catalog's pinned NTZ event/
        # order time type). Everything else keeps Spark's normal type
        # promotion — a blanket cast-to-column-type would silently
        # truncate cross-type literals (1.5 -> 1 against a bigint) or
        # null out unparseable ones.
        lit = F.lit(v)
        if isinstance(types.get(c), TimestampNTZType) and isinstance(v, _dt.datetime):
            lit = lit.cast(types[c])
        base = base.filter(apply[op](F.col(c), lit))
    return base, report
