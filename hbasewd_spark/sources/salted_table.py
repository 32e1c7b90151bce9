"""SaltedTable — the engine's table facade (write + scan + point get).

This is the Spark-native replacement for the whole reference flow:
``getDistributedKey`` at write time (README:43-47), ``DistributedScanner``
for ordered range reads (DistributedScanner.java:35-186), and
``WdTableInputFormat`` split multiplication for parallel batch reads
(WdTableInputFormat.java:58-77).

Physical layout: parquet dataset partitioned by the ``salt`` column
(Hive-style ``salt=K/`` dirs = the reference's buckets = HBase region
prefixes), rows sorted by key *within* each salt partition so parquet
row-group min/max stats prune range scans — the columnar analogue of
HBase's per-region key order.

At 100 TB: bucket count trades write parallelism against scan fan-out
exactly like the reference (README:37-40); with salt as a partition
column the scan fan-out cost is only "more splits", which Spark's
scheduler + AQE absorb. Within a salt partition, files split by
row-group for free (FileSourceScanExec), replacing region enumeration.
The distributor spec is persisted next to the data so readers need no
out-of-band config (the ``Parametrizable``/``addInfo`` round-trip,
AbstractRowKeyDistributor.java:83-89, as self-describing data).
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Any, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from hbasewd_spark.fsutil import Fs, held_lock
from hbasewd_spark.plans.distributor import KeyDistributor, distributor_from_meta
from hbasewd_spark.plans.intervals import range_predicate

META_FILE = "_wd_distributor.json"
SALT_COL = "salt"


def _session_tzinfo(session_tz: str):
    """Resolve a Spark session-timezone string to a tzinfo.

    Spark accepts java.time.ZoneId forms zoneinfo cannot: bare offsets
    ('+08:00', '-05:30', 'Z') and prefixed offsets ('UTC+8',
    'GMT+08:00', 'UT-2'). Parse those into fixed-offset
    datetime.timezone objects; region ids fall through to ZoneInfo."""
    import datetime
    import re as _re

    s = session_tz.strip()
    for prefix in ("UTC", "GMT", "UT"):
        if s.upper().startswith(prefix) and len(s) > len(prefix) and s[len(prefix)] in "+-":
            s = s[len(prefix):]
            break
    else:
        if s.upper() in ("UTC", "GMT", "UT", "Z", ""):
            return datetime.timezone.utc
        if not (s and s[0] in "+-"):
            import zoneinfo

            return zoneinfo.ZoneInfo(session_tz)
    m = _re.fullmatch(r"([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?", s)
    if not m:
        raise ValueError(f"unparseable session timezone {session_tz!r}")
    sign = -1 if m.group(1) == "-" else 1
    delta = datetime.timedelta(
        hours=int(m.group(2)),
        minutes=int(m.group(3) or 0),
        seconds=int(m.group(4) or 0),
    )
    return datetime.timezone(sign * delta)


def sql_literal(v: Any, session_tz: str = "UTC") -> str:
    """Render a Python value as an ANSI-SQL literal for the plain-SQL
    scan path (:meth:`SaltedTable.salted_where`). Covers every key
    type the engine salts on: ints, floats, strings, dates,
    timestamps, binary.

    ``session_tz``: a TIMESTAMP literal is interpreted by Spark in the
    SESSION timezone, so a tz-aware datetime must render as that zone's
    wall clock to denote the same instant F.lit() denotes on the typed
    path (plan-parity contract). Callers with a live session pass
    ``spark.conf.get("spark.sql.session.timeZone")``; the default
    matches the engine's pinned UTC (session.py)."""
    import datetime

    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        raise ValueError(f"no SQL literal rendering for non-finite float {v!r}")
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_session_tzinfo(session_tz)).replace(tzinfo=None)
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (bytes, bytearray)):
        return f"X'{bytes(v).hex()}'"
    raise TypeError(f"no SQL literal rendering for {type(v).__name__}")


def salted(df: DataFrame, distributor: KeyDistributor, key_col: str) -> DataFrame:
    """getDistributedKey as a bulk transform: add the salt column
    (RowKeyDistributorByOneBytePrefix.java:47-53 / ByHashPrefix:111-114,
    vectorized)."""
    return df.withColumn(SALT_COL, distributor.salt_expr(key_col))


class _NoFooterStats(Exception):
    """A data file's parquet footer cannot speak for a column: pyarrow
    cannot open the file, or the column's stats are missing or
    undecodable. The message names the file and the reason."""


def _footer_stats_batch(files: list, col_name: str, target):
    """Per-file (lo, hi, n_rows, n_nulls) parquet-footer stats of
    ``col_name`` as one ``pa.RecordBatch`` in the ``target`` arrow
    schema. Opens each file with pyarrow, so any URI pyarrow resolves
    works. Raises :class:`_NoFooterStats` at the first file it cannot
    open or whose stats are unusable; the caller then takes the column
    scan."""
    import pyarrow.parquet as pq

    def one_file(md):
        """(lo, hi, n_rows, n_nulls) from the footer, or ``None`` when
        some row group's stats cannot speak for the column."""
        n_rows = md.num_rows
        idx = None
        if md.num_row_groups:
            rg0 = md.row_group(0)
            for i in range(rg0.num_columns):
                if rg0.column(i).path_in_schema == col_name:
                    idx = i
                    break
        if idx is None:
            return (None, None, 0, 0) if n_rows == 0 else None
        mins, maxs, nulls = [], [], 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            st = rg.column(idx).statistics
            if st is None or not st.has_null_count:
                return None
            nulls += st.null_count
            if st.has_min_max:
                # .min/.max raise ArrowNotImplementedError for
                # stat types pyarrow cannot decode (caught below)
                mins.append(st.min)
                maxs.append(st.max)
            elif st.null_count != rg.num_rows:
                return None
        lo = min(mins) if mins else None
        hi = max(maxs) if maxs else None
        return lo, hi, n_rows, nulls

    def typed(vals, field):
        a = pa.array(vals)
        return a if a.type == field.type else a.cast(field.type)

    rows = []
    for path in files:
        try:
            md = pq.ParquetFile(path).metadata
        except Exception as e:
            first = (str(e).strip().splitlines() or [""])[0]
            raise _NoFooterStats(
                f"pyarrow cannot open {path} ({type(e).__name__}: {first})"
            ) from e
        try:
            row = one_file(md)
        except Exception:
            row = None
        if row is None:
            raise _NoFooterStats(f"{path} has no usable {col_name!r} stats")
        rows.append(row)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(list(files), pa.string()),
            typed([r[0] for r in rows], target.field("lo")),
            typed([r[1] for r in rows], target.field("hi")),
            pa.array([r[2] for r in rows], pa.int64()),
            pa.array([r[3] for r in rows], pa.int64()),
        ],
        schema=target,
    )


class SaltedTable:
    """Handle over a salted, key-sorted, salt-partitioned parquet table."""

    # parquet row-group size recorded by write() in the metadata; None
    # keeps parquet's default
    row_group_bytes: int | None = None

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        distributor: KeyDistributor,
        key_col: str,
        fmt: str = "parquet",
        data_schema_json: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.distributor = distributor
        self.key_col = key_col
        self.fmt = fmt
        self.data_schema_json = data_schema_json

    # ------------------------------------------------------------- write
    @classmethod
    def write(
        cls,
        df: DataFrame,
        path: str,
        distributor: KeyDistributor,
        key_col: str,
        mode: str = "overwrite",
        fmt: str = "parquet",
        zone_map_cols: list[str] | None = None,
        row_group_bytes: int | None = None,
    ) -> "SaltedTable":
        """Bulk salted ingest (P3 at DataFrame granularity).

        One shuffle (:func:`_bucket_sorted`) co-locates each bucket in
        one of ``p = min(buckets, cores)`` tasks — salt ``s`` in task
        ``s mod p``, so every task holds ⌊buckets/p⌋ or ⌈buckets/p⌉
        whole buckets and none idles (with as many cores as buckets:
        one bucket per task, one writer wave, no small files) — then
        ``sortWithinPartitions(salt, key)`` makes every file key-ordered
        so row-group stats are tight. This single shuffle IS the
        anti-hot-spot move: the monotonic key stream fans out evenly
        over all ``buckets`` instead of one hot region.

        ``fmt`` selects the physical format: parquet (default) and orc
        are the scale formats (columnar, stats-pruned, splittable);
        csv/json are interchange formats — schema-on-read comes from
        the persisted metadata so a reload is type-faithful, but there
        is no row-group stat pruning and CSV cannot carry BinaryType
        columns (the salt-partition layout and range-scan semantics
        still apply — only file-internal pruning is lost).

        ``row_group_bytes`` overrides parquet's 128 MB row-group size.
        Row groups are the intra-file pruning granularity for BOTH scan
        paths (Catalyst parquet filter pushdown and scan_merged's arrow
        read): a bucket file holding one giant row group makes every
        range read decode the whole file. At 100 TB the default is
        right (GB-class bucket files -> ~8+ groups each); at bench
        scale the miniature-faithful move is shrinking the group so the
        file:group ratio matches production (SCALE.md, file geometry).
        The size persists in the metadata: every later write of the
        data files (:meth:`_writer`) keeps it.

        ``zone_map_cols`` runs :meth:`build_zone_map` per listed column:
        parquet footers serve the column's zone metadata with nothing
        persisted; a column they cannot serve gets a watermarked
        ``_zone_maps/<col>/`` sidecar from one column scan.
        """
        t = cls(df.sparkSession, path, distributor, key_col, fmt, df.schema.json())
        t.row_group_bytes = int(row_group_bytes) if row_group_bytes else None
        staged = _bucket_sorted(salted(df, distributor, key_col), distributor.buckets, key_col)
        t._writer(staged).mode(mode).save(path)
        _write_meta(t)
        for c in zone_map_cols or []:
            t.build_zone_map(c)
        return t

    # -------------------------------------------------------------- read
    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "SaltedTable":
        """Open a salted table, rehydrating its distributor from the
        persisted metadata (O11 without reflection)."""
        meta = Fs(spark, path).read_text(path.rstrip("/") + "/" + META_FILE)
        return cls._from_meta(spark, path, json.loads(meta))

    @classmethod
    def _from_meta(cls, spark: SparkSession, path: str, meta: dict) -> "SaltedTable":
        """The handle the parsed metadata ``meta`` of ``path`` describes."""
        t = cls(
            spark,
            path,
            distributor_from_meta(meta),
            meta["key_col"],
            meta.get("fmt", "parquet"),
            meta.get("data_schema"),
        )
        t.row_group_bytes = meta.get("row_group_bytes")
        return t

    def _reader(self, base_path: str | None = None):
        """Format-configured DataFrameReader. Every format reads with
        the persisted data schema plus ``salt int``: the schemaless
        interchange formats need it for types, an empty csv/json table
        needs it to keep its ``salt`` column, and a columnar read skips
        the schema-inference Spark job."""
        reader = self.spark.read.format(self.fmt)
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        if self.data_schema_json:
            reader = reader.schema(self._data_schema().add(SALT_COL, "integer"))
        if self.fmt == "csv":
            reader = reader.option("header", "true")
        return reader

    def _data_schema(self):
        """The table's data columns (no ``salt``): the persisted schema,
        or, for a handle built without one, the loaded frame's."""
        from pyspark.sql.types import StructType

        if self.data_schema_json:
            return StructType.fromJson(json.loads(self.data_schema_json))
        return self.df().drop(SALT_COL).schema

    def _writer(self, df: DataFrame):
        """The one writer of the table's data files (write, lifecycle
        rewrites, upserts, stream epochs): salt-partitioned, in the
        table's format (CSV with its header), with the parquet
        row-group size :meth:`write` recorded."""
        writer = df.write.partitionBy(SALT_COL).format(self.fmt)
        if self.fmt == "csv":
            writer = writer.option("header", "true")
        if self.fmt == "parquet" and self.row_group_bytes:
            writer = writer.option("parquet.block.size", self.row_group_bytes)
        return writer

    def df(self) -> DataFrame:
        """Table handle (memoized — repeated point gets / scans reuse
        one file listing; call :meth:`refresh` after external appends).

        It reads with the persisted schema (:meth:`_reader`), so a
        table with ZERO data files (expire() past every key, or a
        just-created empty table) is a normal empty relation with its
        ``salt`` column. Any load failure (transient store error,
        corrupt footer, permissions, a vanished base dir) raises —
        compact()/rebucket() read through here before deleting the
        base dir, so masking a read error as "empty table" would be a
        data-loss path, not just a wrong answer."""
        if getattr(self, "_df", None) is None:
            self._df = self._reader().load(self.path)
        return self._df

    def refresh(self) -> None:
        self._df = None
        # derived caches go stale with the data: zone maps reference
        # concrete file paths; the key index may miss newly-appended keys
        self._zone_maps = None
        self._key_index = None
        self._index_fresh_memo = None

    def scan(
        self,
        start: Any = None,
        stop: Any = None,
        ordered: bool = True,
        columns: list[str] | None = None,
        where: Any = None,
    ) -> DataFrame:
        """Salt-aware range scan (O7+O8+O9 fused).

        ``[start, stop)`` on the original key; Catalyst pushes the key
        predicate into every salt partition (the reference's per-bucket
        interval fan-out, AbstractRowKeyDistributor.java:47-69, as
        partition pruning + row-group skipping) and ``orderBy`` restores
        global original-key order (the DistributedScanner k-way merge,
        DistributedScanner.java:106-139, as a range-exchange sort over
        per-partition pre-sorted runs). Caller filters/projections ride
        along like Scan copies preserved options (ref :76-78).
        """
        out = self.df().where(range_predicate(self.key_col, start, stop))
        if where is not None:
            out = out.where(where)
        out = out.drop(SALT_COL)  # getOriginalKey (O3): salt is a column
        if columns:
            out = out.select(*columns)
        if ordered:
            out = out.orderBy(self.key_col)
        return out

    def point_get(self, key_value: Any) -> DataFrame:
        """Get by original key (P2).

        Hash-style (deterministic) salting recomputes the bucket and
        prunes to ONE salt partition (README:75-78). Round-robin salting
        can't — the engine scans all buckets, the columnar equivalent of
        ``getAllDistributedKeys`` fan-out (O4,
        RowKeyDistributorByOneBytePrefix.java:60-72).
        """
        df = self.df()
        pred = F.col(self.key_col) == F.lit(key_value)
        if self.distributor.deterministic:
            salt_of_key = self.distributor.salt_expr(self._key_lit(key_value))
            pred = pred & (F.col(SALT_COL) == salt_of_key)
        return df.where(pred).drop(SALT_COL)

    def _key_lit(self, key_value: Any):
        """A literal CAST TO THE KEY COLUMN'S TYPE — mandatory before
        hashing it. Spark's hash functions are type-sensitive
        (hash(0::int) != hash(0::bigint)), so a bare F.lit from a small
        Python int (inferred int32) salts to a DIFFERENT bucket than
        the stored bigint key and the pruned point get silently returns
        EMPTY. Equality predicates survive via Catalyst's implicit
        coercion, which is exactly why only the salt computation broke
        — and why the fixture keys (beyond int32 range, inferred long)
        never tripped it. Found by the r10 key-index crash suite."""
        try:
            key_type = self._data_schema()[self.key_col].dataType
            return F.lit(key_value).cast(key_type)
        except Exception as e:
            # falling back to the UNCAST literal re-opens the exact
            # wrong-bucket bug this method exists to fix — and the
            # symptom (an empty point get) looks like "key absent",
            # not "schema unreadable". Warn so it is diagnosable.
            import warnings

            warnings.warn(
                f"_key_lit: could not resolve the type of key column "
                f"{self.key_col!r} from the persisted schema ({e}); "
                f"hashing the bare literal — if its inferred type "
                f"differs from the stored column's, salt pruning will "
                f"probe the WRONG bucket and point gets return empty",
                stacklevel=2,
            )
            return F.lit(key_value)

    # --------------------------------------------------- secondary key index
    KEY_INDEX_DIR = "_key_index"

    def build_key_index(self, index_buckets: int = 32) -> None:
        """Persist a slim (key → salt) secondary index — the capability
        the reference fundamentally lacks: under ROUND-ROBIN salting a
        key's bucket is unknowable, so every point get fans out over all
        N buckets (O4, RowKeyDistributorByOneBytePrefix.java:60-72).
        The index restores single-partition lookups for ~16 bytes/row.

        Layout: range-partitioned by key, sorted within files, so a
        point probe prunes to ONE index file via row-group min/max
        stats. Lives under ``_key_index/`` — underscore-prefixed, so
        Spark's file listing never mixes it into table scans. At 100 TB
        the index is ~0.1% of table bytes; rebuild cost is one
        column-pruned scan + one range exchange of the slim pairs."""
        idx_path = self.path.rstrip("/") + "/" + self.KEY_INDEX_DIR
        with self._lifecycle_lock("build_key_index"):
            (
                self.df()
                .select(self.key_col, SALT_COL)
                .repartitionByRange(index_buckets, F.col(self.key_col))
                .sortWithinPartitions(self.key_col)
                .write.mode("overwrite")
                .parquet(idx_path)
            )
            # watermark: the data-file listing signature at build time.
            # point_get_indexed compares it so an index that predates an
            # append/compaction is detected and bypassed — a stale probe
            # would silently DROP rows a key gained in another salt since
            # the build (round-robin re-appends don't reuse the old salt).
            fs = Fs(self.spark, self.path)
            fs.write_text(
                idx_path + "/" + self.INDEX_META_FILE,
                json.dumps({"data_sig": self._data_signature(fs)}),
            )
        self._key_index = None

    INDEX_META_FILE = "_index_meta.json"

    def _data_signature(self, fs: Fs) -> list:
        """Listing signature of the table's data files: (path, bytes,
        mtime) triples — cheap (one LIST per salt glob) and changes on
        any append, overwrite, or compaction."""
        return [list(t) for t in _data_files(fs, self.path)]

    def _index_fresh(self, fs: Fs, idx_dir: str) -> bool:
        # freshness is memoized per table handle (one LIST + one meta
        # read, not one per get); refresh() clears the memo after writes
        cached = getattr(self, "_index_fresh_memo", None)
        if cached is not None:
            return cached
        try:
            meta = json.loads(fs.read_text(idx_dir + "/" + self.INDEX_META_FILE))
            fresh = meta.get("data_sig") == self._data_signature(fs)
        except Exception:
            fresh = False  # pre-watermark index: treat as stale
        self._index_fresh_memo = fresh
        return fresh

    def _index_df(self) -> DataFrame:
        if getattr(self, "_key_index", None) is None:
            self._key_index = self.spark.read.parquet(
                self.path.rstrip("/") + "/" + self.KEY_INDEX_DIR
            )
        return self._key_index

    def point_get_indexed(self, key_value: Any) -> DataFrame:
        """Point get through the secondary index: probe the index for
        the key's salt(s) (one slim file read, stats-pruned), then a
        statically partition-pruned data read — two small jobs instead
        of an all-bucket scan. Falls back to :meth:`point_get` when the
        distributor is deterministic (no index needed), no index was
        built, the index predates the current data files (watermark
        mismatch — newer appends may have landed the key in other
        salts), or the key misses the index — an empty probe means
        "not indexed", never "not present"."""
        if self.distributor.deterministic:
            return self.point_get(key_value)
        fs = Fs(self.spark, self.path)
        idx_dir = self.path.rstrip("/") + "/" + self.KEY_INDEX_DIR
        if not fs.is_dir(idx_dir) or not self._index_fresh(fs, idx_dir):
            return self.point_get(key_value)
        salts = [
            r[SALT_COL]
            for r in self._index_df()
            .where(F.col(self.key_col) == F.lit(key_value))
            .select(SALT_COL)
            .collect()
        ]
        if not salts:
            return self.point_get(key_value)
        return (
            self.df()
            .where(
                F.col(SALT_COL).isin(salts)
                & (F.col(self.key_col) == F.lit(key_value))
            )
            .drop(SALT_COL)
        )

    def multi_get(self, key_values: list[Any]) -> DataFrame:
        """Batch point lookup — the HBase ``HTable.get(List<Get>)``
        shape: one job for N keys. Under deterministic salting the scan
        prunes to the union of the keys' salt partitions via
        ``salt IN (f(k)…) AND key IN (k…)``; under round-robin it
        degrades to a key-set scan over all buckets (O4 fan-out)."""
        df = self.df()
        if not key_values:
            return df.where(F.lit(False)).drop(SALT_COL)
        pred = F.col(self.key_col).isin(key_values)
        if self.distributor.deterministic:
            # exact because every stored row has salt = f(key) (the
            # invariant validate() checks); the salt list constant-
            # folds, so partition pruning keeps only the keys' buckets
            salts = [self.distributor.salt_expr(self._key_lit(k)) for k in key_values]
            pred = F.col(SALT_COL).isin(salts) & pred
        return df.where(pred).drop(SALT_COL)

    def upsert_rows(self, changes: DataFrame) -> "SaltedTable":
        """Update-without-read at partition granularity — the dividend
        of *deterministic* salting the reference README touts (update a
        row without reading it back first, README:75-78), bulk-shaped:

        1. salt the change rows (recomputable from the key alone);
        2. rewrite ONLY the salt partitions containing changed keys
           (dynamic partition overwrite), merging old rows (anti-join
           on key) with the new versions, re-sorted by key.

        Partitions without changes are untouched bytes on disk. At
        100 TB with N=512 buckets and a 1%-of-keys change set touching
        k partitions, the rewrite cost is k/N of the table, not 100%.
        Requires a deterministic distributor (round-robin can't
        recompute a key's bucket — same asymmetry as point gets)."""
        if not self.distributor.deterministic:
            raise ValueError(
                "upsert_rows requires a deterministic (hash-style) "
                "distributor; round-robin buckets aren't recomputable "
                "from the key (README:75-78)"
            )
        with self._lifecycle_lock("upsert_rows"):
            salted_changes = salted(changes, self.distributor, self.key_col)
            touched = [r[SALT_COL] for r in salted_changes.select(SALT_COL).distinct().collect()]
            current = self.df().where(F.col(SALT_COL).isin(touched))
            keep = current.join(
                salted_changes.select(self.key_col), self.key_col, "left_anti"
            )
            merged = keep.unionByName(salted_changes.select(*keep.columns))
            # dynamic mode, for this write only: overwrite replaces only
            # the partitions present in the written data — untouched
            # buckets stay as-is on disk, and the session conf is never
            # changed (a failed write cannot leave it dynamic)
            self._writer(
                _bucket_sorted(merged, touched, self.key_col)
            ).option("partitionOverwriteMode", "dynamic").mode("overwrite").save(
                self.path
            )
            self.refresh()
            self.rebuild_zone_maps()
            return self

    # ------------------------------------------------------ lifecycle lock
    LOCK_SUFFIX = ".wd_lock"

    @staticmethod
    def lock_path(base: str) -> str:
        """The lifecycle lock sentinel for the table at ``base`` — a
        SIBLING file (``<base>.wd_lock``), deliberately OUTSIDE the
        table directory (ADVICE r8): an in-dir sentinel meant that any
        create-if-absent racing a verb's ``base -> base.old`` aside-
        rename could recreate an empty ``base`` the verb then renamed
        its staged table INTO (Hadoop rename-into-existing-dir
        semantics), stranding the table one level deep. A sibling file
        cannot resurrect ``base``, and the swap's renames never touch
        it — so the lock is held continuously from acquire to the
        verb's finally-block with no carry step. Streaming epoch
        stages (``<base>.staging-epoch-<id>``) sit beside it for the
        same reason: no engine code writes under ``base`` without
        holding this lock."""
        return base.rstrip("/") + SaltedTable.LOCK_SUFFIX

    @contextlib.contextmanager
    def _lifecycle_lock(self, verb: str):
        """Mutual exclusion between lifecycle verbs (expire / compact /
        rebucket / cluster / upsert_rows): each acquires the sibling
        ``<base>.wd_lock`` sentinel (:meth:`lock_path`) via atomic
        create-if-absent before touching files. Two verbs interleaving
        would race the same delete/stage/rename swaps and can strand or
        lose files — the failure the per-verb docstrings previously
        only warned about. The sentinel names the holder; a crashed
        holder leaves it behind by design (a lock that auto-expires
        can't protect a stalled-but-alive job) — the error message says
        what to delete after verifying the holder is dead.

        Acquiring the lock also completes a crashed expire()'s staged
        rewrite (:meth:`_recover_expire_stage`) for EVERY verb, not
        just the next expire(): after a post-manifest expire crash the
        boundary survivors exist ONLY in ``.expire_stage`` (hidden
        from scans), so a compact()/cluster()/rebucket() that rewrote
        the table from ``df()`` first would silently drop those rows
        and then delete the stage with the old table dir."""
        fs = Fs(self.spark, self.path)
        base = self.path.rstrip("/")
        lock = self.lock_path(base)
        # verbs fail fast (no wait): a provably dead same-host holder
        # is broken, any other holder raises — no auto-expiry
        with held_lock(
            fs,
            lock,
            verb,
            0.0,
            lambda who: f"{verb}(): another lifecycle operation holds "
            f"{lock} ({who}); if that holder crashed, verify it is dead "
            f"and delete the sentinel",
        ):
            # under the lock, before the verb plans anything: merge
            # back a crashed expire()'s staged survivors so no verb
            # ever rewrites from a file set that is missing them
            if self._recover_expire_stage(
                fs, base + "/" + SaltedTable.EXPIRE_STAGE_DIR, verb=verb
            ):
                self.refresh()
            yield

    # ------------------------------------------------------- zone map index
    ZONE_MAP_DIR = "_zone_maps"
    ZONE_META_FILE = "_zone_meta.json"
    # above this many files, the driver-side zone-map collect is the
    # same cost class as the reference's client-side scan planning but
    # deserves a metastore — warn so the operator knows (SCALE.md §
    # driver-side metadata)
    ZONE_MAP_DRIVER_WARN_FILES = 100_000

    def build_zone_map(self, col: str) -> None:
        """Make planning on ``col`` read O(index) zone metadata, and
        warm this handle's memo of it.

        Where the parquet footers serve the column
        (:meth:`_footer_stats_local`: one driver-side read, no Spark
        job), they ARE the persisted source: nothing is written, and an
        older ``_zone_maps/<col>/`` copy is removed. Where they cannot
        (ORC/CSV/JSON tables, unusable stats, a path pyarrow cannot
        open), one column-pruned scan (:meth:`zone_map`) persists the
        rows into the sidecar ``_zone_maps/<col>/`` (underscore-
        prefixed so scans never list it), watermarked with the
        data-file listing like the key index — at 100 TB the
        difference between O(index) and O(data) planning. Any later
        append/compact/expire leaves that sidecar stale; the watermark
        bypasses it, never trusts it. Writing or removing a sidecar
        holds the lifecycle lock."""
        fs = Fs(self.spark, self.path)
        tbl = self._footer_stats_local(col)
        if tbl is not None and not fs.exists(self._zone_dir(col)):
            self._memo_zones(col, tbl)
            return
        with self._lifecycle_lock("build_zone_map"):
            self._persist_zone_map(col, tbl)

    def _persist_zone_map(self, col: str, tbl) -> None:
        """:meth:`build_zone_map`'s writes given ``col``'s footer zone
        rows ``tbl`` (``None`` where footers cannot serve), for a caller
        holding the lifecycle lock (the sentinel is not reentrant)."""
        zm_dir = self._zone_dir(col)
        fs = Fs(self.spark, self.path)
        fs.delete(zm_dir, recursive=True)
        if tbl is not None:
            root = zm_dir.rsplit("/", 1)[0]
            if not fs.glob(root + "/*"):
                fs.delete(root, recursive=True)
            self._memo_zones(col, tbl)
            return
        sig = self._data_signature(fs)
        self.zone_map(col).write.mode("overwrite").parquet(zm_dir)
        fs.write_text(
            zm_dir + "/" + self.ZONE_META_FILE, json.dumps({"data_sig": sig})
        )
        if isinstance(getattr(self, "_zone_maps", None), dict):
            self._zone_maps.pop(col, None)

    def _footer_stats_local(self, col: str, paths: list[str] | None = None):
        """The one reader of parquet footer stats: ``(file, lo, hi,
        n_rows, n_nulls)`` for ``col`` over ``paths`` (default: every
        data file) as one ``pa.Table``, read on the driver with no
        Spark job and no file-count cap. Files open through pyarrow,
        so any URI it resolves works (local, ``hdfs://`` where libhdfs
        loads, ...).

        ``None`` for a non-parquet table, and for a parquet table
        whose column has no Arrow type or at the first file pyarrow
        cannot open or whose stats are unusable; the caller then takes
        the fresh sidecar or the column scan (:meth:`_zone_table`),
        and the parquet case warns once per handle and column, naming
        the reason. Footer rows are all-or-nothing: a mixed set would
        hold scan-exact rows next to conservative footer rows with no
        record of which is which.

        Parquet writers may TRUNCATE long binary min/max (parquet-mr
        increments the truncated max), so footer lo/hi are
        conservative OUTWARD bounds — the contract every consumer
        already holds (pruned_scan/expire/fast_count re-check
        straddling files); the equivalence tests pin exactness at
        fixture scale."""
        if self.fmt != "parquet":
            return None
        target = self._zone_arrow_schema(col)
        try:
            if target is None:
                raise _NoFooterStats("the column is unknown or has no Arrow type")
            if paths is None:
                paths = [t[0] for t in self._data_signature(Fs(self.spark, self.path))]
            paths = [self._canon_file_uri(p) for p in paths]
            return pa.Table.from_batches([_footer_stats_batch(paths, col, target)])
        except _NoFooterStats as e:
            warned = self.__dict__.setdefault("_scan_fallback_warned", set())
            if col not in warned:
                import warnings

                warned.add(col)
                warnings.warn(
                    f"zone metadata for {col!r} of {self.path} cannot come "
                    f"from its parquet footers ({e}): it comes from the "
                    f"column's zone-map sidecar while that is fresh, else "
                    f"from a column scan",
                    stacklevel=2,
                )
            return None

    @staticmethod
    def _canon_file_uri(p: str) -> str:
        """One canonical spelling per file: Hadoop's globStatus renders
        local paths as ``file:/x`` while Spark's ``input_file_name``
        renders ``file:///x`` — same file, different strings. Footer
        zone rows store the triple-slash form so they name files as
        the scan-built rows do."""
        if p.startswith("file:/") and not p.startswith("file://"):
            return "file://" + p[5:]
        return p

    def _zone_arrow_schema(self, col: str):
        """The Arrow schema of ``col``'s zone rows ``(file, lo, hi,
        n_rows, n_nulls)``, or ``None`` when the column is unknown or
        its type has no Arrow mapping."""
        from pyspark.sql.types import LongType, StringType, StructField, StructType
        from pyspark.sql.pandas.types import to_arrow_schema

        try:
            col_type = self._data_schema()[col].dataType
        except Exception:
            return None  # unknown column/schema: let the scan path speak
        try:
            return to_arrow_schema(
                StructType(
                    [
                        StructField("file", StringType()),
                        StructField("lo", col_type),
                        StructField("hi", col_type),
                        StructField("n_rows", LongType()),
                        StructField("n_nulls", LongType()),
                    ]
                )
            )
        except Exception:
            return None  # no arrow mapping for this key type

    def _zone_dir(self, col: str) -> str:
        return f"{self.path.rstrip('/')}/{self.ZONE_MAP_DIR}/{col}"

    def rebuild_zone_maps(self) -> list[str]:
        """Rebuild every persisted zone-map sidecar against the current
        data files; returns the rebuilt column names. Lifecycle verbs
        call this under the lifecycle lock after mutating files: the
        watermark already makes a stale sidecar SAFE (it is bypassed,
        never trusted), but bypass means every later scan pays a live
        zone scan of the column — silent O(data) planning where the
        operator had paid for O(index). One :meth:`build_zone_map`'s
        writes per sidecar, the same cost the original build paid; a
        column the parquet footers
        serve loses its sidecar instead (a footer copy left by an older
        build goes at the first verb)."""
        fs = Fs(self.spark, self.path)
        zm_root = f"{self.path.rstrip('/')}/{self.ZONE_MAP_DIR}"
        cols = [
            d.rsplit("/", 1)[1]
            for d in fs.glob(f"{zm_root}/*")
            if fs.is_dir(d)
        ]
        for c in cols:
            self._persist_zone_map(c, self._footer_stats_local(c))
        return cols

    def _zone_sidecar_df(
        self, col: str, sig: list | None = None
    ) -> DataFrame | None:
        """The persisted zone-map sidecar for ``col`` as a (lazy)
        DataFrame — only when present, watermark-fresh against ``sig``
        (the data-file listing; default: list now), and schema-current
        (sidecars written before the n_nulls column existed are
        schema-stale: recompute rather than hand expire() rows missing
        the field). ``None`` otherwise."""
        zm_dir = self._zone_dir(col)
        fs = Fs(self.spark, self.path)
        if not fs.is_dir(zm_dir):
            return None
        try:
            meta = json.loads(fs.read_text(zm_dir + "/" + self.ZONE_META_FILE))
            if sig is None:
                sig = self._data_signature(fs)
            if meta.get("data_sig") != sig:
                return None
            zdf = self.spark.read.parquet(zm_dir)
            return zdf if "n_nulls" in zdf.columns else None
        except Exception:
            return None  # unreadable/stale sidecar

    def _zone_table(self, col: str):
        """Zone metadata for ``col`` as ONE columnar ``pa.Table`` —
        ``(file, lo, hi, n_rows, n_nulls)``, one row per data file —
        from the first source that can serve it: the parquet footers
        (:meth:`_footer_stats_local`, no Spark job), else the fresh
        sidecar :meth:`build_zone_map` persists where footers cannot
        serve, else one column scan (:meth:`zone_map`). One data-file
        listing feeds both the footer read and the sidecar watermark.
        Memoized per table handle (refresh() clears). Every zone
        consumer reads this one representation: scan_merged's shard
        planner, fast_count, pruned_scan, expire, scanner chunking and
        :meth:`manifest`."""
        if col not in (getattr(self, "_zone_maps", None) or {}):
            sig = self._data_signature(Fs(self.spark, self.path))
            tbl = self._footer_stats_local(col, [t[0] for t in sig])
            if tbl is None:
                zdf = self._zone_sidecar_df(col, sig)
                tbl = (self.zone_map(col) if zdf is None else zdf).toArrow()
            self._memo_zones(col, tbl)
        return self._zone_maps[col]

    def _memo_zones(self, col: str, tbl) -> None:
        """Memoize ``tbl`` as ``col``'s zone table: instant
        (TimestampType) zones normalized to ``timestamp[us, tz=UTC]``,
        ``n_nulls`` 0-filled. O(#files) driver memory by design
        (SCALE.md, driver-side metadata); warns past
        ZONE_MAP_DRIVER_WARN_FILES."""
        import warnings

        key_type = tbl.schema.field("lo").type
        if pa.types.is_timestamp(key_type) and key_type.tz:
            key_type = pa.timestamp("us", tz="UTC")
        tbl = pa.table(
            {
                "file": tbl["file"].cast(pa.string()),
                "lo": tbl["lo"].cast(key_type),
                "hi": tbl["hi"].cast(key_type),
                "n_rows": pc.fill_null(tbl["n_rows"].cast(pa.int64()), 0),
                "n_nulls": pc.fill_null(tbl["n_nulls"].cast(pa.int64()), 0),
            }
        ).combine_chunks()
        if tbl.num_rows > self.ZONE_MAP_DRIVER_WARN_FILES:
            warnings.warn(
                f"zone map for {col!r} holds {tbl.num_rows} file entries "
                f"on the driver (past the "
                f"{self.ZONE_MAP_DRIVER_WARN_FILES}-file planning "
                f"threshold); compact() the table to cut its file "
                f"count (SCALE.md, driver-side metadata)",
                stacklevel=4,
            )
        if getattr(self, "_zone_maps", None) is None:
            self._zone_maps = {}
        self._zone_maps[col] = tbl

    def _zone_bound(self, v: Any, key_type):
        """A range bound as an Arrow scalar comparable with zone columns
        of ``key_type`` — every zone consumer normalizes its bounds once
        through here. Instant zones take the bound's instant exactly as
        ``F.lit`` builds it for :meth:`scan` (``TimestampType
        .toInternal``: an aware bound by its own offset, a naive one in
        the process-local zone), so tz-aware and naive bounds classify
        files the way the scan predicate filters rows. Wall-clock (NTZ)
        zones take an aware bound's session-zone wall clock, which is
        how Spark compares an NTZ column with an instant literal."""
        import datetime

        if v is None or isinstance(v, pa.Scalar):
            return v
        if pa.types.is_timestamp(key_type) and isinstance(v, datetime.datetime):
            if key_type.tz:
                from pyspark.sql.types import TimestampType

                return pa.scalar(TimestampType().toInternal(v), key_type)
            if v.tzinfo is not None:
                tz = _session_tzinfo(self.spark.conf.get("spark.sql.session.timeZone"))
                v = v.astimezone(tz).replace(tzinfo=None)
            return pa.scalar(v, key_type)
        # uncast: Arrow comparisons promote (int vs decimal, date vs
        # timestamp) where a cast to the key type could truncate
        return pa.scalar(v)

    def _zones_in_range(self, col: str, start: Any, stop: Any):
        """``(zones, start, stop)``: the zone rows of files that may hold
        a ``col`` value in ``[start, stop)`` (all-NULL files never
        match a range), with both bounds normalized by
        :meth:`_zone_bound`."""
        zt = self._zone_table(col)
        key_type = zt.schema.field("lo").type
        start, stop = self._zone_bound(start, key_type), self._zone_bound(stop, key_type)
        mask = pc.is_valid(zt["lo"])
        if stop is not None:
            mask = pc.and_(mask, pc.less(zt["lo"], stop))
        if start is not None:
            mask = pc.and_(mask, pc.greater_equal(zt["hi"], start))
        return zt.filter(mask), start, stop

    def zone_map(self, col: str) -> DataFrame:
        """Secondary zone-map index: per-file (lo, hi, n_rows) stats for
        ``col`` — a coarse secondary index in the spirit of the
        reference's reliance on per-region key ranges, generalized to
        any column. One scan of ``col`` only (column-pruned), output is
        #files rows (tiny even at 100 TB: 1M files → 1M index rows)."""
        return (
            self.df()
            .groupBy(F.input_file_name().alias("file"))
            .agg(
                F.min(col).alias("lo"),
                F.max(col).alias("hi"),
                F.count("*").alias("n_rows"),
                # nulls are INVISIBLE to lo/hi (min/max skip them); the
                # count makes them visible so expire() never takes the
                # delete-whole-file path on a file that still holds
                # null-keyed rows
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulls"),
            )
        )

    def manifest(self, col: str | None = None) -> DataFrame:
        """The per-table MANIFEST relation — ``(salt, file, lo, hi,
        n_rows, n_nulls)``, one row per data file — readable AS a
        DataFrame (VERDICT r11 #4; SCALE.md "driver-side metadata"):
        the DataFrame view of the same zone metadata every planner
        reads (:meth:`_zone_table` — parquet footer stats, else the
        fresh sidecar, else one column-pruned scan; where the footers
        cannot serve ``col``, ``build_zone_map(col)`` /
        ``write(zone_map_cols=…)`` keeps it metadata-cheap). For
        per-salt file audits and ad-hoc SQL over
        the table's layout. ``salt`` is parsed from the Hive-style
        ``salt=N/`` path segment (NULL for files outside a salt
        directory)."""
        zdf = self.spark.createDataFrame(self._zone_table(col or self.key_col))
        salt = F.regexp_extract("file", f"{SALT_COL}=([0-9]+)/", 1)
        return zdf.select(
            F.when(salt != "", salt.cast("int")).alias(SALT_COL),
            "file",
            "lo",
            "hi",
            "n_rows",
            "n_nulls",
        )

    def pruned_scan(self, col: str, lo: Any = None, hi: Any = None) -> DataFrame:
        """Scan only the files whose ``col`` zone [lo_f, hi_f] overlaps
        ``[lo, hi)`` — file-level pruning decided driver-side from the
        zone map, ahead of (and cheaper than) per-file footer reads.

        For the key column this skips whole files before Spark even
        plans them (at 100 TB with 100k+ files, planning cost matters);
        for a non-key column whose values correlate with load order
        (e.g. ingest time) it gives pruning parquet stats alone can't,
        because Spark still has to open every footer. The residual
        predicate is re-applied, so results are exact regardless of how
        loose the zones are."""
        keep = self._zones_in_range(col, lo, hi)[0]["file"].to_pylist()
        pred = range_predicate(col, lo, hi)
        if not keep:
            return self.df().where(F.lit(False)).drop(SALT_COL)
        out = self._reader(base_path=self.path).load(keep).where(pred)
        return out.drop(SALT_COL)

    def describe(self) -> DataFrame:
        """Operational diagnostics, one row per salt bucket: row count,
        key span, file count, bytes — the skew report an operator reads
        before deciding to compact, re-salt, or widen buckets. One
        column-pruned scan plus the data-file listing
        (:meth:`_data_signature`); output is |buckets| rows however big
        the table is."""
        per_salt = (
            self.df()
            .groupBy(SALT_COL)
            .agg(
                F.count("*").alias("n_rows"),
                F.min(self.key_col).alias("key_lo"),
                F.max(self.key_col).alias("key_hi"),
            )
        )
        agg: dict[int, list[int]] = {}
        for p, length, _ in self._data_signature(Fs(self.spark, self.path)):
            salt = _salt_of(p)
            n, b = agg.setdefault(salt, [0, 0])
            agg[salt] = [n + 1, b + length]
        file_df = self.spark.createDataFrame(
            [(s, n, b) for s, (n, b) in sorted(agg.items())],
            f"{SALT_COL} int, n_files long, n_bytes long",
        )
        return per_salt.join(F.broadcast(file_df), SALT_COL, "left")

    def validate(self) -> DataFrame:
        """Integrity check for deterministic strategies: rows whose
        stored salt disagrees with the distributor's salt of their key
        (corruption, a manual rewrite, or a distributor-config mismatch
        would all surface here — the engine twin of the reference's
        getDistributedKey round-trip invariant). Returns the offending
        (salt, expected_salt, n) groups; empty == healthy. One full
        scan of (salt, key) only — no shuffle before the tiny rollup."""
        if not self.distributor.deterministic:
            raise ValueError(
                "validate() needs a deterministic distributor; "
                "round-robin salts are not a function of the key"
            )
        expected = self.distributor.salt_expr(F.col(self.key_col))
        return (
            self.df()
            .select(F.col(SALT_COL), expected.alias("expected_salt"))
            .where(F.col(SALT_COL) != F.col("expected_salt"))
            .groupBy(SALT_COL, "expected_salt")
            .agg(F.count("*").alias("n"))
        )

    EXPIRE_MANIFEST = "_expire_manifest.json"
    EXPIRE_STAGE_DIR = ".expire_stage"

    def _recover_expire_stage(
        self, fs: Fs, stage: str, verb: str = "expire"
    ) -> bool:
        """Complete (or discard) a crashed expire()'s stage dir; returns
        True when the table's file set changed. Invoked by
        :meth:`_lifecycle_lock` itself on every acquisition (r10
        review: wiring it only into expire() meant the nightly
        compact() could run first, rewrite from a df() that cannot see
        the hidden stage, and delete the staged survivors with the old
        table dir), so every verb plans against a recovered file set.

        The write-ahead manifest disambiguates the two crash regimes:

        - stage WITHOUT manifest: the staged rewrite never finished (or
          the crash hit before the manifest landed, in which case every
          original is still present). The stage is a discard — merging
          it would DUPLICATE boundary survivors.
        - stage WITH manifest: the crashed run was past the point of no
          return. Finish its pending deletes (idempotent — some may
          already be gone), merge the staged survivors into their salt
          partitions (skipping any the crashed run already moved), and
          clear the stage. The table converges to that run's intended
          post-expire state; the caller then re-plans against it."""
        if not fs.exists(stage):
            return False
        manifest_path = stage + "/" + self.EXPIRE_MANIFEST
        if not fs.exists(manifest_path):
            fs.delete(stage, recursive=True)
            return False
        manifest = json.loads(fs.read_text(manifest_path))
        for f in manifest.get("delete", []):
            if fs.exists(f):
                fs.delete(f)
        # skip_existing: the crashed run may already have moved some
        # staged files into place before dying mid-merge
        failed = _merge_stage_into_base(
            fs, stage, self.path.rstrip("/"), skip_existing=True
        )
        if failed:
            raise IOError(
                f"expire-stage recovery under {verb}() lock: crashed "
                f"stage {stage} could not rename {len(failed)} file(s) "
                f"(first: {failed[0][0]} -> {failed[0][1]}); the stage "
                f"is preserved"
            )
        fs.delete(stage, recursive=True)
        return True

    def expire(self, before: Any) -> dict:
        """Retention expiry: delete every row with key < ``before`` —
        the TTL pass every time-series table needs (the reference's
        whole use case is monotonic time keys, so age == key order).

        File-level, driven by the zone map: a file whose key zone ends
        before the cutoff is DELETED outright — a metadata operation,
        no read, no rewrite — and only the files straddling the cutoff
        are rewritten (filtered, key-sorted, back into their salt
        partitions). Files wholly past the cutoff are untouched. At
        100 TB with key-sorted salted files, almost every expired byte
        goes through the delete path: daily retention on a year of data
        touches ~1/365th of files for rewrite.

        Not reader-atomic: between the boundary-file swap steps a
        concurrent reader can see a row twice or not at all — run it in
        the ingest-quiescent window like any retention job (the same
        contract as compact()). Returns
        ``{files_dropped, files_rewritten, files_kept, rows_dropped}``."""
        if before is None:
            raise ValueError("expire() requires a cutoff key")
        with self._lifecycle_lock("expire"):
            # a crashed prior expire()'s stage was already completed by
            # _lifecycle_lock itself (manifest deletes finished, staged
            # survivors merged, table refreshed) — the recovery runs
            # under the lock for EVERY verb, so this run already plans
            # against the recovered file set
            fs = Fs(self.spark, self.path)
            zones = self._zone_table(self.key_col)
            cut = self._zone_bound(before, zones.schema.field("lo").type)
            # zone lo/hi are min/max over NON-NULL keys: a null key has no
            # age, so null-keyed rows must survive every path. A file whose
            # keys are all null (NULL bounds: every comparison is NULL, so
            # neither filter keeps it) is kept untouched; a file wholly
            # below the cutoff takes the metadata-only delete ONLY when its
            # zone row proves it holds no nulls (n_nulls == 0) — otherwise
            # it joins the rewrite set, where the isNull disjunct
            # preserves the null-keyed rows
            below = pc.less(zones["hi"], cut)
            drop = zones.filter(pc.and_(below, pc.equal(zones["n_nulls"], 0)))
            boundary = zones.filter(
                pc.or_(
                    pc.and_(pc.less(zones["lo"], cut), pc.greater_equal(zones["hi"], cut)),
                    pc.and_(below, pc.greater(zones["n_nulls"], 0)),
                )
            )
            drop_files = drop["file"].to_pylist()
            boundary_files = boundary["file"].to_pylist()
            stats = {
                "files_dropped": len(drop_files),
                "files_rewritten": len(boundary_files),
                "files_kept": zones.num_rows - len(drop_files) - len(boundary_files),
                "rows_dropped": pc.sum(drop["n_rows"]).as_py() or 0,
            }
            stage = self.path.rstrip("/") + "/" + self.EXPIRE_STAGE_DIR
            if boundary_files:
                kept = (
                    self._reader(base_path=self.path)
                    .load(boundary_files)
                    .where(
                        (F.col(self.key_col) >= F.lit(before))
                        | F.col(self.key_col).isNull()
                    )
                )
                fs.delete(stage, recursive=True)
                self._writer(
                    _bucket_sorted(
                        kept, [_salt_of(f) for f in boundary_files], self.key_col
                    )
                ).mode("overwrite").save(stage)
                # _reader, not a bare format read: csv needs header=true +
                # the persisted schema or header lines count as data rows
                staged_rows = self._reader(base_path=stage).load(stage).count()
                stats["rows_dropped"] += (
                    pc.sum(boundary["n_rows"]).as_py() - staged_rows
                )
                # WRITE-AHEAD manifest: the stage is only ACTIONABLE
                # once this file exists. A retry that finds a stage
                # WITH a manifest completes the protocol (finish the
                # deletes, merge the staged survivors); a stage without
                # one is an incomplete write and is discarded — the
                # marker is what lets recovery tell "originals may be
                # partially deleted, survivors live here" apart from
                # "originals all intact, merging would duplicate"
                fs.write_text(
                    stage + "/" + self.EXPIRE_MANIFEST,
                    json.dumps({"delete": drop_files + boundary_files}),
                )
            # originals go away only after the staged replacements are fully
            # written (crash between these steps loses no surviving row —
            # the stage dir is hidden from table scans, and the manifest
            # makes the next expire() complete the merge automatically)
            for f in drop_files + boundary_files:
                fs.delete(f)
            if boundary_files:
                failed = _merge_stage_into_base(
                    fs, stage, self.path.rstrip("/"), skip_existing=False
                )
                if failed:
                    # surviving rows still live in the stage dir — leave it
                    # on disk (with its manifest) so the NEXT expire()
                    # completes the merge automatically via
                    # _recover_expire_stage
                    self.refresh()
                    raise IOError(
                        f"expire(): {len(failed)} staged replacement(s) failed to "
                        f"rename (first: {failed[0][0]} -> {failed[0][1]}); the "
                        f"stage dir {stage} is preserved with the surviving rows "
                        f"— rerun expire() to complete the merge"
                    )
                fs.delete(stage, recursive=True)
            self.refresh()
            self.rebuild_zone_maps()
            return stats

    def scanner(
        self,
        start: Any = None,
        stop: Any = None,
        max_buffer_rows: int | None = None,
    ) -> Iterator:
        """ResultScanner-style incremental pull of ``[start, stop)`` in
        key order — the DistributedScanner contract (DistributedScanner
        .java:106-139: one scanner per bucket, next() pops the smallest
        head), run one key-range CHUNK at a time instead of one stream
        per bucket.

        Each chunk is ONE Spark job over every bucket
        (:meth:`_scanner_chunk_df`: the range predicate pushed into the
        files, no sort, no coalesce, no Exchange — plan-asserted in
        tests), collected with its salt column. The driver then
        stable-sorts the chunk on ``(key, salt)``: every file arrives
        as an already-sorted run, so the sort merges ~|files| runs in
        near-linear time — it IS the k-way merge, ties in bucket order
        as the reference's heap merge yields them. Chunks run lazily,
        in key order, as the consumer pulls; the salt column is dropped
        from each yielded ``Row``. An unbounded scanner yields NULL
        keys first, as :meth:`scan` (``ordered=True``) does; any bound
        excludes them. Use :meth:`scan` (``ordered=True``) when the
        consumer is a cluster job and a distributed sort is the right
        tool; use ``scanner`` when the consumer is the driver pulling
        incrementally.

        Driver memory is one chunk. Uncapped, the whole range is one
        chunk, held on the driver. ``max_buffer_rows`` caps it (VERDICT
        r11 #7 — the reference's refill buffer is an unbounded
        ArrayList, DistributedScanner.java:123, so one dominant bucket
        balloons the client): the range is cut at the zone-map
        quantiles :meth:`scan_merged` plans with, into chunks of about
        ``max_buffer_rows × buckets`` rows — the reference's total over
        its per-bucket buffers — whatever the skew between buckets.
        Cuts need zone stats with an arithmetic key (the
        :meth:`_quantile_bounds` contract); without them the range
        stays one chunk."""
        cuts = []
        if max_buffer_rows is not None:
            cuts = self._scanner_chunk_bounds(
                start, stop, max_buffer_rows * self.distributor.buckets
            )
        edges = [start, *cuts, stop]
        for lo, hi in zip(edges, edges[1:]):
            # cuts are never None: only an unbounded scan's first chunk
            # has lo and stop both None
            df = self._scanner_chunk_df(lo, hi, nulls=lo is None and stop is None)
            k, s = df.columns.index(self.key_col), len(df.columns) - 1
            rows = df.collect()
            rows.sort(key=lambda r: (r[k] is not None, r[k], r[s]))
            make = Row(*df.columns[:-1])
            for r in rows:
                yield make(*r[:-1])

    def _scanner_chunk_bounds(self, start: Any, stop: Any, chunk_rows: int) -> list:
        """Interior key cuts splitting every bucket's in-range rows into
        chunks of ~``chunk_rows`` rows, at the zone-map quantiles
        (memoized zone table). Empty when the range fits one chunk or
        the key/zone stats cannot support quantile cuts."""
        try:
            zt, start, stop = self._zones_in_range(self.key_col, start, stop)
        except Exception:
            return []  # no stats source: one chunk
        n_chunks = int(self._est_in_range_rows(zt, start, stop) // max(chunk_rows, 1)) + 1
        cuts = self._quantile_bounds(zt, start, stop, n_chunks)
        return [] if cuts is None else cuts.to_pylist()

    def _scanner_chunk_df(self, lo: Any, hi: Any, nulls: bool = False) -> DataFrame:
        """One scanner chunk: every bucket's rows in ``[lo, hi)`` (and
        the NULL keys when ``nulls``), salt column last. The range
        predicate is pushed into the files; no sort, no coalesce, no
        Exchange."""
        pred = range_predicate(self.key_col, lo, hi)
        if nulls:
            pred = pred | F.col(self.key_col).isNull()
        base = self.df().where(pred)
        return base.select(*[c for c in base.columns if c != SALT_COL], SALT_COL)

    # ------------------------------------------- exchange-free ordered scan
    MERGED_SCAN_CHUNK_ROWS = 1 << 16
    MERGED_SCAN_TARGET_ROWS = 1 << 19  # ~rows per merge shard at scale
    MERGED_SCAN_MIN_ROWS = 1 << 15  # below this, a shard isn't worth a task

    @classmethod
    def _merged_shard_count(cls, est_rows: float, parallelism: int) -> int:
        """Auto shard count from the estimated in-range rows: fan out
        to the session's cores as soon as each shard clears
        MERGED_SCAN_MIN_ROWS (a sub-32k-row shard is footer/decode
        overhead, not parallelism), and past cores×TARGET keep shards
        at ~TARGET rows — at 100 TB that yields thousands of shards,
        which the scheduler absorbs like any scan. The r5 formula
        (est // TARGET + 1, capped by file count) kept ANY local-bench
        range on one task; measured at sf10 (320k in-range rows) the
        fan-out is wall-neutral — per-query fixed costs dominate there,
        the raw merge being 0.2 s of the 1.9 s total (SCALE.md, round-6
        file geometry) — but a single task is an OOM ceiling at real
        range sizes, which is what the floor removes."""
        return max(
            1,
            min(parallelism, int(est_rows // cls.MERGED_SCAN_MIN_ROWS) + 1),
            int(est_rows // cls.MERGED_SCAN_TARGET_ROWS) + 1,
        )

    @staticmethod
    def _zone_axis(arr):
        """float64 interpolation axis of a key-typed Arrow array (epoch
        micros for instants, days for dates); ``None`` when the key
        domain has no usable arithmetic (strings, binary, booleans).
        float64 loses bits past 2^53 — acceptable here because the axis
        only positions heuristic CUT POINTS; range semantics at the
        seams stay exact in the key's own type."""
        t = arr.type
        if pa.types.is_timestamp(t):
            arr = pc.cast(arr, pa.int64())
        elif pa.types.is_date32(t):
            arr = pc.cast(arr, pa.int32())
        elif not (
            pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t)
        ):
            return None
        return pc.cast(arr, pa.float64()).to_numpy()

    @staticmethod
    def _zone_unaxis(x, key_type):
        """Inverse of :meth:`_zone_axis`: land interpolated cut points
        back in the key's own type, as an Arrow array."""
        if pa.types.is_floating(key_type):
            return pa.array(x).cast(key_type)
        if pa.types.is_decimal(key_type):
            import decimal

            return pa.array(
                [decimal.Decimal(f"{v:.{key_type.scale}f}") for v in x], key_type
            )
        ints = pa.array(np.round(x).astype(np.int64))
        if pa.types.is_date32(key_type):
            ints = ints.cast(pa.int32())
        return ints.cast(key_type)

    @classmethod
    def _zone_weights(cls, zt, start, stop):
        """``(cs, ce, frac)`` on the interpolation axis: every zone
        clipped to ``[start, stop)`` and the estimated fraction of its
        rows inside, by per-file uniform density (a point-mass file
        counts fully iff it survives the clip). ``None`` for keys with
        no axis."""
        s, e = cls._zone_axis(zt["lo"]), cls._zone_axis(zt["hi"])
        if s is None:
            return None
        cs = s if start is None else np.maximum(s, cls._zone_axis(pa.array([start]))[0])
        ce = e if stop is None else np.minimum(e, cls._zone_axis(pa.array([stop]))[0])
        span = np.where(e > s, e - s, 1.0)
        frac = np.where(
            e > s,
            np.clip((ce - cs) / span, 0.0, 1.0),
            (cs <= ce).astype(np.float64),
        )
        return cs, ce, frac

    @classmethod
    def _est_in_range_rows(cls, zt, start, stop) -> float:
        """Estimated rows of the zone table ``zt`` inside ``[start,
        stop)`` by per-file uniform-density interpolation — shared by
        shard-count planning and scanner chunk planning. Keys with no
        axis (strings) count whole files."""
        n = zt["n_rows"].to_numpy().astype("float64")
        wf = cls._zone_weights(zt, start, stop)
        return float(n.sum() if wf is None else (n * wf[2]).sum())

    @classmethod
    def _quantile_bounds(cls, zt, start, stop, n_shards):
        """Shard boundaries at the j/n_shards quantiles of the mixture
        of per-file uniform row densities over the clipped zone
        overlaps, as a key-typed Arrow array: strictly increasing,
        strictly inside ``(start, stop)``. The mixture CDF F(b) =
        sum_f w_f * clip((b - s_f) / (e_f - s_f), 0, 1) (a point-mass
        file steps by w_f at its key) is piecewise linear between the
        sorted zone edges, so it is built once in O(#files log #files)
        numpy and every quantile is inverted on its own segment.
        Returns ``None`` for keys with no axis (caller falls back to
        whole-file cuts); empty when no interior cut exists."""
        key_type = zt.schema.field("lo").type
        none = pa.array([], key_type)
        if n_shards <= 1:
            return none
        wf = cls._zone_weights(zt, start, stop)
        if wf is None:
            return None
        cs, ce, frac = wf
        w = (
            np.maximum(0, zt["n_rows"].to_numpy() - zt["n_nulls"].to_numpy()) * frac
        )
        total = float(w.sum())
        if total <= 0 or not ce.max() > cs.min():
            return none
        live = w > 0
        cs, ce, w = cs[live], ce[live], w[live]
        point = ce <= cs
        rate = np.where(point, 0.0, w / np.where(point, 1.0, ce - cs))
        xs = np.unique(np.concatenate([cs, ce]))
        slope = np.zeros(len(xs))
        jump = np.zeros(len(xs))
        np.add.at(slope, np.searchsorted(xs, cs), rate)
        np.add.at(slope, np.searchsorted(xs, ce), -rate)
        np.add.at(jump, np.searchsorted(xs, ce[point]), w[point])
        slope = np.maximum(np.cumsum(slope), 0.0)  # on [xs[k], xs[k+1])
        # left[k] = F just below xs[k]; at[k] = F at xs[k]
        left = np.concatenate([[0.0], np.cumsum(jump[:-1] + slope[:-1] * np.diff(xs))])
        at = left + jump
        targets = total * np.arange(1, n_shards) / n_shards
        k = np.minimum(np.searchsorted(at, targets), len(xs) - 1)
        km1 = np.maximum(k - 1, 0)
        rise = slope[km1]
        on_seg = (k > 0) & (targets <= left[k]) & (rise > 0)
        b = np.where(
            on_seg,
            xs[km1] + (targets - at[km1]) / np.where(rise > 0, rise, 1.0),
            xs[k],
        )
        # b is nondecreasing, so unique() keeps it sorted
        cuts = pc.unique(cls._zone_unaxis(b, key_type))
        if start is not None:
            cuts = cuts.filter(pc.greater(cuts, start))
        if stop is not None:
            cuts = cuts.filter(pc.less(cuts, stop))
        return cuts

    @staticmethod
    def _file_boundary_cuts(zt, start, stop, n_shards):
        """Whole-file shard boundaries for keys with no interpolation
        axis (strings): walk the ``(lo, file)``-sorted zones' cumulative
        row weight and cut at the ``hi`` of the first file reaching
        each j/n_shards threshold — exact for the disjoint file
        geometry such keys realistically pair with. The last file is
        never a cut (its hi would leave an empty final shard)."""
        cum = np.cumsum(
            np.maximum(0, zt["n_rows"].to_numpy() - zt["n_nulls"].to_numpy())
        )
        thresholds = cum[-1] * np.arange(1, n_shards) / n_shards
        idx = np.unique(np.searchsorted(cum[:-1], thresholds))
        cuts = zt["hi"].take(idx[idx < len(cum) - 1]).combine_chunks()
        cuts = pc.unique(cuts.take(pc.array_sort_indices(cuts)))
        if start is not None:
            cuts = cuts.filter(pc.greater(cuts, start))
        if stop is not None:
            cuts = cuts.filter(pc.less(cuts, stop))
        return cuts

    def _plan_shards(self, start, stop, shards, key_type: str) -> DataFrame | None:
        """scan_merged step 1 — the client-side scan planning of the
        reference (``getDistributedScans``), over the memoized columnar
        zone table: intersect per-file [lo, hi] with the request, cut
        row-balanced shard boundaries, and emit the |shards|-row
        descriptor relation ``(shard_id, lo, hi, files)`` built from
        Arrow. Every step is an array operation over the in-range
        zones; no Spark job runs before the caller's scan. Returns
        ``None`` when no file intersects the request."""
        zt, start, stop = self._zones_in_range(self.key_col, start, stop)
        if not zt.num_rows:
            return None
        # shard count follows the ESTIMATED IN-RANGE row volume
        # (zone-map interpolation) via _merged_shard_count — tiny
        # ranges stay on one task (every (shard x file) pairing is a
        # footer read + row-group decode), core-scale ranges fan out,
        # 100-TB ranges yield thousands of ~TARGET-row shards.
        n_shards = shards or self._merged_shard_count(
            self._est_in_range_rows(zt, start, stop),
            self.spark.sparkContext.defaultParallelism,
        )
        # row-balanced boundaries. Two file geometries exist:
        #   * compacted/range-partitioned layouts: files hold DISJOINT
        #     key slices, so cutting at whole-file hi values balances;
        #   * salted layouts (this class's write path): every bucket
        #     file is a sorted run over ~the FULL key domain, so every
        #     whole-file hi sits at the domain max and a whole-file walk
        #     degenerates to ONE shard merging the entire range
        #     (single-task OOM class at 100 TB).
        # For arithmetic keys, cut instead at the quantiles of the
        # per-file uniform density mixture over the CLIPPED zone
        # overlaps — boundaries land inside the overlap no matter how
        # the files tile the domain. Non-arithmetic (string) keys fall
        # back to the whole-file walk.
        zt = zt.sort_by([("lo", "ascending"), ("file", "ascending")])
        cuts = self._quantile_bounds(zt, start, stop, n_shards)
        if cuts is None:
            cuts = self._file_boundary_cuts(zt, start, stop, n_shards)
        typ = zt.schema.field("lo").type

        def edge(b):
            return pa.nulls(1, typ) if b is None else pa.array([b.as_py()], typ)

        los = pa.concat_arrays([edge(start), cuts])
        his = pa.concat_arrays([cuts, edge(stop)])
        files = []
        for lo, hi in zip(los, his):
            keep = pc.is_valid(zt["file"])
            if hi.is_valid:
                keep = pc.and_(keep, pc.less(zt["lo"], hi))
            if lo.is_valid:
                keep = pc.and_(keep, pc.greater_equal(zt["hi"], lo))
            files.append(zt["file"].filter(keep))
        offsets = [0]
        for f in files:
            offsets.append(offsets[-1] + len(f))
        desc = pa.table(
            {
                "shard_id": pa.array(range(len(files)), pa.int32()),
                "lo": los,
                "hi": his,
                "files": pa.ListArray.from_arrays(
                    pa.array(offsets, pa.int32()),
                    pa.chunked_array(
                        [c for f in files for c in f.chunks], pa.string()
                    ).combine_chunks(),
                ),
            }
        )
        return self.spark.createDataFrame(
            desc, f"shard_id int, lo {key_type}, hi {key_type}, files array<string>"
        )

    def scan_merged(
        self,
        start: Any = None,
        stop: Any = None,
        shards: int | None = None,
        columns: list[str] | None = None,
        tiebreak: list[str] | None = None,
    ) -> DataFrame:
        """Distributed ordered range scan with NO exchange of table data
        — the DistributedScanner merge (DistributedScanner.java:106-139)
        fanned out across tasks instead of pulled to one client.

        :meth:`scan` (``ordered=True``) restores key order with a
        range-exchange sort: correct, but every scanned byte crosses
        the shuffle. This path exploits what the write contract already
        guarantees — every file is key-sorted (``sortWithinPartitions``
        at write) with tight row-group stats — and plans on the key
        zone map instead:

        1. PLAN on the driver (:meth:`_plan_shards` — the reference's
           client-side scan planning, ``getDistributedScans``): over the
           table handle's memoized columnar zone metadata, intersect
           per-file [lo, hi] with the request and cut row-balanced
           shard boundaries at the quantiles of the per-file
           uniform-density mixture over the clipped overlaps (string
           keys: weighted whole-file cuts). A warm handle plans with
           no Spark job.
        2. A |shards|-row descriptor relation (shard key range + the
           files that intersect it) is built from Arrow as a local
           relation, whose partitions are contiguous runs of shards in
           shard-id order. The plan has no Exchange.
        3. Each task ``mapInArrow``-merges ITS key range: pyarrow
           opens only its descriptor's files, row-group stats skip
           everything outside the range (each file contributes one
           contiguous sorted run), and a stable vectorized sort merges
           the ~``buckets`` runs. Output partitions are disjoint
           ascending key ranges, rows sorted within — the same global
           order contract a range-exchange sort produces.

        At 100 TB: data moves storage→task exactly once, no shuffle
        write/read, and a shard re-merges only its slice.

        Bounds may be naive or tz-aware datetimes on timestamp keys,
        exactly as :meth:`scan` accepts them.

        Contract deltas vs :meth:`scan`: parquet tables only (the
        interchange formats have no row-group stats to prune by) and
        NULL keys are excluded (rowkeys are never null in the
        reference; ``scan`` sorts them first). ``tiebreak`` columns
        extend the in-task sort to a total order so a rank stamp is
        deterministic (``global_rank(..., presorted=True)``).
        """
        if self.fmt != "parquet":
            raise ValueError(
                f"scan_merged needs parquet row-group stats; table format is {self.fmt!r}"
            )
        from pyspark.sql.types import StructType

        data_schema = self._data_schema()
        out_fields = [f for f in data_schema.fields]
        if columns:
            known = {f.name for f in out_fields}
            missing = [c for c in columns if c not in known]
            if missing:
                raise ValueError(
                    f"scan_merged: unknown column(s) {missing}; table has "
                    f"{sorted(known)}"
                )
            keep = set(columns)
            out_fields = [f for f in out_fields if f.name in keep]
        out_schema = StructType(out_fields)
        read_cols = [f.name for f in out_schema.fields]
        key_col = self.key_col
        sort_cols = [key_col] + [c for c in (tiebreak or []) if c != key_col]
        # the merge always needs the key (and tiebreaks) even when the
        # caller's projection drops them: read them, project them away
        # after the in-task sort
        file_cols = read_cols + [c for c in sort_cols if c not in read_cols]
        spark = self.spark
        key_type = data_schema[key_col].dataType.simpleString()
        key_is_int = data_schema[key_col].dataType.typeName() in (
            "long", "integer", "short", "byte",
        )

        desc = self._plan_shards(start, stop, shards, key_type)
        if desc is None:  # no file intersects the request
            return spark.createDataFrame([], out_schema)

        chunk = self.MERGED_SCAN_CHUNK_ROWS
        # Timestamp semantics across the three boundaries (pinned by
        # test_merged_timestamp_seams_under_non_utc_session):
        #  * descriptor -> Python: Arrow hands TimestampType bounds
        #    tz-aware (epoch instants) or naive session wall clock —
        #    norm_bound accepts both;
        #  * file -> Python: Spark-written INT96/NTZ-annotated columns
        #    arrive tz-NAIVE in pyarrow but hold UTC-normalized
        #    instants for Spark's TimestampType;
        #  * Python -> Spark: the output batches are cast to the JVM's
        #    expected Arrow schema, where instant columns are
        #    timestamp[us, tz=UTC] — the naive->aware cast attaches the
        #    zone to the same epoch int64s, so no session-zone shift.
        # TimestampNTZType columns are wall clocks end to end and pass
        # through untouched.
        from pyspark.sql.types import TimestampType

        session_tz = spark.conf.get("spark.sql.session.timeZone")
        key_is_instant = isinstance(data_schema[key_col].dataType, TimestampType)

        from pyspark.sql.pandas.types import to_arrow_schema

        # the exact Arrow schema the JVM expects back (timestamp_utc:
        # instant columns leave as timestamp[us, tz=UTC] — epoch micros,
        # unambiguous under any session zone)
        target_schema = to_arrow_schema(out_schema)

        def merge_shards(batches):
            import pandas as pd
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            def norm_bound(v, field_type):
                """Descriptor bound -> the file column's exact
                comparison domain: instant (TimestampType) bounds may
                arrive naive (session wall clock) or tz-aware while the
                file holds either tz-aware values or naive
                UTC-normalized instants."""
                if v is None or pd.isna(v):
                    return None
                if key_is_int:
                    return int(v)
                if key_is_instant:
                    ts = pd.Timestamp(v)
                    if ts.tzinfo is None:
                        ts = ts.tz_localize(session_tz)
                    if pa.types.is_timestamp(field_type) and field_type.tz:
                        return ts.tz_convert(field_type.tz)
                    # naive file values (INT96-class) are UTC instants
                    return ts.tz_convert("UTC").tz_localize(None)
                return v

            # A partition holds a contiguous run of descriptors; batch
            # order within it is not guaranteed: materialize the (tiny,
            # kilobyte-class) descriptor rows and process them in
            # shard_id order so the in-partition output honors the
            # global-order contract global_rank(presorted=True) consumes.
            rows = [r for b in batches for r in b.to_pylist()]
            rows.sort(key=lambda r: r["shard_id"])
            for row in rows:
                runs, ftype, filters = [], None, []
                for path in row["files"]:
                    if ftype is None:
                        ftype = pq.read_schema(path).field(key_col).type
                        lo = norm_bound(row["lo"], ftype)
                        hi = norm_bound(row["hi"], ftype)
                        # [lo, hi) half-open on every seam, matching
                        # range_predicate; unbounded outer edges open
                        if lo is not None:
                            filters.append((key_col, ">=", lo))
                        if hi is not None:
                            filters.append((key_col, "<", hi))
                    t = pq.read_table(
                        path, columns=file_cols, filters=filters or None
                    )
                    # null keys are excluded by contract; everything
                    # stays in Arrow end to end — no pandas hop, so no
                    # float64 widening, no Arrow->pandas->Arrow copies
                    # (the measured Python-boundary tax, VERDICT r6 #3)
                    t = t.filter(pc.is_valid(t.column(key_col)))
                    if t.num_rows:
                        runs.append(t)
                if not runs:
                    continue
                merged = pa.concat_tables(runs)
                # Arrow sort_indices is a stable sort: each file
                # contributes one pre-sorted run, so this is an
                # O(n log k)-class merge over ~|files| runs
                merged = merged.sort_by([(c, "ascending") for c in sort_cols])
                # project + cast to the JVM's expected Arrow schema:
                # naive UTC-instant file columns become
                # timestamp[us, tz=UTC] (int64 unchanged — Arrow
                # naive->aware cast attaches the zone to the same
                # epoch values), decimals/ints land on declared widths
                merged = merged.select(read_cols).cast(target_schema)
                for b in merged.to_batches(max_chunksize=chunk):
                    yield b

        return desc.mapInArrow(merge_shards, out_schema)

    def register_view(self, name: str) -> None:
        """Plain-SQL access to the salted table: register a desalted
        temp view so users query the LOGICAL table (``SELECT ... FROM
        name WHERE key ...``) with no knowledge of salting — the
        usability the reference offers by hiding salt management behind
        the HBase Scan API (AbstractRowKeyDistributor.java:71-81).

        For deterministic distributors the view carries the salt
        INVARIANT ``salt = salt_expr(key)`` (true for every stored
        row). A plain-SQL point predicate ``WHERE key = X`` then prunes
        to ONE bucket with no Catalyst extension rule: CombineFilters
        merges the user predicate with the invariant, and
        ConstantPropagation + ConstantFolding rewrite
        ``salt = f(key) ∧ key = X`` into the literal ``salt = f(X)``,
        which the scan turns into ``PartitionFilters: [salt = k]``
        (plan-asserted in tests) — the same single-bucket read
        :meth:`point_get` does through the typed API. Range predicates
        keep the row-group path below; the residual invariant filter
        (one hash per row) is the cost of transparency.

        Range pruning carries over without any rule because of the
        write layout: files are key-sorted WITHIN each salt partition,
        so a key predicate pushed to the scan (plan-asserted in tests)
        skips non-overlapping row groups in every bucket — the
        per-bucket interval fan-out, done by parquet stats instead of
        injected salt predicates.

        Under round-robin salting the salt is not a key function, so
        the invariant does not exist and point gets keep the fan-out
        semantics (O4) the reference also pays."""
        df = self.df()
        if self.distributor.deterministic:
            df = df.where(
                F.col(SALT_COL) == self.distributor.salt_expr(F.col(self.key_col))
            )
        df.drop(SALT_COL).createOrReplaceTempView(name)

    def salted_where(self, start: Any = None, stop: Any = None) -> str:
        """SQL WHERE fragment for a ``[start, stop)`` key-range scan
        over the :meth:`register_view` view — the plain-SQL twin of
        :meth:`scan`'s predicate, so SQL users never hand-write salt
        logic (the Scan-API transparency of
        AbstractRowKeyDistributor.java:71-81).

        Under hash salting a key RANGE touches every bucket by design
        (the reference's ``getDistributedIntervals`` fans out to all N
        prefixes, AbstractRowKeyDistributor.java:47-69), so there is no
        salt predicate to inject for ranges — pruning happens via the
        key predicate pushed to every bucket's row groups, identically
        to the facade path (plan-asserted in
        tests/test_sql_transparency.py). Point predicates (``key = X``)
        additionally prune to ONE bucket through the view's salt
        invariant — use plain equality SQL for those; no helper needed.
        """
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        parts = []
        if start is not None:
            parts.append(f"{self.key_col} >= {sql_literal(start, tz)}")
        if stop is not None:
            parts.append(f"{self.key_col} < {sql_literal(stop, tz)}")
        return " AND ".join(parts) if parts else "TRUE"

    def parallel_read(self, start: Any = None, stop: Any = None) -> DataFrame:
        """Unordered parallel batch read (§3.3, WdTableInputFormat
        parity): same pruned scan, no order restoration — splits =
        buckets × parquet row-groups, scheduled natively."""
        return self.scan(start, stop, ordered=False)

    def fast_count(self, start: Any = None, stop: Any = None) -> int:
        """Range count served from the zone map: files whose key zone
        lies WHOLLY inside ``[start, stop)`` contribute their stored
        row count with zero I/O (the analogue of the reference relying
        on per-region metadata instead of scanning); only the files
        straddling a boundary are actually counted, with the range
        predicate pruned to their row groups. Rows with NULL keys never
        match a range predicate, so a wholly-inside file contributes
        ``n_rows - n_nulls`` — except on the fully-unbounded call,
        where ``scan`` applies no predicate at all and null-keyed rows
        count too (exact ``scan().count()`` parity either way).

        At 100 TB with key-sorted salted files, a retention-window
        count touches ~2 files per bucket for real I/O; everything else
        is zone metadata (:meth:`_zone_table`: the parquet footers, or
        the fresh sidecar where they cannot serve the key). An
        unbounded ``fast_count()`` is pure metadata. Exact-equal to ``scan(start, stop).count()`` by
        construction (oracle-gated in tests). The classification is
        array work over the handle's memoized columnar zone table —
        no Spark job before the boundary-file count."""
        if start is None and stop is None:
            return pc.sum(self._zone_table(self.key_col)["n_rows"]).as_py() or 0
        zt, lo, hi = self._zones_in_range(self.key_col, start, stop)
        inside = pc.is_valid(zt["lo"])
        if lo is not None:
            inside = pc.and_(inside, pc.greater_equal(zt["lo"], lo))
        if hi is not None:
            inside = pc.and_(inside, pc.less(zt["hi"], hi))
        wholly = zt.filter(inside)
        total = pc.sum(pc.subtract(wholly["n_rows"], wholly["n_nulls"])).as_py() or 0
        boundary = zt.filter(pc.invert(inside))["file"].to_pylist()
        if boundary:
            total += (
                self._reader(base_path=self.path)
                .load(boundary)
                .where(range_predicate(self.key_col, start, stop))
                .count()
            )
        return total


def compact(table: SaltedTable) -> SaltedTable:
    """Compact a salted table in place-ish: streaming ingest appends one
    file per salt per micro-batch (salted_stream_ingest); this rewrites
    each salt partition into one key-sorted file.

    At 100 TB this is the nightly small-file compaction job: it never
    shuffles across salt partitions (repartition on the existing
    partition value is a local-ish exchange), preserves the layout
    invariant (key-sorted files => tight row-group stats), and is safe
    to run per-partition-subset. Write-to-temp-then-swap keeps readers
    consistent on filesystems without atomic rename semantics. Every
    path op goes through Hadoop's FileSystem so the same code compacts
    an s3a:// or hdfs:// table, not just local disk."""
    def make_staged():
        return _bucket_sorted(table.df(), table.distributor.buckets, table.key_col)

    return _staged_rewrite(table, make_staged, "compact")


def _salt_of(path: str) -> int:
    """The salt id of a data file, from its ``salt=K/`` dir."""
    return int(path.rsplit(f"{SALT_COL}=", 1)[1].split("/", 1)[0])


def _data_files(fs: Fs, root: str) -> list:
    """Path-sorted ``(path, bytes, mtime_ms)`` of the data files in the
    salt dirs under ``root`` (a table or a stage): names starting with
    ``.`` or ``_`` are skipped, as Spark's file listing skips them."""
    return [
        t
        for t in fs.glob_stats(f"{root.rstrip('/')}/{SALT_COL}=*/*")
        if not t[0].rsplit("/", 1)[1].startswith((".", "_"))
    ]


_PARTITION_ROUTES: dict[int, list[int]] = {}


def _partition_routes(spark: SparkSession, p: int) -> list[int]:
    """``v_0 .. v_{p-1}``: for each ``j`` the smallest int that Spark's
    hash partitioning over ``p`` partitions places in partition ``j``
    (``pmod(Murmur3(v, 42), p) == j``, what ``repartition(p, col)``
    computes for an int column). Read from Spark's own
    ``Murmur3_x86_32.hashInt`` on the driver, no job; memoized per
    ``p`` (the hash is fixed, so any session agrees)."""
    if p not in _PARTITION_ROUTES:
        hash_int = spark._jvm.org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt
        routes: list = [None] * p
        left, v = p, 0
        while left:
            j = hash_int(v, 42) % p  # Python's % of a positive p is pmod
            if routes[j] is None:
                routes[j] = v
                left -= 1
            v += 1
        _PARTITION_ROUTES[p] = routes
    return _PARTITION_ROUTES[p]


def _bucket_sorted(df: DataFrame, salts: int | list[int], key_col: str) -> DataFrame:
    """The write layout of a salted frame holding the salt ids
    ``salts`` (``n`` means ``0..n-1``; every data-file write but
    :func:`cluster`'s z-order): one shuffle into ``p = min(#salts,
    defaultParallelism)`` partitions, each sorted by (salt, key), so a
    write puts one key-sorted file in every salt dir. The ``i``-th salt
    id (in order) goes to partition ``i mod p`` exactly: every
    partition holds ⌊#salts/p⌋ or ⌈#salts/p⌉ whole salts and none is
    empty, one task per core. Hashing the salt itself instead
    (``repartition(n, salt)``) leaves partitions empty or doubled — 32
    salts fill 18 of 32 — and the busiest task sets the write's floor.
    Each row is routed by the int :func:`_partition_routes` picked for
    its partition."""
    if isinstance(salts, int):
        ids = list(range(salts))
    else:
        ids = sorted({s for s in salts if s is not None})
    p = max(1, min(len(ids), df.sparkSession.sparkContext.defaultParallelism))
    rank = F.col(SALT_COL)
    if ids != list(range(len(ids))):
        rank = F.array_position(F.array(*[F.lit(s) for s in ids]), rank) - 1
    route = F.element_at(
        F.array(*[F.lit(v) for v in _partition_routes(df.sparkSession, p)]),
        (F.pmod(rank, F.lit(p)) + 1).cast("int"),
    )
    return df.repartition(p, route).sortWithinPartitions(SALT_COL, key_col)


def _write_meta(table: SaltedTable) -> None:
    """Persist ``table``'s key column, format, parquet row-group size,
    data schema and distributor as the metadata of its dir."""
    meta = {
        "key_col": table.key_col,
        "fmt": table.fmt,
        "row_group_bytes": table.row_group_bytes,
        "data_schema": table.data_schema_json,
        **table.distributor.to_meta(),
    }
    Fs(table.spark, table.path).write_text(
        table.path.rstrip("/") + "/" + META_FILE, json.dumps(meta)
    )


def _staged_rewrite(
    table: SaltedTable, make_staged, op: str, distributor: KeyDistributor | None = None
) -> SaltedTable:
    """The crash-safe rewrite protocol shared by the lifecycle verbs
    :func:`compact`, :func:`cluster` and :func:`rebucket` — ONE
    definition, because every line here is safety-critical and a
    protocol fix must reach all verbs at once (the orphaned-``.old``
    refusal and the zone-sidecar carry both had to): refuse if a
    previous swap stranded the only copy, stage the rewrite into a
    sibling dir, carry the zone sidecars (stale, then rebuilt), aside-
    rename swap. Runs under the table lifecycle lock (sibling
    ``<base>.wd_lock``) so two verbs can't interleave the swap.

    Without ``distributor`` the rewrite keeps every row's salt: the
    stage carries the table metadata and the key->salt index (no row
    crosses a salt partition, so the mapping survives), the index
    watermark is restamped against the new data files, and ``table``
    itself is returned. :func:`rebucket` passes its new distributor:
    the stage gets metadata for it and no key index (every mapping is
    invalidated by construction), and a handle loaded from the swapped
    table is returned.

    ``make_staged`` is a CALLABLE building the rewrite frame, invoked
    only under the lock: lock acquisition may first complete a crashed
    expire()'s stage (merge survivors back, finish pending deletes —
    :meth:`SaltedTable._recover_expire_stage`), and a frame planned
    from the PRE-recovery file listing would read deleted files
    (FILE_NOT_EXIST mid-write) or, worse, silently omit the merged
    survivors from the rewrite."""
    with table._lifecycle_lock(op):
        fs = Fs(table.spark, table.path)
        base = table.path.rstrip("/")
        _refuse_orphaned_old(fs, base, op)
        tmp = f"{base}.{op}_tmp"
        fs.delete(tmp, recursive=True)
        staged = make_staged()
        table._writer(staged).mode("overwrite").save(tmp)
        idx_src = base + "/" + SaltedTable.KEY_INDEX_DIR
        if distributor is not None:
            schema_json = staged.drop(SALT_COL).schema.json()
            stage_t = SaltedTable(
                table.spark, tmp, distributor, table.key_col, table.fmt, schema_json
            )
            stage_t.row_group_bytes = table.row_group_bytes
            _write_meta(stage_t)
        else:
            fs.copy(base + "/" + META_FILE, tmp + "/" + META_FILE)
            if fs.is_dir(idx_src):
                fs.copy(idx_src, tmp + "/" + SaltedTable.KEY_INDEX_DIR)
        zm_src = base + "/" + SaltedTable.ZONE_MAP_DIR
        if fs.is_dir(zm_src):
            # carried stale (wrong file paths), then rebuilt below —
            # carrying it is what tells rebuild WHICH columns to index
            fs.copy(zm_src, tmp + "/" + SaltedTable.ZONE_MAP_DIR)
        # the sibling lock (lock_path) is untouched by the swap's renames:
        # it stays held until _lifecycle_lock's finally-block (ADVICE r6/r8)
        _swap_table_dirs(fs, tmp, base, op)
        if distributor is not None:
            out = SaltedTable.load(table.spark, base)
        else:
            out = table
            out.refresh()
            # the rewrite replaced the data files: restamp the index
            # watermark (the mapping itself is unchanged) so indexed
            # gets stay fast
            if fs.is_dir(idx_src):
                fs.write_text(
                    idx_src + "/" + SaltedTable.INDEX_META_FILE,
                    json.dumps({"data_sig": out._data_signature(fs)}),
                )
        out.rebuild_zone_maps()
        return out


def cluster(
    table: SaltedTable, x: str, y: str, files_per_salt: int = 4
) -> SaltedTable:
    """Z-ORDER clustering rewrite (the Delta ``OPTIMIZE ZORDER BY``
    shape): rewrite each salt partition's files sorted by the 32-bit
    Morton interleave of two dimension columns, so per-file min/max
    stats are tight in BOTH dims and 2-D predicates prune files the
    key-sorted layout cannot. ``x``/``y`` must be integer-valued
    columns; only their low 16 bits participate (pre-bucket wider
    domains with ``pmod``).

    The trade-off is explicit and documented: the write-time layout
    invariant (key-sorted files => tight KEY row-group stats) is
    traded for two-dimensional locality — ordered scans still work
    (``scan(ordered=True)`` re-sorts and ``scanner()`` plans a
    per-bucket sort; neither reads physical file order), but key-range
    zone maps widen. Choose per table: cluster the tables whose hot
    predicates are 2-D, compact the rest.

    At 100 TB this is the same nightly-rewrite cost class as
    :func:`compact`: no row crosses a salt partition, the exchange is
    a range partition on (salt, zval) — contiguous z-slices become
    files, which is exactly what makes the zone maps tight — and the
    swap is the crash-safe aside-rename protocol. Key->salt index
    survives (placement within the salt dir changed, membership did
    not)."""
    from pyspark.sql import functions as F

    from hbasewd_spark.functions.codec import zvalue16

    def make_staged():
        n = table.distributor.buckets * files_per_salt
        return (
            table.df()
            .withColumn("_zv", zvalue16(x, y))
            .repartitionByRange(n, F.col(SALT_COL), F.col("_zv"))
            .sortWithinPartitions(SALT_COL, "_zv")
            .drop("_zv")
        )

    return _staged_rewrite(table, make_staged, "cluster")


def rebucket(table: SaltedTable, new_distributor: KeyDistributor) -> SaltedTable:
    """Bucket-count (or strategy) migration — the scaling knob the
    reference's README centers on (bucket count trades write
    parallelism against scan fan-out, README:37-40; changing it there
    means rewriting every HBase row key). Engine version: one read,
    one re-salt, one salted write to a staging dir, one swap — the
    :func:`_staged_rewrite` protocol, with the stage re-salted by
    ``new_distributor``. Salt is a derived column, so no key bytes
    change — only placement.

    At 100 TB this is a full-table rewrite by necessity (every row's
    bucket assignment changes under a new modulus — the same cost the
    reference would pay) but it is ONE shuffle: re-salt is a stateless
    projection and the write repartitions straight to the new bucket
    count. The table's metadata names ``new_distributor``; the
    key->salt index is dropped (its mapping is invalidated by
    construction), rebuild after if round-robin point gets matter;
    zone sidecars are carried and rebuilt. Returns a handle loaded
    from the rewritten table. Not reader-atomic during the final swap
    — same contract as compact()."""

    def make_staged():
        data = salted(table.df().drop(SALT_COL), new_distributor, table.key_col)
        return _bucket_sorted(data, new_distributor.buckets, table.key_col)

    return _staged_rewrite(table, make_staged, "rebucket", new_distributor)


def vacuum(
    table: SaltedTable,
    staging_older_than_s: "float | None" = None,
    dry_run: bool = False,
) -> dict:
    """Garbage-collect the crash-protocol artifacts a long-lived table
    accumulates — the Delta ``VACUUM`` shape, scoped to this engine's
    own leftovers. At 100 TB a table that has survived a few crashed
    verbs carries full-size sibling copies (``base.old`` is an entire
    pre-swap table); without a GC verb those doublings of storage
    persist forever.

    Targets, and why each is safe under the lifecycle lock:

    - ``base.*_tmp`` siblings: every writer of these paths
      (compact/cluster/rebucket stage UNDER the lock; the swap itself
      runs under it) is excluded while we hold the lock, so a
      surviving stage is by definition a crashed run's leftover, and
      a ``*_tmp`` is always DERIVED data (the rewrite never replaces
      the table while tmp still exists — a successful swap-rename
      consumes it), reproducible by rerunning its verb. Deleted when
      a loadable table sits at ``base``.
    - ``base.old`` / ``base.hoist`` (the latter only ever left by
      older engine versions, whose swap repair staged through it):
      these CAN be the only complete copy, and on a non-atomic-rename
      store (S3A/GCS — see SCALE.md, object-store table) ``base`` can
      hold a PARTIAL copy that still has the metadata file at the top
      (the swap copies it early), so "META exists" is NOT proof enough
      to delete them. The proof used instead is row-count equivalence:
      every ``.old``/``.hoist`` writer (compact/cluster/rebucket)
      preserves the table's exact row count, so ``count(base) == count(sibling)`` proves base is
      no less complete than the copy being deleted. Counts diverge →
      the sibling is KEPT with instructions (either base is a partial
      copy — restore the sibling — or base was legitimately mutated
      after the crash (expire/upsert/ingest) and the operator must
      confirm before deleting by hand). The counts are footer-
      metadata reads (no column data), two small Spark jobs per
      complete-looking sibling; a shell sibling without the metadata
      file skips the proof. Residual window, stated honestly: a crash
      in the middle of a per-file aside-rename on a flat-namespace
      store can leave base and ``.old`` holding complementary halves;
      the count proof refuses that state too unless the split is
      EXACTLY half-and-half — with a manifestless directory layout
      that coincidence is the irreducible risk, and the SCALE.md
      deployment guidance (lifecycle verbs on rename-atomic stores)
      is the real fix.
    - ``base.staging-epoch-*`` siblings, and the in-dir
      ``base/.staging-epoch-*`` stages older engine versions wrote: the
      streaming stage WRITE runs outside the lock by design
      (streaming/ingest.py), so a stage may be mid-write right now.
      These are only deleted when ``staging_older_than_s`` is given
      and the stage's newest CONTENT is older — freshness is the max
      modification time over the stage dir, its children, and its
      data files, because the top-level dir mtime alone is
      meaningless on object stores
      (synthetic prefix listings report 0) and only tracks
      direct-child churn on HDFS, while a mid-write stage keeps
      gaining files and so keeps a fresh max. An unreadable/zero
      mtime classifies as fresh (kept), never as infinitely old.
      This is the retention-window contract Delta's VACUUM uses for
      the same reason. Deleting a live stage is still SAFE (the epoch
      commit's manifest check sees it vanished and replays the epoch)
      but wasteful, hence opt-in. Default: skip.
    - never touched: the lock sentinel (we hold it), ``.break``
      takeover claims (owned by the dead-holder protocol), and
      ``.expire_stage`` (lock acquisition already completed or
      discarded it via ``_recover_expire_stage``).

    Idempotent; every delete is independent, so a crash mid-vacuum
    just leaves fewer artifacts for the rerun — and no delete ever
    targets a path under ``base`` except aged in-dir streaming stages
    from older engine versions, so the live table is untouchable by
    construction.

    ``dry_run=True`` is genuinely read-only: it classifies WITHOUT
    acquiring the lifecycle lock (acquisition itself mutates — dead-
    holder takeover, crashed-expire recovery), so its report is
    advisory — a concurrent verb can change the picture, and the live
    run re-proves everything under the lock before deleting. Returns
    ``{"deleted": [...], "kept": [{"path", "reason"}, ...]}`` (under
    ``dry_run`` the ``deleted`` list holds what WOULD be deleted).

    Reference parity note: the reference has no lifecycle verbs at all
    (HBase compactions/GC are server-side); this is part of the
    engine-native lifecycle surface alongside compact()/expire()."""
    if dry_run:
        return _vacuum_classify(table, staging_older_than_s, dry_run=True)
    with table._lifecycle_lock("vacuum"):
        return _vacuum_classify(table, staging_older_than_s, dry_run=False)


def _table_row_count(spark: SparkSession, path: str) -> "int | None":
    """Row count of the salted table at ``path`` via its own loader
    (format-aware), or None when it cannot be established — callers
    treat None as 'completeness unprovable', never as zero."""
    try:
        return SaltedTable.load(spark, path).df().count()
    except Exception:
        return None


def _stage_newest_mtime_ms(fs: Fs, stage: str, dir_mtime_ms: int) -> int:
    """Freshness of a streaming stage: the max modification time over
    the dir itself, its salt subdirs, and its files. Returns 0 when
    nothing reports a positive mtime (object-store synthetic dirs)."""
    newest = max(dir_mtime_ms, 0)
    for pattern in (stage + "/*", stage + "/*/*"):
        for _p, _len, m in fs.glob_stats(pattern):
            if m > newest:
                newest = m
    return newest


def _vacuum_classify(
    table: SaltedTable, staging_older_than_s: "float | None", dry_run: bool
) -> dict:
    fs = Fs(table.spark, table.path)
    base = table.path.rstrip("/")
    deleted: list = []
    kept: list = []
    live = fs.exists(base + "/" + META_FILE)
    base_count: list = [False]  # memo cell: False = not yet computed
    siblings = [base + ".old", base + ".hoist"]
    named = set(siblings)
    siblings += fs.glob(base + ".*_tmp")
    for sib in siblings:
        if sib in named and not fs.exists(sib):
            continue  # glob results exist by construction
        if not live:
            kept.append(
                {
                    "path": sib,
                    "reason": f"no loadable table at {base} — this "
                    f"may be the only surviving copy; restore it "
                    f"before vacuuming",
                }
            )
            continue
        if sib in named and fs.exists(sib.rstrip("/") + "/" + META_FILE):
            # a complete-looking aside/hoist copy: prove base is no
            # less complete before deleting (see docstring — META at
            # base is not proof on non-atomic-rename stores)
            if base_count[0] is False:
                base_count[0] = _table_row_count(table.spark, base)
            sib_n = _table_row_count(table.spark, sib)
            if base_count[0] is None or sib_n is None:
                kept.append(
                    {
                        "path": sib,
                        "reason": "completeness unprovable (row count "
                        "of base or sibling unreadable); inspect and "
                        "delete manually",
                    }
                )
                continue
            if base_count[0] != sib_n:
                kept.append(
                    {
                        "path": sib,
                        "reason": f"row counts diverge (base "
                        f"{base_count[0]} vs sibling {sib_n}): base may "
                        f"be a partial copy on a non-atomic-rename "
                        f"store (restore the sibling), or was mutated "
                        f"after the crash — confirm before deleting "
                        f"by hand",
                    }
                )
                continue
        if not dry_run:
            fs.delete(sib, recursive=True)
        deleted.append(sib)
    stages = fs.glob_stats(base + ".staging-epoch-*")
    stages += fs.glob_stats(base + "/.staging-epoch-*")
    for path, _len, dir_mtime in stages:
        if staging_older_than_s is None:
            kept.append(
                {
                    "path": path,
                    "reason": "streaming stage; pass "
                    "staging_older_than_s to reclaim aged stages",
                }
            )
            continue
        newest_ms = _stage_newest_mtime_ms(fs, path, dir_mtime)
        if newest_ms <= 0:
            kept.append(
                {
                    "path": path,
                    "reason": "stage age unknown (no positive mtime "
                    "reported); treating as fresh",
                }
            )
            continue
        age_s = time.time() - newest_ms / 1000.0
        if age_s < staging_older_than_s:
            kept.append(
                {
                    "path": path,
                    "reason": f"stage age {age_s:.0f}s < retention "
                    f"{staging_older_than_s:.0f}s (may be mid-write)",
                }
            )
            continue
        if not dry_run:
            fs.delete(path, recursive=True)
        deleted.append(path)
    return {"deleted": deleted, "kept": kept}


def _merge_stage_into_base(
    fs: Fs, stage: str, base: str, skip_existing: bool
) -> list:
    """Move every staged data file under ``stage/salt=K/`` into the
    matching salt partition of ``base``; returns the [(src, dest)]
    pairs whose rename failed (callers decide whether that aborts or
    preserves the stage). The ONE definition of the expire merge step
    — expire()'s happy path and _recover_expire_stage's crash path
    must move files identically or a protocol fix to one silently
    leaves the other broken. ``skip_existing`` is the crash-path mode:
    a file the crashed run already moved must not be re-renamed (the
    rename would fail and read as a new failure)."""
    failed = []
    for staged, _len, _mtime in _data_files(fs, stage):
        name = staged.rsplit("/", 1)[1]
        salt_dir = staged.rsplit("/", 2)[1]  # "salt=K"
        dest = f"{base}/{salt_dir}/{name}"
        if skip_existing and fs.exists(dest):
            continue
        if not fs.rename(staged, dest):
            failed.append((staged, dest))
    return failed


def _restore_aside(fs: Fs, old: str, base: str) -> str:
    """Move the aside copy back to ``base`` and VERIFY it landed flat;
    returns a human-accurate description of where the original lives
    now (used verbatim in the swap error messages). Never deletes
    anything: an occupied ``base`` is refused, because Hadoop's rename
    onto an existing dir nests the source INSIDE it while returning
    True, and a rename that still did not land the metadata file at the
    top of ``base`` is reported with the nested path instead of as
    "restored" (r10 review)."""
    if not fs.exists(old):
        # the swap path where ``base`` never existed skips the aside
        # rename entirely — pointing the operator at {old} would send
        # them to a path that was never created (r10 advice)
        return f"no aside copy exists ({old} was never created)"
    if fs.exists(base):
        # refusing beats nesting the only original copy
        return f"preserved at {old} ({base} is occupied)"
    if not fs.rename(old, base):
        return f"preserved at {old}"
    if fs.exists(base.rstrip("/") + "/" + META_FILE):
        return f"restored at {base}"
    nested = base.rstrip("/") + "/" + old.rstrip("/").rsplit("/", 1)[-1]
    return (
        f"NESTED at {nested}: {base} was recreated mid-restore and nothing "
        f"was deleted — move it up manually (rename {nested} -> {base} "
        f"after clearing {base})"
    )


def _refuse_orphaned_old(fs: Fs, base: str, op: str) -> None:
    """Pre-flight for the lifecycle rewrites: when ``base.old`` exists
    WITHOUT a live table at ``base``, a previous swap failed after the
    aside rename and the aside copy is the only surviving data —
    reading ``df()`` in that state yields the empty-schema fallback, so
    proceeding would stage an empty rewrite over the last copy. Refuse
    with recovery instructions instead (cheap: two existence checks)."""
    old = base + ".old"
    if fs.exists(old) and not fs.exists(base):
        raise IOError(
            f"{op}(): found {old} but no live table at {base} — a previous "
            f"swap failed mid-flight and {old} holds the only copy; restore "
            f"it (rename {old} -> {base}) before rerunning"
        )


def _swap_table_dirs(fs: Fs, tmp: str, base: str, op: str) -> None:
    """Crash-safe directory swap for the lifecycle rewrites: rename the
    live table ASIDE (``base -> base.old``) before renaming the staged
    replacement into place, and delete the aside copy only after the
    swap lands. Every failure mode leaves a complete, loadable table at
    a known path (``base`` or ``base.old`` or ``tmp``) — the previous
    delete-then-rename protocol had a window where a crash left NO
    table at ``base`` and the only copy in a ``*_tmp`` sibling.

    Runs under the lifecycle lock, after :func:`_refuse_orphaned_old`
    proved a live table sits at ``base``. No engine code writes under
    ``base`` without that lock (epoch stages are written to the
    ``<base>.staging-epoch-<id>`` sibling), so ``base`` stays absent
    between the aside rename and the swap rename. A writer outside the
    engine that recreates it anyway (Hadoop's rename onto an existing
    dir would nest the rewrite one level deep while returning True)
    gets a refusal that deletes nothing and names where the original
    and the rewrite are."""
    old = base + ".old"
    # base is live (checked by the caller under this lock), so an aside
    # copy is the leftover of a swap that landed but crashed before
    # clearing it
    fs.delete(old, recursive=True)
    if fs.exists(base) and not fs.rename(base, old):
        raise IOError(
            f"{op}(): could not move the live table aside "
            f"({base} -> {old}); nothing was changed — the live table is "
            f"intact at {base} and the rewrite is intact at {tmp}"
        )
    if fs.exists(base):
        raise IOError(
            f"{op}(): {base} was recreated after the live table was moved "
            f"aside — a writer outside the lifecycle lock is active; "
            f"nothing was deleted: the original table is at {old} and the "
            f"rewrite at {tmp}"
        )
    if not fs.rename(tmp, base):
        raise IOError(
            f"{op}(): swap rename {tmp} -> {base} failed; the rewrite is "
            f"intact at {tmp} and the original table is "
            + _restore_aside(fs, old, base)
        )
    if not fs.exists(base.rstrip("/") + "/" + META_FILE):
        nested = base.rstrip("/") + "/" + tmp.rstrip("/").rsplit("/", 1)[-1]
        raise IOError(
            f"{op}(): the rewrite did not land flat at {base} (no "
            f"{META_FILE} at its top level) — a writer outside the "
            f"lifecycle lock recreated {base} mid-swap; nothing was "
            f"deleted: the original table is at {old} and the rewrite at "
            f"{nested if fs.exists(nested) else base}"
        )
    fs.delete(old, recursive=True)
