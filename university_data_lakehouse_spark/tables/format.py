"""Log-structured managed tables over parquet.

Commit protocol (the public Delta/Iceberg core, minimally restated):

- A table is ``<root>/<name>/data/*.parquet`` plus a log directory
  ``<root>/<name>/_log/v{N:08d}.json``.
- Readers NEVER list the data directory: a snapshot is defined
  entirely by the highest committed manifest, which carries the full
  data-file list and the schema. Orphan files from failed or
  in-flight writes are invisible.
- Writers stage data files first, then publish a manifest one
  version above the snapshot they read. Publication uses
  ``os.link`` (atomic create-if-absent on POSIX): two writers racing
  to the same version — the optimistic-concurrency conflict — cannot
  both win; the loser gets :class:`CommitConflict` and must re-read
  and retry.
- Old manifests are retained, so any prior version remains readable
  (time travel) until a retention job vacuums it.

One publish path: every verb resolves its snapshot ONCE
(:meth:`ManagedTable.manifest`, the only reader of the log) and hands
that resolved manifest down to everything it calls. Every commit
action is built by ``ManagedTable._publish`` from that base snapshot:
the action carries the base's schema, partition spec, CHECK
constraints and bloom-filter columns unless the verb changes them,
and commits at base + 1 (``write`` alone takes its version, and an
overwrite its removals, from the log at commit time — appends
commute). A log file is written to a temp file that is fsynced
before it is linked into place, and the log directory is fsynced
after, so a published version is never empty after a power loss.

Log layout (the public Delta log design): each commit ``v{N}.json``
carries INCREMENTAL actions — ``add`` (new file entries) and
``remove`` (file names dropped from the snapshot) — so commit size is
O(changed files), not O(table). Every :data:`CHECKPOINT_INTERVAL`
commits a full ``v{N}.checkpoint.json`` snapshot is also written;
readers resolve a version from the newest checkpoint at-or-below it
plus at most ``CHECKPOINT_INTERVAL`` tail actions, so snapshot
resolution is O(interval), not O(commit history). A checkpoint is
only a cache of the actions: an unreadable one is skipped for an
older checkpoint or a replay from v1, while a torn action file raises
:class:`CorruptLogError` naming it. Vacuum truncates the action tail
below the oldest retained version once its data files are reclaimed,
writing a fresh checkpoint there first (replacing an unreadable one).

Data skipping: every staged file records per-column min/max stats
read from its parquet footer (int/float/string columns — the public
Delta `stats` idea). MERGE uses them to split the snapshot into files
whose key ranges overlap the source slice (rewritten through the
anti-join) and files that cannot contain a matched key (carried into
the new manifest untouched, never read, never rewritten) — so an
incremental MERGE against a 100 TB table costs O(touched files +
source), not O(table).

Reference parity: replaces the Iceberg CTAS materialization at
``trino_iceberg_transform_component.py:116-129``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil
import time
import urllib.parse
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_FMT = "v{:08d}.json"
_CKPT_FMT = "v{:08d}.checkpoint.json"

#: A full-snapshot checkpoint is written every this-many commits, so a
#: snapshot resolves from one checkpoint read + at most this many
#: action files (the public Delta default of 10).
CHECKPOINT_INTERVAL = 10

#: MERGE partition pruning collects the source's DISTINCT partition
#: tuples to the driver; above this cap the collect is abandoned and
#: the merge falls back to footer-stats pruning only (r6 VERDICT #3).
MERGE_PRUNE_MAX_PARTITIONS = 10_000


def _footer_stats(path: str) -> tuple[dict[str, list], int]:
    """(per-column [min, max], row count) from the parquet footer,
    for top-level int/float/string columns with statistics. One
    metadata read per staged file — no data scan."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    skip: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for i in range(group.num_columns):
            col = group.column(i)
            name = col.path_in_schema
            if "." in name or name in skip:
                continue
            st = col.statistics
            if (
                st is None or not st.has_min_max
                or not isinstance(st.min, (int, float, str))
                or isinstance(st.min, bool)
            ):
                skip.add(name)
                continue
            mins[name] = st.min if name not in mins else min(mins[name], st.min)
            maxs[name] = st.max if name not in maxs else max(maxs[name], st.max)
    return ({n: [mins[n], maxs[n]] for n in mins if n not in skip},
            md.num_rows)


_TRANSFORM_RE = re.compile(
    r"^(years|months|days|bucket)\((?:(\d+)\s*,\s*)?([A-Za-z_][A-Za-z0-9_]*)\)$"
)

_DATE_FMT = {"years": "yyyy", "months": "yyyy-MM", "days": "yyyy-MM-dd"}


class PartitionSpecField:
    """One entry of an Iceberg-style partition spec: an identity
    column (``"day"``) or a transform over a source column
    (``"days(ts)"``, ``"months(ts)"``, ``"years(ts)"``,
    ``"bucket(16, id)"``). Transforms are HIDDEN partitioning: the
    source column stays in the data files; only the derived value
    goes into the directory path and the manifest."""

    def __init__(self, spec: str):
        self.spec = spec
        m = _TRANSFORM_RE.match(spec)
        if m:
            self.transform, param, self.source = m.groups()
            if self.transform == "bucket":
                if not param:
                    raise ValueError(f"bucket transform needs N: {spec!r}")
                self.param = int(param)
                self.dir_name = f"bucket{self.param}_{self.source}"
            else:
                if param:
                    raise ValueError(f"{self.transform} takes no N: {spec!r}")
                self.param = None
                self.dir_name = f"{self.transform}_{self.source}"
        else:
            self.transform, self.param = None, None
            self.source = spec
            self.dir_name = spec

    @property
    def identity(self) -> bool:
        return self.transform is None

    def expr(self):
        """Derived partition-value Column (None for identity — the raw
        column itself is the partition column)."""
        if self.identity:
            return None
        if self.transform == "bucket":
            # Spark's stable murmur3 hash; value range [0, N)
            return F.pmod(F.hash(F.col(self.source)), F.lit(self.param))
        return F.date_format(F.col(self.source), _DATE_FMT[self.transform])


def _spec_fields(pby: list[str]) -> list[PartitionSpecField]:
    return [PartitionSpecField(s) for s in pby]


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer staged."""


class VersionExpiredError(RuntimeError):
    """A change-feed range references versions VACUUM dropped from
    the log (Delta parity: reading table_changes past the retention
    horizon fails with a version-expired error, never a
    file-not-found mid-stream).

    Recovery for streaming consumers: reset the cursor and bootstrap
    from the current snapshot (``TableChangeFeed.reset()`` → the next
    ``poll()`` delivers the full snapshot as inserts), then resume
    incremental polls — with a keyed idempotent MERGE downstream the
    re-delivery converges to the same state."""


class CorruptLogError(RuntimeError):
    """A log file exists but cannot be parsed (a torn or truncated
    commit action); the message names the file."""


class SchemaMismatch(ValueError):
    """Append schema incompatible with the table schema."""


class ConstraintViolation(ValueError):
    """Incoming rows violate a table CHECK constraint."""


def _schema_names(schema: T.StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in schema.fields}


def check_passes(pred: str):
    """SQL CHECK semantics: a row passes the predicate unless it
    evaluates to FALSE (NULL/UNKNOWN passes)."""
    return F.coalesce(F.expr(pred), F.lit(True))


def count_violations(df: DataFrame, preds: dict[str, str]) -> dict[str, int]:
    """{name: rows of ``df`` that fail the named SQL predicate} (see
    :func:`check_passes`), all counted in ONE aggregate pass — shared by
    table CHECK constraints and asset expectations."""
    row = df.agg(*[
        F.count(F.when(~check_passes(pred), 1)).alias(name)
        for name, pred in preds.items()
    ]).collect()[0]
    return {name: row[name] for name in preds}


#: Table metadata every commit action carries; a verb that does not
#: change a key inherits it from the snapshot it was derived from.
_META_KEYS = ("schema", "partition_by", "constraints", "bloom_filters")


def _schema(m: dict) -> T.StructType:
    return T.StructType.fromJson(m["schema"])


def _float_columns(m: dict) -> set[str]:
    return {f.name for f in _schema(m).fields
            if isinstance(f.dataType, (T.FloatType, T.DoubleType))}


def _may_overlap(entry: dict, bounds: dict[str, tuple],
                 unprunable: set[str]) -> bool:
    """Can this file hold a row inside ``bounds`` ({col: (lo, hi)}
    closed intervals, None = unbounded)? False only when its footer
    min/max PROVE disjointness on some column; missing stats and
    ``unprunable`` columns (float/double — footer stats exclude NaN)
    never prune."""
    stats = entry.get("stats") or {}
    for col, (lo, hi) in bounds.items():
        rng = stats.get(col)
        if col in unprunable or not rng:
            continue
        fmin, fmax = rng
        if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
            return False
    return True


def _bounds_condition(bounds: dict[str, tuple], predicate=None):
    """The row predicate of ``bounds`` (AND the optional extra
    ``predicate`` Column)."""
    cond = F.lit(True)
    for col, (lo, hi) in bounds.items():
        if lo is not None:
            cond = cond & (F.col(col) >= lo)
        if hi is not None:
            cond = cond & (F.col(col) <= hi)
    return cond if predicate is None else cond & predicate


def _set_columns(schema: T.StructType, set_exprs: dict, cond=None) -> list:
    """Projection of ``schema`` with ``set_exprs`` ({column: Column or
    literal}) applied — only on rows where ``cond`` holds, if given —
    cast back to each column's type."""
    def col(fld):
        if fld.name not in set_exprs:
            return F.col(fld.name)
        val = set_exprs[fld.name]
        if not isinstance(val, F.Column):
            val = F.lit(val)
        if cond is not None:
            val = F.when(cond, val).otherwise(F.col(fld.name))
        return val.cast(fld.dataType).alias(fld.name)

    return [col(f) for f in schema.fields]


def _file_key():
    """Basename of the parquet file a row was read from — the file
    half of a deletion-vector position."""
    return F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)


class ManagedTable:
    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.log_dir = os.path.join(path, "_log")

    # ------------------------------------------------------------ log

    def exists(self) -> bool:
        return bool(self._versions())

    def _listing(self) -> tuple[list[int], list[int]]:
        """(action versions, checkpoint versions), each sorted, from
        one listing of the log directory."""
        if not os.path.isdir(self.log_dir):
            return [], []
        versions, ckpts = [], []
        suffix = ".checkpoint.json"
        for f in os.listdir(self.log_dir):
            if f.startswith("v") and f.endswith(suffix):
                ckpts.append(int(f[1:-len(suffix)]))
            elif f.startswith("v") and f.endswith(".json"):
                versions.append(int(f[1:-5]))
        return sorted(versions), sorted(ckpts)

    def _versions(self) -> list[int]:
        return self._listing()[0]

    def _checkpoints(self) -> list[int]:
        return self._listing()[1]

    def latest_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"no committed version at {self.path}")
        return vs[-1]

    def _load(self, name: str) -> dict:
        """Parse one log file. A missing file stays FileNotFoundError
        (vacuumed, or never committed); a torn or unreadable one raises
        CorruptLogError naming it."""
        path = os.path.join(self.log_dir, name)
        with open(path) as fh:
            try:
                entry = json.load(fh)
            except ValueError as e:   # bad JSON or bad UTF-8
                raise CorruptLogError(f"unreadable log file {path}: {e}") from e
        if not isinstance(entry, dict) or "schema" not in entry:
            raise CorruptLogError(f"log file {path} is not a commit action")
        return entry

    def manifest(self, version: int | None = None) -> dict:
        """Resolved snapshot view of a version: newest checkpoint
        at-or-below it plus the incremental action tail — one
        checkpoint read + ≤ CHECKPOINT_INTERVAL action reads, never a
        walk of the whole commit history. A checkpoint is only a cache
        of the actions: an unreadable one is skipped for the next older
        one, or for a replay of the actions from v1. This is the only
        method that resolves a snapshot from the log."""
        versions, ckpts = self._listing()
        if version is None and not versions:
            raise FileNotFoundError(f"no committed version at {self.path}")
        v = versions[-1] if version is None else version
        files: dict[str, dict] = {}
        meta: dict | None = None
        start = 1   # action logs begin at version 1
        for c in reversed([c for c in ckpts if c <= v]):
            try:
                meta = self._load(_CKPT_FMT.format(c))
                files = {f["name"]: f for f in meta["files"]}
            except (OSError, CorruptLogError, KeyError):
                meta = None
                continue
            start = c + 1
            break
        avail = set(versions)
        for av in range(start, v + 1):
            if av not in avail:
                raise FileNotFoundError(
                    f"version {v} of {self.path} is not resolvable: "
                    f"log entry v{av} is missing (vacuumed or never committed)"
                )
            action = self._load(_MANIFEST_FMT.format(av))
            for name in action.get("remove", []):
                files.pop(name, None)
            for entry in action.get("add", []):
                files[entry["name"]] = entry
            meta = action
        if meta is None:
            raise FileNotFoundError(
                f"version {v} of {self.path} is not resolvable"
            )
        return {
            "version": v,
            "ts": meta["ts"],
            "operation": meta["operation"],
            "schema": meta["schema"],
            "partition_by": meta.get("partition_by") or [],
            "constraints": meta.get("constraints") or {},
            "bloom_filters": meta.get("bloom_filters") or [],
            "files": list(files.values()),
        }

    def history(self) -> list[dict]:
        return [self.manifest(v) for v in self._versions()]

    # ----------------------------------------------------------- read

    def schema(self, version: int | None = None) -> T.StructType:
        return _schema(self.manifest(version))

    def partition_by(self, version: int | None = None) -> list[str]:
        return list(self.manifest(version).get("partition_by") or [])

    def check_constraints(self, version: int | None = None) -> dict[str, str]:
        return dict(self.manifest(version).get("constraints") or {})

    def bloom_filter_columns(self, version: int | None = None) -> list[str]:
        return list(self.manifest(version).get("bloom_filters") or [])

    def row_count(self, version: int | None = None) -> int | None:
        """COUNT(*) answered from MANIFEST metadata alone — no file is
        opened (the lakehouse metadata-query optimization: Delta and
        Iceberg both satisfy plain counts from their logs). Returns
        None when any referenced file predates row tracking."""
        files = self.manifest(version)["files"]
        if any(f.get("rows") is None for f in files):
            return None
        return sum(f["rows"] - sum(d["rows"] for d in f.get("dv") or [])
                   for f in files)

    def _enforce_constraints(self, df: DataFrame,
                             cons: dict[str, str]) -> None:
        """SQL-standard CHECK semantics (Delta parity): a row violates
        a constraint iff the predicate evaluates to FALSE (NULL/UNKNOWN
        passes). All constraints are counted in ONE aggregation pass
        over the incoming frame — the documented extra-scan cost of
        CHECK constraints; at 100 TB it pipelines with the write."""
        if not cons:
            return
        bad = {n: c for n, c in count_violations(df, cons).items() if c}
        if bad:
            detail = ", ".join(
                f"{n!r} ({cons[n]}): {c} rows" for n, c in bad.items())
            raise ConstraintViolation(
                f"CHECK constraint(s) violated at {self.path}: {detail}")

    @staticmethod
    def _pv_str(value) -> str:
        """Python value → the string Spark writes into a Hive-style
        partition path (None → the Hive default-partition sentinel)."""
        if value is None:
            return "__HIVE_DEFAULT_PARTITION__"
        return str(value)

    @classmethod
    def _partition_match(cls, file_entry: dict, wanted: dict) -> bool:
        """Manifest-level pruning: keep the file iff its recorded
        partition values satisfy every predicate (value or list of
        values). A file with NO recorded value for a filtered column
        (pre-partitioning generation) is conservatively kept."""
        pvals = file_entry.get("partition_values") or {}
        for col, want in wanted.items():
            got = pvals.get(col)
            if got is None:
                continue
            accept = want if isinstance(want, (list, tuple, set)) else [want]
            if got not in {cls._pv_str(w) for w in accept}:
                return False
        return True

    def read(self, spark: SparkSession, version: int | None = None,
             partition_filter: dict | None = None) -> DataFrame:
        """Snapshot read. ``partition_filter`` ({col: value-or-list})
        prunes whole partitions from the manifest alone — zero footers
        opened, zero files listed outside the matching partitions (the
        Iceberg manifest-pruning behavior; at 100 TB this is the
        difference between touching one date directory and the table)."""
        m = self.manifest(version)
        pby = m["partition_by"]
        entries = m["files"]
        if partition_filter:
            unknown = set(partition_filter) - set(pby)
            if unknown:
                raise ValueError(
                    f"partition_filter on non-partition columns {sorted(unknown)}; "
                    f"table is partitioned by {pby}"
                )
            entries = [f for f in entries
                       if self._partition_match(f, partition_filter)]
        return self._read_snapshot(spark, m, entries)

    def _read_snapshot(self, spark: SparkSession, m: dict,
                       files: list[dict] | None = None) -> DataFrame:
        """Read ``files`` (default: all) of the resolved snapshot ``m``
        under its schema and partition layout."""
        return self._read_files(spark, m["files"] if files is None else files,
                                _schema(m), partitioned=bool(m["partition_by"]))

    @staticmethod
    def _split_by_stats(m: dict, bounds: dict[str, tuple]
                        ) -> tuple[list[dict], list[dict]]:
        """(files that MAY hold rows in ``bounds``, files whose footer
        stats prove they cannot) of the resolved snapshot ``m``."""
        unprunable = _float_columns(m)
        touched, carried = [], []
        for f in m["files"]:
            (touched if _may_overlap(f, bounds, unprunable)
             else carried).append(f)
        return touched, carried

    def candidate_files(self, bounds: dict[str, tuple],
                        version: int | None = None) -> list[dict]:
        """File entries that MAY contain rows in ``bounds`` ({col:
        (lo, hi)} closed intervals, None = unbounded) per footer
        min/max stats — the manifest-level skipping set read_where()
        scans. Exposed so callers (and tests) can measure pruning
        effectiveness without reading data. Float/double columns never
        prune (NaN sits outside footer stats)."""
        return self._split_by_stats(self.manifest(version), bounds)[0]

    def read_where(
        self,
        spark: SparkSession,
        bounds: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned range read: ``bounds`` maps columns to
        (lo, hi) closed intervals (None = unbounded on that side).
        Files whose footer min/max PROVE disjointness are never
        listed, opened, or scanned — manifest-level data skipping for
        ordinary predicates, the read-side twin of MERGE's skipping
        (on a clustered table, ~one file per narrow slice). The same
        predicate is ALSO applied as a row filter, so results are
        exact regardless of how coarse the file stats are.

        Float/double columns never prune (NaN is outside footer
        stats — same soundness rule as merge)."""
        m = self.manifest(version)
        entries = self._split_by_stats(m, bounds)[0]
        return self._read_snapshot(spark, m, entries).where(
            _bounds_condition(bounds))

    # ---------------------------------------------------------- write

    def _stage(self, df: DataFrame,
               partition_by: list[str] | None = None,
               bloom_filters: list[str] | None = None) -> list[dict]:
        """Write df's partitions as uniquely named parquet files in
        data/; they are invisible until a manifest references them.

        With ``partition_by``, files land under Hive-style
        ``col=value/`` directories (Spark's own partitioned layout —
        the partition columns live in the path, not the data files,
        exactly as Delta/Hive lay tables out) and each file entry
        records its ``partition_values`` so readers and MERGE can prune
        whole partitions from the MANIFEST alone, before any footer —
        the Iceberg partition-spec idea.

        ``bloom_filters`` columns get parquet BLOOM FILTERS written in
        every file (parquet-mr's native feature): footer min/max is
        useless for hash-distributed keys (every file spans the whole
        range), but a bloom answers "key definitely absent from this
        row group" — the point-lookup complement to range stats, and
        applied transparently by the parquet reader on pushed equality
        predicates."""
        os.makedirs(self.data_dir, exist_ok=True)
        tmp = os.path.join(self.path, f"_stage-{uuid.uuid4().hex}")
        spec_by_dir: dict[str, str] = {}
        if partition_by:
            fields = _spec_fields(partition_by)
            for fld in fields:
                if not fld.identity:   # hidden partitioning: derive
                    df = df.withColumn(fld.dir_name, fld.expr())
                spec_by_dir[fld.dir_name] = fld.spec
            writer = df.write.mode("overwrite").partitionBy(
                *[fld.dir_name for fld in fields])
        else:
            writer = df.write.mode("overwrite")
        for col in bloom_filters or []:
            writer = (
                writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
                # parquet-mr's default expected NDV is 1M (~1.2 MB of
                # filter per column chunk) — size for file-grain NDV
                .option(f"parquet.bloom.filter.expected.ndv#{col}",
                        str(self.BLOOM_NDV))
            )
        writer.parquet(tmp)
        staged = []
        pattern = os.path.join(tmp, "**", "part-*.parquet")
        for p in sorted(glob.glob(pattern, recursive=True)):
            rel_dir = os.path.relpath(os.path.dirname(p), tmp)
            pvals: dict[str, str] = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    col, _, val = seg.partition("=")
                    # manifest keys partition values by SPEC string
                    pvals[spec_by_dir.get(col, col)] = (
                        urllib.parse.unquote(val))
            name = f"{uuid.uuid4().hex}-{os.path.basename(p)}"
            rel_name = (
                name if rel_dir == "."
                else "/".join([*rel_dir.split(os.sep), name])
            )
            dest = self._data_path(rel_name)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.move(p, dest)
            stats, n_rows = _footer_stats(dest)
            entry = {
                "name": rel_name,
                "bytes": os.path.getsize(dest),
                "rows": n_rows,
                "stats": stats,
            }
            if pvals:
                entry["partition_values"] = pvals
            staged.append(entry)
        shutil.rmtree(tmp, ignore_errors=True)
        return staged

    def _abandon(self, staged: list[dict]) -> None:
        """Delete staged files no manifest will ever reference."""
        for f in staged:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(self._data_path(f["name"]))

    def _put(self, name: str, payload: dict, exclusive: bool = True) -> None:
        """Durably write one log file: the payload goes to a temp file
        that is fsynced BEFORE it is linked under ``name``, so a name a
        reader can see never points at unwritten data; the directory is
        fsynced after, so the new name survives a power loss too.
        ``exclusive`` publishes with os.link (atomic create-if-absent:
        FileExistsError if the name is taken); otherwise os.replace
        swaps in the file whatever is there."""
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
            fh.flush()
            os.fsync(fh.fileno())
        target = os.path.join(self.log_dir, name)
        if not exclusive:
            os.replace(tmp, target)
        else:
            try:
                os.link(tmp, target)
            finally:
                os.unlink(tmp)
        fd = os.open(self.log_dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    def _commit(self, version: int, action: dict) -> None:
        os.makedirs(self.log_dir, exist_ok=True)
        try:
            self._put(_MANIFEST_FMT.format(version), action)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {version} of {self.path} was committed concurrently"
            ) from e
        if version % CHECKPOINT_INTERVAL == 0:
            self._write_checkpoint(version)

    def _publish(self, base: dict | None, operation: str, add: list[dict],
                 remove: list[str], version: int | None = None,
                 **changed) -> int:
        """Build and commit one action: the only place an action is
        made. ``base`` is the resolved snapshot the verb derived its
        change from (None for a table's first write); the action
        carries its metadata (:data:`_META_KEYS`) except the keys in
        ``changed``, and commits at ``base`` + 1 unless the caller
        claims ``version`` itself."""
        if version is None:
            version = base["version"] + 1
        self._commit(version, {
            "version": version,
            "ts": time.time(),
            "operation": operation,
            **{k: changed[k] if k in changed else base[k] for k in _META_KEYS},
            "add": add,
            "remove": remove,
        })
        return version

    def _write_checkpoint(self, version: int) -> None:
        """Materialize the resolved snapshot of ``version`` as a
        checkpoint file (idempotent: a concurrent writer racing to the
        same checkpoint writes the identical resolved state). A
        readable checkpoint already there is kept; an unreadable one is
        replaced."""
        name = _CKPT_FMT.format(version)
        with contextlib.suppress(OSError, CorruptLogError):
            if "files" in self._load(name):
                return
        self._put(name, self.manifest(version), exclusive=False)

    def _check_schema(self, base: dict | None, df: DataFrame,
                      evolve: bool) -> T.StructType:
        """The schema ``df`` commits under on top of snapshot ``base``
        (None: a new table takes df's own)."""
        new = df.schema
        if base is None:
            return new
        cur = _schema(base)
        cur_names, new_names = _schema_names(cur), _schema_names(new)
        changed = {
            n: (cur_names[n], new_names[n])
            for n in cur_names.keys() & new_names.keys()
            if cur_names[n] != new_names[n]
        }
        if changed:
            raise SchemaMismatch(f"type changes {changed} at {self.path}")
        added = new_names.keys() - cur_names.keys()
        missing = cur_names.keys() - new_names.keys()
        if (added or missing) and not evolve:
            raise SchemaMismatch(
                f"schema drift (added={sorted(added)}, missing={sorted(missing)}) "
                f"at {self.path}; pass evolve=True to union schemas"
            )
        # evolved schema = current fields + newly added fields
        fields = list(cur.fields) + [f for f in new.fields if f.name in added]
        return T.StructType(fields)

    def _resolve_partition_spec(self, base: dict | None,
                                partition_by: list[str] | None) -> list[str]:
        """Inherit the spec of snapshot ``base`` when none is given;
        refuse a spec change on an existing table (repartitioning is a
        rewrite, not a write — same rule as Delta/Iceberg)."""
        current = base["partition_by"] if base else []
        if partition_by is None:
            return current
        if current and list(partition_by) != current:
            raise ValueError(
                f"table {self.path} is partitioned by {current}; "
                f"cannot write with partition_by={list(partition_by)}"
            )
        return list(partition_by)

    def write(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        evolve: bool = False,
        operation: str | None = None,
        partition_by: list[str] | None = None,
        constraints: dict[str, str] | None = None,
        bloom_filter_columns: list[str] | None = None,
        _audit: Callable[[DataFrame, int], bool] | None = None,
    ) -> int | None:
        """ACID append/overwrite; returns the committed version.

        ``partition_by`` (identity columns, set on first write and
        inherited afterwards) lays data out under Hive-style partition
        directories so reads and MERGEs can prune at the manifest.
        ``constraints`` ({name: SQL predicate}, set on first write and
        inherited) are CHECK-enforced on every incoming frame.
        ``bloom_filter_columns`` (set on first write and inherited)
        get parquet bloom filters in every staged file — row-group
        point-lookup skipping for hash-distributed keys.

        ``_audit`` is the asset graph's write–audit–publish hook: it is
        called between staging and commit with the read of the staged
        files and their footer row count. False abandons the write —
        the staged files are deleted, no version is published, and
        None is returned; an exception abandons it too, then
        propagates."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode {mode!r}")
        base = self.manifest() if self.exists() else None
        if base is None:
            blooms = list(bloom_filter_columns or [])
            cons = dict(constraints or {})
        else:
            blooms, cons = base["bloom_filters"], base["constraints"]
            if constraints is not None and dict(constraints) != cons:
                raise ValueError(
                    f"table {self.path} has constraints {cons}; use "
                    "add_check_constraint()/drop_check_constraint() to change")
        self._enforce_constraints(df, cons)
        pby = self._resolve_partition_spec(base, partition_by)
        fields = _spec_fields(pby)
        missing = [f.source for f in fields if f.source not in df.columns]
        if missing:
            raise SchemaMismatch(
                f"partition source columns {missing} absent from dataframe"
            )
        for fld in fields:
            if fld.transform in (None, "bucket") and isinstance(
                    df.schema[fld.source].dataType,
                    (T.FloatType, T.DoubleType)):
                raise SchemaMismatch(
                    f"float/double partition source {fld.source!r}: "
                    "path/hash-encoded partition values cannot represent "
                    "NaN/precision soundly"
                )
        schema = self._check_schema(base, df, evolve)
        staged = self._stage(df, partition_by=pby or None,
                             bloom_filters=blooms or None)
        if _audit is not None:
            try:
                publish = _audit(
                    self._read_files(df.sparkSession, staged, schema,
                                     partitioned=bool(pby)),
                    sum(f["rows"] for f in staged))
            except BaseException:
                self._abandon(staged)
                raise
            if not publish:
                self._abandon(staged)
                return None
        # the version, and an overwrite's removals, come from the log
        # as it stands now, not from the snapshot read at entry
        vs = self._versions()
        removed: list[str] = []
        if mode == "overwrite" and vs:
            head = (base if base and base["version"] == vs[-1]
                    else self.manifest(vs[-1]))
            removed = [f["name"] for f in head["files"]]
        return self._publish(
            base, operation or mode, staged, removed,
            version=(vs[-1] + 1) if vs else 1,
            schema=json.loads(schema.json()), partition_by=pby,
            constraints=cons, bloom_filters=blooms)

    # ---------------------------------------------------------- merge

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        when_not_matched_by_source: str = "keep",
        assert_unique_keys: bool = False,
        evolve: bool = False,
    ) -> int:
        """MERGE INTO target USING source ON keys: matched rows are
        replaced by the source row (WHEN MATCHED UPDATE SET *),
        unmatched source rows are inserted (WHEN NOT MATCHED INSERT
        *), unmatched target rows are kept (or deleted with
        ``when_not_matched_by_source='delete'``).

        Expressed as target-anti-join ∪ source — one shuffle on the
        merge keys, no row-at-a-time logic. The rewrite touches every
        file the snapshot references; with a partitioned layout the
        anti-join + union would run per matched partition only.

        The source is expected key-unique: a source with duplicate
        merge keys inserts one row per duplicate (where Delta/Iceberg
        MERGE would error on multiple matches); pass
        ``assert_unique_keys=True`` to pay one extra aggregate and
        fail fast instead.

        Data skipping: snapshot files whose footer min/max on the
        merge keys cannot overlap the source's key range are carried
        into the new manifest UNREAD and UNREWRITTEN; only
        potentially-matched files go through the anti-join. The
        ``delete`` mode must see every target row, so it always
        rewrites the full snapshot.
        """
        m = self.manifest()
        if assert_unique_keys:
            dup = (
                source.groupBy(*keys).count()
                .where(F.col("count") > 1).limit(1).count()
            )
            if dup:
                raise ValueError(
                    f"merge source has duplicate keys {keys} at {self.path}"
                )
        schema = _schema(m)
        pby = m["partition_by"]
        if when_not_matched_by_source == "delete":
            merged = source.select(*[fld.name for fld in schema.fields])
            return self._rewrite(merged, "merge_delete_unmatched", base=m)
        # partition pruning (manifest-level, before any footer): SOUND
        # only when the partition columns are part of the merge keys —
        # then key equality pins a match to the source row's partition,
        # so files in other partitions cannot hold matches. This is the
        # Delta rule for partition-pruned MERGE. The distinct partition
        # set of the source is metadata-sized (one tuple per touched
        # partition), not data-sized.
        source_parts: set[tuple] | None = None
        fields = _spec_fields(pby)
        if pby and all(fld.source in set(keys) for fld in fields):
            # key equality pins the SOURCE columns, and every transform
            # is a deterministic function of its source — so a match
            # can only live in a partition the source slice maps to
            proj = [
                (F.col(fld.source) if fld.identity else fld.expr())
                .alias(fld.spec)
                for fld in fields
            ]
            # the collect is bounded by MERGE_PRUNE_MAX_PARTITIONS+1:
            # a source keyed on a high-cardinality partition column
            # would otherwise materialize every distinct value
            # driver-side. Above the cap, partition pruning is skipped
            # (footer-stats pruning below still applies) — pruning is
            # an optimization, never a correctness gate.
            sample = (source.select(*proj).distinct()
                      .limit(MERGE_PRUNE_MAX_PARTITIONS + 1).collect())
            if len(sample) <= MERGE_PRUNE_MAX_PARTITIONS:
                source_parts = {
                    tuple(self._pv_str(row[fld.spec]) for fld in fields)
                    for row in sample
                }
        bounds_row = source.agg(
            *[F.min(k).alias(f"mn_{k}") for k in keys],
            *[F.max(k).alias(f"mx_{k}") for k in keys],
        ).collect()[0]
        # an empty source, or all-NULL keys (which never equi-join),
        # matches nothing. NaN soundness: Spark join/grouping treat
        # NaN = NaN as a match, but parquet footer min/max EXCLUDE NaN,
        # so float/double merge keys are never pruned on.
        live = all(bounds_row[f"mn_{k}"] is not None for k in keys)
        key_bounds = {k: (bounds_row[f"mn_{k}"], bounds_row[f"mx_{k}"])
                      for k in keys}
        unprunable = _float_columns(m)
        touched, untouched = [], []
        for f in m["files"]:
            pv = f.get("partition_values")
            in_partition = (source_parts is None or not pv
                            or tuple(pv.get(c) for c in pby) in source_parts)
            (touched if live and in_partition
             and _may_overlap(f, key_bounds, unprunable)
             else untouched).append(f)
        kept = self._read_snapshot(source.sparkSession, m, touched).join(
            source.select(*keys), on=keys, how="left_anti")
        # evolve=True is Delta's schema.autoMerge for MERGE: source may
        # ADD columns (kept rows and carried files null-fill them via
        # the evolved manifest schema) and may omit non-key columns
        # (replaced rows get null there — whole-row replace semantics);
        # type changes stay refused by the shared schema gate.
        if evolve:
            self._check_schema(m, source, evolve=True)  # refuse type changes
            merged = kept.unionByName(source, allowMissingColumns=True)
        else:
            merged = kept.unionByName(
                source.select(*[fld.name for fld in schema.fields]),
                allowMissingColumns=False,
            )
        return self._rewrite(merged, "merge", base=m,
                             carry_files=untouched, evolve=evolve)

    def _data_path(self, name: str) -> str:
        return os.path.join(self.data_dir, *name.split("/"))

    def _scan(self, spark: SparkSession, files: list[dict],
              schema: T.StructType, partitioned: bool) -> DataFrame:
        """Plain parquet scan of (non-empty) ``files``: the explicit
        schema (from the manifest, like Delta's metadata) keeps
        mixed-generation files readable after column adds; for a
        partitioned layout, basePath makes Spark reconstitute the
        partition columns from the col=value path segments."""
        reader = spark.read.schema(schema)
        if partitioned:
            reader = reader.option("basePath", self.data_dir)
        return reader.parquet(*[self._data_path(f["name"]) for f in files])

    def _read_files(self, spark: SparkSession, files: list[dict],
                    schema: T.StructType, partitioned: bool = False) -> DataFrame:
        if not files:
            return spark.createDataFrame([], schema)
        out = self._scan(spark, files, schema, partitioned)
        # merge-on-read DELETE: entries annotated with deletion
        # vectors get their dropped row POSITIONS filtered at read
        # time — one anti-join on (file basename, row_index) against
        # the unioned DV parquet(s). Applied here, in the single
        # reader every path shares (read / read_where / MERGE /
        # compact / CDF diff), so every consumer sees post-delete
        # rows without a rewrite having happened.
        dv_names = sorted({
            n for f in files for d in (f.get("dv") or [])
            for n in d["files"]
        })
        if dv_names:
            dv = spark.read.parquet(*[self._data_path(n) for n in dv_names])
            out = (
                out.withColumn("__dv_fk", _file_key())
                .withColumn("__dv_ri", F.col("_metadata.row_index"))
                .join(
                    dv,
                    (F.col("__dv_fk") == dv["file_key"])
                    & (F.col("__dv_ri") == dv["row_index"]),
                    "left_anti",
                )
                .drop("__dv_fk", "__dv_ri")
            )
        if partitioned or dv_names:
            # basePath reconstitutes identity partition columns from the
            # paths but ALSO appends hidden-transform dir columns (e.g.
            # days_ts) to the schema — project back to the table schema
            out = out.select(*[f.name for f in schema.fields])
        return out

    def _rewrite(self, df: DataFrame, operation: str,
                 base_version: int | None = None,
                 carry_files: list[dict] | None = None,
                 evolve: bool = False, base: dict | None = None) -> int:
        """Snapshot rewrite committed at the base snapshot's version + 1:
        ``carry_files`` (stats-pruned untouched files) join the newly
        staged files in the manifest without being read or rewritten.

        ``base`` is the resolved snapshot the rewrite was DERIVED from
        (the manifest the verb pinned at entry; without it,
        ``base_version`` is resolved, None = latest): a concurrent
        commit landing after that snapshot was read makes os.link
        collide and raises CommitConflict, so the losing writer
        re-reads and retries — rather than silently superseding the
        concurrent commit. Rewrites go through the same
        ``_check_schema`` gate as write(), so a merge cannot smuggle in
        a type change or column drop that an append would refuse. The
        table's partition spec is carried through: rewritten files land
        back under their partition directories."""
        m = self.manifest(base_version) if base is None else base
        if m["constraints"] and operation != "compact":
            # compact only re-references rows that already passed the
            # gate; every data-changing rewrite re-validates
            self._enforce_constraints(df, m["constraints"])
        schema = self._check_schema(m, df, evolve=evolve)
        staged = self._stage(df, partition_by=m["partition_by"] or None,
                             bloom_filters=m["bloom_filters"] or None)
        # carried (stats/partition-pruned) files simply stay in the
        # snapshot: the action only removes the files actually rewritten
        carry = {f["name"] for f in (carry_files or [])}
        return self._publish(
            m, operation, staged,
            [f["name"] for f in m["files"] if f["name"] not in carry],
            schema=json.loads(schema.json()))

    # ------------------------------------------------------ lifecycle

    #: expected distinct keys PER FILE for parquet bloom filters
    #: (~1.2 bytes each at the default 1% FPP); tune to the table's
    #: file-grain key cardinality
    BLOOM_NDV = 100_000

    #: bits per dimension for the Z-order curve: 2^8 = 256 quantile
    #: cells per column — finer than any realistic file count, coarse
    #: enough that the driver-side cut-point list stays tiny
    ZORDER_BITS = 8

    def _zorder_expr(self, df: DataFrame, cols: list[str]):
        """Bit-interleaved Z-value expression over quantile-bucketed
        columns (the public Delta OPTIMIZE ZORDER design: per-column
        range ids, interleaved so every dimension contributes equally
        to sort locality). Cut points come from approxQuantile — a
        driver-sized list (ZORDER_BITS cells per column), never the
        data. Bucket lookup is a JVM-side count-of-cuts-≤-value over a
        literal array, so the rewrite job itself is one range shuffle.
        Numeric/timestamp/date columns only (strings have no
        meaningful footer-stats range locality to gain)."""
        n_cells = 1 << self.ZORDER_BITS
        probs = [i / n_cells for i in range(1, n_cells)]
        numeric = df
        for fld in df.schema.fields:
            if fld.name in cols and isinstance(
                    fld.dataType, (T.TimestampType, T.DateType)):
                numeric = numeric.withColumn(
                    fld.name, F.col(fld.name).cast("long"))
            elif fld.name in cols and not isinstance(
                    fld.dataType, (T.ByteType, T.ShortType, T.IntegerType,
                                   T.LongType, T.FloatType, T.DoubleType,
                                   T.DecimalType)):
                raise ValueError(
                    f"zorder_by column {fld.name!r} has unsupported type "
                    f"{fld.dataType.simpleString()}; use numeric/timestamp"
                )
        cuts = {c: q for c, q in zip(
            cols, numeric.approxQuantile(cols, probs, 0.001))}
        z = F.lit(0).cast("long")
        for dim, col in enumerate(cols):
            arr = F.array(*[F.lit(float(v)) for v in sorted(set(cuts[col]))])
            bucket = F.size(F.filter(
                arr, lambda cut: cut <= F.col(col).cast("double")))
            # spread each column's bucket bits so dimensions interleave:
            # bit b of column d lands at position b*len(cols)+d
            for b in range(self.ZORDER_BITS):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                        b * len(cols) + dim,
                    ).cast("long")
                )
        return z

    def compact(self, spark: SparkSession, target_files: int = 1,
                cluster_by: list[str] | None = None,
                zorder_by: list[str] | None = None) -> int:
        """Bin-pack the current snapshot into ``target_files`` data
        files (the small-files problem after many incremental
        MERGEs): a pure rewrite — same rows, new layout, new version;
        prior versions stay time-travelable until vacuumed.

        The snapshot version is pinned at entry (same OCC discipline as
        merge()): a commit landing while the rewrite job runs makes the
        compaction's own commit collide and raise CommitConflict instead
        of silently superseding the concurrent writer's rows.

        ``cluster_by`` range-partitions + sorts the rewrite on the
        given columns (linear clustering): each output file then
        covers a TIGHT, near-disjoint range of the cluster keys, so
        footer min/max data skipping prunes to ~one file per key slice
        where interleaved appends made every file overlap every slice
        — the maintenance job that keeps incremental MERGE cost flat
        at 100 TB. Linear order skips perfectly on the LEADING column
        only; ``zorder_by`` instead sorts on a bit-interleaved Z-value
        (the Delta OPTIMIZE ZORDER curve) so footer stats stay tight
        on EVERY listed dimension at once — the right layout when
        reads slice on more than one column.

        On a partitioned table the layout is preserved: rows shuffle
        onto their partition values so the partitionBy stage writes
        ~one packed file per partition value (at cluster scale this is
        the standard bin-pack-within-partition maintenance job)."""
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are exclusive")
        m = self.manifest()
        df = self._read_snapshot(spark, m)
        pby = m["partition_by"]
        if zorder_by:
            z = self._zorder_expr(df, list(zorder_by))
            df = df.repartitionByRange(
                max(target_files, 1), z
            ).sortWithinPartitions(z)
        elif cluster_by:
            df = df.repartitionByRange(
                max(target_files, 1), *cluster_by
            ).sortWithinPartitions(*cluster_by)
        elif pby:
            exprs = [
                F.col(fld.source) if fld.identity else fld.expr()
                for fld in _spec_fields(pby)
            ]
            df = df.repartition(*exprs)
        else:
            df = df.coalesce(target_files)
        return self._rewrite(df, "compact", base=m)

    def maybe_compact(self, spark: SparkSession, max_files: int = 64,
                      target_files: int = 8,
                      cluster_by: list[str] | None = None,
                      zorder_by: list[str] | None = None) -> int | None:
        """Small-files policy (the public Delta auto-compaction idea):
        bin-pack only when the snapshot's file count exceeds
        ``max_files``, so incremental MERGE ticks can call this every
        cycle for free until fragmentation actually accumulates.
        Losing an OCC race to a concurrent writer SKIPS the cycle
        (returns None) instead of raising — maintenance must never
        fail ingest; the next cycle sees the merged fragmentation and
        retries. Returns the committed version, or None if nothing
        was done."""
        if len(self.manifest()["files"]) <= max_files:
            return None
        try:
            return self.compact(spark, target_files=target_files,
                                cluster_by=cluster_by, zorder_by=zorder_by)
        except CommitConflict:
            return None

    def delete_where(
        self,
        spark: SparkSession,
        bounds: dict[str, tuple],
        predicate=None,
        merge_on_read: bool = False,
    ) -> int:
        """Row-level DELETE (the Delta DML verb MERGE doesn't cover):
        rows matching ``bounds`` (closed [lo, hi] intervals per
        column, None = unbounded — same spec as read_where) AND the
        optional extra ``predicate`` Column are removed. Files whose
        footer stats prove they cannot hold a matching row are carried
        into the new manifest untouched and unread; only overlapping
        files are rewritten with matching rows filtered out —
        O(touched files), not O(table). Commits a new version at the
        pinned snapshot (OCC: a concurrent commit raises
        CommitConflict).

        ``merge_on_read=True`` switches to DELETION VECTORS (the
        public Delta DV / Iceberg positional-delete design): instead
        of rewriting the touched parquet files, the commit writes a
        small sidecar of deleted (file, row_index) POSITIONS and
        re-commits the touched entries annotated with it; every
        reader anti-joins the positions out (see _read_files). Write
        cost becomes O(deleted rows), not O(touched bytes) — the
        right trade for small deletes into huge files (RTBF deletes
        at 100 TB); ``compact()`` later materializes the deletes and
        clears the vectors. Repeated MoR deletes stack (vectors
        accumulate per entry until a rewrite)."""
        m, touched, carried, cond = self._dml_scope(bounds, predicate)
        if merge_on_read:
            return self._delete_mor(spark, m, touched, cond)
        kept = self._read_snapshot(spark, m, touched).where(~cond)
        return self._rewrite(kept, "delete", base=m, carry_files=carried)

    def _dml_scope(self, bounds: dict[str, tuple], predicate=None):
        """The front half every row-level DML verb shares: pin the
        latest snapshot, split its files by footer stats into (touched,
        carried), and build the NULL-is-false row condition of
        ``bounds`` AND ``predicate``."""
        m = self.manifest()
        touched, carried = self._split_by_stats(m, bounds)
        cond = F.coalesce(_bounds_condition(bounds, predicate), F.lit(False))
        return m, touched, carried, cond

    def _delete_mor(self, spark: SparkSession, m: dict,
                    touched: list[dict], cond,
                    set_exprs: dict | None = None) -> int:
        """Deletion-vector commit: positions of matching rows in the
        touched files land in a DV parquet; touched entries re-commit
        with the vector attached (untouched bytes, new metadata). The
        position scan honors any EXISTING vectors (reading through
        _read_files' anti-join would lose row_index), so re-deleting
        an already-deleted row is a no-op rather than a double
        count."""
        if not touched:
            # no-op returns the PINNED snapshot version (same as the
            # no-new-hits branch below) — latest_version() re-read
            # here could surface a concurrent commit this delete
            # never observed, breaking OCC read-your-snapshot.
            return m["version"]
        schema = _schema(m)
        raw = self._scan(spark, touched, schema,
                         bool(m["partition_by"])).select(
            _file_key().alias("file_key"),
            F.col("_metadata.row_index").alias("row_index"),
            "*",
        )
        hits = raw.where(cond).select("file_key", "row_index")
        # subtract positions already deleted by earlier vectors
        prior = sorted({n for f in touched
                        for d in (f.get("dv") or [])
                        for n in d["files"]})
        if prior:
            pdv = spark.read.parquet(*[self._data_path(n) for n in prior])
            hits = hits.join(pdv, ["file_key", "row_index"], "left_anti")
        per_file = {r["file_key"]: r["n"] for r in
                    hits.groupBy("file_key")
                    .agg(F.count(F.lit(1)).alias("n")).collect()}
        if not per_file:    # nothing newly deleted: no commit
            return m["version"]
        tmp = os.path.join(self.path, f"_dv-{uuid.uuid4().hex}")
        hits.write.mode("overwrite").parquet(tmp)
        dv_names = []
        for p in sorted(glob.glob(os.path.join(tmp, "part-*.parquet"))):
            name = f"dv-{uuid.uuid4().hex}.parquet"
            shutil.move(p, os.path.join(self.data_dir, name))
            dv_names.append(name)
        shutil.rmtree(tmp, ignore_errors=True)
        # MoR UPDATE: the post-image of the vectored-out rows lands in
        # NEW files appended by the same commit (constraint-checked
        # like every write)
        post_entries: list[dict] = []
        if set_exprs is not None:
            matched = raw.join(hits, ["file_key", "row_index"],
                               "left_semi")
            post = matched.select(*_set_columns(schema, set_exprs))
            self._enforce_constraints(post, m["constraints"])
            post_entries = self._stage(
                post, partition_by=m["partition_by"] or None,
                bloom_filters=m["bloom_filters"] or None)
        # each entry's "dv" is a list of {"files": [dv parquet names],
        # "rows": n_deleted_in_this_entry} — one item per MoR commit
        # that hit the entry; readers union every listed file, the
        # rows field keeps manifest row_count() metadata-only
        updated = []
        for f in touched:
            k = f["name"].split("/")[-1]
            if k not in per_file:
                continue
            e = dict(f)
            e["dv"] = list(f.get("dv") or []) + [
                {"files": dv_names, "rows": per_file[k]}
            ]
            updated.append(e)
        return self._publish(
            m, "update[mor]" if set_exprs is not None else "delete[mor]",
            updated + post_entries, [f["name"] for f in updated])

    def update_where(
        self,
        spark: SparkSession,
        bounds: dict[str, tuple],
        set_exprs: dict,
        predicate=None,
        merge_on_read: bool = False,
    ) -> int:
        """Row-level UPDATE: rows matching ``bounds`` (+ optional
        ``predicate``) get ``set_exprs`` applied ({column: Column or
        literal}); everything else passes through unchanged. Same
        footer-stats file pruning as delete_where — untouched files
        carry by name — and the same schema gate as every write (an
        update cannot change a column's type).

        ``merge_on_read=True`` is the DV form (matching Delta's
        DV-backed UPDATE): the old row POSITIONS go into a deletion
        vector (touched bytes stay put) and the post-image rows land
        in NEW files appended by the same commit — write cost
        O(updated rows), not O(touched bytes)."""
        m, touched, carried, cond = self._dml_scope(bounds, predicate)
        if merge_on_read:
            return self._delete_mor(spark, m, touched, cond,
                                    set_exprs=set_exprs)
        updated = self._read_snapshot(spark, m, touched).select(
            *_set_columns(_schema(m), set_exprs, cond))
        return self._rewrite(updated, "update", base=m, carry_files=carried)

    def repartition_layout(
        self,
        spark: SparkSession,
        partition_by: list[str] | None,
    ) -> int:
        """Partition-SPEC evolution (the migration path behind
        write()'s spec-change refusal): rewrite the current snapshot
        under a new partition layout as one committed version. Unlike
        Iceberg's lazy spec evolution (old files keep the old spec),
        this rewrites eagerly — simpler invariant: every file in a
        snapshot shares the manifest's single spec. Prior versions
        keep their old layout and stay time-travelable. OCC-pinned
        like compact()."""
        m = self.manifest()
        df = self._read_snapshot(spark, m)
        pby = list(partition_by or [])
        fields = _spec_fields(pby)
        missing = [f.source for f in fields if f.source not in df.columns]
        if missing:
            raise SchemaMismatch(
                f"partition source columns {missing} absent from table"
            )
        staged = self._stage(df, partition_by=pby or None,
                             bloom_filters=m["bloom_filters"] or None)
        return self._publish(
            m, f"repartition[{','.join(pby) or 'none'}]", staged,
            [f["name"] for f in m["files"]], partition_by=pby)

    def add_check_constraint(self, spark: SparkSession, name: str,
                             predicate: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (Delta parity): the
        EXISTING snapshot is validated first (one scan — the
        documented cost), then the constraint lands as a metadata-only
        commit and gates every future write/merge/update."""
        m = self.manifest()
        if name in m["constraints"]:
            raise ValueError(f"constraint {name!r} already exists")
        self._enforce_constraints(self._read_snapshot(spark, m),
                                  {name: predicate})
        return self._publish(m, "add_constraint", [], [],
                             constraints={**m["constraints"], name: predicate})

    def drop_check_constraint(self, name: str) -> int:
        m = self.manifest()
        if name not in m["constraints"]:
            raise ValueError(f"no constraint {name!r} on {self.path}")
        cons = {k: v for k, v in m["constraints"].items() if k != name}
        return self._publish(m, "drop_constraint", [], [], constraints=cons)

    def changes_between(self, spark: SparkSession, since_version: int,
                        to_version: int | None = None,
                        keys: list[str] | None = None) -> DataFrame:
        """Change data feed between two snapshots (the Delta CDF /
        ``table_changes`` surface), with ``_change_type`` ∈ {insert,
        update_postimage, delete} and ``_commit_version`` columns.

        Append-only fast path: when no commit in (since, to] removed a
        file, ONLY the added files are read — zero diff compute, which
        is what makes a managed table consumable as a streaming source
        (each tick reads just its new files, the Delta
        streaming-from-table behavior). Otherwise the two snapshots
        are diffed by ``keys`` (one full-outer join on the key
        columns): at 100 TB prefer narrowing the versions so ticks hit
        the append-only path."""
        to_v = self.latest_version() if to_version is None else to_version
        if since_version > to_v:
            raise ValueError(f"since {since_version} > to {to_v}")
        avail = set(self._versions())
        missing = [v for v in range(since_version + 1, to_v + 1)
                   if v not in avail]
        if missing:
            raise VersionExpiredError(
                f"change feed of {self.path} needs versions "
                f"{missing[0]}..{missing[-1]} which were vacuumed away "
                f"(oldest retained: {min(avail) if avail else 'none'}); "
                "reset the cursor and bootstrap from the current "
                "snapshot (TableChangeFeed.reset)")
        m = self.manifest(to_v)
        schema = _schema(m)
        actions = [self._load(_MANIFEST_FMT.format(v))
                   for v in range(since_version + 1, to_v + 1)]
        if all(not a.get("remove") for a in actions):
            parts = []
            for a in actions:
                if not a.get("add"):
                    continue
                part = self._read_snapshot(spark, m, a["add"])
                parts.append(part.select(
                    "*",
                    F.lit("insert").alias("_change_type"),
                    F.lit(a["version"]).alias("_commit_version"),
                ))
            if not parts:
                return spark.createDataFrame([], T.StructType(
                    schema.fields + [
                        T.StructField("_change_type", T.StringType()),
                        T.StructField("_commit_version", T.IntegerType()),
                    ]))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        if not keys:
            raise ValueError(
                "commits in range rewrote files; pass keys=[...] to diff "
                "the snapshots row-wise")
        old = self.read(spark, since_version)
        new = self._read_snapshot(spark, m)
        for f in schema.fields:       # schema evolution: null-fill old
            if f.name not in old.columns:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        val_cols = [c for c in new.columns if c not in keys]
        o = old.select(*keys, *val_cols,
                       F.lit(1).alias("_o")).alias("o")
        n = new.select(*keys, *val_cols,
                       F.lit(1).alias("_n")).alias("n")
        joined = n.join(o, on=list(keys), how="full")
        differs = F.lit(False)
        for c in val_cols:
            differs = differs | ~F.col(f"n.{c}").eqNullSafe(F.col(f"o.{c}"))
        ctype = (
            F.when(F.col("o._o").isNull(), "insert")
            .when(F.col("n._n").isNull(), "delete")
            .when(differs, "update_postimage")
        )
        picked = [
            F.when(F.col("n._n").isNull(), F.col(f"o.{c}"))
            .otherwise(F.col(f"n.{c}")).alias(c)
            for c in val_cols
        ]
        return (
            joined.select(*keys, *picked, ctype.alias("_change_type"))
            .where(F.col("_change_type").isNotNull())
            .withColumn("_commit_version", F.lit(to_v))
        )

    def restore(self, spark: SparkSession, version: int) -> int:
        """RESTORE: make an earlier snapshot the CURRENT one as a NEW
        commit (roll-forward undo — history is never rewritten, so the
        mistaken commits stay auditable and time-travelable). Data
        files are re-referenced, not copied: the action removes the
        current file set and re-adds the old one."""
        cur = self.manifest()
        old = self.manifest(version)
        return self._publish(
            cur, f"restore[v{version}]", old["files"],
            [f["name"] for f in cur["files"]],
            **{k: old[k] for k in _META_KEYS})

    def merge_with_retry(
        self,
        source: DataFrame,
        keys: list[str],
        max_attempts: int = 5,
        **kw,
    ) -> int:
        """The OCC retry loop the commit protocol promises: on
        CommitConflict the losing writer re-reads (merge() captures a
        fresh snapshot each attempt — the concurrent winner's rows are
        now part of the target) and retries. The merge's anti-join ∪
        source form is idempotent over its own keys, so a retry can
        never double-apply. Raises after ``max_attempts`` genuine
        collisions (pathological contention — back off upstream)."""
        last: CommitConflict | None = None
        for _ in range(max_attempts):
            try:
                return self.merge(source, keys, **kw)
            except CommitConflict as e:
                last = e
        raise last

    def append_with_retry(self, df: DataFrame,
                          max_attempts: int = 5, **kw) -> int:
        """Append under contention: version numbers are claimed
        optimistically, so concurrent appenders race for v+1; losers
        re-derive the next version and retry. Appends commute, so
        ordering between winners is irrelevant."""
        last: CommitConflict | None = None
        for _ in range(max_attempts):
            try:
                return self.write(df, mode="append", **kw)
            except CommitConflict as e:
                last = e
        raise last

    #: Public-Delta default VACUUM retention: 7 days.  Staged-but-not-yet
    #: -committed files from an in-flight writer exist on disk before
    #: their manifest does (the _stage window spans the whole Spark
    #: write), so a shorter horizon risks deleting a live writer's files.
    DEFAULT_VACUUM_HORIZON = 7 * 24 * 3600.0

    def vacuum(self, keep_versions: int = 1,
               min_age_seconds: float | None = None) -> list[str]:
        """Delete data files referenced by NO retained manifest, and
        drop non-retained manifests (after which those versions are no
        longer time-travelable) — but only once every data file they
        reference is actually reclaimed or still retained, so a
        min-age-protected data file keeps its manifest (and thus time
        travel to it) alive.

        ``min_age_seconds`` is the safety horizon for concurrent
        writers (public Delta VACUUM semantics): a file younger than
        the horizon may be a just-staged, not-yet-committed write, so
        it is never deleted.  Defaults to 7 days
        (:data:`DEFAULT_VACUUM_HORIZON`), matching public Delta; pass
        an explicit smaller value only when no concurrent writer can
        exist (tests, single-writer maintenance windows).  Returns the
        deleted data-file names."""
        if min_age_seconds is None:
            min_age_seconds = self.DEFAULT_VACUUM_HORIZON
        vs = self._versions()
        if not vs:
            return []
        retained = vs[-keep_versions:] if keep_versions > 0 else []
        referenced: set[str] = set()
        for v in retained:
            for f in self.manifest(v)["files"]:
                referenced.add(f["name"])
                for d in f.get("dv") or []:   # live deletion vectors
                    referenced.update(d["files"])
        removed = []
        now = time.time()
        data_files: list[str] = []
        if os.path.isdir(self.data_dir):
            for dirpath, _dirs, fnames in os.walk(self.data_dir):
                rel = os.path.relpath(dirpath, self.data_dir)
                for fn in fnames:
                    data_files.append(
                        fn if rel == "." else
                        "/".join([*rel.split(os.sep), fn])
                    )
        protected = False
        for fname in data_files:
            full = self._data_path(fname)
            if fname in referenced or not os.path.isfile(full):
                continue
            if now - os.path.getmtime(full) < min_age_seconds:
                protected = True   # horizon shields a possibly-live file
                continue
            os.unlink(full)
            removed.append(fname)
        # Log truncation: drop the action tail below the oldest
        # retained version — but only once NO unreferenced data file
        # remains under the horizon, so a min-age-protected file keeps
        # its whole log (and time travel to it) alive. A checkpoint at
        # the oldest retained version is written first so every
        # retained version stays resolvable without the dropped tail.
        if retained and not protected:
            oldest = retained[0]
            self._write_checkpoint(oldest)
            for v in vs:
                if v < oldest:
                    os.unlink(os.path.join(
                        self.log_dir, _MANIFEST_FMT.format(v)))
            for c in self._checkpoints():
                if c < oldest:
                    os.unlink(os.path.join(
                        self.log_dir, _CKPT_FMT.format(c)))
        return removed


class TableCatalog:
    """Name → ManagedTable over one warehouse root (the object-store
    prefix at scale; a local dir in tests)."""

    def __init__(self, root: str):
        self.root = root

    def table(self, name: str) -> ManagedTable:
        # asset keys like "silver/dim_customers" map to nested dirs
        return ManagedTable(os.path.join(self.root, *name.split("/")))

    def write(self, name: str, df: DataFrame, mode: str = "overwrite",
              **kw) -> int:
        return self.table(name).write(df, mode=mode, **kw)

    def read(self, spark: SparkSession, name: str,
             version: int | None = None) -> DataFrame:
        return self.table(name).read(spark, version)

    def tables(self) -> list[str]:
        out = []
        for dirpath, dirnames, _ in os.walk(self.root):
            if "_log" in dirnames:
                out.append(os.path.relpath(dirpath, self.root).replace(os.sep, "/"))
                dirnames.clear()
        return sorted(out)
