"""Storage helpers routed through the Hadoop FileSystem API.

Sink/catalog code must not touch ``os.path`` / ``shutil``: those only
see the driver's local disk, so on HDFS/S3A an existence check would
silently report "no target", a watermark would read as None, and a
re-run would re-append the full source (breaking the incremental
idempotency contract). The Hadoop ``FileSystem`` resolves the scheme
from the path itself (``file://``, ``hdfs://``, ``s3a://``), so call
sites keep working unchanged when a local base dir becomes an
object-store prefix.

Caveat (KNOWN_LIMITS.md §5): directory rename is atomic on local/HDFS
but a non-atomic server-side copy on S3; the transactional upgrade
path at scale is a lakehouse table format (Delta/Iceberg MERGE +
snapshot commit), which replaces the swap entirely.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import SparkSession

_scratch_root: str | None = None
_scratch_last: dict[str, str] = {}


def scratch_dir(gate: str, reclaim: bool = True) -> str:
    """Fresh local scratch dir for one call of ``gate``, under
    one per-process root in ``tempfile.gettempdir()`` that the exit
    hook removes.

    The frames a gate returns read their files lazily, so the dir
    cannot be removed when the gate returns. Instead each call first
    reclaims the dir it gave ``gate`` on the previous call: a gate
    holds at most one dir, and its result must be collected before the
    gate runs again. ``reclaim=False`` keeps the dir until exit, for
    code whose lazy result may still be live when it runs again
    (``operators.graph``). Scratch holds symlinks and staged fixtures
    on the local disk, so it uses ``shutil``, not the Hadoop
    FileSystem."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="defi_scratch_")
    if reclaim and gate in _scratch_last:
        shutil.rmtree(_scratch_last.pop(gate), ignore_errors=True)
    d = tempfile.mkdtemp(prefix=f"{gate}_", dir=_scratch_root)
    if reclaim:
        _scratch_last[gate] = d
    return d


@atexit.register
def _remove_scratch() -> None:
    """Exit hook: remove the scratch root with every dir under it."""
    global _scratch_root
    if _scratch_root is not None:
        shutil.rmtree(_scratch_root, ignore_errors=True)
    _scratch_root = None
    _scratch_last.clear()


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def has_committed_data(spark: SparkSession, path: str) -> bool:
    """True if ``path`` holds a committed write (_SUCCESS marker or
    parquet part files)."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return False
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.endswith(".parquet") or name == "_SUCCESS":
            return True
    return False


def swap_dirs(spark: SparkSession, tmp_path: str, final_path: str) -> None:
    """Promote ``tmp_path`` to ``final_path``: current target moves
    aside, tmp renames in, the old copy is dropped. Each rename is
    atomic on local/HDFS, so readers never observe a HALF-written
    directory — but there is a brief window between moving the old
    target aside and promoting tmp in which the target path is ABSENT.
    A failed promote rolls the old target back; a crash inside the
    window is repaired by the next call (the recovery step below).
    True no-window atomicity needs a table-format snapshot commit
    (Delta/Iceberg — KNOWN_LIMITS.md §5)."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs, final_p = _fs(spark, final_path)
    tmp_p = jvm_path(tmp_path)
    old_p = jvm_path(final_path.rstrip("/") + ".__swap_old__")
    # recover from a prior crash mid-swap: the old copy is the only
    # surviving data — restore it before (re)swapping
    if fs.exists(old_p) and not fs.exists(final_p):
        fs.rename(old_p, final_p)
    fs.delete(old_p, True)
    moved_aside = False
    if fs.exists(final_p):
        if not fs.rename(final_p, old_p):
            raise IOError(f"could not move {final_path} aside for swap")
        moved_aside = True
    try:
        if not fs.rename(tmp_p, final_p):
            raise IOError(f"could not promote {tmp_path} to {final_path}")
    except BaseException:
        if moved_aside:
            fs.rename(old_p, final_p)  # roll back so the target reappears
        raise
    fs.delete(old_p, True)


# --- manifest-pointer commit: no-absent-window table promotion ------------
#
# swap_dirs has a reader-visible window where the target path is absent
# (old moved aside, new not yet promoted). The manifest scheme removes
# it: data lands in immutable versioned dirs (``data-v<N>``) and the
# COMMIT is the appearance of a zero-byte marker file
# (``manifest-v<N>``) — a single atomic create. Readers resolve the
# highest manifest version and read that data dir; until the marker
# exists they keep resolving the previous version, so at every instant
# there is a complete, committed table to read. This is the same
# pointer-flip idea as a lakehouse snapshot commit (Delta's _last_
# checkpoint / Iceberg's version-hint), minimal-ized to a filename.
#
# Crash safety: a data dir without its marker is an uncommitted orphan
# (invisible to readers; GC'd by the next commit). GC keeps ``keep``
# previous versions so in-flight readers that resolved an older
# manifest finish their scan before the dir disappears.

MANIFEST_PREFIX = "manifest-v"
DATA_PREFIX = "data-v"


def _versioned(fs, root_p, prefix: str) -> list[int]:
    if not fs.exists(root_p):
        return []
    out = []
    for st in fs.listStatus(root_p):
        name = st.getPath().getName()
        if name.startswith(prefix):
            try:
                out.append(int(name[len(prefix):]))
            except ValueError:
                pass
    return sorted(out)


def manifest_resolve(spark: SparkSession, table_root: str) -> str | None:
    """Data-dir path of the current committed version, or None if no
    commit exists yet. One directory listing — no file contents read
    (the version number IS the pointer)."""
    fs, root_p = _fs(spark, table_root)
    versions = _versioned(fs, root_p, MANIFEST_PREFIX)
    if not versions:
        return None
    return f"{table_root.rstrip('/')}/{DATA_PREFIX}{versions[-1]:010d}"


def manifest_commit(
    spark: SparkSession, table_root: str, tmp_data_path: str, keep: int = 1
) -> str:
    """Promote ``tmp_data_path`` as the next version of the manifest
    table at ``table_root``. Readers never observe an absent or partial
    table: the data dir renames in under a fresh (never-read) name,
    then the marker create publishes it. Returns the committed data
    path.

    ``keep`` = how many PREVIOUS committed versions survive GC — the
    reader-grace window. A reader pinned to version N stays safe while
    at most ``keep`` further commits land; under a fast commit cadence
    with slow scans, raise it (ceil(max scan time / min commit
    interval)). keep=1 means the second commit after a reader resolved
    its version deletes the directory under that reader's scan."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs, root_p = _fs(spark, table_root)
    fs.mkdirs(root_p)
    root = table_root.rstrip("/")
    n = (
        max(
            _versioned(fs, root_p, MANIFEST_PREFIX)
            + _versioned(fs, root_p, DATA_PREFIX),
            default=0,
        )
        + 1
    )
    data_p = jvm_path(f"{root}/{DATA_PREFIX}{n:010d}")
    if not fs.rename(jvm_path(tmp_data_path), data_p):
        raise IOError(f"could not stage {tmp_data_path} as version {n}")
    fs.create(jvm_path(f"{root}/{MANIFEST_PREFIX}{n:010d}"), True).close()  # COMMIT
    # GC: uncommitted orphans and versions older than the keep horizon
    manifests = _versioned(fs, root_p, MANIFEST_PREFIX)
    horizon = n - keep
    for v in _versioned(fs, root_p, DATA_PREFIX):
        committed = v in manifests
        if v < horizon or (v < n and not committed):
            if committed:  # marker first: the dir must outlive its pointer
                fs.delete(jvm_path(f"{root}/{MANIFEST_PREFIX}{v:010d}"), False)
            fs.delete(jvm_path(f"{root}/{DATA_PREFIX}{v:010d}"), True)
    return f"{root}/{DATA_PREFIX}{n:010d}"


def manifest_versions(spark: SparkSession, table_root: str) -> list[int]:
    """Committed version numbers still readable (marker AND data dir
    present), ascending. The time-travel catalog: one directory
    listing, no file contents read."""
    fs, root_p = _fs(spark, table_root)
    committed = set(_versioned(fs, root_p, MANIFEST_PREFIX))
    live = set(_versioned(fs, root_p, DATA_PREFIX))
    return sorted(committed & live)


def read_manifested(
    spark: SparkSession, table_root: str, version: int | None = None
):
    """DataFrame over a committed version — the latest by default, or a
    pinned historical one (time travel over the `keep` retention
    window, same contract as a lakehouse snapshot read). Raises
    FileNotFoundError if the table has never been committed;
    ValueError if the requested version was never committed or has
    been garbage-collected past the keep horizon (listing the
    still-readable versions so callers can re-pin)."""
    if version is None:
        path = manifest_resolve(spark, table_root)
        if path is None:
            raise FileNotFoundError(f"no committed version under {table_root}")
        return spark.read.parquet(path)
    live = manifest_versions(spark, table_root)
    if version not in live:
        raise ValueError(
            f"version {version} of {table_root} is not readable "
            f"(committed & retained: {live}); raise manifest_commit(keep=...) "
            "to widen the time-travel window"
        )
    root = table_root.rstrip("/")
    return spark.read.parquet(f"{root}/{DATA_PREFIX}{version:010d}")


def list_parquet_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (path, size_bytes) listing of parquet part files.
    A missing directory is an empty listing, not an error — so e.g.
    compacting a not-yet-written table is a no-op."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet"):
            out.append((st.getPath().toString(), st.getLen()))
    return out


# ---------------------------------------------------------------------------
# Cross-table atomic snapshots (database-level transactional publish)
# ---------------------------------------------------------------------------

SNAPSHOT_PREFIX = "snapshot-v"


def _snapshot_mapping_dir(root: str, n: int) -> str:
    return f"{root}/{SNAPSHOT_PREFIX}{n:010d}.d"


def _snapshot_marker(root: str, n: int) -> str:
    return f"{root}/{SNAPSHOT_PREFIX}{n:010d}"


def snapshot_versions(spark: SparkSession, db_root: str) -> list[int]:
    """Committed snapshot numbers (marker AND mapping dir present)."""
    fs, root_p = _fs(spark, db_root)
    if not fs.exists(root_p):
        return []
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    root = db_root.rstrip("/")
    out = []
    for st in fs.listStatus(root_p):
        name = st.getPath().getName()
        if (
            name.startswith(SNAPSHOT_PREFIX)
            and not name.endswith(".d")
            and st.isFile()
        ):
            n = int(name[len(SNAPSHOT_PREFIX):])
            if fs.exists(jvm_path(_snapshot_mapping_dir(root, n))):
                out.append(n)
    return sorted(out)


def snapshot_resolve(
    spark: SparkSession, db_root: str, version: int | None = None
) -> dict[str, str]:
    """{table: committed data path} for a snapshot — the latest by
    default. The mapping is carried by the FILENAMES inside the
    snapshot's ``.d`` directory (``<table>=<data version>``), so
    resolution is two directory listings and zero file reads; the
    single marker-file create in ``snapshot_publish`` is the commit
    point, so a resolve observes every table at the SAME snapshot —
    never a mix of old and new versions across tables."""
    versions = snapshot_versions(spark, db_root)
    if version is None:
        if not versions:
            return {}
        version = versions[-1]
    elif version not in versions:
        raise ValueError(
            f"snapshot {version} of {db_root} is not readable "
            f"(committed & retained: {versions})"
        )
    root = db_root.rstrip("/")
    fs, _ = _fs(spark, db_root)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    out: dict[str, str] = {}
    for st in fs.listStatus(jvm_path(_snapshot_mapping_dir(root, version))):
        table, _, v = st.getPath().getName().partition("=")
        out[table] = f"{root}/{table}/{DATA_PREFIX}{int(v):010d}"
    return out


def snapshot_publish(
    spark: SparkSession,
    db_root: str,
    tables: dict[str, "DataFrame"],
    keep: int = 2,
) -> int:
    """Atomically publish a NEW consistent snapshot of several tables —
    the cross-table transaction a feature store needs when e.g. a
    feature table and its metadata/dimension table must advance
    together (a reader joining them must never see feature version N
    against dimension version N−1).

    Protocol (single-committer; rename-based like manifest_commit):
      1. each DataFrame writes to a tmp dir, then renames to
         ``<db_root>/<table>/data-v<N>`` (fresh names — never read
         until committed);
      2. the mapping dir ``snapshot-v<N>.d/`` is created with one empty
         file per table named ``<table>=<version>`` — updated tables
         point at N, absent tables carry the previous snapshot's
         version forward (unchanged tables are NOT rewritten);
      3. the marker file ``snapshot-v<N>`` is created LAST — the only
         commit point. A crash before (3) leaves staged dirs a future
         publish GCs; readers keep resolving N−1.

    GC keeps the new snapshot plus the last ``keep`` prior snapshots
    (reader-grace contract as manifest_commit), deletes data dirs no
    surviving snapshot references, and sweeps orphaned ``.staging-v*``
    dirs left by crashed attempts. Returns the committed snapshot
    number."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs, root_p = _fs(spark, db_root)
    fs.mkdirs(root_p)
    root = db_root.rstrip("/")
    prev_versions = snapshot_versions(spark, db_root)
    prev_map: dict[str, str] = {}
    if prev_versions:
        for t, path in snapshot_resolve(spark, root, prev_versions[-1]).items():
            prev_map[t] = path.rsplit(DATA_PREFIX, 1)[1]
    # next snapshot number must clear any crashed staging attempt.  A
    # crash can leave three kinds of residue, each carrying a version
    # number this publish must not reuse: a root-level snapshot-v*
    # marker/mapping dir, a per-table data-v* dir (renamed before the
    # mapping was written — invisible at the root), and a per-table
    # .staging-v* dir (crash mid-write).  Reusing a number whose
    # data-vN already exists would make fs.rename nest the new files
    # INSIDE the stale dir (Hadoop rename-into-existing-dir), so the
    # committed snapshot would resolve to the crashed attempt's data.
    staged = []
    for st in fs.listStatus(root_p) if fs.exists(root_p) else []:
        name = st.getPath().getName()
        if name.startswith(SNAPSHOT_PREFIX):
            staged.append(int(name[len(SNAPSHOT_PREFIX):].removesuffix(".d")))
        elif st.isDirectory():
            for ds in fs.listStatus(st.getPath()):
                dname = ds.getPath().getName()
                if dname.startswith(DATA_PREFIX):
                    staged.append(int(dname[len(DATA_PREFIX):]))
                elif dname.startswith(".staging-v"):
                    staged.append(int(dname[len(".staging-v"):]))
    n = max(prev_versions + staged, default=0) + 1

    for t, df in tables.items():
        tmp = f"{root}/{t}/.staging-v{n:010d}"
        df.write.mode("overwrite").parquet(tmp)
        fs.mkdirs(jvm_path(f"{root}/{t}"))
        if not fs.rename(jvm_path(tmp), jvm_path(f"{root}/{t}/{DATA_PREFIX}{n:010d}")):
            raise IOError(f"could not stage table {t} for snapshot {n}")
    mapping = {t: n for t in tables} | {
        t: int(v) for t, v in prev_map.items() if t not in tables
    }
    mdir = _snapshot_mapping_dir(root, n)
    fs.mkdirs(jvm_path(mdir))
    for t, v in mapping.items():
        fs.create(jvm_path(f"{mdir}/{t}={v:010d}"), True).close()
    fs.create(jvm_path(_snapshot_marker(root, n)), True).close()  # COMMIT

    # GC: old snapshots beyond keep, then unreferenced data dirs.
    # Survivors are selected by RANK (the new snapshot plus the last
    # ``keep`` committed before it), not by number arithmetic — gaps in
    # the numbering (crashed attempts consume numbers) must not shrink
    # the reader-grace window.
    survivors = snapshot_versions(spark, root)[-(keep + 1):]
    referenced: set[tuple[str, int]] = set()
    for v in survivors:
        for t, path in snapshot_resolve(spark, root, v).items():
            referenced.add((t, int(path.rsplit(DATA_PREFIX, 1)[1])))
    for v in snapshot_versions(spark, root):
        if v not in survivors:
            fs.delete(jvm_path(_snapshot_marker(root, v)), False)  # marker first
            fs.delete(jvm_path(_snapshot_mapping_dir(root, v)), True)
    for st in fs.listStatus(root_p):
        tname = st.getPath().getName()
        if tname.startswith(SNAPSHOT_PREFIX) or not st.isDirectory():
            continue
        for ds in fs.listStatus(st.getPath()):
            dname = ds.getPath().getName()
            if dname.startswith(DATA_PREFIX):
                dv = int(dname[len(DATA_PREFIX):])
                if (tname, dv) not in referenced and dv < n:
                    fs.delete(ds.getPath(), True)
            elif dname.startswith(".staging-v"):
                # orphan from a crashed attempt (this publish renamed
                # its own staging dirs away before commit)
                fs.delete(ds.getPath(), True)
    return n
