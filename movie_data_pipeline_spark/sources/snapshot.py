"""Multi-table atomic publish: a manifest-pointer commit.

The reference loads all four movie tables inside ONE SQLite
transaction — `conn.commit()` after every table, `conn.rollback()` on
any failure (``/root/reference/etl.py:236-276``) — so a reader never
observes a partially-loaded set. The per-table staged swaps elsewhere
in this package (``sinks.upsert_overwrite``, ``compact_parquet``) are
atomic per TABLE but not across tables; this module closes that gap
for Spark's file-based world:

- Every publish writes all tables into a fresh versioned directory
  (``root/v{N}/{table}/``) — never touching the live one.
- Commit is a single ``os.replace`` of the ``_MANIFEST.json`` pointer
  file (atomic on POSIX). A crash at ANY point before that replace
  leaves the previous manifest — and therefore every previous table —
  fully readable; the orphaned ``v{N}`` directory is garbage, not
  corruption, and is swept by the next successful publish.
- Readers resolve table paths through the manifest, so a read started
  before a commit keeps its snapshot: with the default
  ``keep_versions=2`` the just-replaced version's parquet files are
  retained through one full publish cycle, so an in-flight reader's
  files survive the commit that supersedes them. (``keep_versions=1``
  trades that isolation away — the replaced version is pruned in the
  same publish call — and is only safe when no reader can overlap a
  publish.)

Each commit also records every table's schema (``df.schema`` as JSON):
in the manifest for the live version and in ``v{N}/_SCHEMAS.json`` for
time-travel reads. Readers pass it to the parquet reader, so a read
runs no footer-reading Spark job to infer what the writer already
knew. A manifest committed before schemas were recorded still reads,
with inference.

This is the same pointer-swap design Delta/Iceberg use for their
transaction log tip, reduced to the single-pointer case: no history
log, just last-committed-wins. On an object store the ``os.replace``
becomes the store's atomic conditional-put; the write/commit protocol
is unchanged.
"""

from __future__ import annotations

import json
import os
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MANIFEST = "_MANIFEST.json"
SCHEMAS = "_SCHEMAS.json"


def _manifest_path(root: str) -> str:
    return os.path.join(root, MANIFEST)


def read_manifest(root: str) -> dict | None:
    """The committed manifest, or None if nothing was ever published."""
    try:
        with open(_manifest_path(root)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def snapshot_version(root: str) -> int:
    """Version of the live snapshot (0 = nothing committed)."""
    m = read_manifest(root)
    return m["version"] if m else 0


def publish_snapshot(
    root: str,
    tables: Mapping[str, DataFrame],
    keep_versions: int = 2,
) -> int:
    """Write every table, then commit them all with one pointer swap.

    Returns the new version number. If any table write fails, the
    manifest is untouched and the previous snapshot stays live — the
    ``rollback`` analogue is simply not-committing. After a successful
    commit, versions older than the newest ``keep_versions`` are
    pruned (the just-replaced one included once it falls out of the
    window). The default window of 2 keeps the replaced version alive
    through one publish cycle so concurrent in-flight readers retain
    their snapshot (see module docstring).
    """
    os.makedirs(root, exist_ok=True)
    version = snapshot_version(root) + 1
    vdir = f"v{version}"
    schemas = {}
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(root, vdir, name))
        schemas[name] = df.schema.jsonValue()
    _write_json(os.path.join(root, vdir, SCHEMAS), schemas)
    manifest = {
        "version": version,
        "tables": {name: f"{vdir}/{name}" for name in tables},
        "schemas": schemas,
    }
    # commit: write-then-rename so the pointer file is never observed
    # half-written, and the swap itself is a single atomic replace
    tmp = _manifest_path(root) + ".tmp"
    _write_json(tmp, manifest)
    os.replace(tmp, _manifest_path(root))
    _prune_versions(root, version, keep_versions)
    return version


def _write_json(path: str, obj: dict) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())


def _prune_versions(root: str, live_version: int, keep_versions: int) -> None:
    """Sweep version dirs older than the retention window — including
    orphans from publishes that died before their commit."""
    import shutil

    cutoff = live_version - keep_versions + 1
    for entry in os.listdir(root):
        if not entry.startswith("v"):
            continue
        try:
            v = int(entry[1:])
        except ValueError:
            continue
        # never touch the live version or anything newer (an in-flight
        # concurrent publish writing v(live+1) must not be swept)
        if v < cutoff:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


def read_snapshot_table(
    spark: SparkSession, root: str, name: str, version: int | None = None
) -> DataFrame:
    """Resolve ``name`` through the committed manifest and load it.

    ``version`` time-travels to a RETAINED older snapshot (inside the
    publish-time ``keep_versions`` window): version directories are
    immutable once committed, so reading ``root/v{V}/{name}`` at any
    retained V is exactly the Delta/Iceberg ``VERSION AS OF`` read,
    reduced to the single-pointer design. A pruned or never-committed
    version raises rather than silently reading the live one.
    """
    m = read_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    if version is None or version == m["version"]:
        if name not in m["tables"]:
            raise KeyError(f"table {name!r} not in snapshot v{m['version']}")
        path = os.path.join(root, m["tables"][name])
        return _read(spark, path, m.get("schemas", {}).get(name))
    if version > m["version"]:
        raise FileNotFoundError(
            f"version {version} not committed (live is v{m['version']})"
        )
    path = os.path.join(root, f"v{version}", name)
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"snapshot v{version} of {name!r} pruned or absent "
            f"(retention window passed it; live is v{m['version']})"
        )
    try:
        with open(os.path.join(root, f"v{version}", SCHEMAS)) as f:
            schema = json.load(f).get(name)
    except FileNotFoundError:  # committed before schemas were recorded
        schema = None
    return _read(spark, path, schema)


def _read(spark: SparkSession, path: str, schema: dict | None) -> DataFrame:
    """Read a published table with its recorded schema; a table
    committed without one is read with inference."""
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(T.StructType.fromJson(schema)).parquet(path)


def available_versions(root: str) -> list[int]:
    """Retained (readable) snapshot versions, oldest first — the live
    version plus whatever the retention window still holds."""
    live = snapshot_version(root)
    out = []
    for entry in os.listdir(root) if os.path.isdir(root) else []:
        if entry.startswith("v"):
            try:
                v = int(entry[1:])
            except ValueError:
                continue
            if v <= live:
                out.append(v)
    return sorted(out)
