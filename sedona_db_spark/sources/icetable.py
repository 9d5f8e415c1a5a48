"""Iceberg-analogue geo table format: snapshots, manifests, time travel.

The north rule's input is "an Iceberg table of Common-Crawl-style web
pages"; the reference documents the workflow through pyiceberg
(/root/reference/docs/iceberg.md:20-60).  This sandbox has no Iceberg
connector jars, so this module implements the SEMANTICS Iceberg provides
on plain parquet + JSON metadata, using Iceberg's own HadoopCatalog file
layout so the design transfers 1:1:

- ``<table>/metadata/v{N}.metadata.json`` — immutable table-metadata
  versions holding the schema note, partition spec, snapshot log, and
  current snapshot id; ``version-hint.text`` is the atomic pointer
  (os.replace), exactly Iceberg's HadoopTableOperations commit.
- ``<table>/metadata/manifest-{snapshot}-{seq}.json`` — immutable
  manifests listing data files with per-file row counts AND per-file
  bbox stats of the geometry covering columns, so scans prune whole
  files from the MANIFEST (Iceberg's partition/metrics pruning) before
  Spark ever lists the directory.
- ``<table>/data/...parquet`` — immutable data files written once by
  Spark and referenced (never rewritten) by any number of snapshots.

Semantics covered: append / overwrite commits, snapshot isolation
(readers of snapshot N never see files of N+1), time travel by snapshot
id or timestamp, rollback (a new metadata version pointing at an old
snapshot — history is never destroyed), and spatial scan pruning with
observable skipped-file counts.  A crashed write leaves orphan data
files but NO new metadata version, so it is invisible — the same
guarantee Iceberg's optimistic commit gives.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _read_version(path: str) -> int:
    hint = os.path.join(_meta_dir(path), "version-hint.text")
    if not os.path.exists(hint):
        return 0
    with open(hint) as f:
        return int(f.read().strip())


def _load_metadata(path: str, version: int | None = None) -> dict:
    v = version if version is not None else _read_version(path)
    if v <= 0:
        raise FileNotFoundError(f"{path}: not an ice table (no metadata)")
    with open(os.path.join(_meta_dir(path), f"v{v}.metadata.json")) as f:
        return json.load(f)


def _commit_metadata(path: str, meta: dict) -> int:
    """Write v{N+1}.metadata.json then atomically swing the version hint —
    Iceberg HadoopTableOperations' commit protocol."""
    md = _meta_dir(path)
    os.makedirs(md, exist_ok=True)
    v = _read_version(path) + 1
    meta["format-version"] = 2
    meta["last-updated-ms"] = int(time.time() * 1000)
    target = os.path.join(md, f"v{v}.metadata.json")
    tmp = target + f".tmp-{uuid.uuid4()}"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, target)
    hint_tmp = os.path.join(md, f".version-hint-{uuid.uuid4()}")
    with open(hint_tmp, "w") as f:
        f.write(str(v))
    os.replace(hint_tmp, os.path.join(md, "version-hint.text"))
    return v


def _write_data_files(df: DataFrame, path: str, geom_col: str | None,
                      res: int) -> tuple[list[dict], str]:
    """Write immutable data files for one commit; return manifest entries
    with per-file rows + bbox stats (from the parquet footers)."""
    import pyarrow.parquet as pq

    from sedona_db_spark.sources.geostore import with_covering
    commit_id = uuid.uuid4().hex[:16]
    out_dir = os.path.join(path, "data", f"commit-{commit_id}")
    if geom_col is not None and geom_col in df.columns:
        out = with_covering(df, geom_col, res=res)
        out = out.sortWithinPartitions("cell")
    else:
        out = df
    out.write.mode("overwrite").parquet(out_dir)
    entries = []
    for name in sorted(os.listdir(out_dir)):
        if not name.endswith(".parquet") or name.startswith(("_", ".")):
            continue
        fp = os.path.join(out_dir, name)
        md = pq.ParquetFile(fp).metadata
        entry = {"path": os.path.relpath(fp, path), "rows": md.num_rows}
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if geom_col is not None and "bbox_xmin" in idx:
            stats = {}
            ok = True
            for c in ("bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"):
                col_stats = [md.row_group(g).column(idx[c]).statistics
                             for g in range(md.num_row_groups)]
                if any(s is None or not s.has_min_max for s in col_stats):
                    ok = False
                    break
                stats[c] = (min(s.min for s in col_stats),
                            max(s.max for s in col_stats))
            if ok and stats:
                entry["bbox"] = [stats["bbox_xmin"][0], stats["bbox_ymin"][0],
                                 stats["bbox_xmax"][1], stats["bbox_ymax"][1]]
        entries.append(entry)
    return entries, commit_id


def _write_manifest(path: str, snapshot_id: int, seq: int,
                    entries: list[dict]) -> str:
    name = f"manifest-{snapshot_id}-{seq}.json"
    target = os.path.join(_meta_dir(path), name)
    tmp = target + f".tmp-{uuid.uuid4()}"
    os.makedirs(_meta_dir(path), exist_ok=True)
    with open(tmp, "w") as f:
        json.dump({"entries": entries}, f)
    os.replace(tmp, target)
    return name


def _commit_snapshot(path: str, meta: dict, manifests: list[str],
                     operation: str, rows: int) -> dict:
    snap_id = meta.get("last-snapshot-id", 0) + 1
    snap = {
        "snapshot-id": snap_id,
        "timestamp-ms": int(time.time() * 1000),
        "operation": operation,
        "manifests": manifests,
        "summary": {"added-rows": rows},
    }
    meta["snapshots"] = meta.get("snapshots", []) + [snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-snapshot-id"] = snap_id
    _commit_metadata(path, meta)
    return snap


def create(spark: SparkSession, path: str, df: DataFrame,
           geom_col: str | None = "geom", res: int = 7) -> dict:
    """Create the table with an initial append snapshot."""
    if os.path.exists(os.path.join(_meta_dir(path), "version-hint.text")):
        raise FileExistsError(f"{path}: table already exists")
    entries, _ = _write_data_files(df, path, geom_col, res)
    meta = {
        "table": path,
        "geometry-column": geom_col,
        "covering-res": res,
        "schema": df.schema.jsonValue(),
        "snapshots": [],
        "last-snapshot-id": 0,
    }
    mf = _write_manifest(path, 1, 0, entries)
    return _commit_snapshot(path, meta, [mf], "append",
                            sum(e["rows"] for e in entries))


def append(spark: SparkSession, path: str, df: DataFrame) -> dict:
    """Append commit: new data files + one new manifest; prior snapshot's
    manifests are carried forward untouched."""
    meta = _load_metadata(path)
    entries, _ = _write_data_files(df, path, meta.get("geometry-column"),
                                   meta.get("covering-res", 7))
    cur = _current_snapshot(meta)
    snap_id = meta["last-snapshot-id"] + 1
    mf = _write_manifest(path, snap_id, len(cur["manifests"]), entries)
    return _commit_snapshot(path, meta, cur["manifests"] + [mf], "append",
                            sum(e["rows"] for e in entries))


def overwrite(spark: SparkSession, path: str, df: DataFrame) -> dict:
    """Overwrite commit: the new snapshot references ONLY the new files;
    old files stay on disk for time travel (never deleted here —
    expire_snapshots is the reclamation knob, as in Iceberg)."""
    meta = _load_metadata(path)
    entries, _ = _write_data_files(df, path, meta.get("geometry-column"),
                                   meta.get("covering-res", 7))
    snap_id = meta["last-snapshot-id"] + 1
    mf = _write_manifest(path, snap_id, 0, entries)
    return _commit_snapshot(path, meta, [mf], "overwrite",
                            sum(e["rows"] for e in entries))


def _current_snapshot(meta: dict) -> dict:
    sid = meta["current-snapshot-id"]
    return next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)


def snapshots(path: str) -> list[dict]:
    return list(_load_metadata(path)["snapshots"])


def _resolve_snapshot(meta: dict, snapshot_id: int | None,
                      as_of_ms: int | None) -> dict:
    if snapshot_id is not None:
        for s in meta["snapshots"]:
            if s["snapshot-id"] == snapshot_id:
                return s
        raise KeyError(f"unknown snapshot id {snapshot_id}")
    if as_of_ms is not None:
        live = [s for s in meta["snapshots"] if s["timestamp-ms"] <= as_of_ms]
        if not live:
            raise KeyError(f"no snapshot at or before {as_of_ms}")
        return live[-1]
    return _current_snapshot(meta)


def scan_files(path: str, snapshot_id: int | None = None,
               as_of_ms: int | None = None,
               bbox: tuple | None = None) -> dict:
    """Resolve a snapshot to its data files, pruning whole files from the
    manifests' bbox stats when a query bbox is given.  Returns
    {files, files_total, files_pruned, rows_total, rows_after_prune} —
    the manifest-level mirror of Iceberg's metrics-based file pruning
    (and of the reference's files_ranges_spatial_pruned counter)."""
    meta = _load_metadata(path)
    snap = _resolve_snapshot(meta, snapshot_id, as_of_ms)
    files, total, pruned, rows_total, rows_kept = [], 0, 0, 0, 0
    for mf in snap["manifests"]:
        with open(os.path.join(_meta_dir(path), mf)) as f:
            manifest = json.load(f)
        for e in manifest["entries"]:
            total += 1
            rows_total += e["rows"]
            if bbox is not None and "bbox" in e:
                qxmin, qymin, qxmax, qymax = bbox
                fxmin, fymin, fxmax, fymax = e["bbox"]
                if fxmin > qxmax or fxmax < qxmin \
                        or fymin > qymax or fymax < qymin:
                    pruned += 1
                    continue
            files.append(os.path.join(path, e["path"]))
            rows_kept += e["rows"]
    return {"files": files, "files_total": total, "files_pruned": pruned,
            "rows_total": rows_total, "rows_after_prune": rows_kept,
            "snapshot_id": snap["snapshot-id"]}


def read(spark: SparkSession, path: str, snapshot_id: int | None = None,
         as_of_ms: int | None = None, bbox: tuple | None = None,
         exact: bool = True) -> DataFrame:
    """Snapshot-isolated read with optional time travel and bbox scan.

    With ``bbox``, files prune from the manifests, the pushed covering
    predicates prune surviving row groups, and (``exact``) the geometry
    refine runs last — the same three-tier scan as geostore.spatial_read,
    now under snapshot isolation."""
    scan = scan_files(path, snapshot_id, as_of_ms, bbox)
    meta = _load_metadata(path)
    if not scan["files"]:
        from pyspark.sql.types import StructType
        schema = StructType.fromJson(meta["schema"])
        return spark.createDataFrame([], schema)
    df = spark.read.parquet(*scan["files"])
    if bbox is not None:
        from sedona_db_spark.sources.geostore import bbox_filter, window_filter
        df = df.where(bbox_filter(*bbox))
        gcol = meta.get("geometry-column")
        if exact and gcol and gcol in df.columns:
            df = df.where(window_filter(gcol, bbox))
    return df


def rollback(path: str, snapshot_id: int) -> dict:
    """Point the table back at an earlier snapshot via a NEW metadata
    version (history preserved — Iceberg rollback semantics)."""
    meta = _load_metadata(path)
    target = _resolve_snapshot(meta, snapshot_id, None)
    meta["current-snapshot-id"] = target["snapshot-id"]
    _commit_metadata(path, meta)
    return target


def expire_snapshots(path: str, keep_last: int = 1) -> list[int]:
    """Drop snapshot METADATA older than the newest ``keep_last`` (current
    snapshot always kept); data files only referenced by expired snapshots
    are deleted.  Returns the expired snapshot ids."""
    meta = _load_metadata(path)
    snaps = meta["snapshots"]
    keep = {s["snapshot-id"] for s in snaps[-keep_last:]}
    keep.add(meta["current-snapshot-id"])
    kept = [s for s in snaps if s["snapshot-id"] in keep]
    expired = [s for s in snaps if s["snapshot-id"] not in keep]
    live_files: set[str] = set()
    for s in kept:
        for mf in s["manifests"]:
            with open(os.path.join(_meta_dir(path), mf)) as f:
                live_files.update(e["path"] for e in json.load(f)["entries"])
    # Iceberg's expire order: commit the pruned metadata FIRST, then delete
    # the files it no longer references — at every crash point the committed
    # metadata only names files that still exist (a crash mid-delete leaves
    # orphan files, never dangling references).
    meta["snapshots"] = kept
    _commit_metadata(path, meta)
    kept_manifests = {m for k in kept for m in k["manifests"]}
    for s in expired:
        for mf in s["manifests"]:
            mfp = os.path.join(_meta_dir(path), mf)
            if not os.path.exists(mfp):
                continue
            with open(mfp) as f:
                for e in json.load(f)["entries"]:
                    if e["path"] not in live_files:
                        fp = os.path.join(path, e["path"])
                        if os.path.exists(fp):
                            os.remove(fp)
            if mf not in kept_manifests:
                os.remove(mfp)
    return [s["snapshot-id"] for s in expired]
