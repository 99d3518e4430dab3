"""Delta-format interop: export an AtomicWarehouse table's history as
a `_delta_log` JSON action log readable by outside engines (r10).

The warehouse's manifest-pointer design (atomic.py) IS the Delta/
Iceberg metadata pattern, but its snapshots are private — the
reference's whole storage story is "a file another tool can open"
(/root/reference/src/main.py:42-49: load straight into a queryable
store). This module closes that gap at the achievable scope: WRITING
the open format needs no jars — a Delta commit is a JSON-lines file
of actions (protocol / metaData / add / remove, Delta PROTOCOL.md,
reader version 1) under `<table>/_delta_log/<version>.json`, and the
warehouse's data dirs already live under `<root>/<table>/…`, so every
`add.path` is naturally table-relative and the exported table is a
self-contained directory any Delta reader opens in place.

Mapping:

  * manifest version history (`_manifests/v<N>.json` + the current
    pointer) → one Delta commit file per version in which the table's
    file set changed; Delta versions are re-based to start at 0 from
    the oldest RETAINED manifest (vacuum truncates history — the
    export is a PUBLISHING step over what remains, re-run after
    vacuum, not a second source of truth);
  * the first exported commit carries `protocol` + `metaData`
    (Spark-schema JSON, parquet format descriptor) + `add`s for the
    full snapshot; later commits carry file-level `add`/`remove`
    diffs (an overwrite/erasure = removes + adds, the Delta
    dataChange contract), plus `metaData` again when the schema
    changed;
  * per-file `stats` carry `numRecords` from the parquet footer —
    the field Delta readers use for COUNT pushdown and file skipping.

`read_delta_table` is the matching no-jar reader: replay the log,
accumulate adds minus removes, read the surviving parquet files —
used by the round-trip tests to prove an outside implementation of
the spec reconstructs every exported snapshot bit-for-bit.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame
from .atomic import MANIFEST_DIR, AtomicWarehouse

DELTA_LOG_DIR = "_delta_log"


def _commit_name(version: int) -> str:
    return f"{version:020d}.json"


def _table_files(wh: AtomicWarehouse, table: str, dirs: list[str]):
    """(table-relative path, size, mtime_ms, numRecords) for every
    parquet file of the listed data dirs. Paths are relative to
    `<root>/<table>/` — the Delta table root."""
    import pyarrow.parquet as pq

    out = []
    prefix = table + "/"
    for rel in dirs:
        if not rel.startswith(prefix):  # foreign layout → keep absolute
            raise ValueError(
                f"data dir {rel!r} is not under table dir {table!r}"
            )
        abs_dir = wh._abs(rel)
        for name in sorted(os.listdir(abs_dir)):
            if not name.endswith(".parquet"):
                continue
            p = os.path.join(abs_dir, name)
            st = os.stat(p)
            n_rows = pq.ParquetFile(p).metadata.num_rows
            out.append(
                (
                    rel[len(prefix):] + "/" + name,
                    st.st_size,
                    int(st.st_mtime * 1000),
                    n_rows,
                )
            )
    return out


def _history(wh: AtomicWarehouse, table: str) -> list[tuple[int, list[str]]]:
    """(manifest_version, dirs) for every retained version that knows
    the table, oldest first, ending with the current pointer."""
    hist_dir = os.path.join(wh.root, MANIFEST_DIR)
    versions: list[tuple[int, list[str]]] = []
    if os.path.isdir(hist_dir):
        for name in sorted(os.listdir(hist_dir)):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            if not name[1:-5].isdigit():
                continue
            try:
                with open(os.path.join(hist_dir, name)) as f:
                    man = json.load(f)
            except (OSError, ValueError):
                continue  # expired by a concurrent vacuum
            if table in man["tables"]:
                versions.append((man["version"], man["tables"][table]))
    cur = wh.manifest()
    if table not in cur["tables"]:
        raise FileNotFoundError(f"table {table!r} not in manifest")
    versions.sort(key=lambda t: t[0])
    if not versions or versions[-1][0] != cur["version"]:
        versions.append((cur["version"], cur["tables"][table]))
    return versions


def export_delta_log(wh: AtomicWarehouse, table: str) -> str:
    """(Re)write `<root>/<table>/_delta_log/` from the warehouse's
    retained manifest history and return the Delta table directory.
    Idempotent full re-export: the log is derived state; after new
    commits, erasure, or vacuum, re-run to re-publish."""
    spark = wh.spark
    table_dir = os.path.join(wh.root, table)
    log_dir = os.path.join(table_dir, DELTA_LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    for stale in os.listdir(log_dir):
        os.remove(os.path.join(log_dir, stale))

    history = _history(wh, table)
    # one metaData id for the table's whole exported history — derived
    # from the table name so re-exports are stable for readers that
    # cache by table id
    table_id = str(uuid.uuid5(uuid.NAMESPACE_URL, f"spark-graft:{table}"))
    prev_files: dict[str, tuple] = {}
    prev_schema: str | None = None
    for delta_v, (man_v, dirs) in enumerate(history):
        files = {f[0]: f for f in _table_files(wh, table, dirs)}
        schema_json = (
            spark.read.parquet(*[wh._abs(d) for d in dirs]).schema.json()
        )
        ts = max(
            [m for _, _, m, _ in files.values()], default=0
        )
        actions: list[dict] = []
        if delta_v == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if schema_json != prev_schema:
            actions.append(
                {
                    "metaData": {
                        "id": table_id,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": [],
                        "configuration": {},
                        "createdTime": ts,
                    }
                }
            )
        for path in sorted(set(prev_files) - set(files)):
            actions.append(
                {
                    "remove": {
                        "path": path,
                        "deletionTimestamp": ts,
                        "dataChange": True,
                    }
                }
            )
        for path in sorted(set(files) - set(prev_files)):
            _, size, mtime, n_rows = files[path]
            actions.append(
                {
                    "add": {
                        "path": path,
                        "partitionValues": {},
                        "size": size,
                        "modificationTime": mtime,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": n_rows}),
                    }
                }
            )
        actions.append(
            {
                "commitInfo": {
                    "operation": "WRITE" if delta_v == 0 else "REPLACE",
                    "operationParameters": {},
                    "engineInfo": "monzo-data-pipeline-spark export",
                    "sourceManifestVersion": man_v,
                }
            }
        )
        with open(os.path.join(log_dir, _commit_name(delta_v)), "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")
        prev_files, prev_schema = files, schema_json
    return table_dir


def _replay_log(table_dir: str, version: int | None = None):
    """Replay the action log up to `version` (inclusive; None = all):
    returns (live file paths, schemaString) — the spec's state
    reconstruction (last metaData wins, adds minus removes)."""
    log_dir = os.path.join(table_dir, DELTA_LOG_DIR)
    commits = sorted(
        f for f in os.listdir(log_dir) if f.endswith(".json")
    )
    if version is not None:
        commits = [c for c in commits if int(c[:-5]) <= version]
        if len(commits) != version + 1:
            raise FileNotFoundError(
                f"delta version {version} not in log ({len(commits)} commits)"
            )
    live: set[str] = set()
    schema: str | None = None
    for name in commits:
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    live.add(action["add"]["path"])
                elif "remove" in action:
                    live.discard(action["remove"]["path"])
                elif "metaData" in action:
                    schema = action["metaData"]["schemaString"]
    return sorted(live), schema


def read_delta_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Spec-only Delta reader (no jars): reconstruct the snapshot at
    `version` (None = latest) from the JSON log and read the live
    parquet files with the logged schema. Exists to PROVE the export
    is readable from the written format alone; a real deployment
    points any Delta-capable engine at `table_dir` instead."""
    from pyspark.sql.types import StructType

    live, schema_json = _replay_log(table_dir, version)
    if schema_json is None:
        raise ValueError(f"no metaData action in {table_dir}/_delta_log")
    schema = StructType.fromJson(json.loads(schema_json))
    if not live:
        return local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, p) for p in live]
    )


def import_delta_table(
    wh: AtomicWarehouse,
    table_dir: str,
    table: str,
    version: int | None = None,
) -> int:
    """The reverse direction: materialize an EXTERNAL Delta table's
    snapshot (any engine's `_delta_log` + parquet files, replayed by
    the spec-only reader) into the warehouse as one transactional
    commit — the import half of the interop loop. The snapshot's live
    files are staged through `append_parquet_dir` (copied, never
    linked: the source table keeps writing; its next commits must not
    share inodes with our immutable snapshot) and become visible
    atomically; returns the number of files imported.

    A re-import OVERWRITES the warehouse table to the new snapshot
    (imports are snapshot-consistent mirrors, not merges — the
    incremental form would replay add/remove actions since the last
    imported version; at 100 TB that is the change-data-capture lane,
    and this full-snapshot form is its bootstrap)."""
    import shutil
    import tempfile

    live, _schema = _replay_log(table_dir, version)
    if not live:
        raise ValueError(
            f"import_delta_table: snapshot of {table_dir} has no files"
        )
    with tempfile.TemporaryDirectory() as staging:
        for i, rel in enumerate(live):
            src = os.path.join(table_dir, rel)
            # flatten nested add-paths into unique staged names
            dst = os.path.join(
                staging, f"part-{i:05d}-{os.path.basename(rel)}"
            )
            shutil.copy2(src, dst)
        with wh.transaction() as txn:
            if txn.exists(table):
                txn.tables[table] = []  # snapshot semantics: replace
            txn.append_parquet_dir(staging, table)
    return len(live)
