"""The warehouse's one table store: parquet tables with cross-table
transactional commits (A14).

The reference loads transactions, balance, and pots inside ONE SQLite
transaction — a single `conn.commit()` makes all three tables visible
together (the reference's `src/load/load.py:271,277`). A plain parquet
directory per table has no such boundary: a crash mid-run exposes a
half-updated warehouse, and every rewrite (erasure, view-state fold,
compaction, index rebuild) needs its own hand-made directory swap.

This module is the plain-parquet answer — the same design Delta Lake
and Iceberg use, reduced to its core — and every table write in
`pipeline/` and `ext/ann_index.py` goes through it:

  * every write lands in a FRESH data directory that no reader can
    see (`<root>/<table>/z<version>_<random>/`);
  * a table's visible state is a LIST of data directories recorded in
    one manifest file (`_manifest.json`); appends add a directory,
    overwrites replace the list;
  * commit = write the new manifest to a temp file and `os.replace`
    it over the pointer — one atomic rename makes EVERY table's
    changes visible simultaneously. Readers resolve through the
    manifest, so at any instant they see the old snapshot or the new
    one, never a mixture;
  * crash anywhere before the rename (including "between table
    writes", the reference's exposure): the manifest is untouched,
    readers keep the old consistent snapshot, and the orphaned data
    dirs are swept by `vacuum()`;
  * optimistic concurrency: commit re-reads the pointer and refuses
    (ConflictError) if another writer advanced it since the
    transaction began — the local-fs analog of Delta's CAS on the
    log; retry by re-running the transaction on the new snapshot.
    The re-read + rename pair runs under an exclusive flock on
    `_manifest.json.lock`, making the check-and-swap genuinely atomic
    across PROCESSES (two writers can otherwise both pass the version
    check and one commit is silently lost); the OS releases the lock
    if the holder dies, so a killed writer never wedges the
    warehouse. On an object store this critical section maps to the
    store's conditional-put / DynamoDB-mutex commit service.

Archived manifests (`_manifests/v<N>.json`) give snapshot reads /
time travel (`read_version`); `vacuum()` keeps only what the current
manifest references and therefore truncates history — the documented
trade.

At 100 TB this is exactly the metadata-pointer pattern of a real
table format; production would use Delta/Iceberg (SCALE_DESIGN.md §3)
— the point here is that the ENGINE's pipeline code (medallion.py
stages) runs unchanged against either, because the warehouse and its
transaction handle expose one read/append/overwrite/exists surface.
A write returns the rows it wrote (footer ``num_rows``), so a caller
needs no count job, and an append of 0 rows stages nothing.

A data dir is flat parquet files, or ``k=v/`` partition subdirectories
(a producer's ``partitionBy`` output staged by `append_parquet_dir`).
Spark refuses one scan over two partitioned dirs
(CONFLICTING_DIRECTORY_STRUCTURES), so `_read_dirs` scans flat dirs
together and unions one scan per partitioned dir. Dynamic partition
pruning still reaches every scan of the union when the join compares
the partition column itself; a cast on that side stops it.

`run_pipeline_atomic` is the one medallion run, and it is
delta-driven. Its delta is the run's new bronze rows (anti-joined
against bronze, persisted once). The invariant that makes the delta
enough: every committed run leaves every bronze key in silver, and
silver ids ⊆ bronze ids. So a key new to silver can only come from
this run's delta, and the delta's ids are new to silver too. Silver
folds the delta only, gold folds it through the mergeable state of
`incremental.py`, and row counts come from the manifest's per-dir
``num_rows`` (`AtomicWarehouse.rows`). A run with an empty delta
writes no silver or gold data. `tests/test_pipeline.py` pins the
result over nine runs to an independent full recompute: the SQL
front end's silver (`sql_path.transform_silver_sql`) and an
exact-decimal gold aggregate.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"
MANIFEST_DIR = "_manifests"

_STATS_TYPES = (int, float, str)  # JSON-exact, totally ordered per type
ROWS_KEY = "__rows__"  # per-dir row count in the manifest's stats


class ConflictError(Exception):
    """Another writer committed since this transaction began."""


def _part_files(abs_dir: str) -> list[str]:
    """Paths, relative to a data directory, of its parquet part files:
    the top level and any ``k=v/`` partition subdirectories. Names
    starting with ``_`` or ``.`` (markers, checksums, scratch) are
    skipped, as Spark's reader skips them."""
    out = []
    for dirpath, dirnames, filenames in os.walk(abs_dir):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith(("_", ".")))
        rel = os.path.relpath(dirpath, abs_dir)
        out += [
            os.path.normpath(os.path.join(rel, n))
            for n in sorted(filenames)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]
    return out


def _footers(abs_dir: str):
    """Footer metadata of every part file in a data directory."""
    import pyarrow.parquet as pq

    for rel in _part_files(abs_dir):
        yield pq.ParquetFile(os.path.join(abs_dir, rel)).metadata


def _link(src: str, dst: str) -> None:
    """Hardlink a part file; copy when the link fails (EXDEV: another
    filesystem)."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _dir_rows(abs_dir: str, stats: dict | None) -> int:
    """A data dir's row count: the ``ROWS_KEY`` its stats recorded at
    write time, else its parquet footers (dirs committed before counts
    were recorded). No Spark job either way."""
    n = (stats or {}).get(ROWS_KEY)
    return n if n is not None else sum(md.num_rows for md in _footers(abs_dir))


def _read_dirs(spark: SparkSession, abs_dirs: list[str]) -> DataFrame:
    """One DataFrame over data dirs: a single scan of the flat dirs,
    unioned with one scan per partitioned dir (Spark cannot infer one
    partition spec across several partitioned roots)."""
    flat = [d for d in abs_dirs if not any(os.sep in f for f in _part_files(d))]
    scans = [spark.read.parquet(*flat)] if flat else []
    scans += [spark.read.parquet(d) for d in abs_dirs if d not in flat]
    return functools.reduce(DataFrame.unionByName, scans)


def _dir_stats(abs_dir: str) -> dict:
    """Per-directory column min/max, aggregated over every part file's
    row-group footer stats — computed ONCE at write time (footers are
    hot in page cache) and recorded in the manifest, the Delta/Iceberg
    pattern that lets query- and erasure-time pruning skip directories
    without touching data OR footers. Columns whose stats are missing
    anywhere, or whose min/max are not JSON-exact scalars (timestamps,
    decimals, binaries), are omitted — absence means "cannot prune",
    never "absent". The directory's row count (footer ``num_rows``)
    is recorded under ``ROWS_KEY``, so `AtomicWarehouse.rows` needs no
    Spark job."""
    acc: dict[str, object] = {}
    poison = object()
    n_rows = 0
    for md in _footers(abs_dir):
        n_rows += md.num_rows
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for j in range(row_group.num_columns):
                col = row_group.column(j)
                cname = col.path_in_schema
                if acc.get(cname) is poison:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    acc[cname] = poison
                    continue
                try:
                    mn, mx = st.min, st.max
                except Exception:  # e.g. pyarrow can't extract the type
                    acc[cname] = poison
                    continue
                mn = mn.item() if hasattr(mn, "item") else mn
                mx = mx.item() if hasattr(mx, "item") else mx
                if (
                    type(mn) is not type(mx)
                    or not isinstance(mn, _STATS_TYPES)
                    or isinstance(mn, bool)
                ):
                    acc[cname] = poison
                    continue
                cur = acc.get(cname)
                if cur is None:
                    acc[cname] = [mn, mx]
                else:
                    acc[cname] = [min(cur[0], mn), max(cur[1], mx)]
    out = {c: v for c, v in acc.items() if v is not poison and v is not None}
    out[ROWS_KEY] = n_rows
    return out


def _may_contain(stats: dict | None, col: str, values: list) -> bool:
    """True unless the recorded [min, max] for `col` provably excludes
    every value. Missing stats → True (never assume exclusion)."""
    if not stats or col not in stats:
        return True
    lo, hi = stats[col]
    try:
        return any(lo <= v <= hi for v in values)
    except TypeError:  # value type incomparable with recorded stats
        return True


# --- per-directory Bloom index (point-lookup pruning) ----------------------
#
# min/max stats prune RANGE shapes; a point lookup on an UNSORTED key
# (erasure subject ids, single-entity reads) hits every dir whose span
# covers the value — usually all of them. A small per-dir Bloom filter
# in the manifest (the Delta bloom-filter-index pattern) prunes those:
# k double-hashed bit probes per value, zero data IO at read time.
# Deterministic engine-agnostic hashes (the polynomial/Knuth family) —
# the manifest stays portable across engines and Python versions.

_BLOOM_MOD = 2_147_483_647


def _bloom_hash_pair(v) -> tuple[int, int] | None:
    """Two independent 31-bit hashes of an int/str value for
    Kirsch-Mitzenmacher double hashing; None = type not indexable."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        x = v % _BLOOM_MOD  # pmod: negative ids stay in-domain
        return (
            (x * 2_654_435_761) % _BLOOM_MOD,
            (x * 40_503 + 12_345) % _BLOOM_MOD,
        )
    if isinstance(v, str):
        h1 = h2 = 0
        for b in v.encode("utf-8", "surrogatepass"):
            h1 = (h1 * 131 + b) % _BLOOM_MOD
            h2 = (h2 * 137 + b) % _BLOOM_MOD
        return h1, h2
    return None


def _bloom_positions(h1: int, h2: int, m: int, k: int):
    return ((h1 + i * h2) % m for i in range(k))


def _dir_bloom(
    abs_dir: str,
    cols: list[str],
    bits_per_value: int = 10,
    k: int = 7,
    max_bits: int = 1 << 20,
) -> dict:
    """Per-column Bloom filters over a staged data dir, built at write
    time from the just-written local files (page-cache hot — the same
    argument as _dir_stats). ~10 bits/distinct value ≈ 1% false
    positives at k=7; capped at 128 KiB of bits per column. Columns
    with non-int/str values are skipped (absent = cannot prune)."""
    import base64

    import pyarrow.parquet as pq

    files = [os.path.join(abs_dir, rel) for rel in _part_files(abs_dir)]
    out: dict[str, dict] = {}
    for col in cols:
        distinct: set = set()
        ok = True
        for path in files:
            try:
                tbl = pq.read_table(path, columns=[col])
            except Exception:
                ok = False
                break
            for v in tbl.column(0).to_pylist():
                if v is None:
                    continue
                distinct.add(v)
        if not ok or not distinct:
            continue
        m = min(max_bits, max(64, bits_per_value * len(distinct)))
        m = (m + 7) // 8 * 8
        bits = bytearray(m // 8)
        indexable = True
        for v in distinct:
            pair = _bloom_hash_pair(v)
            if pair is None:
                indexable = False
                break
            for pos in _bloom_positions(*pair, m, k):
                bits[pos >> 3] |= 1 << (pos & 7)
        if indexable:
            out[col] = {
                "m": m,
                "k": k,
                "b64": base64.b64encode(bytes(bits)).decode(),
            }
    return out


def _dir_may_contain(stats: dict | None, col: str, values: list) -> bool:
    """The pruning predicate of a data dir: False only when its min/max
    or its Bloom filter for `col` proves every value absent."""
    return _may_contain(stats, col, values) and _bloom_may_contain(stats, col, values)


def _bloom_may_contain(stats: dict | None, col: str, values: list) -> bool:
    """True unless the dir's Bloom filter for `col` provably excludes
    every value. Missing filter / unindexable value → True."""
    entry = (stats or {}).get("__bloom__", {}).get(col)
    if not entry:
        return True
    import base64

    bits = base64.b64decode(entry["b64"])
    m, k = entry["m"], entry["k"]
    for v in values:
        pair = _bloom_hash_pair(v)
        if pair is None:
            return True
        if all(
            bits[pos >> 3] & (1 << (pos & 7))
            for pos in _bloom_positions(*pair, m, k)
        ):
            return True
    return False


class AtomicWarehouse:
    """Manifest-pointer parquet store with multi-table transactions.
    `rows(table)` answers a table's row count from the manifest, with
    no Spark job.

    Single-op `append`/`overwrite` auto-wrap in a one-table
    transaction and return the rows written; `transaction()` groups
    any number of writes across any number of tables into one atomic
    visibility switch.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bloom_cols: dict[str, list[str]] | None = None,
    ):
        """``bloom_cols`` maps table → key columns to Bloom-index per
        data dir at write time (see _dir_bloom). Point lookups via
        read_pruned/pruned_dirs and `erasure.erase_keys` on those
        columns then skip dirs whose min/max span covers the value but
        whose filter proves it absent — the unsorted-key erasure/
        entity-read shape."""
        self.spark = spark
        self.root = root
        self.bloom_cols = bloom_cols or {}
        os.makedirs(root, exist_ok=True)

    # -- manifest plumbing -------------------------------------------------
    def _pointer(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def manifest(self) -> dict:
        try:
            with open(self._pointer()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": 0, "tables": {}}

    def _abs(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    # -- table surface (shared with _Transaction) ---------------------------
    def exists(self, table: str) -> bool:
        return table in self.manifest()["tables"]

    def read(self, table: str) -> DataFrame:
        dirs = self.manifest()["tables"].get(table)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} not in manifest")
        return _read_dirs(self.spark, [self._abs(d) for d in dirs])

    def append(self, df: DataFrame, table: str) -> int:
        with self.transaction() as txn:
            return txn.append(df, table)

    def overwrite(self, df: DataFrame, table: str) -> int:
        with self.transaction() as txn:
            return txn.overwrite(df, table)

    def rows(self, table: str) -> int:
        """The table's row count from the manifest: the footer
        ``num_rows`` each data dir recorded when it was written. No
        Spark job and no data IO. A dir committed before counts were
        recorded falls back to its parquet footers (pyarrow)."""
        man = self.manifest()
        dirs = man["tables"].get(table)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} not in manifest")
        stats = man.get("stats", {})
        return sum(_dir_rows(self._abs(rel), stats.get(rel)) for rel in dirs)

    # -- manifest-stat pruning --------------------------------------------
    def pruned_dirs(self, table: str, col: str, values: list) -> tuple[list, list]:
        """Split a table's data directories into (candidates, clean) by
        the manifest's recorded min/max and Bloom filter for `col` —
        zero data or footer IO. A dir is clean only if its stats
        provably exclude every value."""
        man = self.manifest()
        dirs = man["tables"].get(table)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} not in manifest")
        stats = man.get("stats", {})
        cand, clean = [], []
        for rel in dirs:
            (cand if _dir_may_contain(stats.get(rel), col, values) else clean).append(rel)
        return cand, clean

    def read_pruned(self, table: str, col: str, values: list) -> DataFrame:
        """Read only the data dirs that can contain any of `values` in
        `col` (point-lookup / erasure shape). Result is exact for any
        downstream filter on those values — excluded dirs provably hold
        none of them. Falls back to the full dir list when stats are
        absent. Returns an empty frame of the table's schema when every
        dir is pruned."""
        cand, _ = self.pruned_dirs(table, col, values)
        if not cand:
            full = self.read(table)
            return full.limit(0)
        return _read_dirs(self.spark, [self._abs(d) for d in cand])

    # -- transactions ------------------------------------------------------
    @contextmanager
    def transaction(self):
        """All writes staged inside become visible atomically on clean
        exit; on exception nothing is committed and staged data dirs
        are left for vacuum()."""
        txn = _Transaction(self)
        yield txn
        txn._commit()

    def read_version(self, table: str, version: int) -> DataFrame:
        """Snapshot read against an archived manifest (time travel).
        Valid until vacuum() truncates history."""
        path = os.path.join(self.root, MANIFEST_DIR, f"v{version}.json")
        with open(path) as f:
            dirs = json.load(f)["tables"].get(table)
        if not dirs:
            raise FileNotFoundError(
                f"table {table!r} not in manifest v{version}"
            )
        return _read_dirs(self.spark, [self._abs(d) for d in dirs])

    def vacuum(
        self, retain_last: int = 0, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Remove every data directory no RETAINED manifest references
        (crash orphans, overwritten/erased versions) plus the expired
        archived manifests. Returns removed paths. Referenced dirs are
        never touched.

        ``min_age_seconds`` is the staleness horizon that makes vacuum
        safe to run WHILE writers are active: an unreferenced dir may
        be a crash orphan — or the staged dir of an in-flight
        transaction that is about to commit (vacuum cannot tell them
        apart; the manifest only learns about a dir at commit). Only
        candidates whose mtime is older than the horizon are swept, so
        vacuum never destroys the staging of any transaction younger
        than ``min_age_seconds`` (the Delta VACUUM retention-interval
        contract, applied to stagings: size the horizon above your
        longest-running transaction; pass 0 only when no writer is
        live). The same horizon protects writers' pointer temp files.

        ``retain_last=0`` (default) keeps only the CURRENT snapshot and
        drops all history. For COMPLETE physical erasure (GDPR: the
        erased bytes must leave the disk NOW), quiesce writers and call
        ``vacuum(min_age_seconds=0)`` — under the default horizon a
        just-erased data dir younger than an hour is deliberately left
        for the next sweep, because vacuum cannot distinguish it from a
        live transaction's staging. ``retain_last=N`` keeps the last N
        archived versions readable via ``read_version`` (the Delta
        ``VACUUM RETAIN`` analog: bound the storage cost of time travel
        without losing the recent undo window). Note the retention
        window is computed from one directory listing at scan time: a
        version committed DURING the sweep is never removed (its
        archive is newer than the scan), and every removal tolerates
        the target vanishing to a concurrent writer or second vacuum."""
        now = time.time()

        def _stale(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) >= min_age_seconds
            except OSError:
                return False  # vanished mid-sweep → someone owns it

        cur = self.manifest()
        live = {rel for dirs in cur["tables"].values() for rel in dirs}
        hist = os.path.join(self.root, MANIFEST_DIR)
        removed: list[str] = []
        keep_versions: set[int] = set()
        # ONE listing drives the archive removal below: versions that
        # land after this point are invisible to the sweep, so a
        # concurrent commit's archive can never be collected out from
        # under retain_last
        try:
            hist_entries = sorted(os.listdir(hist))
        except FileNotFoundError:  # no history yet, or a concurrent
            hist_entries = []      # vacuum(0) just reclaimed the dir
        versions = sorted(
            int(f[1:-5])
            for f in hist_entries
            if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
        )
        if retain_last > 0 and versions:
            keep_versions = set(versions[-retain_last:])
            for v in keep_versions:
                try:
                    with open(os.path.join(hist, f"v{v}.json")) as f:
                        man = json.load(f)
                except FileNotFoundError:
                    continue  # another vacuum expired it first
                live |= {rel for dirs in man["tables"].values() for rel in dirs}
        for entry in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, entry)
            if entry.startswith(MANIFEST + ".tmp."):
                # pointer temp left by a killed writer — but a FRESH one
                # belongs to a commit in flight between fsync and rename
                if _stale(tdir):
                    try:
                        os.remove(tdir)
                        removed.append(entry)
                    except FileNotFoundError:
                        pass  # the writer's os.replace won the race
                continue
            if entry in (MANIFEST, MANIFEST_DIR) or not os.path.isdir(tdir):
                continue
            try:
                subs = sorted(os.listdir(tdir))
            except FileNotFoundError:
                continue  # a concurrent vacuum rmdir'd the emptied dir
            for sub in subs:
                rel = f"{entry}/{sub}"
                # an unreferenced FRESH dir may be an in-flight
                # transaction's staging — only sweep past the horizon
                if rel not in live and _stale(self._abs(rel)):
                    try:
                        shutil.rmtree(self._abs(rel))
                        removed.append(rel)
                    except FileNotFoundError:
                        pass  # a concurrent vacuum swept it first
            try:
                os.rmdir(tdir)  # only succeeds when truly empty
            except OSError:
                pass  # non-empty (possibly a staging landed mid-sweep)
        for f in hist_entries:
            fpath = os.path.join(hist, f)
            # archive temps (.v<N>.tmp.<pid>) left by a writer killed
            # between pointer swap and archive rename: sweep once
            # stale, same horizon as stagings — a FRESH temp belongs to
            # a commit whose archive rename is in flight
            if ".tmp." in f:
                if _stale(fpath):
                    try:
                        os.remove(fpath)
                        removed.append(f"{MANIFEST_DIR}/{f}")
                    except FileNotFoundError:
                        pass
                continue
            # same v*.json filter as keep_versions above: a stray file
            # (editor temp, .DS_Store, or a "vacuum.json" that passes the
            # shape test but not the version parse) must not abort the
            # sweep. With a retention window strays are left alone
            # (conservative); under retain_last=0 they ARE removed —
            # complete-erasure callers expect vacuum(0) to leave no
            # history residue, and a stray would otherwise block the
            # final rmdir forever.
            v = None
            if f.startswith("v") and f.endswith(".json"):
                try:
                    v = int(f[1:-5])
                except ValueError:
                    v = None
            if v is None:
                if retain_last <= 0:
                    try:
                        os.remove(fpath)
                        removed.append(f"{MANIFEST_DIR}/{f}")
                    except OSError:
                        pass  # vanished, or a directory — leave it
                continue
            if v not in keep_versions:
                try:
                    os.remove(fpath)
                    removed.append(f"{MANIFEST_DIR}/{f}")
                except FileNotFoundError:
                    pass
        if retain_last <= 0:
            # drop the (now empty) history dir itself, but never rmtree
            # it wholesale: a concurrent committer may be mid-archive
            try:
                os.rmdir(hist)
                removed.append(MANIFEST_DIR)
            except OSError:
                pass  # non-empty (fresh temp / new archive) or gone
        return removed


class _Transaction:
    """Staged view of the warehouse: read-your-own-writes within the
    transaction, invisible to everyone else until the pointer swap."""

    def __init__(self, wh: AtomicWarehouse):
        self.wh = wh
        base = wh.manifest()
        self.base_version: int = base["version"]
        # deep-ish copy: lists are replaced, never mutated in place
        self.tables: dict[str, list[str]] = {
            t: list(d) for t, d in base["tables"].items()
        }
        self.stats: dict[str, dict] = {
            rel: dict(s) for rel, s in base.get("stats", {}).items()
        }
        self.committed = False

    # the warehouse's table surface → medallion stages run unchanged
    def exists(self, table: str) -> bool:
        return table in self.tables

    def read(self, table: str) -> DataFrame:
        dirs = self.tables.get(table)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} not in transaction view")
        return _read_dirs(self.wh.spark, [self.wh._abs(d) for d in dirs])

    def _new_dir(self, table: str) -> str:
        rel = f"{table}/z{self.base_version + 1}_{uuid.uuid4().hex[:8]}"
        os.makedirs(os.path.dirname(self.wh._abs(rel)), exist_ok=True)
        return rel

    def _stage_stats(self, rel: str, table: str) -> None:
        """Record stats (+ Bloom filters for the table's configured
        key columns) for a freshly staged dir — one call per write
        path so every dir carries the same pruning metadata."""
        dst = self.wh._abs(rel)
        st = _dir_stats(dst)
        cols = self.wh.bloom_cols.get(table)
        if cols:
            bl = _dir_bloom(dst, cols)
            if bl:
                st["__bloom__"] = bl
        self.stats[rel] = st

    def _write(self, table: str, df, carry=()) -> str:
        """Stage one fresh data dir of `table` with its stats and return
        it. `df` is one DataFrame, or a list of them written one after
        another (the files of the i-th named ``part-rw<i>-<j>``).
        `carry` lists existing part files hardlinked in, byte-identical."""
        rel = self._new_dir(table)
        dst = self.wh._abs(rel)
        if isinstance(df, DataFrame):
            df.write.mode("errorifexists").parquet(dst)
        else:
            os.makedirs(dst)
            for i, one in enumerate(df):
                sub = os.path.join(dst, f"_rw{i}")
                one.write.mode("errorifexists").parquet(sub)
                for j, name in enumerate(_part_files(sub)):
                    os.replace(
                        os.path.join(sub, name),
                        os.path.join(dst, f"part-rw{i:05d}-{j}.parquet"),
                    )
                shutil.rmtree(sub)
        for k, src in enumerate(carry):
            name = os.path.basename(src)
            if os.path.exists(os.path.join(dst, name)):
                name = f"c{k}-{name}"
            _link(src, os.path.join(dst, name))
        self._stage_stats(rel, table)
        return rel

    def append(self, df: DataFrame, table: str) -> int:
        """Stage `df` as a new data dir of `table` and return the rows
        it holds (footer ``num_rows``). A frame of 0 rows stages
        nothing."""
        rel = self._write(table, df)
        n = self.stats[rel][ROWS_KEY]
        if n:
            self.tables[table] = self.tables.get(table, []) + [rel]
        else:
            del self.stats[rel]
            shutil.rmtree(self.wh._abs(rel))
        return n

    def append_parquet_dir(
        self, src_dir: str, table: str, link: bool = False
    ) -> str:
        """Stage ALREADY-WRITTEN parquet files (any producer — pyarrow,
        another engine, a Spark ``partitionBy`` write) as one new data
        dir: the IMPORT / ADD FILES analog. Lets other writers commit
        through the same transactional protocol. ``k=v/`` partition
        subdirectories are kept as they are.

        Files are COPIED by default: a hardlink would share inodes
        with files the producer still owns, so a later in-place
        rewrite of the source would silently mutate the committed
        (supposedly immutable) snapshot and every time-travel view of
        it. Pass ``link=True`` only when the caller guarantees the
        source files are never modified in place (e.g. a staging dir
        that is deleted right after commit — deletion is safe, the
        inode survives; modification is not)."""
        files = _part_files(src_dir)
        if not files:
            # committing an empty data dir would only surface later as
            # Spark's unable-to-infer-schema read error, far from the
            # typo'd path / wrong-format producer that caused it
            raise FileNotFoundError(
                f"append_parquet_dir: no *.parquet files in {src_dir!r}"
            )
        rel = self._new_dir(table)
        dst = self.wh._abs(rel)
        for f in files:
            s, d = os.path.join(src_dir, f), os.path.join(dst, f)
            os.makedirs(os.path.dirname(d), exist_ok=True)
            if link:
                _link(s, d)
            else:
                shutil.copy2(s, d)
        self._stage_stats(rel, table)
        self.tables[table] = self.tables.get(table, []) + [rel]
        return rel

    def overwrite(self, df: DataFrame, table: str) -> int:
        """Stage `df` as the table's only data dir and return its rows.
        A frame of 0 rows still stages a dir: the empty table keeps its
        schema."""
        rel = self._write(table, df)
        self.tables[table] = [rel]
        return self.stats[rel][ROWS_KEY]

    def replace_dirs(
        self, table: str, drop: list[str], df, carry=()
    ) -> str | None:
        """Surgical rewrite: remove `drop` dirs from the table's list
        and (if df is not None) add one fresh dir holding `df` and the
        `carry` files (see `_write`) — untouched dirs stay listed
        as-is, byte-identical. The erasure and compaction primitive:
        candidates collapse into one rewritten dir, clean dirs never
        move."""
        keep = [d for d in self.tables.get(table, []) if d not in set(drop)]
        rel = None
        if df is not None:
            rel = self._write(table, df, carry)
            keep = keep + [rel]
        self.tables[table] = keep
        return rel

    def _commit(self) -> None:
        if self.committed:
            return
        import fcntl

        # exclusive flock around check-and-swap: without it two
        # PROCESSES can both read version N, both pass the CAS check,
        # and the second os.replace silently discards the first commit.
        # The kernel releases the lock when the holder exits/dies, so a
        # kill -9 mid-commit cannot wedge the warehouse.
        lock_path = self.wh._pointer() + ".lock"
        with open(lock_path, "a") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            current = self.wh.manifest()
            if current["version"] != self.base_version:
                raise ConflictError(
                    f"manifest advanced v{self.base_version} → "
                    f"v{current['version']} during transaction; retry on the "
                    "new snapshot"
                )
            live = {rel for dirs in self.tables.values() for rel in dirs}
            new = {
                "version": self.base_version + 1,
                "tables": self.tables,
                # stats only for live dirs — dropped versions' stats go too
                "stats": {rel: s for rel, s in self.stats.items() if rel in live},
            }
            tmp = self.wh._pointer() + f".tmp.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(new, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.wh._pointer())  # THE commit point
            # archive AFTER the swap: a crash in between loses only the
            # time-travel entry (read_version fails cleanly; the dirs
            # stay protected via the current pointer) — archiving first
            # would instead expose an UNCOMMITTED phantom snapshot to
            # read_version if the writer died before the swap. Best
            # effort by the same logic: the COMMIT already landed at the
            # pointer rename, so a concurrent vacuum(retain_last=0)
            # deleting the history dir mid-archive must not turn a
            # successful commit into a raised error (the caller would
            # retry and duplicate the batch).
            try:
                hist = os.path.join(self.wh.root, MANIFEST_DIR)
                os.makedirs(hist, exist_ok=True)
                htmp = os.path.join(hist, f".v{new['version']}.tmp.{os.getpid()}")
                with open(htmp, "w") as f:
                    json.dump(new, f)
                os.replace(htmp, os.path.join(hist, f"v{new['version']}.json"))
            except OSError:
                pass  # time-travel entry lost; the snapshot itself is live
        self.committed = True


def table_changes(
    wh: AtomicWarehouse,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change Data Feed between two committed snapshots — the Delta
    CDF analog over the manifest's time travel. Rows present only in
    the newer snapshot come back as `_change_type='insert'`, rows only
    in the older as `'delete'`; an update is its delete+insert pair
    (bag semantics via exceptAll, so duplicate multiplicity changes
    surface too). `to_version=None` diffs against the CURRENT pointer.

    Fast path: data dirs shared by both manifests cancel EXACTLY, so
    only the dirs that differ are read — appends between versions cost
    one scan of the appended dirs, nothing else. Valid until vacuum()
    truncates the archived manifests."""
    from pyspark.sql import functions as F

    def dirs_at(version: int | None) -> list[str]:
        if version is None:
            man = wh.manifest()
        else:
            with open(os.path.join(wh.root, MANIFEST_DIR, f"v{version}.json")) as f:
                man = json.load(f)
        return man["tables"].get(table, [])

    old_dirs = dirs_at(from_version)
    new_dirs = dirs_at(to_version)
    if not old_dirs and not new_dirs:
        raise FileNotFoundError(
            f"table {table!r} not in manifest v{from_version} or "
            f"v{to_version if to_version is not None else 'current'}"
        )
    shared = set(old_dirs) & set(new_dirs)
    old_only = [d for d in old_dirs if d not in shared]
    new_only = [d for d in new_dirs if d not in shared]

    def read_dirs(dirs: list[str]) -> DataFrame | None:
        if not dirs:
            return None
        return _read_dirs(wh.spark, [wh._abs(d) for d in dirs])

    old_df, new_df = read_dirs(old_only), read_dirs(new_only)
    if old_df is None and new_df is None:
        base = wh.read(table) if new_dirs else read_dirs(old_dirs)
        return base.limit(0).withColumn("_change_type", F.lit(""))
    if old_df is None:
        return new_df.withColumn("_change_type", F.lit("insert"))
    if new_df is None:
        return old_df.withColumn("_change_type", F.lit("delete"))
    inserts = new_df.exceptAll(old_df).withColumn("_change_type", F.lit("insert"))
    deletes = old_df.exceptAll(new_df).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def compact_table(
    wh: AtomicWarehouse,
    table: str,
    target_file_mb: int = 128,
    sort_by: list[str] | None = None,
) -> dict:
    """Small-file compaction — the OPTIMIZE analog for the manifest
    warehouse. Many append batches leave a table as many directories
    of many small files;
    listing and per-file open costs then dominate scans at lake scale.
    This rewrites the WHOLE table as one directory of
    ~`target_file_mb` files (optionally sorted so min/max stats become
    selective — the poor man's Z-order; io.py has the real one),
    committed atomically: readers see the old layout or the new,
    never a mixture, and the data is byte-for-byte the same rows.

    Sizing uses the current on-disk bytes (compressed parquet → the
    new files land near target). Returns
    ``{"dirs_before", "files_before", "files_after", "bytes"}``.
    Old dirs remain until vacuum().

    The dir list is captured and read INSIDE the transaction so the
    commit CAS covers the exact snapshot the rewrite was computed
    from: a commit landing between a pre-transaction read and the
    commit (e.g. an erasure) would otherwise base this transaction on
    the newer manifest, dodge the version check, and append a
    compacted dir rebuilt from the pre-erasure data — duplicating
    rows and resurrecting erased records."""
    with wh.transaction() as txn:
        dirs = txn.tables.get(table)
        if not dirs:
            raise FileNotFoundError(f"table {table!r} not in manifest")
        dirs = list(dirs)
        n_bytes = n_files = 0
        for rel in dirs:
            base = wh._abs(rel)
            for name in _part_files(base):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(base, name))
        n_out = max(1, -(-n_bytes // (target_file_mb * 1024 * 1024)))
        df = txn.read(table)
        if sort_by:
            df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
        else:
            df = df.repartition(n_out)
        new_rel = txn.replace_dirs(table, drop=dirs, df=df)
    files_after = len(_part_files(wh._abs(new_rel)))
    return {
        "dirs_before": len(dirs),
        "files_before": n_files,
        "files_after": files_after,
        "bytes": n_bytes,
    }


def run_pipeline_atomic(
    spark: SparkSession,
    wh: AtomicWarehouse,
    batch: DataFrame,
    run_ts: str,
    run_id: str | None = None,
    run_log_jsonl: str | None = None,
) -> dict[str, int]:
    """The reference's one-commit-across-all-tables run shape
    (load.py:271,277): every medallion stage writes through ONE
    transaction, so bronze, all silver tables, and gold flip to the
    new snapshot together — or, on any failure, not at all.

    The stages are medallion.py's, run delta-driven (the module
    docstring's delta invariant): silver and gold fold only this run's
    new bronze rows, so a run's cost follows its batch, not the
    warehouse's age. An empty delta cannot hold a key new to silver,
    so such a run skips silver and gold. Row counts come from the
    manifest (`rows`), not from count jobs; a table not yet written
    counts 0. The stages are looked up on the medallion module at call
    time, so a caller that patches them (tracing, fault injection)
    sees every stage.
    """
    from . import medallion

    logger = None
    if run_id is not None:
        from .runlog import RunLogger

        logger = RunLogger(run_id, run_ts, jsonl_path=run_log_jsonl)

    with wh.transaction() as txn:
        appended, delta = medallion.load_bronze(txn, batch)
        try:
            if logger:
                logger.log("bronze", "merged", appended=appended)
            if appended:
                new_silver = medallion.transform_silver(txn, run_ts, delta)
                if logger:
                    logger.log("silver", "transformed")
                medallion.build_gold(txn, new_silver)
                if logger:
                    logger.log("gold", "built")
        finally:
            delta.unpersist()
        if logger:
            # A28: the run log commits WITH the data — one pointer swap
            logger.flush(spark, txn)
    tables = {
        "bronze_total": medallion.BRONZE_TX,
        "silver_tx": medallion.SILVER_TX,
        "silver_counterparties": medallion.SILVER_CP,
        "silver_merchants": medallion.SILVER_ME,
        "gold_rows": medallion.GOLD_MONTHLY,
    }
    return {"bronze_appended": appended} | {
        key: wh.rows(t) if wh.exists(t) else 0 for key, t in tables.items()
    }
