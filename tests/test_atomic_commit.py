"""Crash-injection tests for the manifest-pointer transactional
warehouse (A14): one commit across all tables, or nothing.

Reference semantics being proven: /root/reference/src/load/load.py:271
— transactions, balance, and pots become visible via a single
conn.commit(); a crash mid-run must never expose a half-updated
warehouse.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from monzo_data_pipeline_spark.pipeline.atomic import (  # noqa: E402
    AtomicWarehouse,
    ConflictError,
    run_pipeline_atomic,
)


def _df(spark, vals, col="v"):
    return spark.createDataFrame([(int(x),) for x in vals], f"{col} bigint")


def _vals(df, col="v"):
    return sorted(r[col] for r in df.collect())


@pytest.fixture()
def wh(spark, tmp_path):
    return AtomicWarehouse(spark, str(tmp_path / "wh"))


def test_multi_table_commit_is_all_or_nothing(wh, spark):
    # seed a consistent v1 snapshot across two tables
    with wh.transaction() as txn:
        txn.overwrite(_df(spark, [1, 2]), "t_fact")
        txn.overwrite(_df(spark, [10]), "t_dim")
    assert _vals(wh.read("t_fact")) == [1, 2]

    # crash AFTER the first table's files are written, BEFORE commit —
    # the reference's "between table writes" exposure
    class Boom(RuntimeError):
        pass

    with pytest.raises(Boom):
        with wh.transaction() as txn:
            txn.append(_df(spark, [3]), "t_fact")
            assert _vals(txn.read("t_fact")) == [1, 2, 3]  # own writes
            raise Boom()  # crash before t_dim is updated

    # readers still see the OLD consistent snapshot of BOTH tables
    assert _vals(wh.read("t_fact")) == [1, 2]
    assert _vals(wh.read("t_dim")) == [10]
    assert wh.manifest()["version"] == 1

    # the completed retry flips both tables together
    with wh.transaction() as txn:
        txn.append(_df(spark, [3]), "t_fact")
        txn.append(_df(spark, [11]), "t_dim")
    assert _vals(wh.read("t_fact")) == [1, 2, 3]
    assert _vals(wh.read("t_dim")) == [10, 11]
    assert wh.manifest()["version"] == 2


def test_vacuum_sweeps_crash_orphans_only(wh, spark):
    wh.overwrite(_df(spark, [1]), "t")
    try:
        with wh.transaction() as txn:
            txn.overwrite(_df(spark, [99]), "t")
            raise RuntimeError("crash")
    except RuntimeError:
        pass
    before = _vals(wh.read("t"))
    removed = wh.vacuum(min_age_seconds=0)
    # exactly one orphaned data dir (plus manifest history) swept
    assert sum(r.startswith("t/") for r in removed) == 1
    assert _vals(wh.read("t")) == before == [1]


def test_isolation_until_commit(wh, spark):
    wh.overwrite(_df(spark, [1]), "t")
    with wh.transaction() as txn:
        txn.append(_df(spark, [2]), "t")
        # a concurrent reader during the transaction sees only v1
        assert _vals(wh.read("t")) == [1]
        assert _vals(txn.read("t")) == [1, 2]
    assert _vals(wh.read("t")) == [1, 2]


def test_conflicting_writers_detected(wh, spark):
    wh.overwrite(_df(spark, [1]), "t")
    with pytest.raises(ConflictError):
        with wh.transaction() as txn:
            txn.append(_df(spark, [2]), "t")
            # a second writer commits while txn is open
            wh.append(_df(spark, [3]), "t")
    # the interloper's commit stands; the losing txn left no trace
    assert _vals(wh.read("t")) == [1, 3]


def test_time_travel_until_vacuum(wh, spark):
    wh.overwrite(_df(spark, [1]), "t")  # v1
    wh.append(_df(spark, [2]), "t")  # v2
    wh.overwrite(_df(spark, [9]), "t")  # v3
    assert _vals(wh.read_version("t", 1)) == [1]
    assert _vals(wh.read_version("t", 2)) == [1, 2]
    assert _vals(wh.read("t")) == [9]
    wh.vacuum(min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        wh.read_version("t", 1)


def test_full_pipeline_one_commit(wh, spark):
    """medallion's bronze→silver→gold stages run unchanged inside one
    transaction; a mid-pipeline failure leaves version 0 (no tables),
    a clean run commits all six tables at version 1."""
    from monzo_data_pipeline_spark.pipeline.ingest import (
        cursor_windows,
        fetch_transactions_distributed,
        flatten_bronze,
        make_fake_fetch,
    )

    windows = cursor_windows(
        __import__("datetime").datetime(2025, 1, 1),
        __import__("datetime").datetime(2025, 1, 3),
        24,
    )
    wire = fetch_transactions_distributed(spark, make_fake_fetch(), windows)
    batch = flatten_bronze(wire, "2025-01-04T00:00:00")

    report = run_pipeline_atomic(spark, wh, batch, "2025-01-04T00:00:00")
    assert report["bronze_appended"] > 0
    assert report["silver_tx"] > 0
    m = wh.manifest()
    assert m["version"] == 1
    assert set(m["tables"]) >= {
        "bronze_transactions",
        "silver_transactions",
        "silver_counterparties",
        "silver_merchants",
        "gold_monthly_spending",
    }
    # idempotent re-run: same batch adds nothing, still one commit
    report2 = run_pipeline_atomic(spark, wh, batch, "2025-01-05T00:00:00")
    assert report2["bronze_appended"] == 0
    assert report2["bronze_total"] == report["bronze_total"]
    assert wh.manifest()["version"] == 2


def test_atomic_erasure_one_commit_all_tables(wh, spark):
    from monzo_data_pipeline_spark.pipeline.erasure import erase_keys

    with wh.transaction() as txn:
        txn.overwrite(
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c")], "user_id bigint, v string"
            ).coalesce(1),
            "t1",
        )
        txn.overwrite(
            spark.createDataFrame(
                [(2, 20), (4, 40)], "user_id bigint, x bigint"
            ).coalesce(1),
            "t2",
        )
        txn.overwrite(
            spark.createDataFrame([(9,)], "other bigint"), "t3"
        )
    ids = spark.createDataFrame([(2,)], "user_id bigint")
    report = erase_keys(wh, ids, "user_id", ["t1", "t2", "t3", "t_missing"])
    one = {"dirs_total": 1, "dirs_rewritten": 1, "files_total": 1, "files_rewritten": 1}
    assert report == {
        "t1": {"rows_removed": 1} | one,
        "t2": {"rows_removed": 1} | one,
        "t3": {
            "rows_removed": -1,
            "dirs_total": 0,
            "dirs_rewritten": 0,
            "files_total": 0,
            "files_rewritten": 0,
        },
    }
    assert wh.manifest()["version"] == 2  # ONE commit for the whole erasure
    assert sorted(r.user_id for r in wh.read("t1").collect()) == [1, 3]
    assert sorted(r.user_id for r in wh.read("t2").collect()) == [4]
    # pre-erasure snapshot recoverable only until vacuum (then gone)
    assert wh.read_version("t1", 1).count() == 3
    wh.vacuum(min_age_seconds=0)
    import pytest as _pt

    with _pt.raises(FileNotFoundError):
        wh.read_version("t1", 1)


def test_schema_evolution_across_commits_with_time_travel(spark, tmp_path):
    """Additive schema evolution through the manifest: a later commit
    overwrites a table with an extra column; current readers see the
    new schema, time travel still reads the PRE-evolution snapshot
    with the old schema — the manifest pins each version to its own
    data dir, so evolution never rewrites history."""
    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse

    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    with wh.transaction() as tx:
        tx.overwrite(v1, "dim")
    v2 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, name string, score double",
    )
    with wh.transaction() as tx:
        tx.overwrite(v2, "dim")

    now = wh.read("dim")
    assert set(now.columns) == {"id", "name", "score"}
    assert now.count() == 3
    old = wh.read_version("dim", 1)
    assert set(old.columns) == {"id", "name"}
    assert old.count() == 2


def test_manifest_records_dir_stats_and_read_pruned(spark, tmp_path):
    """Write-time footer scan lands per-dir min/max in the manifest;
    read_pruned skips dirs that provably exclude the lookup keys with
    zero data/footer IO at read time."""
    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse

    wh = AtomicWarehouse(spark, str(tmp_path))
    for lo in (0, 1000, 2000):  # three append batches, disjoint ranges
        wh.append(
            spark.createDataFrame(
                [(lo + i, f"p{lo + i}") for i in range(100)],
                "user_id bigint, payload string",
            ),
            "tx",
        )
    man = wh.manifest()
    dirs = man["tables"]["tx"]
    assert len(dirs) == 3
    spans = sorted(tuple(man["stats"][d]["user_id"]) for d in dirs)
    assert spans == [(0, 99), (1000, 1099), (2000, 2099)]

    cand, clean = wh.pruned_dirs("tx", "user_id", [1005, 1050])
    assert len(cand) == 1 and len(clean) == 2
    got = wh.read_pruned("tx", "user_id", [1005, 1050])
    assert got.count() == 100  # only the middle batch read
    assert {r.user_id for r in got.filter("user_id in (1005, 1050)").collect()} == {
        1005,
        1050,
    }
    # off-range keys prune everything -> empty frame, schema intact
    none = wh.read_pruned("tx", "user_id", [99999])
    assert none.count() == 0 and none.columns == ["user_id", "payload"]


def test_erase_keys_atomic_pruned_one_commit_clean_dirs_untouched(spark, tmp_path):
    import hashlib
    import os

    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
    from monzo_data_pipeline_spark.pipeline.erasure import erase_keys

    wh = AtomicWarehouse(spark, str(tmp_path))
    for lo in (0, 1000, 2000):
        wh.append(
            spark.createDataFrame(
                [(lo + i, f"p{lo + i}") for i in range(100)],
                "user_id bigint, payload string",
            ).coalesce(1),
            "tx",
        )
    wh.overwrite(
        spark.createDataFrame([(5, 1.0), (1500, 2.0)], "user_id bigint, v double"),
        "scores",
    )
    v_before = wh.manifest()["version"]
    clean_dirs = wh.pruned_dirs("tx", "user_id", [5])[1]

    def dir_bytes(rel):
        base = os.path.join(str(tmp_path), rel)
        return {
            n: hashlib.md5(open(os.path.join(base, n), "rb").read()).hexdigest()
            for n in sorted(os.listdir(base))
            if n.endswith(".parquet")
        }

    before = {d: dir_bytes(d) for d in clean_dirs}
    ids = spark.createDataFrame([(5,)], "user_id bigint")
    report = erase_keys(wh, ids, "user_id", ["tx", "scores"])

    assert report["tx"] == {
        "rows_removed": 1,
        "dirs_total": 3,
        "dirs_rewritten": 1,
        "files_total": 3,
        "files_rewritten": 1,
    }
    assert report["scores"]["rows_removed"] == 1
    # ONE commit for both tables
    assert wh.manifest()["version"] == v_before + 1
    # clean dirs still listed, bytes untouched
    now = wh.manifest()["tables"]["tx"]
    assert set(clean_dirs) <= set(now) and len(now) == 3
    assert {d: dir_bytes(d) for d in clean_dirs} == before
    assert wh.read("tx").filter("user_id = 5").count() == 0
    assert wh.read("tx").count() == 299
    assert {r.user_id for r in wh.read("scores").collect()} == {1500}
    # stats follow the rewrite: new dir has stats, dropped dir's are gone
    stats = wh.manifest()["stats"]
    assert set(stats) == set(now) | set(wh.manifest()["tables"]["scores"])
    # vacuum sweeps the retired candidate dir
    removed = wh.vacuum(min_age_seconds=0)
    assert any(rel.startswith("tx/") for rel in removed)


def test_compact_table_one_dir_same_rows_sorted_stats(spark, tmp_path):
    """OPTIMIZE analog: many append dirs collapse into one atomically;
    rows identical; sort_by makes the compacted dir's manifest stats
    range-selective again."""
    from pyspark.sql import functions as F

    from monzo_data_pipeline_spark.pipeline.atomic import (
        AtomicWarehouse,
        compact_table,
    )

    wh = AtomicWarehouse(spark, str(tmp_path))
    # interleaved key ranges across 4 small append batches
    for r in range(4):
        wh.append(
            spark.createDataFrame(
                [(i * 4 + r, f"p{i * 4 + r}") for i in range(250)],
                "user_id bigint, payload string",
            ),
            "tx",
        )
    before = wh.read("tx").agg(
        F.count("*").alias("n"), F.sum("user_id").alias("s")
    ).collect()[0]
    assert len(wh.manifest()["tables"]["tx"]) == 4
    # interleaved appends: every dir spans ~the whole domain, so an
    # interior key prunes nothing
    cand, clean = wh.pruned_dirs("tx", "user_id", [500])
    assert len(clean) == 0

    report = compact_table(wh, "tx", target_file_mb=128, sort_by=["user_id"])
    assert report["dirs_before"] == 4 and report["files_after"] >= 1

    now = wh.manifest()["tables"]["tx"]
    assert len(now) == 1
    after = wh.read("tx").agg(
        F.count("*").alias("n"), F.sum("user_id").alias("s")
    ).collect()[0]
    assert (before["n"], before["s"]) == (after["n"], after["s"]) == (1000, 499500)
    # stats recorded for the compacted dir and span the full domain
    assert wh.manifest()["stats"][now[0]]["user_id"] == [0, 999]
    # old dirs are vacuumable orphans
    assert len([r for r in wh.vacuum(min_age_seconds=0) if r.startswith("tx/")]) == 4
    assert wh.read("tx").count() == 1000


def test_table_changes_cdf_between_versions(spark, tmp_path):
    """CDF over manifest time travel: appends show as inserts reading
    ONLY the appended dirs; erasure shows as deletes; shared dirs
    cancel without being scanned."""
    from monzo_data_pipeline_spark.pipeline.atomic import (
        AtomicWarehouse,
        table_changes,
    )
    from monzo_data_pipeline_spark.pipeline.erasure import erase_keys

    wh = AtomicWarehouse(spark, str(tmp_path))
    wh.overwrite(
        spark.createDataFrame([(i, f"a{i}") for i in range(5)], "k bigint, v string"),
        "t",
    )  # v1
    wh.append(
        spark.createDataFrame([(10 + i, f"b{i}") for i in range(3)], "k bigint, v string"),
        "t",
    )  # v2
    # v1 -> v2: pure append, inserts only
    ch = table_changes(wh, "t", 1, 2).collect()
    assert {(r.k, r._change_type) for r in ch} == {(10, "insert"), (11, "insert"), (12, "insert")}

    # v2 -> current after an erasure: one delete
    erase_keys(
        wh, spark.createDataFrame([(2,)], "k bigint"), "k", ["t"]
    )  # v3
    ch2 = table_changes(wh, "t", 2).collect()
    types = {(r.k, r._change_type) for r in ch2}
    # the rewritten dir replaces the v1 dir: row k=2 gone, others re-written
    # cancel via exceptAll (same rows both sides)
    assert (2, "delete") in types
    assert not any(t == "insert" for _, t in types)

    # identical versions -> empty frame with the _change_type column
    same = table_changes(wh, "t", 2, 2)
    assert same.count() == 0 and "_change_type" in same.columns


def test_table_changes_unknown_table_raises(spark, tmp_path):
    from monzo_data_pipeline_spark.pipeline.atomic import (
        AtomicWarehouse,
        table_changes,
    )

    wh = AtomicWarehouse(spark, str(tmp_path))
    wh.overwrite(spark.createDataFrame([(1,)], "k bigint"), "t")
    with pytest.raises(FileNotFoundError):
        table_changes(wh, "nope", 1)


def test_vacuum_retention_window(spark, tmp_path):
    """vacuum(retain_last=N): the last N archived versions stay
    time-travel-readable; older snapshots and their exclusive dirs
    are swept; default retain_last=0 keeps the full-truncate
    semantics existing callers rely on."""
    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse

    wh = AtomicWarehouse(spark, str(tmp_path))
    for v in (1, 2, 3, 4):
        wh.overwrite(_df(spark, list(range(v))), "t")  # v1..v4
    assert wh.manifest()["version"] == 4

    removed = wh.vacuum(retain_last=2, min_age_seconds=0)
    # v3 and v4 survive; v1/v2 dirs + manifests are gone
    assert _vals(wh.read_version("t", 3)) == [0, 1, 2]
    assert _vals(wh.read_version("t", 4)) == [0, 1, 2, 3]
    with pytest.raises(FileNotFoundError):
        wh.read_version("t", 1)
    assert any(r.startswith("_manifests/") for r in removed)
    assert sum(r.startswith("t/") for r in removed) == 2  # v1+v2 dirs
    # current snapshot untouched throughout
    assert _vals(wh.read("t")) == [0, 1, 2, 3]
    # full truncate still works afterwards
    wh.vacuum(min_age_seconds=0)
    with pytest.raises(FileNotFoundError):
        wh.read_version("t", 3)
    assert _vals(wh.read("t")) == [0, 1, 2, 3]


def test_pre_stats_manifest_backward_compat(spark, tmp_path):
    """Warehouses committed before r3 have no 'stats' key in the
    manifest: pruning must degrade to 'every dir is a candidate'
    (never assume exclusion) and the next commit starts recording
    stats without disturbing old entries."""
    import json
    import os

    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse

    wh = AtomicWarehouse(spark, str(tmp_path))
    wh.append(spark.createDataFrame([(i,) for i in range(10)], "k bigint"), "t")
    # simulate an r2-era manifest: strip the stats key in place
    man = wh.manifest()
    man.pop("stats", None)
    with open(os.path.join(str(tmp_path), "_manifest.json"), "w") as f:
        json.dump(man, f)

    cand, clean = wh.pruned_dirs("t", "k", [99999])  # far out of range
    assert clean == [] and len(cand) == 1  # no stats -> cannot prune
    assert wh.read_pruned("t", "k", [5]).count() == 10

    # a new append records stats for ITS dir; the legacy dir stays
    # stats-less and conservative
    wh.append(
        spark.createDataFrame([(1000 + i,) for i in range(10)], "k bigint"), "t"
    )
    stats = wh.manifest().get("stats", {})
    dirs = wh.manifest()["tables"]["t"]
    assert dirs[1] in stats and dirs[0] not in stats
    cand2, clean2 = wh.pruned_dirs("t", "k", [5])
    assert dirs[0] in cand2 and dirs[1] in clean2  # new dir prunable
    assert wh.read("t").count() == 20


def test_compact_conflicts_with_interleaved_commit(spark, tmp_path, monkeypatch):
    """A commit landing between compact_table's snapshot capture and its
    own commit must trip the version CAS (ConflictError), never merge:
    basing the rewrite on a pre-interloper snapshot and committing over
    the newer one would duplicate rows and resurrect erased (GDPR)
    records from the pre-erasure data."""
    from monzo_data_pipeline_spark.pipeline import atomic as A

    wh = A.AtomicWarehouse(spark, str(tmp_path))
    for r in range(2):
        wh.append(
            spark.createDataFrame(
                [(r * 10 + i,) for i in range(10)], "user_id bigint"
            ),
            "tx",
        )

    real_replace = A._Transaction.replace_dirs

    def interleaved(self, table, drop, df):
        # an erasure-like writer commits AFTER compact captured its dir
        # list and built its rewrite frame, BEFORE compact commits
        kept = wh.read("tx").filter("user_id >= 5")
        with wh.transaction() as txn2:
            txn2.overwrite(kept, "tx")
        return real_replace(self, table, drop, df)

    monkeypatch.setattr(A._Transaction, "replace_dirs", interleaved)
    with pytest.raises(ConflictError):
        A.compact_table(wh, "tx", target_file_mb=128)
    monkeypatch.undo()

    # the erasure stands; nothing duplicated, nothing resurrected
    assert _vals(wh.read("tx"), "user_id") == list(range(5, 20))
    # and a clean retry compacts the post-erasure snapshot
    report = A.compact_table(wh, "tx", target_file_mb=128)
    assert report["dirs_before"] == 1
    assert _vals(wh.read("tx"), "user_id") == list(range(5, 20))


def test_vacuum_tolerates_stray_files_in_manifest_dir(spark, tmp_path):
    """A non-v*.json file in _manifests (editor temp, .DS_Store) must
    not abort the retention sweep with ValueError."""
    import json

    from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse

    wh = AtomicWarehouse(spark, str(tmp_path))
    for r in range(3):
        wh.append(_df(spark, [r]), "t")
    hist = os.path.join(str(tmp_path), "_manifests")
    for stray in (".DS_Store", "v1.json.tmp", "vacuum.json"):
        with open(os.path.join(hist, stray), "w") as f:
            json.dump({}, f)

    removed = wh.vacuum(retain_last=1, min_age_seconds=0)
    assert any(r.startswith("_manifests/v") for r in removed)
    # strays survive untouched; retained manifest still readable
    assert os.path.exists(os.path.join(hist, ".DS_Store"))
    assert os.path.exists(os.path.join(hist, "vacuum.json"))
    assert wh.read_version("t", wh.manifest()["version"]).count() == 3

    # complete-erasure mode (retain_last=0) DOES sweep the strays so the
    # history dir can actually be reclaimed — no permanent residue
    wh.vacuum(min_age_seconds=0)
    assert not os.path.exists(hist)


def test_append_parquet_dir_empty_source_raises(wh, spark, tmp_path):
    # ADVICE r4: a src_dir with no *.parquet files (typo'd path, or a
    # producer that wrote .csv) must fail AT STAGE TIME, not surface
    # later as Spark's unable-to-infer-schema read error
    src = tmp_path / "not_parquet"
    src.mkdir()
    (src / "data.csv").write_text("a,b\n1,2\n")
    with pytest.raises(FileNotFoundError, match="no \\*\\.parquet"):
        with wh.transaction() as txn:
            txn.append_parquet_dir(str(src), "tx")
    # nothing was committed
    assert not wh.exists("tx")


# ---------------------------------------------------------------------------
# per-dir Bloom index


def _udf_df(spark, user_ids):
    return spark.createDataFrame(
        [(int(u), f"row{u}") for u in user_ids], "user_id bigint, payload string"
    )


def test_bloom_prunes_where_minmax_cannot(spark, tmp_path):
    """Two dirs with INTERLEAVED key ranges: both spans cover every
    value, so min/max stats alone prune nothing — the Bloom filter
    must separate them."""
    wh = AtomicWarehouse(
        spark, str(tmp_path / "whb"), bloom_cols={"tx": ["user_id"]}
    )
    evens = list(range(0, 200, 2))
    odds = list(range(1, 200, 2))
    with wh.transaction() as txn:
        txn.append(_udf_df(spark, evens), "tx")
    with wh.transaction() as txn:
        txn.append(_udf_df(spark, odds), "tx")
    dirs = wh.manifest()["tables"]["tx"]
    stats = wh.manifest()["stats"]
    # both dirs span [0..199] (or close): min/max can't separate
    assert all("__bloom__" in stats[d] for d in dirs)
    cand, clean = wh.pruned_dirs("tx", "user_id", [42])
    assert len(cand) == 1 and len(clean) == 1
    # the candidate really holds the row; the pruned read is exact
    got = wh.read_pruned("tx", "user_id", [42]).filter("user_id = 42")
    assert got.count() == 1
    # a value in neither dir: bloom may false-positive (~1%) but with
    # these sizes both dirs should prune for a far-out in-range probe
    cand2, _ = wh.pruned_dirs("tx", "user_id", [143])  # odd -> dir 2
    assert any(c in dirs for c in cand2)


def test_erase_keys_prunes_dirs_by_bloom_and_runs_no_count_job(spark, tmp_path, jobs_in):
    """erase_keys prunes dirs with `pruned_dirs`' predicate, Bloom
    filter included: on the interleaved evens/odds dirs min/max
    prunes nothing, the Bloom filter leaves only the evens dir to
    rewrite. Its counts come from footers, so it runs no count job:
    the erase-set collect, two parquet schema reads and the rewrite
    with its broadcast (2)."""
    from monzo_data_pipeline_spark.pipeline.erasure import erase_keys

    wh = AtomicWarehouse(
        spark, str(tmp_path / "whb"), bloom_cols={"tx": ["user_id"]}
    )
    with wh.transaction() as txn:
        txn.append(_udf_df(spark, range(0, 200, 2)), "tx")
    with wh.transaction() as txn:
        txn.append(_udf_df(spark, range(1, 200, 2)), "tx")
    evens, odds = wh.manifest()["tables"]["tx"]
    ids = _df(spark, [42], "user_id")
    report, jobs = jobs_in(
        "erase-one-table", lambda: erase_keys(wh, ids, "user_id", ["tx"])
    )
    assert report["tx"]["dirs_rewritten"] == 1
    assert report["tx"]["rows_removed"] == 1
    now = wh.manifest()["tables"]["tx"]
    assert odds in now and evens not in now
    assert wh.rows("tx") == wh.read("tx").count() == 199
    assert wh.read("tx").filter("user_id = 42").count() == 0
    store = spark.sparkContext._jsc.sc().statusStore()
    names = [store.job(j).name() for j in jobs]
    assert not any(n.startswith("count") for n in names), names
    assert len(jobs) == 5, names


def test_bloom_never_false_negative_randomized(spark, tmp_path):
    import random

    from pyspark.sql import functions as F

    rng = random.Random(17)
    wh = AtomicWarehouse(
        spark, str(tmp_path / "whr"), bloom_cols={"tx": ["user_id"]}
    )
    batches = [
        sorted(rng.sample(range(100_000), 150)) for _ in range(4)
    ]
    for b in batches:
        with wh.transaction() as txn:
            txn.append(_udf_df(spark, b), "tx")
    dirs = wh.manifest()["tables"]["tx"]
    # every stored value must keep its dir as a candidate
    for i, b in enumerate(batches):
        probe = rng.sample(b, 10)
        cand, _ = wh.pruned_dirs("tx", "user_id", probe)
        assert dirs[i] in cand
    # pruned read returns exactly the matching rows
    probe = [batches[0][0], batches[3][-1], 99_999_999]
    got = wh.read_pruned("tx", "user_id", probe).filter(
        F.col("user_id").isin(probe)
    )
    exp = sum(v in b for b in batches for v in probe)
    assert got.count() == exp


def test_bloom_string_keys_and_unindexed_table(spark, tmp_path):
    wh = AtomicWarehouse(
        spark, str(tmp_path / "whs"), bloom_cols={"tx": ["name"]}
    )
    a = spark.createDataFrame(
        [(i, f"user-{i}") for i in range(0, 100, 2)],
        "id bigint, name string",
    )
    b = spark.createDataFrame(
        [(i, f"user-{i}") for i in range(1, 100, 2)],
        "id bigint, name string",
    )
    with wh.transaction() as txn:
        txn.append(a, "tx")
        txn.append(b, "tx")
        # a table NOT in bloom_cols gets plain stats only
        txn.append(a, "other")
    cand, clean = wh.pruned_dirs("tx", "name", ["user-42"])
    assert len(cand) == 1 and len(clean) == 1
    assert wh.read_pruned("tx", "name", ["user-42"]).filter(
        "name = 'user-42'"
    ).count() == 1
    other_stats = wh.manifest()["stats"][
        wh.manifest()["tables"]["other"][0]
    ]
    assert "__bloom__" not in other_stats
    # pruning on a column with no bloom falls back to stats-only
    cand2, _ = wh.pruned_dirs("tx", "id", [42])
    assert len(cand2) == 2


def test_bloom_survives_compaction_and_vacuum(spark, tmp_path):
    from monzo_data_pipeline_spark.pipeline.atomic import compact_table

    wh = AtomicWarehouse(
        spark, str(tmp_path / "whc"), bloom_cols={"tx": ["user_id"]}
    )
    for lo in (0, 1000, 2000):
        with wh.transaction() as txn:
            txn.append(_udf_df(spark, range(lo, lo + 300)), "tx")
    compact_table(wh, "tx", sort_by=["user_id"])
    dirs = wh.manifest()["tables"]["tx"]
    assert len(dirs) == 1
    # the compacted dir re-derives its bloom through _stage_stats
    assert "__bloom__" in wh.manifest()["stats"][dirs[0]]
    assert wh.read_pruned("tx", "user_id", [1100]).filter(
        "user_id = 1100"
    ).count() == 1
    wh.vacuum(min_age_seconds=0)
    assert wh.read("tx").count() == 900



def test_manifest_row_counts_match_reads(spark, tmp_path):
    """Every write path records its dir's footer num_rows, so rows()
    equals a counted read after each of them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from monzo_data_pipeline_spark.pipeline.atomic import compact_table
    from monzo_data_pipeline_spark.pipeline.erasure import erase_keys

    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))

    def check(table):
        assert wh.rows(table) == wh.read(table).count(), table

    wh.append(_df(spark, range(10), "user_id"), "t")
    check("t")
    wh.append(_df(spark, range(10, 25), "user_id"), "t")
    check("t")
    wh.overwrite(_df(spark, range(7), "user_id"), "o")
    check("o")
    with wh.transaction() as txn:
        txn.replace_dirs("t", drop=txn.tables["t"][:1], df=_df(spark, [99], "user_id"))
    check("t")
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"user_id": list(range(100, 104))}), str(src / "p.parquet"))
    with wh.transaction() as txn:
        txn.append_parquet_dir(str(src), "t")
    check("t")
    compact_table(wh, "t")
    check("t")
    erase_keys(wh, _df(spark, [3, 11, 101], "user_id"), "user_id", ["t", "o"])
    check("t")
    check("o")
    assert wh.rows("t") == 15 + 1 + 4 - 2


def test_manifest_row_counts_fall_back_to_footers_without_a_job(spark, tmp_path, jobs_in):
    """A manifest committed before counts were recorded (its stats
    carry min/max but no row count) is counted from parquet footers,
    with no Spark job."""
    import json

    from monzo_data_pipeline_spark.pipeline.atomic import MANIFEST, ROWS_KEY

    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    wh.append(_df(spark, range(30)), "t")
    wh.append(_df(spark, range(5)), "t")
    man = wh.manifest()
    for st in man["stats"].values():
        del st[ROWS_KEY]
    with open(os.path.join(wh.root, MANIFEST), "w") as f:
        json.dump(man, f)

    n, jobs = jobs_in("rows-fallback", lambda: wh.rows("t"))
    assert n == 35 and jobs == []
    with pytest.raises(FileNotFoundError):
        wh.rows("missing")


def test_persisted_shuffled_frame_lands_as_one_file(spark, tmp_path):
    """get_spark lets AQE re-plan cached plans: a persisted frame
    that went through a shuffle is written at the advisory partition
    size (one small file here), not as shuffle.partitions files."""
    from pyspark.sql import functions as F

    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    df = (
        spark.range(2000)
        .groupBy((F.col("id") % 200).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        assert df.count() == 200
        with wh.transaction() as txn:
            txn.append(df, "t")
    finally:
        df.unpersist()
    (rel,) = wh.manifest()["tables"]["t"]
    files = [n for n in os.listdir(wh._abs(rel)) if n.endswith(".parquet")]
    assert len(files) == 1
    assert wh.rows("t") == 200
