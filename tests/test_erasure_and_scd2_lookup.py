"""SCD2 temporal lookup semantics + right-to-be-forgotten erasure."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from monzo_data_pipeline_spark.operators import behavioral as BH
from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
from monzo_data_pipeline_spark.pipeline.erasure import erase_keys


def _data_dirs(wh, table):
    return [wh._abs(rel) for rel in wh.manifest()["tables"][table]]


def test_scd2_lookup_interval_semantics(spark):
    changes = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), 7, 100.0),
            (2, datetime(2024, 1, 10), 7, 200.0),
        ],
        "event_id bigint, ts timestamp, user_id bigint, dim_value double",
    )
    dim = BH.scd2_intervals(changes)
    facts = spark.createDataFrame(
        [
            (10, datetime(2023, 12, 31), 7),  # before first interval -> NULL
            (11, datetime(2024, 1, 5), 7),  # first interval -> 100
            (12, datetime(2024, 1, 10), 7),  # boundary: new value starts -> 200
            (13, datetime(2025, 1, 1), 7),  # open-ended current row -> 200
            (14, datetime(2024, 1, 5), 8),  # unknown key -> NULL
        ],
        "event_id bigint, ts timestamp, user_id bigint",
    )
    out = {r.event_id: r.dim_value for r in BH.scd2_lookup(facts, dim).collect()}
    assert out == {10: None, 11: 100.0, 12: 200.0, 13: 200.0, 14: None}
    # exactly one output row per fact (intervals partition time)
    assert BH.scd2_lookup(facts, dim).count() == facts.count()


def test_erase_keys_across_tables(spark, tmp_path):
    wh = AtomicWarehouse(spark, str(tmp_path))
    tx = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "user_id bigint, payload string"
    ).coalesce(1)
    docs = spark.createDataFrame(
        [(2, "doc-two"), (4, "doc-four")], "user_id bigint, text string"
    ).coalesce(1)
    nokey = spark.createDataFrame([(9, "x")], "other_id bigint, v string")
    wh.overwrite(tx, "tx")
    wh.overwrite(docs, "docs")
    wh.overwrite(nokey, "nokey")

    ids = spark.createDataFrame([(2,), (3,)], "user_id bigint")
    report = erase_keys(wh, ids, "user_id", ["tx", "docs", "nokey", "absent"])

    one_file = {"dirs_total": 1, "dirs_rewritten": 1, "files_total": 1, "files_rewritten": 1}
    assert report == {
        "tx": {"rows_removed": 2} | one_file,
        "docs": {"rows_removed": 1} | one_file,
        "nokey": {
            "rows_removed": -1,
            "dirs_total": 0,
            "dirs_rewritten": 0,
            "files_total": 0,
            "files_rewritten": 0,
        },
    }
    assert {r.user_id for r in wh.read("tx").collect()} == {1}
    assert {r.user_id for r in wh.read("docs").collect()} == {4}
    assert wh.read("nokey").count() == 1  # untouched

    # idempotent: a second run removes nothing, and the manifest stats
    # of the rewritten dirs prune it to no rewrite at all
    again = erase_keys(wh, ids, "user_id", ["tx", "docs"])
    untouched = {"dirs_total": 1, "dirs_rewritten": 0, "files_total": 1, "files_rewritten": 0}
    assert again == {
        "tx": {"rows_removed": 0} | untouched,
        "docs": {"rows_removed": 0} | untouched,
    }


def test_erase_keys_preserves_schema_and_other_rows(spark, tmp_path):
    wh = AtomicWarehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, float(i) * 1.5, f"p{i}") for i in range(10)],
        "user_id bigint, score double, payload string",
    )
    wh.overwrite(df, "t")
    erase_keys(wh, spark.createDataFrame([(0,), (5,)], "user_id bigint"), "user_id", ["t"])
    out = wh.read("t")
    assert out.schema == df.schema
    assert out.count() == 8
    assert out.filter(F.col("user_id").isin(0, 5)).count() == 0


def test_pseudonymize_consistent_salted_and_null_safe(spark):
    from monzo_data_pipeline_spark.pipeline.erasure import pseudonymize_columns

    a = spark.createDataFrame([(1, 10), (2, 20), (None, 30)], "uid int, v int")
    b = spark.createDataFrame([(1, "x"), (3, "y")], "uid int, w string")
    pa = pseudonymize_columns(a, ["uid"], salt="s1")
    pb = pseudonymize_columns(b, ["uid"], salt="s1")
    ta = {r["v"]: r["uid"] for r in pa.collect()}
    tb = {r["w"]: r["uid"] for r in pb.collect()}
    # same salt → same token for uid=1 across tables (joins still work)
    assert ta[10] == tb["x"] and ta[10].startswith("anon_")
    # NULL stays NULL, distinct ids get distinct tokens
    assert ta[30] is None and ta[10] != ta[20]
    # different salt → uncorrelated export
    pc = pseudonymize_columns(a, ["uid"], salt="s2")
    tc = {r["v"]: r["uid"] for r in pc.collect()}
    assert tc[10] != ta[10]


def test_erase_keys_pruned_keeps_clean_files_byte_identical(spark, tmp_path):
    """Stat pruning inside a data dir: files whose footer min/max
    provably exclude every erase key are hardlinked into the rewritten
    dir, not re-encoded — byte-identical after the run; only the hit
    files rewrite; the result is the plain anti-join's."""
    import hashlib
    import os

    wh = AtomicWarehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(1000)], "user_id bigint, payload string"
    )
    # range layout → disjoint per-file key ranges → prunable stats
    laid_out = df.repartitionByRange(8, "user_id").sortWithinPartitions("user_id")
    wh.overwrite(laid_out, "tx")

    def file_hashes():
        return {
            n: hashlib.md5(open(os.path.join(d, n), "rb").read()).hexdigest()
            for d in _data_dirs(wh, "tx")
            for n in os.listdir(d)
            if n.endswith(".parquet")
        }

    before = file_hashes()
    ids = spark.createDataFrame([(3,), (7,)], "user_id bigint")  # one range
    report = erase_keys(wh, ids, "user_id", ["tx"])

    assert report["tx"]["rows_removed"] == 2
    assert report["tx"]["files_total"] == len(before)
    # both keys land in the lowest range partition → exactly 1 rewrite
    assert report["tx"]["files_rewritten"] == 1
    after = file_hashes()
    # every clean file survives with identical bytes under its own name
    carried = set(before) & set(after)
    assert len(carried) == len(before) - 1
    assert all(before[n] == after[n] for n in carried)
    # data result identical to the wholesale path
    remaining = {r.user_id for r in wh.read("tx").collect()}
    assert remaining == set(range(1000)) - {3, 7}

    # idempotent re-run: min/max can't prove INTERIOR absence, so the
    # one straddling file rewrites again (removing nothing) — but the
    # clean files still never rewrite
    again = erase_keys(wh, ids, "user_id", ["tx"])
    assert again["tx"]["files_rewritten"] <= 1 and again["tx"]["rows_removed"] == 0
    final = file_hashes()
    assert all(after[n] == final[n] for n in set(after) & set(final) & carried)

    # keys outside every file's range prune to zero work
    off_range = spark.createDataFrame([(10_000,)], "user_id bigint")
    noop = erase_keys(wh, off_range, "user_id", ["tx"])
    assert noop["tx"]["files_rewritten"] == 0 and noop["tx"]["rows_removed"] == 0
    assert file_hashes() == final


def test_erase_keys_pruned_matches_wholesale_and_handles_missing_key(spark, tmp_path):
    wh = AtomicWarehouse(spark, str(tmp_path))
    wh.overwrite(
        spark.createDataFrame(
            [(i % 5, float(i)) for i in range(50)], "user_id bigint, v double"
        ),
        "t",
    )
    wh.overwrite(spark.createDataFrame([(9, "x")], "other_id bigint, v string"), "nokey")
    ids = spark.createDataFrame([(1,), (4,)], "user_id bigint")
    report = erase_keys(wh, ids, "user_id", ["t", "nokey", "absent"])
    assert report["t"]["rows_removed"] == 20
    assert report["nokey"]["rows_removed"] == -1
    assert {r.user_id for r in wh.read("t").collect()} == {0, 2, 3}


def test_k_anonymity_and_l_diversity_audits(spark):
    from monzo_data_pipeline_spark.pipeline.erasure import (
        k_anonymity_audit,
        l_diversity_audit,
    )

    df = spark.createDataFrame(
        # quasi = (zip, age); sensitive = diagnosis
        [
            ("10001", 30, "flu"),
            ("10001", 30, "flu"),
            ("10001", 30, "cold"),   # class of 3, 2 sensitive values
            ("10002", 40, "flu"),    # class of 1 -> k-risky
            ("10003", 50, "covid"),
            ("10003", 50, "covid"),  # class of 2, but constant sensitive
        ],
        "zip string, age int, diagnosis string",
    )
    krisk = {
        (r.zip, r.age): r.class_size
        for r in k_anonymity_audit(df, ["zip", "age"], k=3).collect()
    }
    assert krisk == {("10002", 40): 1, ("10003", 50): 2}

    lrisk = {
        (r.zip, r.age): (r.class_size, r.n_sensitive_values)
        for r in l_diversity_audit(df, ["zip", "age"], "diagnosis", l_min=2).collect()
    }
    # 10001 is diverse (flu+cold); the other two classes are constant
    assert lrisk == {("10002", 40): (1, 1), ("10003", 50): (2, 1)}


def test_erase_keys_pruned_tolerates_null_and_mixed_keys(spark, tmp_path):
    """A NULL in the erase-id set (or a key type incomparable with the
    column's footer stats) must degrade to the never-assume-exclusion
    posture — the anti-join matches no NULL, so the pruning must not
    crash on one either."""
    from monzo_data_pipeline_spark.pipeline.erasure import _files_that_may_contain

    wh = AtomicWarehouse(spark, str(tmp_path))
    wh.overwrite(
        spark.createDataFrame(
            [(i, f"p{i}") for i in range(20)], "user_id bigint, payload string"
        ).coalesce(1),  # one part file: empty parts are trivially clean
        "tx",
    )

    ids = spark.createDataFrame(
        [(3,), (None,), (17,)], "user_id bigint"
    )
    report = erase_keys(wh, ids, "user_id", ["tx"])
    assert report["tx"]["rows_removed"] == 2
    left = sorted(r.user_id for r in wh.read("tx").collect())
    assert 3 not in left and 17 not in left and len(left) == 18

    # direct unit check on a fresh single-part table (the erasure above
    # rewrote tx's file layout): None contributes nothing to the range
    # check, so [None, out-of-range] prunes the file as clean...
    wh.overwrite(
        spark.createDataFrame(
            [(i, f"p{i}") for i in range(20)], "user_id bigint, payload string"
        ).coalesce(1),
        "tx2",
    )
    (path,) = _data_dirs(wh, "tx2")
    cand, clean = _files_that_may_contain(path, "user_id", [None, 9999999])
    assert cand == [] and len(clean) == 1
    # ...and an in-range key still marks it a candidate despite the None
    cand1, clean1 = _files_that_may_contain(path, "user_id", [None, 5])
    assert len(cand1) == 1 and clean1 == []
    # incomparable type mix: every file degrades to candidate, no crash
    cand2, clean2 = _files_that_may_contain(path, "user_id", [None, "not-an-int"])
    assert len(cand2) == 1 and clean2 == []


# --- t-closeness (r9) --------------------------------------------------------


def test_t_closeness_known_emd(spark):
    """Hand-computed EMD: class A all-0, class B all-1, global 50/50
    over an ordered {0,1} domain -> both classes at EMD 0.5
    (500000 ppm)."""
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.pipeline.erasure import (
        t_closeness_audit,
    )

    rows = [("A", 0)] * 4 + [("B", 1)] * 4
    df = spark.createDataFrame(rows, "q string, v long")
    got = {
        r.q: (r.class_size, r.emd_ppm)
        for r in t_closeness_audit(df, ["q"], "v").collect()
    }
    assert got == {"A": (4, 500000), "B": (4, 500000)}
    # threshold filter keeps only violators
    assert (
        t_closeness_audit(df, ["q"], "v", t_ppm=600000).count() == 0
    )
    assert (
        t_closeness_audit(df, ["q"], "v", t_ppm=400000).count() == 2
    )


def test_t_closeness_uniform_and_degenerate(spark):
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.pipeline.erasure import (
        t_closeness_audit,
    )

    # every class mirrors the global distribution -> EMD 0
    rows = [(q, v) for q in ("A", "B") for v in (0, 1, 2, 3)]
    df = spark.createDataFrame(rows, "q string, v long")
    out = t_closeness_audit(df, ["q"], "v").collect()
    assert all(r.emd_ppm == 0 for r in out)
    # single sensitive value (m == 1): defined as 0, no div-by-zero
    df1 = spark.createDataFrame(
        [("A", 7), ("B", 7)], "q string, v long"
    )
    out1 = t_closeness_audit(df1, ["q"], "v").collect()
    assert all(r.emd_ppm == 0 for r in out1)
    # NULL sensitive values are excluded
    df2 = spark.createDataFrame(
        [("A", 0), ("A", None), ("B", 1)], "q string, v long"
    )
    got = {
        r.q: r.class_size
        for r in t_closeness_audit(df2, ["q"], "v").collect()
    }
    assert got == {"A": 1, "B": 1}
