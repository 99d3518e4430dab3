"""Erasure × layout interaction: erase_keys(preserve_layout=True) on a
Z-ordered table must keep the PHYSICAL per-file clustering
— every surviving file's value rectangle stays inside the rectangle
of the file it replaced (so parquet min/max skipping keeps working on
both Z-order dimensions), clean files are carried over byte-identical,
and the row-level result equals a plain filter. This is the hazard the
registry query `zorder_erasure_layout` can't see (its audit is
row-value based): the default bulk rewrite merges all candidate files
and silently destroys their clustering."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from monzo_data_pipeline_spark.catalog import load_table
from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse
from monzo_data_pipeline_spark.pipeline.erasure import (
    _files_that_may_contain,
    erase_keys,
)
from monzo_data_pipeline_spark.sources.io import write_zordered


def _table_dir(wh, table):
    """The table's one data dir."""
    (rel,) = wh.manifest()["tables"][table]
    return wh._abs(rel)


def _per_file_rects(wh, table):
    df = wh.read(table).select(
        F.col("_metadata.file_path").alias("fp"), "o_custkey", "pc"
    )
    out = {}
    for r in (
        df.groupBy("fp")
        .agg(
            F.min("o_custkey").alias("x0"),
            F.max("o_custkey").alias("x1"),
            F.min("pc").alias("y0"),
            F.max("pc").alias("y1"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    ):
        out[os.path.basename(r.fp)] = (r.x0, r.x1, r.y0, r.y1, r.n)
    return out


def test_preserve_layout_erasure_keeps_per_file_rectangles(
    spark, sf_dir, tmp_path
):
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").alias(
            "pc"
        ),
    )
    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    src = str(tmp_path / "zordered")
    write_zordered(o, src, "o_custkey", "pc", n_files=8)
    with wh.transaction() as txn:
        txn.append_parquet_dir(src, "orders_z", link=True)
    shutil.rmtree(src)
    table_path = _table_dir(wh, "orders_z")

    before = _per_file_rects(wh, "orders_z")
    assert len(before) >= 4  # a real multi-file layout

    key_vals = [
        r.o_custkey
        for r in o.filter(F.col("o_custkey") % 23 == 0)
        .select("o_custkey")
        .distinct()
        .collect()
    ]
    assert key_vals
    candidates, clean = _files_that_may_contain(
        table_path, "o_custkey", key_vals
    )
    cand_base = [os.path.basename(p) for p in candidates]
    clean_inodes = {
        os.path.basename(p): os.stat(p).st_ino for p in clean
    }

    ids = spark.createDataFrame(
        [(k,) for k in key_vals], "o_custkey: long"
    )
    report = erase_keys(
        wh, ids, "o_custkey", ["orders_z"], preserve_layout=True
    )["orders_z"]
    assert report["files_rewritten"] == len(candidates)

    # row-level result == plain filter (exact multiset)
    want = sorted(
        (r.o_custkey, r.pc)
        for r in o.filter(F.col("o_custkey") % 23 != 0).collect()
    )
    got = sorted(
        (r.o_custkey, r.pc) for r in wh.read("orders_z").collect()
    )
    assert got == want
    assert report["rows_removed"] == o.count() - len(want)

    table_path = _table_dir(wh, "orders_z")  # the rewritten dir
    after = _per_file_rects(wh, "orders_z")
    for base, (x0, x1, y0, y1, n) in after.items():
        if base.startswith("part-rw"):
            # part-rw{i:05d}-{j} replaced candidates[i]: its rectangle
            # must be CONTAINED in the original file's — layout kept
            i = int(base[len("part-rw"):len("part-rw") + 5])
            ox0, ox1, oy0, oy1, on = before[cand_base[i]]
            assert ox0 <= x0 and x1 <= ox1, (base, "x widened")
            assert oy0 <= y0 and y1 <= oy1, (base, "y widened")
            assert n <= on
        else:
            # clean file: byte-identical carry-over (hardlink) and an
            # unchanged rectangle
            assert before[base] == (x0, x1, y0, y1, n)
            full = os.path.join(table_path, base)
            if base in clean_inodes:
                assert os.stat(full).st_ino == clean_inodes[base]


def test_preserve_layout_handles_fully_erased_file(spark, tmp_path):
    # one file whose rows are ALL erased simply disappears; the rest
    # of the table is untouched
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("pc")
    )
    wh = AtomicWarehouse(spark, str(tmp_path / "wh2"))
    # two files with disjoint k ranges, staged as one data dir
    src = str(tmp_path / "src")
    df.filter("k < 50").coalesce(1).write.parquet(src)
    df.filter("k >= 50").coalesce(1).write.mode("append").parquet(src)
    with wh.transaction() as txn:
        txn.append_parquet_dir(src, "t")
    ids = spark.range(50).select(F.col("id").alias("k"))
    report = erase_keys(wh, ids, "k", ["t"], preserve_layout=True)[
        "t"
    ]
    assert report["rows_removed"] == 50
    got = sorted(r.k for r in wh.read("t").collect())
    assert got == list(range(50, 100))
