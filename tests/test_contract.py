"""Driver-contract regression tests: the repo must be importable and
runnable exactly as the driver harness does it — including from a
different cwd (the mapInPandas-closure bug class)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_oracle_alignment():
    sys.path.insert(0, REPO)
    import __spark_entry__ as E

    qs, osql = E.queries(), E.oracle_sql()
    assert len(qs) >= 40
    assert set(osql) <= set(qs)
    # every query callable is (spark, sf_dir) -> DataFrame
    for fn in qs.values():
        assert callable(fn)


def test_queries_survive_raw_driver_session(tmp_path):
    """The driver passes its OWN SparkSession (none of our session-factory
    configs). The config-sensitive queries — events ns-timestamps,
    decimal casts, timezone-dependent date functions, mapInPandas —
    must still work and stay DuckDB-consistent."""
    script = tmp_path / "raw_session.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]").appName("raw")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as E
qs = E.queries()
sf = "/root/testdata/sf0.001"
assert len(E.entry(spark).collect()) > 0
for name in ["latest_events", "tumbling_window_agg", "sessionization",
             "scalar_functions", "project_cast_stamp", "monthly_spend",
             "datetime_functions", "media_feature_extract", "asof_join",
             "media_resize", "image_decode_stats", "jpeg_decode_stats",
             "video_frame_stats",
             "value_histogram", "pack_sequences", "upsert_last_wins",
             "snapshot_diff_cdc", "source_mixture_sample",
             "session_paths_top", "scd2_temporal_lookup",
             "event_transition_matrix", "equi_depth_histogram",
             "mad_robust_outliers", "audio_windowing", "textrank_keywords",
             "kmeans_cluster_profile", "heavy_hitter_words",
             "top_n_per_group_salted"]:
    rows = qs[name](spark, sf).collect()
    assert rows, name
print("RAW_OK")
"""
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RAW_OK" in out.stdout


def test_entry_runs_from_foreign_cwd(tmp_path):
    """The driver may import from any cwd; executors must still resolve
    closures (regression for the PYTHONPATH/mapInPandas bug)."""
    script = tmp_path / "drive.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {REPO!r})
import __spark_entry__ as E
from monzo_data_pipeline_spark.session import get_spark
spark = get_spark("foreign-cwd", shuffle_partitions=4)
assert len(E.entry(spark).collect()) > 0
r = E.queries()["media_feature_extract"](spark, "/root/testdata/sf0.001").take(1)
assert r and r[0].feature is not None
print("OK")
"""
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "OK" in out.stdout


def test_driver_jit_profile_survives_caller_java_options(tmp_path):
    """get_spark's driver JIT profile rides in
    spark.driver.defaultJavaOptions, so a caller's own
    spark.driver.extraJavaOptions (the benchmark passes one) is added
    to it rather than replacing it. Both must reach the driver JVM."""
    script = tmp_path / "probe.py"
    script.write_text(
        f"""
import json, sys
sys.path.insert(0, {REPO!r})
from monzo_data_pipeline_spark.session import get_spark
spark = get_spark(
    "jit-profile",
    extra_conf={{"spark.driver.extraJavaOptions": "-Dgraft.probe=1"}},
)
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps(list(mx.getRuntimeMXBean().getInputArguments())))
spark.stop()
"""
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert "-XX:TieredStopAtLevel=1" in args
    # C1 only would otherwise size the code cache as a non-tiered VM
    # (48 MB), which a long session fills
    assert "-XX:ReservedCodeCacheSize=240m" in args
    assert "-Dgraft.probe=1" in args
    # Spark's own module-access flags are still passed
    assert any(a.startswith("--add-opens") for a in args)


def test_sql_api_parity(spark, sf_dir):
    """The engine's tables are reachable through plain spark.sql too —
    catalog.register_views + a SQL statement must agree with the
    DataFrame-API query for a representative agg and join."""
    from monzo_data_pipeline_spark.catalog import register_views
    from monzo_data_pipeline_spark.registry import queries

    register_views(spark, sf_dir)
    sql_out = spark.sql(
        """
        SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        FROM orders GROUP BY 1, 2
        """
    )
    df_out = queries()["monthly_spend"](spark, sf_dir).select("year", "month", "total_spend")
    sql_rows = {(r.year, r.month): r.total_spend for r in sql_out.collect()}
    df_rows = {(r.year, r.month): r.total_spend for r in df_out.collect()}
    assert sql_rows == df_rows and len(df_rows) > 0
