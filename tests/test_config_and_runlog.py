"""A26 (secrets/config seam) and A28 (run-log shipping) tests."""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from monzo_data_pipeline_spark.pipeline.atomic import (  # noqa: E402
    AtomicWarehouse,
    run_pipeline_atomic,
)
from monzo_data_pipeline_spark.pipeline.config import (  # noqa: E402
    EnvConfigProvider,
    FileConfigProvider,
    MissingSecretError,
    ProviderTokenStore,
    warehouse_from_config,
)
from monzo_data_pipeline_spark.pipeline.runlog import RUN_LOG_TABLE  # noqa: E402


def _batch(spark, day: int = 1):
    from monzo_data_pipeline_spark.pipeline.ingest import (
        cursor_windows,
        fetch_transactions_distributed,
        flatten_bronze,
        make_fake_fetch,
    )

    windows = cursor_windows(datetime(2025, 1, day), datetime(2025, 1, day + 1), 24)
    wire = fetch_transactions_distributed(spark, make_fake_fetch(), windows)
    return flatten_bronze(wire, "2025-01-03T00:00:00")


def test_file_provider_roundtrip_and_missing(tmp_path):
    p = FileConfigProvider(str(tmp_path / "secrets"))
    with pytest.raises(MissingSecretError):
        p.get_secret("nope")
    p.update_secret("monzo-api-credentials", {"monzo_client_id": "cid"})
    assert p.get_secret("monzo-api-credentials")["monzo_client_id"] == "cid"
    # atomic update: replaces, never merges
    p.update_secret("monzo-api-credentials", {"monzo_client_id": "cid2"})
    assert p.get_secret("monzo-api-credentials") == {"monzo_client_id": "cid2"}


def test_env_provider_reads_and_refuses_writes(monkeypatch):
    monkeypatch.setenv(
        "PIPELINE_SECRET_MONZO_API_CREDENTIALS", json.dumps({"k": 1})
    )
    p = EnvConfigProvider()
    assert p.get_secret("monzo-api-credentials") == {"k": 1}
    with pytest.raises(NotImplementedError):
        p.update_secret("monzo-api-credentials", {})


def test_provider_token_store_rotation(tmp_path):
    """The OAuth2 manager's rotated tokens persist through the
    provider — the reference's Secrets-Manager write-back."""
    p = FileConfigProvider(str(tmp_path / "secrets"))
    store = ProviderTokenStore(p)
    assert store.get() is None
    store.put({"refresh_token": "rt_1", "access_token": "at_1"})
    assert p.get_secret("monzo-api-credentials")["refresh_token"] == "rt_1"


def test_warehouse_from_config(spark, tmp_path):
    p = FileConfigProvider(str(tmp_path / "secrets"))
    p.update_secret("warehouse", {"root": str(tmp_path / "wh")})
    wh = warehouse_from_config(spark, p)
    assert isinstance(wh, AtomicWarehouse)
    assert wh.root == str(tmp_path / "wh")


def test_run_log_commits_with_data(spark, tmp_path):
    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    jsonl = str(tmp_path / "run.jsonl")
    run_pipeline_atomic(
        spark,
        wh,
        _batch(spark),
        "2025-01-03T00:00:00",
        run_id="run_1",
        run_log_jsonl=jsonl,
    )
    log = wh.read(RUN_LOG_TABLE)
    rows = {(r.stage, r.event, r.metric): r.value for r in log.collect()}
    assert ("bronze", "merged", "appended") in rows
    assert rows[("bronze", "merged", "appended")] > 0
    assert ("gold", "built", None) in rows
    # the eager local mirror exists too (ops ergonomics)
    lines = [json.loads(x) for x in open(jsonl)]
    assert [x["stage"] for x in lines] == ["bronze", "silver", "gold"]
    # data and its log share ONE manifest version
    assert wh.manifest()["version"] == 1


_STAGES = ["load_bronze", "transform_silver", "build_gold"]


@pytest.mark.parametrize("stage", _STAGES)
def test_failed_run_ships_no_log_rows(spark, tmp_path, monkeypatch, stage):
    """A crash in any stage before commit: the error propagates, the
    run commits nothing and the transactional log has no trace of it
    (the reference's upload-after-the-fact gap, closed); the local
    jsonl mirror still shows how far it got. The run looks its stages
    up on `medallion` at call time, so patching them there reaches it
    (the benchmark's per-layer spans rely on the same lookup)."""
    wh = AtomicWarehouse(spark, str(tmp_path / "wh"))
    # seed v1 so the log table exists
    run_pipeline_atomic(
        spark, wh, _batch(spark), "2025-01-03T00:00:00", run_id="run_1"
    )
    n_before = wh.read(RUN_LOG_TABLE).count()
    version = wh.manifest()["version"]

    def boom(*a, **kw):
        raise RuntimeError(f"{stage} exploded")

    from monzo_data_pipeline_spark.pipeline import medallion

    monkeypatch.setattr(medallion, stage, boom)
    jsonl = str(tmp_path / "run2.jsonl")
    # a fresh day: new bronze ids, so every stage runs
    with pytest.raises(RuntimeError, match=f"{stage} exploded"):
        run_pipeline_atomic(
            spark,
            wh,
            _batch(spark, day=2),
            "2025-01-04T00:00:00",
            run_id="run_2",
            run_log_jsonl=jsonl,
        )
    assert wh.manifest()["version"] == version  # nothing committed
    assert wh.read(RUN_LOG_TABLE).count() == n_before  # nothing shipped
    assert wh.read(RUN_LOG_TABLE).filter("run_id = 'run_2'").count() == 0
    # but the operator can see how far it got
    logged = ["bronze", "silver"][: _STAGES.index(stage)]
    seen = [json.loads(x)["stage"] for x in open(jsonl)] if logged else []
    assert os.path.exists(jsonl) == bool(logged)
    assert seen == logged
