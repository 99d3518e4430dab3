"""Medallion pipeline e2e (SURVEY.md §5 strategy #3): synthetic
bronze → silver → gold, and the idempotence property behind the
reference's INSERT OR IGNORE semantics (running the same batch twice
leaves every table identical)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from monzo_data_pipeline_spark.pipeline import ingest as ING
from monzo_data_pipeline_spark.pipeline import medallion as MED
from monzo_data_pipeline_spark.pipeline import sql_path as SQLP
from monzo_data_pipeline_spark.pipeline.atomic import AtomicWarehouse, run_pipeline_atomic
from monzo_data_pipeline_spark.pipeline.incremental import GOLD_STATE
from monzo_data_pipeline_spark.schemas import BRONZE_TRANSACTIONS_SCHEMA


@pytest.fixture()
def warehouse(spark, tmp_path):
    return AtomicWarehouse(spark, str(tmp_path / "wh"))


def _silver_through_delta(wh, batch, inserted_at):
    """Bronze and silver as `run_pipeline_atomic` runs them: silver
    folds the delta `load_bronze` hands back, in one transaction."""
    with wh.transaction() as txn:
        _, delta = MED.load_bronze(txn, batch)
        try:
            MED.transform_silver(txn, inserted_at, delta)
        finally:
            delta.unpersist()


def _batch(spark, n_windows=3):
    fetch = ING.make_fake_fetch(n_per_window=40, dup_every=10)
    windows = ING.cursor_windows(
        datetime(2025, 1, 1), datetime(2025, 1, 1 + n_windows), window_hours=24
    )
    wire = ING.fetch_transactions_distributed(spark, fetch, windows)
    return ING.flatten_bronze(wire, ingest_ts="2025-01-05T00:00:00")


def test_distributed_ingest_shape(spark):
    batch = _batch(spark)
    rows = batch.collect()
    assert len(rows) == 120  # 3 windows x 40
    cols = set(batch.columns)
    # the 32-col bronze layout incl. flattened merchant address (A7)
    assert {"id", "merchant_city", "counterparty_account_num", "date_retrieved"} <= cols
    # missing merchants → null-safe flatten, not a template
    assert any(r.merchant_id is None for r in rows)
    # late-arriving settled nulls survive
    assert any(r.settled is None for r in rows)


def test_steady_ingest_run_py4j_budget(spark, warehouse, py4j_calls, jobs_in):
    """Plans enter the JVM as SQL text and driver rows as Arrow, so a
    steady-state ingest request (fetch, flatten, `run_pipeline_atomic`
    into a warehouse that already holds two runs) crosses py4j at most
    1,300 times. Built column by column, the same request made about
    6,300 round trips. It also runs at most 26 Spark jobs: writes
    return the rows they wrote from parquet footers, so neither the
    bronze load nor the silver merges run a count job (with them the
    request ran 29)."""
    fetch = ING.make_fake_fetch(n_per_window=50, dup_every=10)
    for run in range(3):
        day = datetime(2025, 1, 1) + timedelta(days=2 * run)
        windows = ING.cursor_windows(day, day + timedelta(days=2), window_hours=24)
        ts = (day + timedelta(days=3)).isoformat()

        def request():
            wire = ING.fetch_transactions_distributed(spark, fetch, windows)
            return run_pipeline_atomic(spark, warehouse, ING.flatten_bronze(wire, ts), ts)

        (stats, jobs), calls = py4j_calls(
            lambda: jobs_in(f"steady-ingest-{run}", request)
        )
    assert stats["bronze_appended"] > 0
    assert calls <= 1300, calls
    assert len(jobs) <= 26, len(jobs)


def test_pipeline_end_to_end_and_idempotence(spark, warehouse):
    batch = _batch(spark)
    stats1 = run_pipeline_atomic(spark, warehouse, batch, run_ts="2025-01-05T00:00:00")
    assert stats1["bronze_appended"] > 0
    assert stats1["silver_tx"] == stats1["bronze_total"]
    assert stats1["silver_merchants"] > 0
    assert stats1["silver_counterparties"] > 0
    assert stats1["gold_rows"] > 0

    # same batch again → nothing changes anywhere (A11/A17 property)
    stats2 = run_pipeline_atomic(spark, warehouse, batch, run_ts="2025-02-01T00:00:00")
    assert stats2["bronze_appended"] == 0
    for k in ("bronze_total", "silver_tx", "silver_counterparties", "silver_merchants", "gold_rows"):
        assert stats2[k] == stats1[k], k

    # silver rows were NOT re-stamped (SCD type 0: first version wins)
    stamps = {
        r.inserted_at.isoformat()
        for r in warehouse.read(MED.SILVER_TX).select("inserted_at").distinct().collect()
    }
    assert stamps == {"2025-01-05T00:00:00"}


def test_balance_and_pots_snapshot_log(spark, warehouse):
    """A12/A13 append-only snapshot semantics + A24 latest-read."""
    for run_idx, ts in enumerate(["2025-01-05T00:00:00", "2025-01-06T00:00:00"]):
        bal = ING.balance_snapshot_df(spark, ING.make_fake_balance(run_idx), ts)
        pots = ING.pots_snapshot_df(spark, ING.make_fake_pots(3, run_idx), ts)
        MED.load_snapshots(warehouse, bal, pots)

    # every run appends: 2 balance rows, 6 pot rows (3 pots x 2 runs)
    assert warehouse.read(MED.BRONZE_BALANCE).count() == 2
    assert warehouse.read(MED.BRONZE_POTS).count() == 6

    latest = MED.latest_balance(warehouse).collect()
    assert len(latest) == 1 and latest[0].balance == 121000  # run_idx=1
    lp = MED.latest_pots(warehouse).collect()
    assert len(lp) == 3
    assert all(r.date_retrieved.isoformat() == "2025-01-06T00:00:00" for r in lp)
    # pot boolean defaults filled (round_up_multiplier stays nullable)
    assert all(r.deleted is False for r in lp)


def test_incremental_batch_appends_only_new(spark, warehouse):
    b1 = _batch(spark, n_windows=2)
    run_pipeline_atomic(spark, warehouse, b1, run_ts="2025-01-05T00:00:00")
    n1 = warehouse.read(MED.BRONZE_TX).count()

    b2 = _batch(spark, n_windows=3)  # superset: windows 1-2 overlap
    stats = run_pipeline_atomic(spark, warehouse, b2, run_ts="2025-01-06T00:00:00")
    n2 = warehouse.read(MED.BRONZE_TX).count()
    assert stats["bronze_appended"] == n2 - n1 > 0

    # money semantics: silver amount is pounds decimal, bronze pence long
    bronze = warehouse.read(MED.BRONZE_TX).select("id", "amount").collect()
    silver = {r.id: r.amount for r in warehouse.read(MED.SILVER_TX).collect()}
    for r in bronze:
        assert silver[r.id] == round(__import__("decimal").Decimal(r.amount) / 100, 2)


def test_sql_path_transform_matches_dataframe_path(spark, tmp_path):
    """SURVEY §3.2: the SQL-script front end and the DataFrame path
    must produce byte-identical silver layers from the same bronze: the
    DataFrame path folding the run's delta, the SQL path recomputing
    from all of bronze."""
    batch = _batch(spark)
    wh_df = AtomicWarehouse(spark, str(tmp_path / "wh_df"))
    wh_sql = AtomicWarehouse(spark, str(tmp_path / "wh_sql"))
    _silver_through_delta(wh_df, batch, "2025-01-05T00:00:00")
    MED.load_bronze(wh_sql, batch)[1].unpersist()
    SQLP.transform_silver_sql(wh_sql, inserted_at="2025-01-05T00:00:00")

    for table in (MED.SILVER_TX, MED.SILVER_CP, MED.SILVER_ME):
        a = wh_df.read(table)
        b = wh_sql.read(table)
        assert a.schema == b.schema, table
        ra = sorted(map(str, a.collect()))
        rb = sorted(map(str, b.collect()))
        assert ra == rb, table


def test_split_sql_script_respects_quotes_and_comments():
    from monzo_data_pipeline_spark.pipeline.sql_path import split_sql_script

    script = (
        "SELECT 'a;b' AS s; -- trailing; comment\n"
        "SELECT 1;\n"
        "-- a full comment line; with semicolon\n"
        "SELECT 2"
    )
    stmts = split_sql_script(script)
    assert len(stmts) == 3
    assert "'a;b'" in stmts[0] and "SELECT 2" in stmts[2]


_EPOCH = datetime(2025, 1, 1)


def _tx(i: int, first_run: int, retrieved: datetime, settled: bool) -> dict:
    """One bronze row of transaction ``i`` first delivered in run
    ``first_run``; a re-delivery repeats it with only ``settled`` and
    ``date_retrieved`` changed. Each run brings one new merchant and one
    new counterparty, and every merchant is seen with two addresses
    under one (name, category)."""
    created = _EPOCH + timedelta(days=9 * first_run, hours=5 * i)
    amount = -(137 * i + 11 * first_run + 99) if i % 4 else 50 + i
    merch = f"m{i % 5}" if i < 20 else f"n{first_run}"
    has_cp = i % 3 == 0
    return {
        "id": f"tx_{first_run}_{i}",
        "description": f"payment {i}",
        "amount": amount,
        "currency": "GBP",
        "created": created,
        "category": "general",
        "notes": "",
        "is_load": False,
        "settled": created + timedelta(hours=1) if settled else None,
        "local_amount": amount,
        "local_currency": "GBP",
        "counterparty_name": f"cp{i % 4}-{first_run % 2}" if has_cp else None,
        "counterparty_account_num": (
            (1000 + i % 4 if i < 24 else 2000 + first_run) if has_cp else None
        ),
        "counterparty_sort_code": 400000 if has_cp else None,
        "merchant_id": merch if i % 3 else None,
        "merchant_name": f"M {merch}",
        "merchant_category": "groceries",
        "merchant_logo": "",
        "merchant_emoji": "",
        "merchant_online": False,
        "merchant_atm": False,
        "merchant_address": f"{(first_run + i) % 2} High St",
        "merchant_city": "London",
        "merchant_postcode": "E1 6AN",
        "merchant_country": "GBR",
        "merchant_latitude": 51.5,
        "merchant_longitude": -0.1,
        "merchant_google_places_id": "",
        "merchant_suggested_tags": ["tag_a"],
        "merchant_foursquare_id": "",
        "merchant_website": "",
        "date_retrieved": retrieved,
    }


def _run_ts(run: int) -> datetime:
    return _EPOCH + timedelta(days=9 * run + 8)


def _feed(spark, run: int):
    """Run ``run``'s bronze batch: 30 fresh ids (every third unsettled),
    two of them re-delivered settled within the batch, late settles of
    the previous run's unsettled ids, and a re-delivery from two runs
    back."""
    ts = _run_ts(run)
    rows = [_tx(i, run, ts, settled=i % 3 != 0) for i in range(30)]
    rows += [_tx(i, run, ts, settled=True) for i in (0, 3)]
    if run >= 1:
        rows += [_tx(i, run - 1, ts, settled=True) for i in (0, 6, 9)]
    if run >= 2:
        rows.append(_tx(1, run - 2, ts, settled=True))
    return _frame(spark, rows)


def _frame(spark, rows: list[dict]):
    names = [f.name for f in BRONZE_TRANSACTIONS_SCHEMA.fields]
    return spark.createDataFrame(
        [tuple(r[n] for n in names) for r in rows], BRONZE_TRANSACTIONS_SCHEMA
    )


def _table_rows(wh, table):
    df = wh.read(table)
    return df.schema, sorted(map(str, df.collect()))


_TABLES = (MED.BRONZE_TX, MED.SILVER_TX, MED.SILVER_CP, MED.SILVER_ME, MED.GOLD_MONTHLY)


def test_first_wins_survivor_independent_of_row_order(spark, tmp_path):
    """Ties in a first-wins sort (an id re-delivered within one batch
    with only ``settled`` changed; one merchant under two addresses)
    must not leave the survivor to physical row order: the same bronze
    rows in two orders give identical bronze and silver."""
    from pyspark.sql import functions as F

    base = _feed(spark, 0)
    order = ["id", "settled", "merchant_address"]
    batches = (
        base.repartition(1).sortWithinPartitions(*[F.col(c).asc() for c in order]),
        base.repartition(1).sortWithinPartitions(*[F.col(c).desc() for c in order]),
    )
    got, whs = [], []
    for k, batch in enumerate(batches):
        wh = AtomicWarehouse(spark, str(tmp_path / f"wh{k}"))
        _silver_through_delta(wh, batch, _run_ts(0).isoformat())
        got.append([_table_rows(wh, t) for t in _TABLES[:4]])
        whs.append(wh)
    assert got[0] == got[1]
    # the first delivery (unsettled) of a re-delivered id wins
    (row,) = whs[0].read(MED.BRONZE_TX).filter("id = 'tx_0_0'").collect()
    assert row.settled is None


def _full_recompute(wh, batch, ts, exact_gold):
    """The reference run over a plain-directory store: bronze through
    `load_bronze`, silver recomputed from all of bronze by the SQL front
    end, gold recomputed exactly from all of silver, and every count
    read off the table itself."""
    appended, delta = MED.load_bronze(wh, batch)
    delta.unpersist()
    SQLP.transform_silver_sql(wh, inserted_at=ts)
    wh.overwrite(exact_gold(wh.read(MED.SILVER_TX)), MED.GOLD_MONTHLY)
    counts = {
        "bronze_total": MED.BRONZE_TX,
        "silver_tx": MED.SILVER_TX,
        "silver_counterparties": MED.SILVER_CP,
        "silver_merchants": MED.SILVER_ME,
        "gold_rows": MED.GOLD_MONTHLY,
    }
    return {"bronze_appended": appended} | {
        key: wh.read(t).count() for key, t in counts.items()
    }


def test_delta_driven_atomic_run_matches_full_recompute(
    spark, tmp_path, jobs_in, exact_gold, plain_store
):
    """run_pipeline_atomic folds each run's delta; the reference
    recomputes silver (`sql_path.transform_silver_sql`) and gold
    (exact-decimal aggregate) from full bronze over a plain-directory
    store (`conftest.PlainDirStore`).
    Over nine runs with re-deliveries and late settles every table is
    equal (schema and rows, decimal total_spend uncast), the returned
    counts agree, and a run's Spark job count does not grow with the
    warehouse."""
    full = plain_store(str(tmp_path / "full"))
    delta = AtomicWarehouse(spark, str(tmp_path / "delta"))
    jobs = {}
    for run in range(1, 10):
        batch = _feed(spark, run - 1)
        ts = _run_ts(run - 1).isoformat()
        want = _full_recompute(full, batch, ts, exact_gold)
        got, ids = jobs_in(
            f"delta-run-{run}", lambda: run_pipeline_atomic(spark, delta, batch, ts)
        )
        jobs[run] = len(ids)
        assert got == want, run
        assert got["bronze_appended"] > 0
    for table in _TABLES:
        assert _table_rows(delta, table) == _table_rows(full, table), table
    assert dict(delta.read(MED.GOLD_MONTHLY).dtypes)["total_spend"] == "decimal(28,2)"
    assert jobs[8] == jobs[2], jobs


def test_run_without_new_bronze_rows_stages_no_silver_or_gold(spark, warehouse):
    """A run whose batch brings no new bronze id cannot hold a key new
    to silver, so it skips silver and gold: a first run over an empty
    batch commits and counts zero, and a run of re-deliveries only
    (late settles of committed ids) stages no silver or gold dir."""
    keys = (
        "bronze_appended",
        "bronze_total",
        "silver_tx",
        "silver_counterparties",
        "silver_merchants",
        "gold_rows",
    )
    derived = {MED.SILVER_TX, MED.SILVER_CP, MED.SILVER_ME, MED.GOLD_MONTHLY, GOLD_STATE}
    empty = spark.createDataFrame([], BRONZE_TRANSACTIONS_SCHEMA)
    stats = run_pipeline_atomic(spark, warehouse, empty, _run_ts(0).isoformat())
    assert stats == dict.fromkeys(keys, 0)
    assert warehouse.manifest()["version"] == 1
    assert not derived & set(warehouse.manifest()["tables"])

    first = run_pipeline_atomic(spark, warehouse, _feed(spark, 0), _run_ts(0).isoformat())
    assert first["bronze_appended"] > 0
    before = warehouse.manifest()["tables"]
    late = _frame(spark, [_tx(i, 0, _run_ts(1), settled=True) for i in range(30)])
    again = run_pipeline_atomic(spark, warehouse, late, _run_ts(1).isoformat())
    assert again == first | {"bronze_appended": 0}
    after = warehouse.manifest()["tables"]
    for table in derived:
        assert after[table] == before[table], table
