"""Ingestion: REST-shaped source → bronze DataFrames.

Reference behavior being re-expressed (SURVEY.md §2 A1-A4, A7):
  * `get_transactions(limit, since, before)` pages through the API
    single-threaded with a global `limit=200` cap
    (/root/reference/src/utils/api/api_client.py:157-201);
  * nested merchant/counterparty structs are flattened imperatively
    (api_client.py:32-109).

Spark-first redesign — the 100 TB ingestion posture (SURVEY.md §7
hard-part 7): the unit of parallelism is a CURSOR RANGE, not a page
loop. The driver enumerates (since, before) windows; executors fetch
pages for their window via mapInPandas (Arrow batches out). A fake
in-memory client is the default (tests stay hermetic — the
reference's live-API test is the anti-pattern, SURVEY.md §5); the
REAL client exists in sources/http_transport.py (stdlib urllib +
OAuth2 refresh, one lazily-built session per executor) and plugs into
the same FetchFn slot — see make_http_fetch and
tests/test_http_transport.py::test_distributed_ingest_over_real_transport.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.projection import (
    flatten_transaction_wire,
    quote_ident,
    quote_literal,
)
from ..schemas import BRONZE_TRANSACTIONS_SCHEMA, TRANSACTION_WIRE_SCHEMA
from ..session import local_frame

# (cursor window) -> list of wire-format transaction dicts
FetchFn = Callable[[str, str], list[dict]]


def cursor_windows(
    since: datetime, before: datetime, window_hours: int = 24
) -> list[tuple[str, str]]:
    """Split [since, before) into fetchable windows — the partition
    grain of distributed ingestion. The reference's scalar
    `since = now()-30d` (extract.py:18) is the 1-window special case."""
    out = []
    lo = since
    step = timedelta(hours=window_hours)
    while lo < before:
        hi = min(lo + step, before)
        out.append((lo.isoformat(), hi.isoformat()))
        lo = hi
    return out


def fetch_transactions_distributed(
    spark: SparkSession,
    fetch: FetchFn,
    windows: list[tuple[str, str]],
) -> DataFrame:
    """Parallel REST ingestion: one task per cursor window.

    `fetch` must be a self-contained callable (cloudpickle ships it by
    value); it is invoked executor-side per window, so N windows fetch
    concurrently — replacing the reference's single-threaded page loop.
    Output is the WIRE schema (nested structs); flatten_bronze() below
    applies A7.
    """
    win_df = local_frame(spark, windows, "w_since string, w_before string")
    # more windows than default partitions → one task each, full fan-out
    win_df = win_df.repartition(max(len(windows), 1))

    wire_fields = [f.name for f in TRANSACTION_WIRE_SCHEMA.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for w_since, w_before in zip(pdf["w_since"], pdf["w_before"]):
                rows.extend(fetch(w_since, w_before))
            if rows:
                yield pd.DataFrame(rows, columns=wire_fields)

    return win_df.mapInPandas(run, schema=TRANSACTION_WIRE_SCHEMA)


def flatten_bronze(wire: DataFrame, ingest_ts: str) -> DataFrame:
    """A7+A12: wire structs → 32-column bronze layout + date_retrieved
    stamp (parameterized, never current_timestamp — SURVEY.md §7.3)."""
    flat = flatten_transaction_wire(wire)
    return flat.selectExpr(
        *[
            f"CAST({quote_literal(ingest_ts)} AS TIMESTAMP) AS date_retrieved"
            if f.name == "date_retrieved"
            else f"CAST({quote_ident(f.name)} AS {f.dataType.simpleString()}) "
            f"AS {quote_ident(f.name)}"
            for f in BRONZE_TRANSACTIONS_SCHEMA.fields
        ]
    )


def make_fake_balance(run_idx: int = 0) -> dict:
    """Deterministic balance snapshot (reference get_balance,
    api_client.py:203-223; spend_today abs-normalized per A19)."""
    return {
        "balance": 120000 + run_idx * 1000,
        "total_balance": 150000 + run_idx * 1000,
        "currency": "GBP",
        "spend_today": abs(-(1500 + run_idx * 10)),
    }


def make_fake_pots(n_pots: int = 3, run_idx: int = 0) -> list[dict]:
    """Deterministic pot snapshots (reference list_pots,
    api_client.py:138-155; same pot ids re-appended every run — the
    snapshot-log semantic of bronze_pots)."""
    return [
        {
            "id": f"pot_{i}",
            "style": "beach_ball",
            "balance": 5000 * (i + 1) + run_idx,
            "currency": "GBP",
            "type": "default",
            "product_id": "",
            "current_account_id": "acc_1",
            "cover_image_url": "",
            "isa_wrapper": False,
            "round_up": i % 2 == 0,
            "round_up_multiplier": None,
            "is_tax_pot": False,
            "created": datetime(2024, 6, 1 + i),
            "updated": datetime(2024, 6, 1 + i),
            "deleted": False,
            "locked": False,
            "available_for_bills": i == 0,
            "has_virtual_cards": False,
        }
        for i in range(n_pots)
    ]


def balance_snapshot_df(spark: SparkSession, balance: dict, ingest_ts: str) -> DataFrame:
    """A2+A12: single-row balance snapshot DataFrame, stamped."""
    from ..schemas import BRONZE_BALANCE_SCHEMA

    row = dict(balance)
    row["date_retrieved"] = datetime.fromisoformat(ingest_ts)
    return local_frame(spark, [row], BRONZE_BALANCE_SCHEMA)


def pots_snapshot_df(spark: SparkSession, pots: list[dict], ingest_ts: str) -> DataFrame:
    """A3+A13: pots snapshot DataFrame (every pot, every run), stamped;
    boolean defaults applied set-wise (reference load.py:207-216)."""
    from ..operators.projection import default_fill
    from ..schemas import BRONZE_POTS_SCHEMA

    stamped = [
        {**p, "date_retrieved": datetime.fromisoformat(ingest_ts)} for p in pots
    ]
    df = local_frame(spark, stamped, BRONZE_POTS_SCHEMA)
    return default_fill(
        df,
        {
            "isa_wrapper": False,
            "round_up": False,
            "is_tax_pot": False,
            "deleted": False,
            "locked": False,
            "available_for_bills": False,
            "has_virtual_cards": False,
        },
    )


def make_fake_fetch(n_per_window: int = 50, dup_every: int = 10) -> FetchFn:
    """Deterministic in-memory stand-in for the Monzo API: generates
    the reference's wire shape (api_client.py:32-109), including
    missing merchants, null settled (late-arriving), and every
    dup_every-th transaction repeated across windows (exercises A11
    idempotence). Self-contained → safe to ship to executors."""

    def fetch(w_since: str, w_before: str) -> list[dict]:
        seed = hashlib.md5(f"{w_since}|{w_before}".encode()).hexdigest()
        base = int(seed[:8], 16)
        out = []
        for i in range(n_per_window):
            is_dup = i % dup_every == 0
            txid = f"tx_{0 if is_dup else base}_{i}"
            # Monzo semantics: spend is negative pence, income positive
            # (reference create_bronze_layer.sql:4); 3 of 4 rows are outflows
            magnitude = (base + i * 53) % 9000 + 100
            amount = magnitude if i % 4 == 0 else -magnitude
            has_merchant = i % 3 != 0
            merchant = None
            if has_merchant:
                merchant = {
                    "id": f"merch_{(base + i) % 25}",
                    "name": f"Merchant {(base + i) % 25}",
                    "category": ["eating_out", "groceries", "transport"][i % 3],
                    "logo": "",
                    "emoji": "🍕",
                    "online": i % 2 == 0,
                    "atm": False,
                    "address": {
                        "address": f"{i} High St",
                        "city": "London",
                        "postcode": "E1 6AN",
                        "country": "GBR",
                        "latitude": 51.5 + (i % 10) / 100.0,
                        "longitude": -0.1 - (i % 10) / 100.0,
                    },
                    "google_places_id": "",
                    "suggested_tags": ["tag_a", "tag_b"][: (i % 3)],
                    "foursquare_id": "",
                    "website": "",
                }
            out.append(
                {
                    "id": txid,
                    "description": f"Payment {i}",
                    "amount": amount,
                    "currency": "GBP",
                    "created": datetime.fromisoformat(w_since) + timedelta(minutes=i),
                    "category": ["general", "eating_out", "bills"][i % 3],
                    "notes": "",
                    "is_load": i % 7 == 0,
                    "settled": (
                        datetime.fromisoformat(w_since) + timedelta(hours=6, minutes=i)
                        if i % 4 != 0
                        else None
                    ),
                    "local_amount": amount,
                    "local_currency": "GBP" if i % 5 else "EUR",
                    "counterparty": (
                        {
                            "name": f"Friend {(base + i) % 12}",
                            "account_number": 10000000 + ((base + i) % 12),
                            "sort_code": 400000 + ((base + i) % 12),
                        }
                        if i % 2 == 0
                        else None
                    ),
                    "merchant": merchant,
                }
            )
        return out

    return fetch
