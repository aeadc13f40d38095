"""Keyset-paginated cursor source — the Spark-side shape of the
reference's HTTP contact/PO sources (S1/S2: fetchContact.js:5-11,
server.js:56-62: ``GET …?lastId=&limit=`` returning ``{data, count}``).

Design: the cursor loop is driver-side (the upstream API is inherently
sequential — each page's cursor comes from the previous page), but each
fetched page immediately becomes a distributed DataFrame. At scale the
landing pattern applies: pages land as files and ``spark.read.json``
picks them up with full parallelism; Structured Streaming treats the
cursor as a source offset (streaming/pipeline.py).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from etl_migrate_api_spark.localdf import local_df

# fetch(last_id, limit) -> {"data": [row, ...], "count": int}
FetchFn = Callable[[int, int], dict[str, Any]]


def fetch_http_page(base_url: str, last_id: int, limit: int, timeout: float = 30.0) -> dict[str, Any]:
    """Real HTTP fetch (stdlib only): GET {base_url}?lastId=&limit=,
    with transient-failure retry/backoff (sources/retry.py — the
    reference's reconnect policy).

    Kept separate from the loop so tests inject a fake FetchFn; no
    network access happens unless this function is passed explicitly.
    """
    from etl_migrate_api_spark.sources.retry import get_json

    return get_json(f"{base_url}?lastId={last_id}&limit={limit}", timeout=timeout)


@dataclass
class CursorSource:
    """Incremental keyset source: iterate (batch_df, new_last_id) pages.

    ``id_field`` must be monotonically increasing (the keyset cursor —
    reference data contract). An empty page ends iteration (F4 guard).
    """

    spark: SparkSession
    fetch: FetchFn
    schema: StructType | str
    id_field: str = "id"
    limit: int = 1000

    def pages(self, last_id: int = 0) -> Iterator[tuple[DataFrame, int]]:
        cursor = last_id
        while True:
            payload = self.fetch(cursor, self.limit)
            rows = payload.get("data") or []
            if not isinstance(rows, list) or len(rows) == 0:
                return
            # arrival order is the cursor order; make it explicit (O4:
            # Spark has no implicit row order). One slice: the page is
            # re-read by every job of the batch, and each slice costs a
            # Python worker round-trip per read. The row contract is
            # createDataFrame's, checked when the page is first read.
            df = local_df(self.spark, rows, self.schema)
            new_cursor = max(r[self.id_field] for r in rows)
            if new_cursor <= cursor:
                # a server that ignores lastId (or a non-increasing id
                # field) would otherwise re-serve the same page forever —
                # stop like the DataSource twin (datasource.py) rather
                # than loop the driver infinitely on duplicate rows
                return
            yield df, new_cursor
            cursor = new_cursor
