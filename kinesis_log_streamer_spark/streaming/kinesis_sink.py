"""Kinesis PutRecords sink (reference B1+K1: basestreamer.go:19-87).

The reference accumulates ≤5 records and ships each buffer as one
``PutRecords`` call, made by the process that read stdin, dropping
failed batches/records (at-most-once, basestreamer.go:73-83).  The
engine upgrades this deliberately:

* **Sub-batching at the real API limits** — 500 records / 5 MiB per
  call (the reference's 5 uses ~1% of a call; BASELINE.md) — inside
  ``foreachBatch``, on the driver: the micro-batch arrives as Arrow
  and is walked one Arrow record batch at a time, so a write is one
  Spark job with no exchange and no Python worker task.
* **At-least-once** — failed records are retried with exponential
  backoff; records still failing raise out of ``write_batch``.  In a
  ``foreachBatch`` query that fails the query, and a restart from its
  checkpoint replays the micro-batch.  The CLI keeps no checkpoint (it
  never replayed from the one it deleted on exit): a failed put ends
  the run with a non-zero exit, and what to resend is the caller's
  call.  (Documented delta from the reference's at-most-once.)
  ``KinesisSink(delivery="at_most_once")`` restores STRICT reference
  parity — one call, no retry, log-and-drop, never raise
  (:func:`put_records_at_most_once`).
* **Partition-key affinity** — rows carry a ``partitionKey`` column
  (E1) that routes them to shards.  Records reach the put loop in
  partition order, so one input split's records stay together and in
  order; order across the splits of one micro-batch is not kept.

The client defaults to boto3 (``sources.kinesis_source.kinesis_client``,
the same builder the ``aws`` reader uses), exercised against an
in-process moto Kinesis server over HTTP (tests/test_moto_aws.py);
``client_factory`` injects a local client instead (``DirKinesisClient``,
or ``CollectingSink`` as a whole-sink stand-in with the same record
contract — SURVEY.md §2.1 row K1 prescribes the substitution).
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame

MAX_RECORDS_PER_CALL = 500  # Kinesis PutRecords API limit
MAX_BYTES_PER_CALL = 5 * 1024 * 1024  # 5 MiB API limit
MAX_BYTES_PER_RECORD = 1024 * 1024  # 1 MiB per record (data+key)


def chunk_records(
    rows: Iterable[tuple[bytes, str]],
    max_records: int = MAX_RECORDS_PER_CALL,
    max_bytes: int = MAX_BYTES_PER_CALL,
) -> Iterator[list[tuple[bytes, str]]]:
    """Greedy size/count-capped batching (the B1 micro-batcher at API
    scale): flush at max_records OR max_bytes, and always at end of
    input (the reference's EOF drain, basestreamer.go:27-33)."""
    batch: list[tuple[bytes, str]] = []
    size = 0
    for data, key in rows:
        rec_size = len(data) + len(key.encode())
        if rec_size > MAX_BYTES_PER_RECORD:
            # The API rejects oversized records on EVERY attempt; sending
            # one would burn retries and then vanish — fail fast instead
            # (the at-least-once contract forbids a silent drop).
            raise ValueError(
                f"record of {rec_size} bytes exceeds the "
                f"{MAX_BYTES_PER_RECORD}-byte Kinesis per-record limit "
                f"(partitionKey={key!r})"
            )
        if batch and (len(batch) >= max_records or size + rec_size > max_bytes):
            yield batch
            batch, size = [], 0
        batch.append((data, key))
        size += rec_size
    if batch:
        yield batch


def record_pair(data, key: str) -> tuple[bytes, str]:
    """One sink row as a PutRecords ``(Data, PartitionKey)`` pair.

    NULL ``data`` raises: ``str(None)`` would ship the 4-byte record
    ``None`` in place of a record that no longer exists."""
    if data is None:
        raise ValueError(f"record with NULL data (partitionKey={key!r})")
    if isinstance(data, (bytes, bytearray)):
        return data, key
    return str(data).encode(), key


def put_records_with_retry(
    client,
    stream_name: str,
    batch: list[tuple[bytes, str]],
    max_retries: int = 3,
    backoff_s: float = 0.2,
    on_drop: Callable[[list[tuple[bytes, str]]], None] | None = None,
) -> int:
    """One PutRecords call + per-record retry of failures.

    Returns the number of records durably accepted. The reference logs
    and drops failures (basestreamer.go:73-83); we retry — documented
    at-least-once upgrade.  Records still failing after ``max_retries``
    are handed to ``on_drop`` (a dead-letter hook); with no hook the
    call RAISES — a failed query replays the batch from its checkpoint,
    the CLI exits non-zero — because a silent drop would void the
    at-least-once guarantee."""
    pending = batch
    for attempt in range(max_retries + 1):
        resp = client.put_records(
            StreamName=stream_name,
            Records=[
                {"Data": data, "PartitionKey": key} for data, key in pending
            ],
        )
        if resp.get("FailedRecordCount", 0) == 0:
            return len(batch)
        failed = [
            rec
            for rec, result in zip(pending, resp["Records"])
            if "ErrorCode" in result
        ]
        if attempt == max_retries:
            if on_drop is None:
                raise RuntimeError(
                    f"{len(failed)} record(s) still failing after "
                    f"{max_retries} retries on stream {stream_name!r}"
                )
            on_drop(failed)
            return len(batch) - len(failed)
        pending = failed
        time.sleep(backoff_s * (2**attempt))
    return len(batch)


def put_records_at_most_once(
    client,
    stream_name: str,
    batch: list[tuple[bytes, str]],
    on_drop: Callable[[list[tuple[bytes, str]]], None] | None = None,
) -> int:
    """STRICT-PARITY delivery: one PutRecords call, zero retries, log
    and drop — exactly the reference's Flush (basestreamer.go:64-87):
    a failed CALL drops the whole buffer after one stderr line, a
    partial failure logs each failed record and drops only those, and
    the pipeline NEVER raises (so Structured Streaming never replays
    the batch — at-most-once end to end).  Returns records accepted.

    Exists as a flag-selectable mode because the retrying
    at-least-once path (:func:`put_records_with_retry`) is a
    documented behavioral upgrade over the reference; this closes the
    parity delta for users who depend on drop-on-pressure semantics
    (e.g. best-effort log shipping where duplicates are worse than
    loss)."""
    log = logging.getLogger(__name__)
    try:
        resp = client.put_records(
            StreamName=stream_name,
            Records=[
                {"Data": data, "PartitionKey": key} for data, key in batch
            ],
        )
    except Exception as exc:  # noqa: BLE001 - parity: any call error drops
        log.error("Failed to call Kinesis.PutRecords: %s", exc)
        if on_drop is not None:
            on_drop(batch)
        return 0
    if resp.get("FailedRecordCount", 0) == 0:
        return len(batch)
    failed = [
        rec
        for rec, result in zip(batch, resp["Records"])
        if "ErrorCode" in result
    ]
    for (_, key), result in zip(batch, resp["Records"]):
        if "ErrorCode" in result:
            log.error(
                "Failed to write a Kinesis record: %s (PartitionKey=%s)",
                result.get("ErrorMessage", result["ErrorCode"]),
                key,
            )
    if on_drop is not None:
        on_drop(failed)
    return len(batch) - len(failed)


class KinesisSink:
    """foreachBatch writer shipping (data, partitionKey) rows to Kinesis
    from the driver.

    Each micro-batch is taken as Arrow (``toArrow``) and converted to
    Python one Arrow record batch at a time, so the sink holds one
    micro-batch as Arrow plus one record batch as Python objects.  That
    suits micro-batches (the CLI's is bounded by
    ``cli.MAX_BYTES_PER_TRIGGER``); table-sized writes belong to the
    executor-side ``df.write.format("kinesis_py")`` writer.

    ``client_factory`` is called once per sink, on the first batch, and
    the client is reused for every later batch; it defaults to a boto3
    client built from the sink's region, profile, credentials and
    ``endpoint_url``.

    ``delivery`` selects the end-to-end guarantee:

    * ``"at_least_once"`` (default) — retry with backoff, raise on
      exhaustion: a query fails and its restart replays the
      micro-batch from the checkpoint; the CLI exits non-zero.
    * ``"at_most_once"`` — strict reference parity
      (:func:`put_records_at_most_once`): one call, no retry, log and
      drop, never raise.
    """

    def __init__(
        self,
        stream_name: str,
        client_factory: Callable | None = None,
        region: str | None = None,
        profile: str | None = None,
        on_drop: Callable[[list[tuple[bytes, str]]], None] | None = None,
        delivery: str = "at_least_once",
        endpoint_url: str | None = None,
        access_key: str | None = None,
        secret_key: str | None = None,
    ) -> None:
        if delivery not in ("at_least_once", "at_most_once"):
            raise ValueError(
                f"delivery must be 'at_least_once' or 'at_most_once', "
                f"got {delivery!r}"
            )
        self.stream_name = stream_name
        self.region = region
        self.profile = profile
        # Kinesis-compatible HTTP endpoint override (the moto server in
        # tests); None = the real service.  Explicit credentials; None =
        # boto3's default chain.
        self.endpoint_url = endpoint_url
        self.access_key = access_key
        self.secret_key = secret_key
        self.client_factory = client_factory or self._boto3_factory
        self._client = None
        # Dead-letter hook for records that exhaust retries (called on
        # the driver, so it may collect into the caller's objects);
        # None means raise → the query fails (at-least-once).
        self.on_drop = on_drop
        self.delivery = delivery

    def _boto3_factory(self):
        from kinesis_log_streamer_spark.sources.kinesis_source import (
            kinesis_client,
        )

        return kinesis_client(
            region=self.region,
            profile=self.profile,
            access_key=self.access_key,
            secret_key=self.secret_key,
            endpoint_url=self.endpoint_url,
        )

    def write_batch(self, df: DataFrame, epoch_id: int) -> None:
        """foreachBatch entry point: one Spark job brings the batch to
        the driver as Arrow; the records are put from here, in
        partition order."""
        table = df.select("data", "partitionKey").toArrow()
        if self._client is None:
            self._client = self.client_factory()
        pairs = (
            record_pair(data, key)
            for batch in table.to_batches()
            for data, key in zip(
                batch.column(0).to_pylist(), batch.column(1).to_pylist()
            )
        )
        put = (
            put_records_at_most_once
            if self.delivery == "at_most_once"
            else put_records_with_retry
        )
        accepted = sum(
            put(self._client, self.stream_name, chunk, on_drop=self.on_drop)
            for chunk in chunk_records(pairs)
        )
        logging.getLogger(__name__).info(
            "epoch %s: %s record(s) accepted by %s",
            epoch_id,
            accepted,
            self.stream_name,
        )


class CollectingSink:
    """Local test sink with the Kinesis record contract (A5): captures
    (data, partitionKey, batch_no) per flush so tests can assert batch
    boundaries — the stand-in SURVEY §5.2 prescribes."""

    def __init__(self, max_records: int = MAX_RECORDS_PER_CALL) -> None:
        self.max_records = max_records
        self.batches: list[list[tuple[bytes, str]]] = []

    def write_batch(self, df: DataFrame, epoch_id: int) -> None:
        rows = df.select("data", "partitionKey").collect()
        pairs = [record_pair(r["data"], r["partitionKey"]) for r in rows]
        self.batches.extend(chunk_records(pairs, max_records=self.max_records))

    @property
    def records(self) -> list[tuple[bytes, str]]:
        return [rec for b in self.batches for rec in b]
