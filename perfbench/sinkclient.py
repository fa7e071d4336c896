"""Timing stand-in for the Kinesis endpoint, used in traced runs.

Spark's Python workers unpickle ``functools.partial(
TimingDirKinesisClient, sink_dir, spans_dir)`` by module path, so this
module must stay importable as ``perfbench.sinkclient``.  Each call is
one span appended to ``<spans_dir>/put-<pid>.jsonl`` (one file per
executor process, one atomic ``O_APPEND`` write per call); the harness
merges the files when the run ends.
"""

from __future__ import annotations

import json
import os
import time

from kinesis_log_streamer_spark.sources.kinesis_source import DirKinesisClient


class TimingDirKinesisClient(DirKinesisClient):
    def __init__(self, endpoint_dir: str, spans_dir: str) -> None:
        super().__init__(endpoint_dir)
        self._spans = os.path.join(spans_dir, f"put-{os.getpid()}.jsonl")

    def put_records(self, StreamName: str, Records: list[dict]) -> dict:  # noqa: N803
        t0 = time.time()
        resp = super().put_records(StreamName=StreamName, Records=Records)
        t1 = time.time()
        span = {
            "t0": t0,
            "t1": t1,
            "records": len(Records),
            "bytes": sum(len(r["Data"]) + len(r["PartitionKey"].encode()) for r in Records),
            "failed": resp.get("FailedRecordCount", 0),
        }
        fd = os.open(self._spans, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            os.write(fd, (json.dumps(span) + "\n").encode())
        finally:
            os.close(fd)
        return resp
