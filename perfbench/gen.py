"""Load generator process: writes one workload's corpus to stdout (a pipe).

Usage: python3 -m perfbench.gen WORKLOAD SEED SECONDS SUMMARY_PATH

1. Writes the warm-up records, then blocks until one byte arrives on
   stdin (the runner's "go", sent once the warm-up reached the sink).
2. Offers the measured records as fast as the pipe accepts, in 64 KiB
   writes (a queued backlog replayed after a restart); each record is
   due when its write begins.
3. Closes stdout (EOF) and writes a JSON summary: the due times.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import corpus


def _write_all(fd: int, data: bytes) -> None:
    view = memoryview(data)
    while view:
        view = view[os.write(fd, view):]


def main(argv: list[str]) -> int:
    workload, seed, seconds, summary_path = argv[0], int(argv[1]), float(argv[2]), argv[3]
    warm = corpus.INGEST_WORKLOADS[workload][1]
    n = corpus.record_count(workload, seconds)
    data = [p.encode() for p in corpus.payloads(workload, seed, warm + n)]
    out = sys.stdout.fileno()
    _write_all(out, b"".join(data[:warm]))
    sys.stdin.buffer.read(1)
    due: list[float] = []
    start = warm
    while start < len(data):
        end, size = start, 0
        while end < len(data) and (end == start or size + len(data[end]) <= corpus.WRITE_BYTES):
            size += len(data[end])
            end += 1
        due.extend([time.time()] * (end - start))
        _write_all(out, b"".join(data[start:end]))
        start = end
    os.close(out)
    with open(summary_path, "w") as fh:
        json.dump({"due": due}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
