"""System under test for one benchmark run, in a fresh process.

Usage: python3 -m perfbench.harness CONFIG_JSON  (started by run.py)

Ingest workloads call the CLI's own ``cli.run_streaming`` on this
process's stdin (the read end of the generator's pipe).  The only stand-in
is the AWS endpoint: ``KinesisSink`` is bound to a factory passing a
``DirKinesisClient`` over the run's sink directory, so everything from
stdin to ``put_records`` is the CLI's code.

The analytics workload runs the query slice through
``plans.queries.REGISTRY`` on a ``session.get_spark`` session: one
warm-up query, then timed passes over the slice (``call`` = the
function returning, ``collect`` = the result reaching this process).  The
first pass times each query's first execution in the session, as a
caller running it once would see it.

Progress goes to stdout as ``@perfbench {"event": ..., "t": ...}``
lines; the result (and, in traced runs, the per-layer numbers) is
written as JSON to the config's ``result`` path.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.procstat import pct



def status(event: str) -> None:
    print("@perfbench", json.dumps({"event": event, "t": time.time()}), flush=True)


class StreamProbe:
    """Wraps the stream handed to ``run_streaming``: counts reads and
    splits the spooler's time into waiting in ``read1`` and busy between
    reads (splitting records and landing files)."""

    def __init__(self, raw) -> None:
        self._raw = raw
        self.sizes: list[int] = []
        self.wait_s = 0.0
        self.busy_s = 0.0
        self._returned: float | None = None

    def read1(self, n: int = -1) -> bytes:
        t0 = time.perf_counter()
        if self._returned is not None:
            self.busy_s += t0 - self._returned
        data = self._raw.read1(n)
        self._returned = time.perf_counter()
        self.wait_s += self._returned - t0
        if data:
            self.sizes.append(len(data))
        return data


class LandingWatcher(threading.Thread):
    """Polls the spool landing dir under this process's TMPDIR: files
    landed, records per file, and files present (the intake backlog)."""

    def __init__(self, tmpdir: str) -> None:
        super().__init__(daemon=True)
        self.pattern = os.path.join(tmpdir, "klss-spool-*", "landing")
        self.records: dict[str, int] = {}
        self.present_max = 0
        self.done = threading.Event()

    def poll(self) -> None:
        for landing in glob.glob(self.pattern):
            try:
                names = [n for n in os.listdir(landing) if n.startswith("part-")]
            except OSError:
                continue
            self.present_max = max(self.present_max, len(names))
            for name in names:
                path = os.path.join(landing, name)
                if path not in self.records:
                    try:
                        with open(path, "rb") as fh:
                            self.records[path] = fh.read().count(b"\n")
                    except OSError:
                        pass

    def run(self) -> None:
        while not self.done.wait(0.02):
            self.poll()
        self.poll()


class ProgressListener(StreamingQueryListener):
    """Per micro-batch (rows, triggerExecution ms, addBatch ms)."""

    def __init__(self) -> None:
        self.batches: list[tuple[int, int, int]] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            d = p.durationMs
            self.batches.append((p.numInputRows, d.get("triggerExecution", 0), d.get("addBatch", 0)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _put_layers(spans_dir: str) -> dict:
    spans = []
    for path in glob.glob(os.path.join(spans_dir, "put-*.jsonl")):
        with open(path) as fh:
            spans += [json.loads(line) for line in fh if line.strip()]
    n = [s["records"] for s in spans]
    ms = [1000 * (s["t1"] - s["t0"]) for s in spans]
    return {
        "kinesis_sink.put_calls": len(spans),
        "kinesis_sink.records_per_call_p50": pct(n, 0.5),
        "kinesis_sink.fill_ratio": sum(n) / len(n) / 500 if n else 0.0,
        "kinesis_sink.put_ms_p50": pct(ms, 0.5),
        "kinesis_sink.put_ms_p99": pct(ms, 0.99),
        "kinesis_sink.retried_records": sum(s["failed"] for s in spans),
        "kinesis_sink.bytes": sum(s["bytes"] for s in spans),
    }


def run_ingest(cfg: dict) -> dict:
    from kinesis_log_streamer_spark import cli, hostid
    from kinesis_log_streamer_spark.session import get_spark
    from kinesis_log_streamer_spark.sources.kinesis_source import DirKinesisClient
    from kinesis_log_streamer_spark.streaming import kinesis_sink
    from kinesis_log_streamer_spark.streaming.pipeline import build_json_pipeline

    from perfbench import corpus
    from perfbench.sinkclient import TimingDirKinesisClient

    workload, traced = cfg["workload"], cfg["trace"]
    layers: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark("kinesis-log-streamer-cli")  # run_streaming reuses it
    layers["session.start_s"] = time.perf_counter() - t0

    host: dict = {}

    def get_host_id(probe_network: bool = False) -> str:
        # A benchmark host has no instance-metadata service and the run
        # must not reach off the host, so identity resolves through the
        # cascade's interface-IP / uuid levels.
        t = time.perf_counter()
        host["id"] = hostid.get_host_id(probe_network=False)
        host.setdefault("s", time.perf_counter() - t)
        return host["id"]

    cli.get_host_id = get_host_id
    if traced:
        factory = functools.partial(TimingDirKinesisClient, cfg["sink_dir"], cfg["spans_dir"])
    else:
        factory = functools.partial(DirKinesisClient, cfg["sink_dir"])
    sink_cls = kinesis_sink.KinesisSink
    write_ms: list[float] = []
    if traced:

        class TimedSink(sink_cls):
            def write_batch(self, df, epoch_id):
                t = time.perf_counter()
                try:
                    super().write_batch(df, epoch_id)
                finally:
                    write_ms.append(1000 * (time.perf_counter() - t))

        sink_cls = TimedSink
    kinesis_sink.KinesisSink = functools.partial(sink_cls, client_factory=factory)

    parser = cli.build_parser()
    args = parser.parse_args(corpus.INGEST_WORKLOADS[workload][0])
    entries = cli.parse_entries(args.add_entry, parser)
    output_format = cli.resolve_output_format(args.format, args.output_format)
    stream = sys.stdin.buffer
    if traced:
        listener = ProgressListener()
        spark.streams.addListener(listener)
        stream = StreamProbe(stream)
        watcher = LandingWatcher(os.environ["TMPDIR"])
        watcher.start()
    rc = cli.run_streaming(args, entries, output_format, stream)
    result = {"rc": rc, "host_id": host.get("id")}
    if not traced:
        return result

    watcher.done.set()
    watcher.join()
    time.sleep(1.0)  # listener events are delivered asynchronously
    files = list(watcher.records.values())
    rows = [b[0] for b in listener.batches]
    layers.update({
        "hostid.resolve_s": host.get("s", 0.0),
        "stdin_spool.reads": len(stream.sizes),
        "stdin_spool.bytes_per_read_p50": pct(stream.sizes, 0.5),
        "stdin_spool.read_wait_s": stream.wait_s,
        "stdin_spool.busy_s": stream.busy_s,
        "stdin_spool.files_landed": len(files),
        "stdin_spool.records_per_file": sum(files) / len(files) if files else 0.0,
        "pipeline.batches": len(rows),
        "pipeline.rows_per_batch_p50": pct(rows, 0.5),
        "pipeline.rows_per_batch_max": max(rows, default=0),
        "pipeline.trigger_ms_p50": pct([b[1] for b in listener.batches], 0.5),
        "pipeline.trigger_ms_p99": pct([b[1] for b in listener.batches], 0.99),
        "pipeline.overhead_ms_p50": pct([b[1] - b[2] for b in listener.batches], 0.5),
        "pipeline.backlog_files_max": watcher.present_max,
        "kinesis_sink.write_batch_ms_p50": pct(write_ms, 0.5),
        "kinesis_sink.write_batch_ms_p99": pct(write_ms, 0.99),
        **_put_layers(cfg["spans_dir"]),
    })
    # transforms alone: the same corpus as a static DataFrame into noop
    warm = corpus.INGEST_WORKLOADS[workload][1]
    values = [
        (p.rstrip("\n"),)
        for p in corpus.payloads(workload, cfg["seed"], warm + corpus.record_count(workload, cfg["seconds"]))
    ]
    df = spark.createDataFrame(values, "value string")
    out = build_json_pipeline(df, entries, host["id"])
    times = []
    for _ in range(3):
        t = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    layers["transforms.records_per_s"] = len(values) / statistics.median(times)
    result["layers"] = layers
    return result


def _stage_layers(event_dir: str, windows: list[tuple[str, float, float]]) -> dict:
    """Per query: shuffle MiB written and task skew (max / median task
    time of its longest stage), from Spark's JSON event log.  Stages
    belong to the query whose wall-clock window saw them submitted;
    each figure is the median over the query's timed executions."""
    submitted: dict[tuple, float] = {}
    tasks: dict[tuple, list[tuple[float, float]]] = {}
    paths = [os.path.join(d, f) for d, _, fs in os.walk(event_dir) for f in fs]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    submitted[key] = info.get("Submission Time", 0) / 1000
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    written = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tasks.setdefault(key, []).append(
                        ((info["Finish Time"] - info["Launch Time"]) / 1000, written)
                    )
    per_query: dict[str, list[tuple[float, float]]] = {}
    for name, w0, w1 in windows:
        stages = [k for k, t in submitted.items() if w0 <= t <= w1 and tasks.get(k)]
        shuffle = sum(b for k in stages for _, b in tasks[k]) / 2**20
        skew = 1.0
        if stages:
            longest = max(stages, key=lambda k: sum(d for d, _ in tasks[k]))
            durs = [d for d, _ in tasks[longest]]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        per_query.setdefault(name, []).append((shuffle, skew))
    out = {}
    for name, vals in per_query.items():
        out[f"queries.{name}.shuffle_mb"] = statistics.median(v[0] for v in vals)
        out[f"queries.{name}.task_skew"] = statistics.median(v[1] for v in vals)
    return out


def run_analytics(cfg: dict) -> dict:
    from kinesis_log_streamer_spark.plans import queries as Q
    from kinesis_log_streamer_spark.session import get_spark

    from perfbench.oracle import SLICE, fingerprint

    traced, data = cfg["trace"], cfg["data_dir"]
    extra = None
    if traced:
        os.makedirs(cfg["event_dir"], exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": cfg["event_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    layers: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark("perfbench-analytics", extra_conf=extra)
    layers["session.start_s"] = time.perf_counter() - t0
    Q.REGISTRY[SLICE[0]](spark, data).collect()  # warm-up query
    status("start")
    samples: dict[str, list[tuple[float, float]]] = {n: [] for n in SLICE}
    results = []
    windows = []
    t_end = time.monotonic() + cfg["seconds"]
    while True:
        for name in SLICE:
            spark.catalog.clearCache()
            w0 = time.time()
            t0 = time.perf_counter()
            df = Q.REGISTRY[name](spark, data)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            windows.append((name, w0, time.time()))
            samples[name].append((t1 - t0, t2 - t1))
            results.append((name, df.columns, rows))
        if time.monotonic() >= t_end:
            break
    status("end")
    prints: dict[str, list] = {n: [] for n in SLICE}
    for name, cols, rows in results:
        prints[name].append(list(fingerprint(cols, rows)))
    del results
    spark.stop()  # closes the event log
    out = {"samples": samples, "fingerprints": prints}
    if traced:
        for name, s in samples.items():
            layers[f"queries.{name}.call_s"] = statistics.median(c for c, _ in s)
            layers[f"queries.{name}.collect_s"] = statistics.median(c for _, c in s)
        layers.update(_stage_layers(cfg["event_dir"], windows))
        out["layers"] = layers
    return out


def main(argv: list[str]) -> int:
    with open(argv[0]) as fh:
        cfg = json.load(fh)
    run = run_analytics if cfg["workload"] == "analytics_slice" else run_ingest
    result = run(cfg)
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
