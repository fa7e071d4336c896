"""The repo benchmark: Apache-pipe ingest and an oracle-checked analytics slice.

Usage (from the repo root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (inputs are generated from ``--seed``; the program under
test only sees the generated bytes or tables):

* ``access_backlog`` - ``S x 1000`` JSON access records piped through
  ``--streaming -f json -I LogFile=HTTPAccessLog`` in 64 KiB writes,
  as fast as the pipe accepts: a queued backlog (throughput).
* ``analytics_slice`` - 7 registry queries over seeded sf0.01-shaped
  tables: one warm-up query, then timed passes for at least S seconds
  (the first pass is each query's first execution in the session).

Each run starts a fresh harness process (``perfbench/harness.py``) with
its own TMPDIR under ``.perfbench-work/`` and samples its process tree
(the Python process, its JVM and Python workers) from outside.  Ingest
input comes from a separate generator process (``perfbench/gen.py``);
the sink is ``DirKinesisClient`` over a per-run directory, whose ``ts``
stamp is the arrival time of each record.

End-to-end metrics (``--trace 0``), the same names for every workload:

* ``setup_s`` - harness start to session built, host id resolved and
  the first warm-up batch delivered (ingest) or the warm-up query done
  (analytics).
* ``throughput_per_s`` - ingest: records accepted / (last sink arrival -
  first record due); analytics: queries / median time of a slice pass.
* ``cpu_ms_per_item`` - CPU of the harness tree per record (ingest) or
  per query execution (analytics) over the timed phase.

Latency is computed too - ingest: per record, due time at the generator
to sink arrival; analytics: time of a slice pass - but only reported by
traced runs (``traced.latency_p50_ms``, ``traced.latency_p99_ms``): on
both workloads it is the backlog's drain time or the pass time, i.e.
throughput read another way.

Correctness: ingest compares the multiset of (data, partitionKey) in
the sink with a plain-Python rendering of the input (missing, altered
and duplicated records fail); analytics compares each result's row
count and order-insensitive hash with DuckDB on ``oracle_sql()``.
``attempted``/``failed`` count records (ingest) or queries (analytics).

``--trace 1`` prints the per-layer metrics listed in BENCHMARK.json
instead, plus ``traced.<metric>`` (the figures above with tracing on).
Each run appends its figures to ``.perfbench-work/history.jsonl`` and
writes a trace JSON under ``.perfbench-work/traces/``; a traced run also
reports its difference from the untraced runs recorded there (the
tracing overhead).
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, procstat  # noqa: E402
from perfbench.procstat import pct  # noqa: E402

WORKLOADS = ("access_backlog", "analytics_slice")
DRIVER_MEM = "2g"  # SPARK_GRAFT_DRIVER_MEM for the harness
ANALYTICS_SCALE = 0.01
DEADLINE_S = 150.0
WORK = os.path.join(ROOT, ".perfbench-work")


class Harness:
    """The harness process (own session), its status lines and tree samples."""

    def __init__(self, cfg: dict, env: dict, stdin) -> None:
        cfg_path = os.path.join(cfg["work"], "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        self.log = open(os.path.join(cfg["work"], "harness.log"), "wb")
        self.t_start = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.harness", cfg_path],
            stdin=stdin, stdout=subprocess.PIPE, stderr=self.log,
            cwd=cfg["work"], env=env, start_new_session=True,
        )
        self.events: queue.Queue = queue.Queue()
        self.peak_rss = 0
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(b"@perfbench "):
                self.events.put(json.loads(line[len(b"@perfbench "):]))

    def sample(self) -> float:
        cpu, rss = procstat.tree_sample(self.proc.pid)
        self.peak_rss = max(self.peak_rss, rss)
        return cpu

    def stop(self) -> None:
        """Ends the harness and anything left in its process group."""
        for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                pass
            deadline = time.time() + grace
            while time.time() < deadline and _group_alive(self.proc.pid):
                self.proc.poll()
                time.sleep(0.05)
            if not _group_alive(self.proc.pid):
                break
        self.proc.wait()
        self.log.close()

    def log_tail(self) -> str:
        with open(self.log.name, "rb") as fh:
            return fh.read()[-4000:].decode(errors="replace")


def _group_alive(pgid: int) -> bool:
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            try:
                with open(f"/proc/{ent}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(f[2]) == pgid and f[0] != "Z":
                return True
    return False


class SinkTail:
    """Reads complete new lines from the DirKinesisClient shard files."""

    def __init__(self, sink_dir: str) -> None:
        self.dir = sink_dir
        self.offsets: dict[str, int] = {}

    def poll(self) -> list[dict]:
        out = []
        if not os.path.isdir(self.dir):
            return out
        for name in sorted(os.listdir(self.dir)):
            path = os.path.join(self.dir, name)
            with open(path, "rb") as fh:
                fh.seek(self.offsets.get(path, 0))
                data = fh.read()
            cut = data.rfind(b"\n") + 1
            self.offsets[path] = self.offsets.get(path, 0) + cut
            out += [json.loads(line) for line in data[:cut].splitlines() if line.strip()]
        return out


class Contention:
    """External cores over a window: host busy CPU minus this run's tree."""

    def start(self) -> None:
        self.t = time.time()
        self.host = procstat.host_busy_s()
        self.own = procstat.tree_sample(os.getpid())[0]

    def stop(self) -> float:
        wall = max(time.time() - self.t, 1e-9)
        ext = (procstat.host_busy_s() - self.host) - (procstat.tree_sample(os.getpid())[0] - self.own)
        return max(ext, 0.0) / wall


def _canon(data: str) -> str:
    try:
        return corpus.canonical(data)
    except ValueError:
        return data


def run_ingest(args, cfg: dict, env: dict) -> tuple[dict, dict, int, int]:
    workload = args.workload
    warm = corpus.INGEST_WORKLOADS[workload][1]
    n = corpus.record_count(workload, args.seconds)
    expected = [corpus.expected(workload, p) for p in corpus.payloads(workload, args.seed, warm + n)]
    seq_of = {e: i for i, e in enumerate(expected)}
    os.makedirs(cfg["sink_dir"])
    os.makedirs(cfg["spans_dir"])
    gen_summary = os.path.join(cfg["work"], "gen.json")

    r, w = os.pipe()
    harness = Harness(cfg, env, stdin=r)
    gen = subprocess.Popen(
        [sys.executable, "-m", "perfbench.gen", workload, str(args.seed), str(args.seconds), gen_summary],
        stdin=subprocess.PIPE, stdout=w, cwd=ROOT, env=env,
    )
    os.close(r)
    os.close(w)
    tail = SinkTail(cfg["sink_dir"])
    got: collections.Counter = collections.Counter()
    arrival: dict[int, float] = {}
    contention = Contention()
    setup_s = cpu0 = cpu1 = ext_cores = None
    deadline = time.time() + DEADLINE_S
    try:
        while True:
            exited = harness.proc.poll() is not None
            for rec in tail.poll():
                key = _canon(rec["data"])
                got[(key, rec["partitionKey"])] += 1
                seq = seq_of.get(key)
                if seq is not None and seq not in arrival:
                    arrival[seq] = rec["ts"]
            cpu = harness.sample()
            if setup_s is None and all(i in arrival for i in range(warm)):
                setup_s = max(arrival[i] for i in range(warm)) - harness.t_start
                cpu0 = cpu
                contention.start()
                gen.stdin.write(b"g")
                gen.stdin.close()
            elif setup_s is not None and cpu1 is None and len(arrival) == warm + n:
                cpu1 = cpu
                ext_cores = contention.stop()
            if exited:
                break
            if time.time() > deadline:
                raise RuntimeError("run exceeded its deadline")
            time.sleep(0.05)
        gen.wait(timeout=30)
    finally:
        harness.stop()
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if harness.proc.returncode != 0 or setup_s is None:
        raise RuntimeError(f"harness failed (exit {harness.proc.returncode}):\n{harness.log_tail()}")
    with open(cfg["result"]) as fh:
        result = json.load(fh)
    with open(gen_summary) as fh:
        summary = json.load(fh)

    want = collections.Counter((e, result["host_id"]) for e in expected)
    matched = sum(min(c, got[k]) for k, c in want.items())
    duplicated = sum(max(0, got[k] - c) for k, c in want.items())
    failed = len(expected) - matched + duplicated
    if result["rc"] != 0:
        failed = max(failed, 1)
    due = summary["due"]
    lat = [1000 * (arrival[warm + i] - d) for i, d in enumerate(due) if warm + i in arrival]
    last = max(arrival[warm + i] for i in range(n) if warm + i in arrival)
    if cpu1 is None:  # some records never arrived: charge the whole run
        cpu1, ext_cores = cpu, contention.stop()
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": len(lat) / (last - due[0]),
        "latency_p50_ms": pct(lat, 0.5),
        "latency_p99_ms": pct(lat, 0.99),
        "cpu_ms_per_item": 1000 * (cpu1 - cpu0) / n,
    }
    layers = dict(result.get("layers", {}))
    layers.update({
        "gen.records_offered": warm + n,
        "host.external_cores": ext_cores,
        "host.peak_rss_mb": harness.peak_rss / 2**20,
    })
    return metrics, layers, len(expected), failed


def _oracle(data_dir: str) -> dict:
    """DuckDB fingerprints of the slice, cached by the tables' content."""
    from perfbench import oracle

    digest = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, name), "rb") as fh:
            digest.update(name.encode() + fh.read())
    path = os.path.join(WORK, f"oracle-{digest.hexdigest()[:20]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    out = oracle.duckdb_fingerprints(data_dir, oracle.SLICE, threads=len(os.sched_getaffinity(0)))
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


def run_analytics(args, cfg: dict, env: dict) -> tuple[dict, dict, int, int]:
    from perfbench import datagen, oracle

    datagen.generate(cfg["data_dir"], args.seed, ANALYTICS_SCALE)
    harness = Harness(cfg, env, stdin=subprocess.DEVNULL)
    contention = Contention()
    setup_s = cpu0 = cpu1 = ext_cores = oracle_out = None
    deadline = time.time() + DEADLINE_S
    try:
        while harness.proc.poll() is None:
            harness.sample()
            while not harness.events.empty():
                ev = harness.events.get()
                if ev["event"] == "start":
                    setup_s = ev["t"] - harness.t_start
                    cpu0 = harness.sample()
                    contention.start()
                elif ev["event"] == "end":
                    cpu1 = harness.sample()
                    ext_cores = contention.stop()
                    oracle_out = _oracle(cfg["data_dir"])  # while the harness exits
            if time.time() > deadline:
                raise RuntimeError("run exceeded its deadline")
            time.sleep(0.05)
    finally:
        harness.stop()
    if harness.proc.returncode != 0 or cpu1 is None or not oracle_out:
        raise RuntimeError(f"harness failed (exit {harness.proc.returncode}):\n{harness.log_tail()}")
    with open(cfg["result"]) as fh:
        result = json.load(fh)

    passes = [sum(c + k for c, k in pass_) for pass_ in zip(*result["samples"].values())]
    failed = 0
    for q, fps in result["fingerprints"].items():
        if any(fp != oracle_out[q] for fp in fps):
            print(f"perfbench: {q} differs from its oracle", file=sys.stderr)
            failed += 1
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": len(oracle.SLICE) / statistics.median(passes),
        "latency_p50_ms": 1000 * pct(passes, 0.5),
        "latency_p99_ms": 1000 * pct(passes, 0.99),
        "cpu_ms_per_item": 1000 * (cpu1 - cpu0) / (len(passes) * len(oracle.SLICE)),
    }
    layers = dict(result.get("layers", {}))
    layers["host.external_cores"] = ext_cores
    layers["host.peak_rss_mb"] = harness.peak_rss / 2**20
    return metrics, layers, len(oracle.SLICE), failed


def _history(workload: str) -> list[dict]:
    try:
        with open(os.path.join(WORK, "history.jsonl")) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
    except OSError:
        return []
    return [r for r in rows if r["workload"] == workload and not r["trace"]]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    try:
        import kinesis_log_streamer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"))
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "work": work,
        "result": os.path.join(work, "result.json"),
        "sink_dir": os.path.join(work, "sink"), "spans_dir": os.path.join(work, "spans"),
        "data_dir": os.path.join(work, "data"), "event_dir": os.path.join(work, "events"),
    }
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        # no hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([ROOT] + [x for x in [os.environ.get("PYTHONPATH")] if x]),
        "TZ": "UTC",
    })
    run = run_analytics if args.workload == "analytics_slice" else run_ingest
    try:
        metrics, layers, attempted, failed = run(args, cfg, env)
    except Exception as exc:  # noqa: BLE001 - report and exit non-zero
        print(f"perfbench: {args.workload} failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
        "metrics": metrics, "host": procstat.host_fingerprint(),
        "external_cores": layers.get("host.external_cores"),
        "cpus": cpus, "driver_mem": DRIVER_MEM,
    }
    print(
        f"perfbench: {args.workload} seed={args.seed} host={record['host']} "
        f"external_cores={record['external_cores']} cpus={cpus} driver_mem={DRIVER_MEM}",
        file=sys.stderr,
    )
    if args.trace:
        layers.update({f"traced.{k}": v for k, v in metrics.items()})
        base = _history(args.workload)
        if base:
            record["tracing_overhead"] = {
                k: v / statistics.median(r["metrics"][k] for r in base) - 1
                for k, v in metrics.items()
            }
            print(f"perfbench: tracing overhead vs {len(base)} untraced runs: "
                  + json.dumps(record["tracing_overhead"]), file=sys.stderr)
        record["layers"] = layers
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        out = {k: float(layers.get(k) or 0.0) for k in units}
    else:
        out = {k: metrics[k] for k in units}
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    with open(os.path.join(WORK, "history.jsonl"), "a") as fh:
        fh.write(json.dumps({k: v for k, v in record.items() if k != "layers"}) + "\n")
    if args.trace:
        with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"), "w") as fh:
            json.dump(record, fh, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
