"""Round-12 queries: k07 reshard planner, f25 zone-map file skipping.

Each test recomputes the query's contract INDEPENDENTLY (pure
python / pandas / hashlib) from the sf0.001 parquet and compares
against the registered Spark plan — the third-implementation
discipline of tests/test_round10.py and test_round11.py, so a shared
misreading of the spec can't pass both the Spark leg and its DuckDB
oracle.
"""

from __future__ import annotations

import datetime
import hashlib
from collections import Counter

import pandas as pd

from kinesis_log_streamer_spark.plans import queries as Q

SF_SMOKE = "/root/testdata/sf0.001"


def _pq(name: str) -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/{name}.parquet")


def _shard_no(key: str) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[0], 16) // 2


class TestReshardPlan:
    def _expected(self) -> list[tuple]:
        ev = _pq("events")
        out = []
        for mode, keys in (
            ("by_type", ev["event_type"].astype(str).tolist()),
            ("host", ["i-0abc.example.internal"] * len(ev)),
        ):
            loads = Counter(_shard_no(k) for k in keys)
            total = sum(loads.values())
            rows = []
            for shard in range(8):
                n = loads.get(shard, 0)
                if n * 8 > 2 * total:
                    action = "split"
                    children = min(4, -(-n * 8 // total))
                elif n * 32 < total:
                    action, children = "merge", 1
                else:
                    action, children = "keep", 1
                rows.append([shard, n, n * 1000 // total, action, children])
            plan_total = sum(c for _, _, _, a, c in rows if a != "merge") + (
                sum(1 for r in rows if r[3] == "merge") + 1
            ) // 2
            out.extend(
                (mode, s, n, pm, a, c, plan_total)
                for s, n, pm, a, c in rows
            )
        return out

    def test_matches_python_recompute(self, spark):
        got = [
            (
                r.mode,
                r.shard_no,
                r.n_records,
                r.share_pm,
                r.action,
                r.n_children,
                r.plan_total_shards,
            )
            for r in Q.k07_reshard_plan(spark, SF_SMOKE).collect()
        ]
        assert got == self._expected()

    def test_host_mode_split_is_maximal_and_futile(self, spark):
        """The reference's host key concentrates 1000 pm on one shard;
        the planner maxes the split (4 children) while every other
        shard is a merge — the diagnosis k06 quantifies."""
        rows = [
            r
            for r in Q.k07_reshard_plan(spark, SF_SMOKE).collect()
            if r.mode == "host"
        ]
        hot = [r for r in rows if r.action == "split"]
        assert len(hot) == 1
        assert hot[0].share_pm == 1000 and hot[0].n_children == 4
        assert all(r.action == "merge" for r in rows if r is not hot[0])


class TestZonemapPrune:
    PROBES = [
        ("year_1996", "1996-01-01", "1996-12-31", 0.0, 1e9),
        ("h1_1998", "1998-01-01", "1998-06-30", 0.0, 1e9),
        ("day_1997_03_15", "1997-03-15", "1997-03-15", 0.0, 1e9),
        ("price_over_400k", "1992-01-01", "2001-12-31", 400000.0, 1e9),
        ("none_2005", "2005-01-01", "2005-12-31", 0.0, 1e9),
    ]

    def _expected(self) -> list[tuple]:
        od = _pq("orders")
        d = pd.to_datetime(od["o_orderdate"]).dt.date
        p = od["o_totalprice"].astype(float)
        fid = (d.map(lambda x: x.year) - 1992) * 2 + (
            d.map(lambda x: x.month) > 6
        ).astype(int)
        zones = {}
        for f in sorted(fid.unique()):
            m = fid == f
            zones[f] = (
                d[m].min(), d[m].max(), p[m].min(), p[m].max(), int(m.sum())
            )
        out = []
        for probe, lo, hi, plo, phi in sorted(self.PROBES):
            lo = datetime.date.fromisoformat(lo)
            hi = datetime.date.fromisoformat(hi)
            pruned = {
                f
                for f, (dmin, dmax, pmin, pmax, _) in zones.items()
                if dmax < lo or dmin > hi or pmax < plo or pmin > phi
            }
            scanned = sum(
                z[4] for f, z in zones.items() if f not in pruned
            )
            matching = int(
                ((d >= lo) & (d <= hi) & (p >= plo) & (p <= phi)).sum()
            )
            out.append((probe, len(zones), len(pruned), scanned, matching))
        return out

    def test_matches_python_recompute(self, spark):
        got = [
            (
                r.probe,
                r.files_total,
                r.files_pruned,
                r.rows_scanned,
                r.rows_matching,
            )
            for r in Q.f25_zonemap_prune(spark, SF_SMOKE).collect()
        ]
        assert got == self._expected()

    def test_clustered_column_prunes_unclustered_does_not(self, spark):
        """Zone maps skip only what the layout sorted: every date
        probe prunes most files; the price-only probe prunes none."""
        rows = {
            r.probe: r
            for r in Q.f25_zonemap_prune(spark, SF_SMOKE).collect()
        }
        assert rows["price_over_400k"].files_pruned == 0
        assert rows["none_2005"].files_pruned == rows["none_2005"].files_total
        assert rows["none_2005"].rows_scanned == 0
        for probe in ("year_1996", "h1_1998", "day_1997_03_15"):
            r = rows[probe]
            assert r.files_pruned >= r.files_total - 3
            # a zone-aware scan never reads fewer rows than match
            assert r.rows_scanned >= r.rows_matching


class TestSweepStaleTmp:
    """The scratch-root sweeper (guarded getmtime) — pinned so the race
    tolerance can't regress."""

    def test_sweeps_old_keeps_fresh(self, tmp_path, monkeypatch):
        import os
        import tempfile

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        old = tmp_path / "klss-t12-old"
        new = tmp_path / "klss-t12-new"
        old.mkdir()
        new.mkdir()
        past = os.path.getmtime(str(old)) - 7200
        os.utime(str(old), (past, past))
        Q._sweep_stale_tmp()
        assert not old.exists() and new.exists()

    def test_vanished_path_between_glob_and_stat_is_tolerated(
        self, tmp_path, monkeypatch
    ):
        import os
        import tempfile

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        gone = tmp_path / "klss-t12-gone"
        gone.mkdir()
        real_getmtime = os.path.getmtime

        def racy_getmtime(p):
            if "klss-t12-gone" in str(p):
                # simulate the concurrent process rmtree-ing between
                # the sweeper's glob and its stat
                import shutil

                shutil.rmtree(str(gone), ignore_errors=True)
                raise FileNotFoundError(p)
            return real_getmtime(p)

        monkeypatch.setattr(os.path, "getmtime", racy_getmtime)
        # must not raise
        Q._sweep_stale_tmp()


def test_bench_headline_names_all_registered():
    """Every bench HEADLINE member must exist in the registry AND have
    a DuckDB oracle — a typo here would crash the driver's bench run,
    so catch it in pytest instead."""
    import bench
    from kinesis_log_streamer_spark.plans import oracles as O

    missing = [n for n in bench.HEADLINE if n not in Q.REGISTRY]
    assert not missing, f"HEADLINE names absent from REGISTRY: {missing}"
    no_oracle = [n for n in bench.HEADLINE if n not in O.ORACLES]
    assert not no_oracle, f"HEADLINE names without oracles: {no_oracle}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


class TestConcurrentSpoolPipelines:
    """End-to-end pin of the ADVICE r11 race fix: two spool-staging
    pipelines running simultaneously must neither interfere (their
    fixture dirs are per-thread ``_scratch`` dirs; the shared sweeper
    tolerates vanished paths) nor change their answers vs serial."""

    NAMES = ["l20_ingest_rollup_pipeline", "l21_errorlog_pipeline"]

    def test_parallel_matches_serial(self, spark):
        import threading

        serial = {
            n: [tuple(r) for r in Q.REGISTRY[n](spark, SF_SMOKE).collect()]
            for n in self.NAMES
        }
        results: dict[str, list] = {}
        errors: list[Exception] = []

        def run(name: str) -> None:
            try:
                results[name] = [
                    tuple(r)
                    for r in Q.REGISTRY[name](spark, SF_SMOKE).collect()
                ]
            except Exception as e:  # noqa: BLE001
                errors.append(e)

        threads = [
            threading.Thread(target=run, args=(n,)) for n in self.NAMES
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors, errors
        assert results == serial
