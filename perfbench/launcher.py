"""The program process of the benchmark.

Started by ``run.py`` with the program's own env settings pinned. It
sets the program up the way a user deploys it — ``get_spark``, then
``import_data_root`` on the generated lake and a ``HiveServer2Front`` on
a local port (``lake`` mode), or the fixture tables for direct registry
calls (``batch`` mode) — and then answers JSON commands, one per line,
on stdin. Replies go to the original stdout; everything else the program
prints is sent to stderr so it cannot corrupt the channel.

With ``--trace 1`` the wrappers in ``spans.py`` are installed around the
program's public functions before anything runs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from spans import Tracer  # noqa: E402

SETUP_REPS = 2  # data steps per set-up; setup_s takes their median
MIN_PASSES = 2  # timed batch passes, however long one pass takes

COMMIT_KINDS = {
    "append_files": "append_files",
    "append_dataframe": "append_dataframe",
    "delete_where": "delete_where",
    "delete_where_mor": "delete_where",
    "delete_where_positional": "delete_where",
    "delete_keys_mor": "delete_where",
    "update_set": "update_set",
    "update_set_mor": "update_set",
    "merge_into": "merge_into",
    "merge_into_mor": "merge_into",
}
MAINTENANCE = ("rewrite_data_files", "expire_snapshots")
WRITE_SPANS = {f"commit.{k}" for k in COMMIT_KINDS.values()} | {
    f"maintenance.{m}" for m in MAINTENANCE
}


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, from /proc, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _listing(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Probe:
    """Installs the wrappers and turns their spans into layer numbers."""

    def __init__(self) -> None:
        self.tracer = Tracer()
        self.stmt_seq: dict[str, int] = {}
        self.conflicts = 0
        # (start, metadata bytes, data files) per outermost commit
        self.commit_sizes: list[tuple[float, int, int]] = []
        self.scan_files: list[tuple[float, int]] = []  # (start, files listed)
        self.until = float("inf")  # end of the measured window

    def install(self) -> None:
        from iceberg_metadata_pipeline_spark.catalog import metacat
        from iceberg_metadata_pipeline_spark.ingest import register
        from iceberg_metadata_pipeline_spark.serving import server

        t = self.tracer

        def stmt_of(args):
            sid = str(args[1])
            self.stmt_seq[sid] = self.stmt_seq.get(sid, 0) + 1
            return f"{sid}:{self.stmt_seq[sid]}"

        t.wrap(server.SQLServingEngine, "execute", "serving.server.execute", stmt_of=stmt_of)
        # looked up by name in server.py
        t.wrap(server, "catalog_sql", "catalog.sqlfront.catalog_sql")
        t.wrap(server, "catalog_fingerprint", "serving.result_cache.fingerprint")
        t.wrap(metacat.Catalog, "load_table", "catalog.metacat.load_table")
        t.wrap(metacat.Table, "scan", "catalog.metacat.scan")

        def count_files(span, args, result, state):
            if isinstance(result, list):
                self.scan_files.append((span.start, len(result)))

        t.wrap(metacat.Table, "snapshot_files", "catalog.metacat.snapshot_files", after=count_files)

        def outermost() -> bool:
            return not any(n in WRITE_SPANS for n in t.open_names())

        def before_write(args):
            return _listing(args[0].location) if outermost() else None

        def after_write(span, args, result, before):
            if before is None:
                span.extra["nested"] = True
                return
            if isinstance(result, metacat.CommitConflictError):
                self.conflicts += 1
            after = _listing(args[0].location)
            new = [p for p in after if p not in before]
            meta = sum(after[p] for p in new if f"{os.sep}metadata{os.sep}" in p)
            data = sum(1 for p in new if p.endswith(".parquet") and f"{os.sep}metadata{os.sep}" not in p)
            self.commit_sizes.append((span.start, meta, data))

        for method, kind in COMMIT_KINDS.items():
            t.wrap(metacat.Table, method, f"commit.{kind}", before=before_write, after=after_write)
        for method in MAINTENANCE:
            t.wrap(metacat.Table, method, f"maintenance.{method}", before=before_write, after=after_write)
        # scan_parquet_footers is imported by name into register.py, and
        # looked up on the metacat module by the add_files procedure
        t.wrap(metacat, "scan_parquet_footers", "catalog.metacat.footer_scan")
        t.wrap(register, "scan_parquet_footers", "catalog.metacat.footer_scan")
        t.wrap(register, "infer_schema_first_file", "ingest.register.infer_schema")
        t.wrap(register, "list_import_folders", "ingest.discover.list")

    def durations(self, name: str, since: float = 0.0, nested: bool = True) -> list[float]:
        return [
            s.ms
            for s in self.tracer.spans
            if s.name == name and s.end and since <= s.start < self.until
            and (nested or not s.extra.get("nested"))
        ]

    def layers(self, since: float, statements: int) -> dict[str, float]:
        """Server-side layer numbers over spans that started inside the
        measured window [``since``, ``until``). A layer the window never
        entered reports 0."""
        t = self.tracer
        selfs = t.self_times()
        out = {
            "serving.server.execute_ms": med(self.durations("serving.server.execute", since)),
            "serving.result_cache.fingerprint_ms": med(
                self.durations("serving.result_cache.fingerprint", since)
            ),
            "catalog.sqlfront.catalog_sql_ms": med(
                [
                    selfs[i]
                    for i, s in enumerate(t.spans)
                    if s.name == "catalog.sqlfront.catalog_sql" and s.end and since <= s.start < self.until
                ]
            ),
            "catalog.metacat.load_table_ms": med(self.durations("catalog.metacat.load_table", since)),
            "catalog.metacat.load_table_calls": (
                len(self.durations("catalog.metacat.load_table", since)) / statements
                if statements
                else 0.0
            ),
            "catalog.metacat.scan_plan_ms": med(self.durations("catalog.metacat.scan", since)),
            "catalog.metacat.files_per_scan": med([n for t0, n in self.scan_files if since <= t0 < self.until]),
            "catalog.metacat.maintenance_ms": med(
                [d for m in MAINTENANCE for d in self.durations(f"maintenance.{m}", since, nested=False)]
            ),
            "catalog.metacat.metadata_bytes_per_commit": med(
                [m for t0, m, _ in self.commit_sizes if since <= t0 < self.until]
            ),
            "catalog.metacat.files_written_per_commit": med(
                [d for t0, _, d in self.commit_sizes if since <= t0 < self.until]
            ),
            "catalog.metacat.commit_conflicts": float(self.conflicts),
            "catalog.metacat.footer_scan_ms": med(self.durations("catalog.metacat.footer_scan", since)),
        }
        for kind in sorted(set(COMMIT_KINDS.values())):
            out[f"catalog.metacat.commit_ms.{kind}"] = med(
                self.durations(f"commit.{kind}", since, nested=False)
            )
        return out

    def setup_layers(self) -> dict[str, float]:
        return {
            "ingest.register.infer_schema_ms": med(self.durations("ingest.register.infer_schema")),
            "ingest.discover.list_ms": med(self.durations("ingest.discover.list")),
        }

    def execute_spans(self, since: float) -> list[tuple[str, float]]:
        return [
            (s.stmt, s.ms)
            for s in self.tracer.spans
            if s.name == "serving.server.execute" and s.end and since <= s.start < self.until
        ]


def _rows_digest(columns, rows) -> str:
    """Order-insensitive digest of a result; floats are compared to ten
    significant digits because partial sums may combine in any order."""
    from check_correctness import _rows_to_sorted  # tools/, on sys.path

    def canon(v):
        if isinstance(v, float):
            return float(f"{v:.10g}")
        if isinstance(v, tuple):
            return tuple(canon(x) for x in v)
        return v

    norm = [tuple(canon(x) for x in r) for r in _rows_to_sorted(rows, list(columns))]
    return hashlib.sha256(repr((sorted(columns), norm)).encode()).hexdigest()


class Program:
    def __init__(self, args, chan) -> None:
        self.args = args
        self.chan = chan
        self.probe = Probe() if args.trace else None
        self.front = None
        self.spark = None
        self.warehouse = None
        self.oracle_results: dict[str, tuple[list, list]] = {}  # batch, held for finish

    def reply(self, obj) -> None:
        self.chan.write(json.dumps(obj) + "\n")
        self.chan.flush()

    # ------------------------------------------------------------ set-up

    def setup(self) -> dict:
        from iceberg_metadata_pipeline_spark.session import get_spark

        if self.probe is not None:
            self.probe.install()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        session_ready = time.monotonic()
        # the data step runs several times from scratch; the last one serves
        reps = [self._lake_step(i) if self.args.mode == "lake" else self._fixture_step() for i in range(SETUP_REPS)]
        out = {
            "session_ready": session_ready,
            "get_spark_s": get_spark_s,
            "reps": reps,
        }
        if self.front is not None:
            out["port"] = self.front.port
            out["warehouse"] = self.warehouse
        return out

    def _lake_step(self, i: int) -> dict:
        """Ingest of the base lake into a fresh warehouse, then HS2 start."""
        from iceberg_metadata_pipeline_spark.catalog.metacat import Catalog
        from iceberg_metadata_pipeline_spark.ingest.register import import_data_root
        from iceberg_metadata_pipeline_spark.serving.hs2 import HiveServer2Front

        if self.front is not None:
            self.front.stop()
        self.warehouse = os.path.join(self.args.work, f"warehouse{i}")
        a = time.perf_counter()
        report = import_data_root(self.spark, Catalog(self.spark, self.warehouse), self.args.lake)
        b = time.perf_counter()
        if report.failed:
            raise RuntimeError(f"import failed: {report.failed}")
        self.front = HiveServer2Front(self.spark, self.warehouse).start()
        return {"import_s": b - a, "ready_s": time.perf_counter() - a}

    def _fixture_step(self) -> dict:
        """Registration of the fixture views, as the session's first caller
        meets it: ``load_tables`` keeps one registration per session and
        directory, so it is dropped before each repetition."""
        from iceberg_metadata_pipeline_spark import session

        session._TABLE_CACHE.pop((id(self.spark), self.args.sf), None)
        a = time.perf_counter()
        session.load_tables(self.spark, self.args.sf)
        return {"import_s": 0.0, "ready_s": time.perf_counter() - a}

    # ------------------------------------------------------------ commands

    def mark(self) -> dict:
        sc = self.spark.sparkContext
        cache = self.front.engine.cache if self.front is not None else None
        return {
            "perf": time.perf_counter(),
            "jobs": sc._jsc.sc().dagScheduler().numTotalJobs(),
            "hits": cache.hits if cache else 0,
            "misses": cache.misses if cache else 0,
        }

    def batch(self, cmd) -> dict:
        """Seeded passes over registry queries, called directly."""
        import __spark_entry__ as entry

        queries = entry.queries()
        oracles = entry.oracle_sql()
        names = cmd["names"]
        sc = self.spark.sparkContext
        failures: list[str] = []
        attempted = 0
        digests: dict[str, str] = {}
        check_s = {}
        for name in names:  # untimed check pass, also the warm-up
            attempted += 1
            a = time.perf_counter()
            try:
                df = queries[name](self.spark, self.args.sf)
                rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # noqa: BLE001 — reported as a failed op
                failures.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
                continue
            check_s[name] = time.perf_counter() - a
            digests[name] = _rows_digest(df.columns, rows)
            if name in oracles:
                self.oracle_results[name] = (list(df.columns), rows)

        passes = []
        deadline = time.perf_counter() + cmd["seconds"]
        # another pass starts only if one like the last should end in the window
        while len(passes) < MIN_PASSES or time.perf_counter() + passes[-1]["wall"] <= deadline:
            p = {"wall": 0.0, "queries": {}}
            t_pass = time.perf_counter()
            for name in names:
                if self.probe is not None:
                    sc.setJobGroup(f"perfbench-{len(passes)}-{name}", name)
                attempted += 1
                a = time.perf_counter()
                try:
                    df = queries[name](self.spark, self.args.sf)
                    b = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001
                    failures.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
                    continue
                c = time.perf_counter()
                q = {"build_ms": (b - a) * 1000, "exec_ms": (c - b) * 1000}
                if self.probe is not None:
                    q.update(self._job_counts(f"perfbench-{len(passes)}-{name}"))
                p["queries"][name] = q
            p["wall"] = time.perf_counter() - t_pass
            passes.append(p)
        if self.probe is not None:
            sc.setJobGroup("perfbench-idle", "idle")

        unstable = []
        for name in names:  # untimed: results must not drift between passes
            if name in oracles or name not in digests:
                continue
            attempted += 1
            try:
                df = queries[name](self.spark, self.args.sf)
                again = _rows_digest(df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001
                failures.append(f"{name}: {type(exc).__name__}: {exc}"[:400])
                continue
            if again != digests[name]:
                unstable.append(name)
        return {
            "passes": passes,
            "failures": failures,
            "unstable": unstable,
            "attempted": attempted,
            "check_s": check_s,
        }

    def _job_counts(self, group: str) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        jobs = tracker.getJobIdsForGroup(group)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def heap(self) -> dict:
        """The JVM heap's cap, and the peak it was used to: the sum of each
        heap pool's own peak, so at least the true peak."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]
        return {
            "heap_max_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getMax() / 2**20,
            "heap_peak_mb": sum(p.getPeakUsage().getUsed() for p in pools) / 2**20,
        }

    def oracle_problems(self) -> list[str]:
        """Batch results of queries with an oracle, compared on DuckDB over
        the same fixtures. Run after the peak RSS is read, so DuckDB's
        memory is not counted as the program's."""
        if not self.oracle_results:
            return []
        import __spark_entry__ as entry
        import duckdb
        from check_correctness import TABLES, compare

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.args.sf, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        oracles = entry.oracle_sql()
        out = []
        for name, (cols, rows) in self.oracle_results.items():
            got = SimpleNamespace(columns=cols, collect=lambda rows=rows: rows)
            problems = compare(name, got, con.sql(oracles[name]))
            if problems:
                out.append(f"{name}: " + " | ".join(problems[:2]))
        return out

    def finish(self, cmd) -> dict:
        if self.front is not None:
            self.front.stop()
        out = {
            "python_rss_mb": vm_hwm_mb(os.getpid()),
            "jvm_rss_mb": vm_hwm_mb(self.spark.sparkContext._gateway.proc.pid),
            **self.heap(),
            "oracle_problems": self.oracle_problems(),
        }
        if self.probe is not None:
            since = cmd.get("since", 0.0)
            self.probe.until = cmd.get("until", float("inf"))
            out["layers"] = self.probe.layers(since, cmd.get("statements", 0))
            out["layers"].update(self.probe.setup_layers())
            out["execute_spans"] = self.probe.execute_spans(since)
            self.probe.tracer.dump(cmd["spans"])
        return out

    def serve(self) -> None:
        self.reply({"ready": self.setup()})
        for line in sys.stdin:
            cmd = json.loads(line)
            op = cmd["op"]
            if op == "mark":
                self.reply(self.mark())
            elif op == "batch":
                self.reply(self.batch(cmd))
            elif op == "finish":
                self.reply(self.finish(cmd))
                break
            else:
                raise ValueError(f"unknown command {op!r}")
        # run.py kills the whole process group once it has this reply
        sys.stdin.read()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("lake", "batch"), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--lake")
    ap.add_argument("--sf")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    # keep the reply channel private: the program's own prints go to stderr
    chan = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    Program(args, chan).serve()


if __name__ == "__main__":
    main()
