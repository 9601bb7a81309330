"""Lakehouse benchmark: the program as its users reach it.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (both closed loop; see RATIONALE.md for why each exists):

- ``ingest_rw``: one HS2 connection commits (add_files, INSERT, DELETE,
  UPDATE, MERGE, maintenance CALLs) while another reads the same table
  with statements that never repeat.
- ``batch_pipeline``: one caller runs passes over registry queries on the
  sf0.1 fixtures, in seeded order, straight through the library.

The program runs in its own process (``launcher.py``); HS2 traffic comes
from this process through ``HS2Client``. Outputs are checked against
DuckDB outside the measured window. The last line of stdout is one JSON
object: the end-to-end metrics, or with ``--trace 1`` the per-layer ones.
Lines before it are ``#`` comments naming every metric with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from datetime import date, datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "iceberg_metadata_pipeline_spark")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
RUN_DEADLINE_S = 170  # every process is stopped by then

# Registry queries of batch_pipeline and the group each one's plan
# falls in: "python" plans cross into Python workers (Arrow UDFs, Python
# DataSources); "jvm" plans stay in the JVM, including the catalog
# fixtures whose builders do their commits in driver-side Python.
BATCH_QUERIES = {
    "udf_map_in_arrow": "python",
    "source_pydelta_datasource": "python",
    "source_pyhudi_datasource": "python",
    "multimodal_probe_headers": "python",
    "tpch_q9_product_profit": "jvm",
    "agg_count_distinct": "jvm",
    "tpch_q13_customer_distribution": "jvm",
    "catalog_delta_cdf": "jvm",
}

E2E_UNITS = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}


# --------------------------------------------------------------- helpers


def pct(values: list[float], q: int) -> float:
    """q-th percentile (exclusive method, like statistics.quantiles)."""
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    if q == 50:
        return statistics.median(values)
    return statistics.quantiles(values, n=100)[q - 1]


def kind_geomean(by_kind: dict[str, list[float]]) -> float:
    """Typical operation latency: the geometric mean over operation kinds
    of each kind's median. In a window that mixes kinds of very different
    cost (reads and each kind of commit; different registry queries) a
    plain median reports whichever kind the middle sample lands on, and
    one kind more or less in the window moves it by a whole step."""
    return statistics.geometric_mean([statistics.median(v) for v in by_kind.values() if v])


def closed_loop_rate(per_client: list[list[float]]) -> float:
    """Operations per second of a closed loop with no think time: each
    client's completed operations over the time it spent in them, summed
    over clients. Unlike completions over the window, this does not
    depend on where the window's edge cuts the last operation."""
    return sum(len(ms) / (sum(ms) / 1000) for ms in per_client if ms)


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def program_env(work: str) -> dict[str, str]:
    """The program's own settings, pinned: every core, Spark scratch
    inside the checkout, and a driver heap sized from physical memory
    (the 48g default exceeds small hosts)."""
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    env = dict(os.environ)
    for knob in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_TARGET_INPUT_BYTES"):
        env.pop(knob, None)  # not part of the deployment under test
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_kb // 16 // 1024}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        TZ="UTC",
    )
    return env


PINNED = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")


class Program:
    """The launcher subprocess and the JSON line channel to it."""

    def __init__(self, work: str, argv: list[str], trace: bool) -> None:
        self.env = program_env(work)
        self.pinned = {k: self.env[k] for k in PINNED}
        self.log_path = os.path.join(work, "program.log")
        self._log = open(self.log_path, "w")
        self.t_start = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "launcher.py"), "--work", work,
             "--trace", str(int(trace)), *argv],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            text=True,
            env=self.env,
            cwd=work,
            start_new_session=True,  # its JVM and Python workers share the group
        )
        try:
            self.ready = self._recv()["ready"]
        except BaseException:
            self.stop()
            raise

    def _recv(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            self._log.flush()
            with open(self.log_path) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"program process ended early; its log ends:\n{tail}")
        return json.loads(line)

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self._recv()

    def stop(self) -> None:
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        kill_group(self.proc)
        self.proc.wait()
        self._log.close()


def kill_group(proc: subprocess.Popen) -> None:
    """Kill every process left in the launcher's group — its JVM and any
    Python workers — and wait until the group is empty. Nothing they
    hold needs a clean shutdown: all their files are in the work dir."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        proc.poll()  # reap the launcher, or its zombie keeps the group alive
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError(f"process group {proc.pid} did not exit")


class Fetched:
    """An HS2 result in the shape ``check_correctness.compare`` reads:
    ``raw`` as the wire delivered it, ``collect()`` with the decimals,
    dates and timestamps HS2 renders as strings turned back into values."""

    def __init__(self, columns: list[str], raw: list[tuple], type_ids: list[int]) -> None:
        self.columns = columns
        self.raw = raw
        self._convs = [_FROM_WIRE.get(t) for t in type_ids]

    def collect(self) -> list[tuple]:
        if not any(self._convs):
            return self.raw
        return [
            tuple(v if v is None or conv is None else conv(v) for v, conv in zip(r, self._convs))
            for r in self.raw
        ]


# TTypeId values HS2 sends as strings: DECIMAL, DATE, TIMESTAMP
_FROM_WIRE = {15: Decimal, 17: date.fromisoformat, 8: datetime.fromisoformat}


def typed_query(client, sql: str) -> Fetched:
    """execute + schema + paged fetch + close, keeping the column types."""
    op = client.execute(sql)
    schema = client.result_schema(op)
    rows = client.fetch_all_rows(op)
    client.close_operation(op)
    return Fetched([n for n, _ in schema], rows, [t for _, t in schema])


def timed(client, sql: str):
    """One closed-loop request: (ms, rows, error)."""
    a = time.perf_counter()
    try:
        _, rows = client.query(sql)
    except (RuntimeError, OSError) as exc:
        return (time.perf_counter() - a) * 1000, None, f"{type(exc).__name__}: {exc}"
    return (time.perf_counter() - a) * 1000, rows, None


def in_threads(bodies) -> None:
    """Run each body in its own thread; re-raise the first error here."""
    errors: list[BaseException] = []

    def guarded(body) -> None:
        try:
            body()
        except BaseException as exc:  # handed to the calling thread below
            errors.append(exc)

    threads = [threading.Thread(target=guarded, args=(b,)) for b in bodies]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def duck_connect(statements: list[str]):
    import duckdb

    con = duckdb.connect()
    for sql in statements:
        con.execute(sql)
    return con


class Run:
    def __init__(self, args, stem: str) -> None:
        self.args = args
        self.spans_path = stem + "-spans.json"  # written by a traced run
        self.work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.work)
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.notes: list[tuple[str, float, str, str]] = []  # name, value, unit, comment
        self.layers: dict[str, float] = {}
        self.pinned: dict[str, str] = {}
        self.prog: Program | None = None
        self.t0 = time.monotonic()
        self.timeline: list[tuple[str, float]] = []

    def phase(self, name: str) -> None:
        """Mark the end of a phase of this run (printed as a wall-time line)."""
        self.timeline.append((name, time.monotonic() - self.t0))

    def start(self, argv: list[str]) -> Program:
        self.prog = Program(self.work, argv, self.args.trace)
        self.pinned = self.prog.pinned
        return self.prog

    def abort(self) -> None:
        """Watchdog: kill the program so every blocked call returns."""
        if self.prog is not None:
            kill_group(self.prog.proc)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def check(self, what: str, problems: list[str]) -> None:
        """One checked operation: it fails once, whatever the number of problems."""
        if problems:
            self.fail(f"{what}: " + " | ".join(problems[:2]))

    def note(self, name: str, value: float, unit: str, comment: str = "") -> None:
        self.notes.append((name, value, unit, comment))

    def note_kinds(self, by_kind: dict[str, list[float]]) -> None:
        """How many of the operation kinds the window held, with each
        kind's median: the terms of op_geomean_ms."""
        present = {kind: v for kind, v in by_kind.items() if v}
        self.note(
            "kinds_in_window", len(present), "count",
            f"of {len(by_kind)}; median ms: "
            + ", ".join(f"{kind} {statistics.median(v):.0f} (n={len(v)})" for kind, v in present.items()),
        )

    def setup_s(self, prog: Program) -> float:
        """Launcher start to the session, plus the median of the repeated
        data steps (ingest and serve, or fixture registration): the set-up
        a user waits for."""
        ready = prog.ready
        session = ready["session_ready"] - prog.t_start
        rest = statistics.median(r["ready_s"] for r in ready["reps"])
        self.layers["session.get_spark_s"] = ready["get_spark_s"]
        self.layers["setup.data_ready_s"] = rest
        self.layers["ingest.register.import_s"] = statistics.median(r["import_s"] for r in ready["reps"])
        return session + rest

    def memory(self, fin: dict) -> None:
        self.e2e["peak_rss_mb"] = fin["python_rss_mb"] + fin["jvm_rss_mb"]
        self.layers["proc.python_rss_mb"] = fin["python_rss_mb"]
        self.layers["proc.jvm_rss_mb"] = fin["jvm_rss_mb"]
        self.layers["proc.jvm_heap_peak_mb"] = fin["heap_peak_mb"]
        self.note("jvm_heap_peak_mb", fin["heap_peak_mb"], "MB", f"heap pools' peaks, of a {fin['heap_max_mb']:.0f} MB cap")
        if "layers" in fin:
            self.layers.update(fin["layers"])

    def hs2_layers(self, fin: dict, client_ms: dict[str, float], marks) -> None:
        """Per statement in the window: client time minus the server's
        execute span; Spark jobs and result-cache hits over the window."""
        if not self.args.trace:
            return
        server = dict(fin["execute_spans"])
        matched = [(ms, server[k]) for k, ms in client_ms.items() if k in server]
        outside = pct([c - e for c, e in matched], 50)
        n = len(client_ms)
        jobs = (marks[1]["jobs"] - marks[0]["jobs"]) / n if n else 0.0
        hits = marks[1]["hits"] - marks[0]["hits"]
        lookups = hits + marks[1]["misses"] - marks[0]["misses"]
        self.layers.update(
            {
                "op.outside_execute_ms": outside,
                "op.execute_ms": pct([e for _, e in matched], 50),
                "spark.jobs_per_op": jobs,
                "serving.hs2.self_ms": outside,
                "serving.hs2.spark_jobs_per_read": jobs,
                "serving.result_cache.hit_ratio": hits / lookups if lookups else 0.0,
            }
        )

    # ----------------------------------------------------------- ingest_rw

    def ingest_rw(self) -> None:
        import numpy as np

        import gen
        from check_correctness import compare
        from iceberg_metadata_pipeline_spark.serving.hs2 import HS2Client

        seed = self.args.seed
        shape = gen.INGEST_LAKE
        lake = gen.make_lake(self.work, shape, seed)
        self.phase("inputs")
        seq = gen.writer_sequence(np.random.default_rng([seed, 4]), lake)
        prog = self.start(["--mode", "lake", "--lake", lake.root])
        writes: list[tuple[gen.Statement, float, list | None, str | None]] = []
        reads: list[float] = []
        client_ms: dict[str, float] = {}  # "<session>:<statement no.>" -> ms, window only
        try:
            self.e2e["setup_s"] = self.setup_s(prog)
            self.phase("setup")
            port = prog.ready["port"]
            writer, reader = HS2Client("127.0.0.1", port), HS2Client("127.0.0.1", port)
            pending = iter(enumerate(seq, start=1))
            read_rng = np.random.default_rng([seed, 5])
            n_reads = [0]

            def write_loop(until: float, limit: int) -> None:
                for n, st in pending:
                    ms, rows, err = timed(writer, st.spark)
                    writes.append((st, ms, rows, err))
                    client_ms[f"1:{n}"] = ms
                    if time.perf_counter() >= until or len(writes) >= limit:
                        return

            def read_loop(stop) -> None:
                while not stop():
                    n_reads[0] += 1
                    ms, _, err = timed(reader, gen.reader_statement(read_rng, n_reads[0]))
                    if err is not None:
                        self.fail(f"read {n_reads[0]}: {err}")
                    else:
                        reads.append(ms)
                        client_ms[f"2:{n_reads[0]}"] = ms

            # warm-up, outside the window: one whole writer cycle compiles the
            # plan of every commit kind once, with reads beside it
            warm_done = threading.Event()

            def warm_writer() -> None:
                try:
                    write_loop(float("inf"), len(gen.WRITE_KINDS))
                finally:
                    warm_done.set()

            in_threads([warm_writer, lambda: read_loop(warm_done.is_set)])
            warm_writes, warm_reads = len(writes), len(reads)
            client_ms.clear()
            self.phase("warm")
            marks = [prog.call(op="mark")]
            t0 = time.perf_counter()
            deadline = t0 + self.args.seconds
            in_threads([
                lambda: write_loop(deadline, len(seq)),
                lambda: read_loop(lambda: time.perf_counter() >= deadline),
            ])
            elapsed = time.perf_counter() - t0
            marks.append(prog.call(op="mark"))
            self.phase("window")
            self.attempted += len(writes) + n_reads[0]
            final = typed_query(reader, gen.FINAL_CHECK_SQL)
            self.attempted += 1
            writer.close()
            reader.close()
            fin = prog.call(
                op="finish", since=marks[0]["perf"], until=marks[1]["perf"],
                statements=len(client_ms), spans=self.spans_path,
            )
            warehouse_bytes = dir_bytes(prog.ready["warehouse"])
        finally:
            prog.stop()
        self.phase("teardown")

        # the mirror: DuckDB replays the writer's statements in order
        con = duck_connect([
            "CREATE SCHEMA nyc",
            f"CREATE TABLE {gen.FACT} AS SELECT * FROM "
            f"read_parquet('{os.path.join(lake.folder('fhv_tripdata'), '*.parquet')}')",
        ])
        snapshots = 1  # the import's
        expected_op = {"insert": "append", "delete": "delete", "update": "update", "merge": "merge"}
        for st, _, rows, err in writes:
            if err is not None:
                self.fail(f"{st.kind}: {err}")
                continue
            for sql in st.duck:
                con.execute(sql)
            if st.kind == "expire_snapshots":
                snapshots = min(snapshots, 3)
                want = [snapshots]
                got = [rows[0][0]]
            elif st.kind == "rewrite_data_files":
                # (files before, files after): compaction to at most two
                # files never splits one
                snapshots += 1
                want, got = [min(2, rows[0][0])], [rows[0][1]]
            elif st.kind == "add_files":
                snapshots += 1
                want, got = [1, 1], list(rows[0])
            else:
                snapshots += 1
                want, got = [expected_op[st.kind], True], [rows[0][0], rows[0][1] is not None]
            if got != want:
                self.fail(f"{st.kind} reported {rows}, mirror expects {want}")
        self.check("final table contents", compare("final", final, con.sql(gen.FINAL_CHECK_SQL)))

        write_ms = [ms for _, ms, _, err in writes[warm_writes:] if err is None]
        reads = reads[warm_reads:]
        by_kind = {"read": reads, **{kind: [] for kind in gen.WRITE_KINDS}}
        for st, ms, _, err in writes[warm_writes:]:
            if err is None:
                by_kind[st.kind].append(ms)
        self.e2e.update(op_geomean_ms=kind_geomean(by_kind), ops_per_s=closed_loop_rate([write_ms, reads]))
        self.memory(fin)
        self.hs2_layers(fin, client_ms, marks)

        added = [ms for st, ms, _, err in writes if st.kind == "add_files" and err is None]
        # the writer registers the batch folders in order
        source = dir_bytes(lake.root) + sum(dir_bytes(d) for d in lake.batch_dirs[: len(added)])
        dml_bytes = sum(len(st.spark) for st, _, _, _ in writes if st.kind in expected_op)
        self.note_kinds(by_kind)
        self.note("read_p50_ms", pct(reads, 50), "ms", f"n={len(reads)} reads beside the writer")
        self.note("read_p90_ms", pct(reads, 90), "ms", f"n={len(reads)}")
        self.note("reads_per_s", closed_loop_rate([reads]), "1/s", f"{elapsed:.1f} s window")
        self.note("write_p50_ms", pct(write_ms, 50), "ms", f"n={len(write_ms)} commits incl. maintenance")
        self.note("write_p90_ms", pct(write_ms, 90), "ms", f"n={len(write_ms)}: " + ", ".join(
            f"{st.kind} {ms:.0f}" for st, ms, _, err in writes[warm_writes:] if err is None
        ))
        self.note(
            "ingest_rows_per_s",
            len(added) * shape.batch_rows / (sum(added) / 1000) if added else 0.0,
            "rows/s",
            f"{len(added)} add_files calls",
        )
        self.note(
            "space_amp",
            (warehouse_bytes + source) / (source + dml_bytes),
            "ratio",
            f"warehouse {warehouse_bytes} B + registered source {source} B over "
            f"{source + dml_bytes} B handed to ingest and DML",
        )

    # ------------------------------------------------------ batch_pipeline

    def batch_pipeline(self) -> None:
        import numpy as np

        import __spark_entry__ as entry

        # the read-only sf0.1 fixtures (TESTDATA.md), beside the smoke ones
        sf_dir = os.path.join(os.path.dirname(entry.SMOKE_SF_DIR), "sf0.1")
        if not os.path.isdir(sf_dir):
            raise RuntimeError(f"fixture directory {sf_dir} is missing")
        names = [str(n) for n in np.random.default_rng([self.args.seed, 6]).permutation(list(BATCH_QUERIES))]
        prog = self.start(["--mode", "batch", "--sf", sf_dir])
        try:
            self.e2e["setup_s"] = self.setup_s(prog)
            self.phase("setup")
            res = prog.call(op="batch", names=names, seconds=self.args.seconds)
            self.phase("check pass, window, re-check")
            fin = prog.call(op="finish", spans=self.spans_path)
        finally:
            prog.stop()
        self.phase("teardown")
        for f in res["failures"]:
            self.fail(f)
        for name in res["unstable"]:
            self.fail(f"{name}: result changed between passes")
        for p in fin["oracle_problems"]:
            self.fail(p)
        passes = res["passes"]
        self.attempted += res["attempted"]

        lat = [q["build_ms"] + q["exec_ms"] for p in passes for q in p["queries"].values()]
        walls = [p["wall"] for p in passes]
        by_query = {
            name: [p["queries"][name]["build_ms"] + p["queries"][name]["exec_ms"] for p in passes if name in p["queries"]]
            for name in names
        }
        self.e2e.update(
            op_geomean_ms=kind_geomean(by_query),
            ops_per_s=statistics.median(len(p["queries"]) / p["wall"] for p in passes),
        )
        self.note_kinds(by_query)
        self.note("op_p90_ms", pct(lat, 90), "ms", f"n={len(lat)} query runs")
        self.memory(fin)
        self.note("pipeline_s", statistics.median(walls), "s", f"median of {len(walls)} passes of {len(names)} queries")
        slowest = sorted(res["check_s"].items(), key=lambda kv: -kv[1])
        self.note(
            "check_pass_s", sum(res["check_s"].values()), "s",
            "untimed, first run of each query: " + ", ".join(f"{n} {t:.1f}" for n, t in slowest),
        )
        if self.args.trace:
            for name in names:
                runs = [p["queries"][name] for p in passes if name in p["queries"]]
                for key in ("build_ms", "exec_ms"):
                    self.layers[f"queries.{name}.{key}"] = pct([r[key] for r in runs], 50)
            for group in ("python", "jvm"):
                self.layers[f"pipeline.{'python_boundary' if group == 'python' else 'jvm'}_s"] = sum(
                    self.layers[f"queries.{n}.build_ms"] + self.layers[f"queries.{n}.exec_ms"]
                    for n in names
                    if BATCH_QUERIES[n] == group
                ) / 1000
            runs = [q for p in passes for q in p["queries"].values()]
            self.layers["op.outside_execute_ms"] = pct([q["build_ms"] for q in runs], 50)
            self.layers["op.execute_ms"] = pct([q["exec_ms"] for q in runs], 50)
            self.layers["spark.jobs_per_op"] = pct([q["jobs"] for q in runs], 50)
            self.layers["spark.stages_per_query"] = pct([q["stages"] for q in runs], 50)
            self.layers["spark.tasks_per_query"] = pct([q["tasks"] for q in runs], 50)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_rw", "batch_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(PACKAGE, "serving", "hs2.py")):
        print(f"perfbench: the program is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}")
    run = Run(args, stem)
    watchdog = threading.Timer(RUN_DEADLINE_S, run.abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        getattr(run, args.workload)()
    finally:
        watchdog.cancel()
        shutil.rmtree(run.work, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("# pinned: " + " ".join(f"{k}={v}" for k, v in run.pinned.items()))
    for name, unit in E2E_UNITS.items():
        print(f"# {name} {run.e2e[name]:.4f} {unit}")
    for name, value, unit, comment in run.notes:
        print(f"# {name} {value:.4f} {unit}  ({comment})")
    frac = run.failed / run.attempted if run.attempted else 1.0
    print(f"# failed_frac {frac:.4f} ratio  ({run.failed} failed of {run.attempted} operations attempted)")
    for p in run.problems:
        print(f"# FAILED: {p}")
    run.phase("checks")
    print("# wall s: " + ", ".join(f"{name} {t:.1f}" for name, t in run.timeline))
    print("# e2e " + json.dumps(run.e2e))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        per_layer = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    if args.trace:
        for name in sorted(run.layers):
            print(f"# layer {name} {run.layers[name]:.4f} {layer_unit(name)}")
        try:
            with open(stem + "-trace0.json") as fh:
                base = json.load(fh)["e2e"]
            for name in E2E_UNITS:
                print(f"# tracing overhead {name}: {run.e2e[name] / base[name] - 1:+.1%} vs the untraced run of this seed")
        except (OSError, ValueError, KeyError):
            print("# tracing overhead: no untraced run of this seed to compare with")
        metrics = {n: {"value": run.layers[n], "unit": u} for n, u in per_layer.items()}
    else:
        metrics = {n: {"value": run.e2e[n], "unit": u} for n, u in E2E_UNITS.items()}
    with open(f"{stem}-trace{args.trace}.json", "w") as fh:
        json.dump({"e2e": run.e2e, "layers": run.layers}, fh)
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


def layer_unit(name: str) -> str:
    """Unit of a layer metric, from its name (``commit_ms.<kind>`` is in ms)."""
    base = name.split(".commit_ms.")[0] + "_ms" if ".commit_ms." in name else name
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_bytes_per_commit", "B"), ("_ratio", "ratio")):
        if base.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
