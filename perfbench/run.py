"""Layered upsert-and-serve benchmark: one workload per process.

    python3 perfbench/run.py --workload upsert_stream --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seconds 10      # every workload

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The lines before it name every metric with its unit,
including those that apply only to some workloads.  See README.md.
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
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
# set in the process that runs a workload; its parent supervises it
WORKER_ENV = "PERFBENCH_WORKER"

# units of the end-to-end metrics that are printed but not gated; the
# gated and per-layer metrics take theirs from BENCHMARK.json
PRINTED_UNITS = {
    "write_tail_ms": "ms", "dml_p50_ms": "ms", "dml_tail_ms": "ms",
    "read_p50_ms": "ms", "read_tail_ms": "ms", "reads_per_s": "1/s",
    "dml_bytes_per_op": "bytes", "disk_bytes_per_live_byte": "ratio",
    "error_rate": "ratio",
}


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# ----------------------------------------------------------------- stats
def p50(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """Highest percentile with at least ten samples beyond it (never
    below the median when a run has fewer than 21 samples).  Returns
    (value, percentile, samples)."""
    if not xs:
        return None, None, 0
    s = sorted(xs)
    n = len(s)
    k = min(10, (n - 1) // 2)
    i = n - 1 - k
    return s[i], round(100.0 * i / max(1, n - 1), 1), n


# --------------------------------------------------------------- context
class Ctx:
    def __init__(self, args, work: Path):
        self.seed, self.sf, self.work = args.seed, args.sf, work
        self.spark = self.engine = self.model = self.tracer = None
        self.table = None
        self._oracle = (None, None)
        self.model_version = 0

    def oracle_check(self, sql, table, model):
        """Compare a served result with DuckDB over the model."""
        import duckdb
        from polars_lake_spark.testing import compare

        version, con = self._oracle
        if version != self.model_version:
            con = duckdb.connect()
            con.register(self.table, model.arrow(list(model.df.columns)))
            self._oracle = (self.model_version, con)
        rep = compare(_ArrowRows(table), con, sql)
        if rep["ok"]:
            return None
        return f"{sql[:60]}: {rep.get('error')} {rep.get('first_diffs', '')}"[:600]


class _ArrowRows:
    """The two members of a Spark DataFrame that testing.compare uses."""

    def __init__(self, table):
        self.columns = table.column_names if table is not None else []
        self._t = table

    def collect(self):
        if self._t is None:
            return []
        cols = [c.to_pylist() for c in self._t.columns]
        return list(zip(*cols))


def _disk(root: Path) -> dict[str, int]:
    """Size of every file under ``root`` (walked between ops, never during)."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    }


# ------------------------------------------------------------------- run
def execute(ctx, op, client, traced, records, phase):
    """Run one op, apply it to the model when acknowledged, check it."""
    import workloads as W

    rec = {"kind": op.kind, "cls": op.cls, "rows": op.rows, "phase": phase,
           "user_bytes": op.user_bytes}
    before = _disk(ctx.root) if op.cls != "read" else None
    err = None
    t0 = time.perf_counter()
    try:
        if traced:
            ctx.tracer.op = len(records)
            try:
                with ctx.tracer.span(f"op.{op.kind}", shape=op.kind) as sp:
                    result = W.run_traced(ctx, op)
            finally:
                ctx.tracer.op = None
        else:
            result = W.run_wire(ctx, op, client)
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        if op.apply:
            op.apply(ctx.model)
            ctx.model_version += 1
        if op.check:
            err = op.check(result, ctx.model)
        rec["result_rows"] = result.num_rows if result is not None else 0
    except Exception as e:  # counted, never hidden
        rec.setdefault("ms", (time.perf_counter() - t0) * 1e3)
        err = f"{type(e).__name__}: {e}"[:400]
    if traced:
        op_spans = [s for s in ctx.tracer.spans if s["op"] == len(records)]
        ctx.tracer.resolve(op_spans)
        rec.update({k: sp[k] for k in ("total_jobs", "total_stages", "total_tasks",
                                       "total_rows_in", "in_job_ms", "driver_ms")})
        rec["children_ms"] = sum(s["ms"] for s in op_spans if s["parent"] == sp["id"])
        rec["commits"] = sum(s["name"] == "snapshots.commit" for s in op_spans)
    if before is not None:
        # files the op created or changed; walked outside the timed interval
        after = _disk(ctx.root)
        new = {p: n for p, n in after.items() if before.get(p) != n}
        table_dir = str(ctx.root / ctx.table) + os.sep
        pq = [p for p in new if p.startswith(table_dir) and p.endswith(".parquet")]
        rec["files"] = len(pq)
        rec["partitions"] = len({os.path.dirname(p) for p in pq})
        rec["bytes_written"] = sum(new.values())
    rec["ok"] = err is None
    if err:
        rec["error"] = err
        print(f"perfbench: {phase} {op.kind} failed: {err}", file=sys.stderr)
    records.append(rec)
    return rec


def run_cycles(ctx, wl, client, records, phase, traced, until=None, cycles=None, least=1):
    """Closed loop: whole cycles, at least ``least``, until the deadline
    (or a cycle count)."""
    start = time.perf_counter()
    i = 0
    while True:
        if cycles is not None and i >= cycles:
            break
        if cycles is None and i >= least and time.perf_counter() >= until:
            break
        for op in wl.cycle(ctx.cycle_no):
            execute(ctx, op, client, traced, records, phase)
        ctx.cycle_no += 1
        i += 1
    return time.perf_counter() - start, i


def live_files(ctx) -> int:
    from polars_lake_spark.snapshots import SnapshotStore

    store = SnapshotStore(str(ctx.root / ctx.table))
    snap = store.load()
    n = 0
    for ppath, wdirs in snap.mapping.items():
        for w in wdirs:
            d = ctx.root / ctx.table / "data" / w / ppath
            if d.is_dir():
                n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return n


def run_workload(args) -> dict:
    import workloads as W

    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    ctx = Ctx(args, work)
    wl = W.WORKLOADS[args.workload](ctx)
    ctx.table, ctx.cycle_no = wl.table, 0
    nproc = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    from polars_lake_spark import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    ctx.spark = spark
    try:
        out = _run(args, ctx, wl, spark, session_s)
    finally:
        stop_spark(spark)
    out["nproc"] = nproc
    shutil.rmtree(work, ignore_errors=True)
    return out


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited.
    ``spark.stop()`` alone leaves the JVM to notice on its own, after
    this process exits, that its stdin pipe closed."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run(args, ctx, wl, spark, session_s) -> dict:
    import pyarrow.parquet as pq

    import gen
    import workloads as W
    from polars_lake_spark import Engine
    from polars_lake_spark.serving import SqlServer
    from spans import Tracer, instrument

    work = ctx.work
    base = wl.base()
    src = work / "source.parquet"
    pq.write_table(gen.to_arrow(base), src)
    # One build: repeating it for a median cost 2-6 s a run, which the
    # time budget (4 + 22 runs per workload in 57 min) could not spare.
    root = work / "lake"
    eng = Engine(spark, str(root))
    t = time.perf_counter()
    wl.create(eng, wl.table, spark.read.parquet(str(src)))
    build_s = time.perf_counter() - t
    ctx.engine, ctx.root = eng, root
    ctx.model = gen.Model(base, wl.keys)

    server = SqlServer(eng).start()
    client = W.Client(server.address)
    records: list[dict] = []
    try:
        # warm-up: a fixed number of whole cycles (see Workload.warmup)
        t = time.perf_counter()
        run_cycles(ctx, wl, client, records, "warmup", False, cycles=wl.warmup)
        warm_s = time.perf_counter() - t
        setup_s = session_s + build_s + warm_s

        timed_phases = []
        if args.trace:
            # half untraced over the wire, half traced in-process; each
            # runs at least one cycle, so --seconds 0 runs one of each
            half = args.seconds / 2
            el, n = run_cycles(ctx, wl, client, records, "timed", False,
                               until=time.perf_counter() + half)
            timed_phases.append(("timed", el, n))
            ctx.tracer = Tracer(spark)
            with instrument(ctx.tracer):
                el, n = run_cycles(ctx, wl, client, records, "traced", True,
                                   until=time.perf_counter() + half)
                timed_phases.append(("traced", el, n))
                seen = {r["kind"] for r in records if r["phase"] == "traced"}
                for kind in ("cdc", "delete", "update"):
                    if kind not in seen:
                        execute(ctx, wl.probe(kind), client, True, records, "probe")
        else:
            # two cycles at least: a cdc_mixed cycle takes 7-12 s, and two
            # hold both DML kinds and give write_p50_ms two batches
            el, n = run_cycles(ctx, wl, client, records, "timed", False,
                               until=time.perf_counter() + args.seconds, least=2)
            timed_phases.append(("timed", el, n))
    finally:
        client.close()
        server.stop()

    t = time.perf_counter()
    epi = epilogue(ctx, wl, records, traced=bool(args.trace))
    epi["s"] = time.perf_counter() - t
    out = {
        "records": records,
        "phases": timed_phases,
        "setup": {"session_s": session_s, "build_s": build_s, "warmup_s": warm_s,
                  "setup_s": setup_s},
        "epilogue": epi,
    }
    if args.trace:
        out["spans"] = ctx.tracer.dump()
    return out


def epilogue(ctx, wl, records, traced: bool) -> dict:
    """Reopen the table from disk and check it against the model: the
    whole table, then one query of every shape against DuckDB."""
    import workloads as W
    from polars_lake_spark import Engine

    out = {"checks": 0, "failed": 0, "errors": []}

    def fail(msg):
        out["failed"] += 1
        out["errors"].append(msg[:400])
        print(f"perfbench: check failed: {msg[:400]}", file=sys.stderr)

    t = time.perf_counter()
    eng = Engine(ctx.spark, str(ctx.root))
    eng.load_all()
    out["load_ms"] = (time.perf_counter() - t) * 1e3
    model = ctx.model
    cols = list(model.df.columns)
    table = eng.table(ctx.table).select(*cols).toArrow()
    out["checks"] += 1
    err = W.frames_equal(table, model.df, wl.keys)
    if err:
        fail(f"reopened table differs from model: {err}")
    out["live_bytes"] = table.nbytes
    out["disk_bytes"] = sum(_disk(ctx.root).values())
    out["live_files"] = live_files(ctx)
    ctx.engine = eng
    for shape in W.SHAPES:
        sql = wl.shape_sql(shape)
        op = wl.shape_check(shape, sql)
        if traced:
            rec = execute(ctx, op, None, True, records, "epilogue")
        else:
            rec = {"ok": True}
            try:
                err = op.check(eng.sql(sql).toArrow(), model)
            except Exception as e:
                err = f"{type(e).__name__}: {e}"
            if err:
                rec = {"ok": False, "error": err}
        out["checks"] += 1
        if not rec["ok"]:
            fail(f"{shape}: {rec.get('error')}")
    if traced:
        kept = {}
        for shape in ("point", "count_range"):
            sql = wl.shape_sql(shape)
            pred = sql.split(" WHERE ", 1)[1]
            eng.scan_where(ctx.table, pred)
            rep = eng.last_scan_report
            kept[shape] = rep.get("files_kept", 0) / max(1, rep.get("files_total", 0))
        out["files_kept_ratio"] = kept
    return out


# --------------------------------------------------------------- metrics
def end_to_end(res: dict) -> tuple[dict, dict]:
    """(every end-to-end metric this workload has, notes on tails)."""
    timed = [r for r in res["records"] if r["phase"] == "timed"]
    # engine time: the client's own generation and checking are excluded
    el = sum(r["ms"] for r in timed) / 1e3
    by = {c: [r["ms"] for r in timed if r["cls"] == c and r["ok"]] for c in ("write", "dml", "read")}
    m = {"setup_s": res["setup"]["setup_s"]}
    extra = {}
    for c in ("write", "dml", "read"):
        if by[c]:
            v, pct, n = tail(by[c])
            m[f"{c}_p50_ms"] = p50(by[c])
            m[f"{c}_tail_ms"] = v
            extra[f"{c}_tail_ms"] = f"p{pct} of {n}"
    m["write_rows_per_s"] = sum(r["rows"] for r in timed if r["cls"] == "write" and r["ok"]) / el
    if by["read"]:
        m["reads_per_s"] = len(by["read"]) / el
    # bytes each write op added under the root, over the bytes it sent
    writes = [r for r in timed if r["cls"] == "write" and r["ok"]]
    m["write_amplification"] = (sum(r["bytes_written"] for r in writes)
                                / max(1, sum(r["user_bytes"] for r in writes)))
    dml = [r["bytes_written"] for r in timed if r["cls"] == "dml" and r["ok"]]
    if dml:
        m["dml_bytes_per_op"] = p50(dml)
    epi = res["epilogue"]
    m["disk_bytes_per_live_byte"] = epi["disk_bytes"] / max(1, epi["live_bytes"])
    attempted, failed = tally(res)
    m["error_rate"] = failed / attempted
    return m, extra


def tally(res: dict) -> tuple[int, int]:
    """(ops and checks attempted, those that failed or were wrong)."""
    ops = [r for r in res["records"] if r["phase"] != "epilogue"]
    epi = res["epilogue"]
    return len(ops) + epi["checks"], sum(not r["ok"] for r in ops) + epi["failed"]


def per_layer(res: dict) -> dict:
    import workloads as W

    records, spans, epi = res["records"], res["spans"], res["epilogue"]
    recs = [r for r in records if r["phase"] in ("traced", "probe", "epilogue")]
    loop = [r for r in recs if r["phase"] == "traced"]
    # write-path figures come only from the workload's own write kind
    # (upsert or cdc); a probe of another kind reports under its own name
    kind = res["write_kind"]
    writes = [r for r in recs if r["kind"] == kind and "files" in r]
    own = {i for i, r in enumerate(records) if r["kind"] == kind}

    def named(name, **kw):
        return [s for s in spans if s["name"] == name
                and all(s.get(k) == v for k, v in kw.items())]

    def own_named(name, **kw):
        return [s for s in named(name, **kw) if s["op"] in own]

    def med(vals):
        vals = list(vals)
        return p50(vals) if vals else 0.0

    m = {"ipc.decode_ms": med(s["ms"] for s in own_named("ipc.decode")),
         "ipc.encode_ms": med(s["ms"] for s in named("ipc.encode")),
         "ipc.result_bytes": med(s["bytes"] for s in named("ipc.encode"))}
    ups = own_named("engine.upsert", target=res["table"])
    for k in ("ms", "in_job_ms", "driver_ms", "jobs", "stages", "tasks"):
        key = k if k.endswith("ms") else f"total_{k}"
        m[f"engine.upsert.{k}"] = med(s[key] for s in ups)
    for shape in W.SHAPES:
        plans = named("engine.sql.plan", shape=shape)
        execs = named("engine.sql.exec", shape=shape)
        per_op = {}  # op id -> plan + exec counters
        for s in plans + execs:
            d = per_op.setdefault(s["op"], {"jobs": 0, "tasks": 0, "rows_in": 0})
            for k in d:
                d[k] += s[f"total_{k}"]
        m[f"engine.sql.plan_ms.{shape}"] = med(s["ms"] for s in plans)
        m[f"engine.sql.exec_ms.{shape}"] = med(s["ms"] for s in execs)
        m[f"engine.sql.jobs.{shape}"] = med(d["jobs"] for d in per_op.values())
        m[f"engine.sql.tasks.{shape}"] = med(d["tasks"] for d in per_op.values())
        m[f"scan.rows_read_per_row_returned.{shape}"] = med(
            d["rows_in"] / max(1, records[op].get("result_rows", 0)) for op, d in per_op.items())
    for shape, v in epi["files_kept_ratio"].items():
        m[f"zonemaps.files_kept_ratio.{shape}"] = v
    # each write collects the zone map of its new (newest) write dir
    m["zonemaps.collect_ms"] = med(s["ms"] for s in own_named("zonemaps.collect"))
    cdc = named("cdc.apply")
    for k in ("ms", "in_job_ms", "driver_ms", "jobs", "tasks"):
        key = k if k.endswith("ms") else f"total_{k}"
        m[f"cdc.apply.{k}"] = med(s[key] for s in cdc)
    for kind in ("delete", "update"):
        ops = [r for r in recs if r["kind"] == kind]
        m[f"dml.{kind}.ms"] = med(r["ms"] for r in ops)
        m[f"dml.{kind}.jobs"] = med(r["total_jobs"] for r in ops)
    m["snapshots.commits_per_write"] = med(r["commits"] for r in writes)
    m["snapshots.live_files"] = epi["live_files"]
    m["snapshots.load_ms"] = epi["load_ms"]
    m["snapshots.bytes_written_per_user_byte"] = med(
        r["bytes_written"] / r["user_bytes"] for r in writes if r["user_bytes"])
    m["layout.files_per_write"] = med(r["files"] for r in writes)
    m["layout.partitions_touched_per_write"] = med(r["partitions"] for r in writes)
    m["spark.jobs_per_op"] = sum(r["total_jobs"] for r in loop) / max(1, len(loop))
    m["spark.driver_share"] = sum(r["driver_ms"] for r in loop) / max(1e-9, sum(r["ms"] for r in loop))
    head = res["headline"]
    wire = med(r["ms"] for r in records if r["phase"] == "timed" and r["kind"] == head)
    traced = [r for r in loop if r["kind"] == head]
    m["serving.overhead_ms"] = wire - med(r["children_ms"] for r in traced)
    m["trace.overhead_ratio"] = med(r["ms"] for r in traced) / max(1e-9, wire)
    return m


# ------------------------------------------------------------- processes
def supervise(cmd: list[str]) -> int:
    """Run ``cmd`` in a session of its own; return its exit code once it
    and every process it started (the Spark JVM, PySpark's Python
    workers) have ended, also when this process is told to stop."""
    def stop(signum, frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:  # orphans of the session become our children, so we can reap them
        import ctypes

        ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass
    p = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True,
                         env=dict(os.environ, **{WORKER_ENV: "1"}))
    try:
        return p.wait()
    finally:
        end_session(p)


def end_session(p: subprocess.Popen) -> None:
    """Stop what is left of ``p``'s session and wait until it is gone:
    SIGTERM first, SIGKILL after five seconds (giving up after a minute)."""
    if p.poll() is None:
        p.terminate()
    kill_at = time.monotonic() + 5
    while time.monotonic() < kill_at + 55:
        if time.monotonic() > kill_at and p.poll() is None:
            p.kill()
        p.poll()
        while True:  # reap orphans handed to us
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        left = session_pids(p.pid)
        if not left and p.poll() is not None:
            return
        sig = signal.SIGKILL if time.monotonic() > kill_at else signal.SIGTERM
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path("/proc", d, "stat").read_text()
        except OSError:
            continue
        state, _, _, session = stat.rsplit(")", 1)[1].split()[:4]
        if int(session) == sid and state != "Z":
            pids.append(int(d))
    return pids


# ------------------------------------------------------------------ main
def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated tables")
    return ap.parse_args(argv)


def run_all(args) -> int:
    import workloads as W

    code = 0
    for name in W.WORKLOADS:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf", str(args.sf)]
        print(f"== {name}", flush=True)
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines), flush=True)
        code = code or p.returncode
    return code


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "polars_lake_spark" / "engine.py").is_file():
        print("perfbench: polars_lake_spark/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    import workloads as W

    if args.workload == "all":
        return run_all(args)
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(W.WORKLOADS)} or all", file=sys.stderr)
        return 2
    if os.environ.get(WORKER_ENV) != "1":
        return supervise([sys.executable, str(HERE / "run.py"),
                          *(sys.argv[1:] if argv is None else argv)])
    res = run_workload(args)
    wl = W.WORKLOADS[args.workload]
    res["table"], res["headline"], res["write_kind"] = wl.table, wl.headline, wl.write_kind
    spec = load_spec()
    units = dict(PRINTED_UNITS)
    units.update((x["name"], x["unit"]) for x in spec["end_to_end"] + spec["per_layer"])
    import pyspark

    print(f"info workload {wl.name} {json.dumps(wl.record)}")
    print(f"info sandbox nproc={res['nproc']} master=local[{res['nproc']}] "
          f"pyspark={pyspark.__version__} sf={args.sf} fsync=never "
          "(SnapshotStore.commit does not fsync) data fits in memory and page cache")
    print(f"info setup {json.dumps(res['setup'])}")
    m, extra = end_to_end(res)
    for k, v in m.items():
        note = f"  ({extra[k]})" if k in extra else ""
        print(f"e2e {k} = {v:.6g} {units[k]}{note}")
    if args.trace:
        layers = per_layer(res)
        for k, v in layers.items():
            print(f"layer {k} = {v:.6g} {units[k]}")
    attempted, failed = tally(res)
    if args.trace:  # the run record and its spans
        dump = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
        dump.parent.mkdir(parents=True, exist_ok=True)
        dump.write_text(json.dumps(res, default=str))
    gated = spec["per_layer"] if args.trace else spec["end_to_end"]
    chosen = {x["name"]: (layers if args.trace else m)[x["name"]] for x in gated}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
