"""The repository benchmark: one workload, one fresh process, one result line.

    python3 perfbench/run.py --workload {query,ingest} --seed N --seconds S --trace {0,1}

This process prepares the run and summarises it; the workload itself runs
in a child process (``perfbench/worker.py``) started with a pinned
environment in a fresh directory under ``.perfbench/``:

1. for ``query``, make the seeded sf0.1 corpus and count the expected rows
   of every timed query with its DuckDB oracle (``ingest`` writes its feeds
   inside the worker, as part of its set-up);
2. start the worker with the core count from the CPU affinity mask, a driver
   heap below the machine's memory, its own Spark local dirs, temp dir and
   working directory (so ``spark-warehouse`` lands there), and the caller's
   engine overrides cleared;
3. sample the memory of the worker's process tree while it runs, then stop
   every process it left and delete the run directory;
4. print a line of details (resolved environment, per-kind metrics,
   failures) and, last, the result line.

With ``--trace 0`` the result line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of the traced passes and the
tracing overhead. Results and span dumps are kept in ``.perfbench/results``.
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
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import corpus, stats, workloads  # noqa: E402

CHILD_DEADLINE_S = 170.0  # the whole run must end within 180 s
CLEARED_ENV = (
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_USE_BUCKETED",
    "SPARK_GRAFT_ANSI",
    "SPARK_GRAFT_TEST_SF",
    "SPARK_UI",
    "SPARK_MASTER",
    "PYSPARK_SUBMIT_ARGS",
    "PYSPARK_DRIVER_PYTHON",
)
CLEARED_PREFIX = "SPARK_GRAFT_BENCH_"
DRIVER_MEMORY_CAP_MB = 4096
# The driver heap is fixed (initial = maximum) with a fixed young generation,
# so the JVM's resident memory follows what the program keeps rather than
# G1's timing-dependent heap resizing: with the adaptive defaults the JVM's
# peak varied 1.1-2.1 GB between runs of the same work (live data after a
# collection: ~200 MB), with these 1.58-1.69 GB.
YOUNG_GEN_MB = 512


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--seconds", type=float, required=True,
        help="recorded only: a run makes a fixed number of passes (DESIGN.md)",
    )
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- environment ---------------------------------------------------------------


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pinned_env(base: dict, run_dir: str) -> tuple[dict, dict]:
    """The worker's environment and the resolved settings to record."""
    env = {k: v for k, v in base.items() if k not in CLEARED_ENV and not k.startswith(CLEARED_PREFIX)}
    cpus = len(os.sched_getaffinity(0))
    driver_mb = min(DRIVER_MEMORY_CAP_MB, _mem_total_mb() // 2)
    resolved = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
    }
    env.update(resolved)
    cleared = sorted(k for k in base if k not in env)
    java_options = f"-Xms{driver_mb}m -Xmn{YOUNG_GEN_MB}m"
    record = {
        "master": f"local[{cpus}]",
        "cpus": cpus,
        "driver_memory": resolved["SPARK_DRIVER_MEMORY"],
        "java_options": java_options,
        "mem_total_mb": _mem_total_mb(),
        "cleared_env": cleared,
        "progress_bars": False,
        "run_dir": os.path.relpath(run_dir, ROOT),
    }
    return env, record


def cpu_jiffies() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: on a shared host it explains runs that are slow throughout."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


# -- inputs ----------------------------------------------------------------------


def oracle_counts(sf_dir: str, names, tmp_dir: str) -> dict[str, int]:
    """Expected row count of each query: its DuckDB oracle over the same
    parquet files."""
    import duckdb

    from nyc_open_data_pipeline_spark.catalog import TESTDATA_TABLES, table_path
    from nyc_open_data_pipeline_spark.plans import all_queries

    specs = all_queries()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        con.execute("SET memory_limit = '2GB'")
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        return {n: con.sql(f"SELECT COUNT(*) FROM ({specs[n].oracle})").fetchone()[0] for n in names}
    finally:
        con.close()


def prepare_inputs(workload: str, seed: int, run_dir: str) -> dict:
    """The query corpus, one copy for the warm-up and one for each first
    pass (hard links: the same files under another directory, which the
    session caches key on), and the expected row counts."""
    if workload == "ingest":
        return {}
    src = os.path.join(run_dir, "corpus", "sf")
    corpus.write_corpus(src, seed, workloads.SF)
    copies = [os.path.join(run_dir, "corpus", f"sf-{k}") for k in range(1 + workloads.FIRST_PASSES[workload])]
    for d in copies:
        os.makedirs(d)
        for f in sorted(os.listdir(src)):
            os.link(os.path.join(src, f), os.path.join(d, f))
    names = [name for _family, name in workloads.QUERIES[workload]]
    oracle = oracle_counts(src, names, os.path.join(run_dir, "tmp"))
    return {"warm_sf_dir": copies[0], "sf_dirs": copies[1:], "oracle": oracle}


# -- process tree ----------------------------------------------------------------


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the worker, its JVM, Python workers)."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after "pid (comm)": state ppid pgrp session ...
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(d))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size of ``pid``: its resident pages, each page shared
    with other processes divided among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler(threading.Thread):
    """Peak resident memory of the worker's process tree (Python driver, JVM,
    Python workers), sampled every ``period`` seconds: a sample walks the
    page tables of every process (about 15 ms of CPU, measured during a
    query run), so sampling faster takes a share of a core from the run. PSS rather than RSS is
    summed, so pages the forked Python workers share with their parent count
    once rather than once per worker."""

    def __init__(self, sid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.sid, self.period, self.peak_kb = sid, period, 0
        self.split_kb: dict[str, int] = {}  # per process name, at the peak
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            split: dict[str, int] = {}
            for p in session_pids(self.sid):
                name = _comm(p)
                split[name] = split.get(name, 0) + _pss_kb(p)
            if sum(split.values()) > self.peak_kb:
                self.peak_kb, self.split_kb = sum(split.values()), split

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_session(sid: int, grace: float = 5.0) -> None:
    """TERM, then KILL, every process left in the session; wait until none is."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, grace)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait
        while time.monotonic() < end and session_pids(sid):
            time.sleep(0.05)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


# -- repository hygiene ------------------------------------------------------------


def git_status() -> str | None:
    """``git status --porcelain`` of the checkout, or None when the checkout is
    not itself the top of a git work tree."""
    try:
        top = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel"],
            capture_output=True, text=True, timeout=30,
        )
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(ROOT):
            return None
        st = subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain"], capture_output=True, text=True, timeout=30
        )
        return st.stdout if st.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


# -- summary ------------------------------------------------------------------------


def tally(ops: list[dict]) -> tuple[int, int, list[str]]:
    """Attempted and failed operations, and what failed. An exception or a
    failed correctness check both count as a failed operation. The checked
    warm-up operations of set-up count too."""
    failures = [f"{o['kind']}:{o['name']}: {o['err']}" for o in ops if o["err"]]
    return len(ops), len(failures), failures


def _ops(raw: dict, kinds=None, traced=None) -> list[dict]:
    return [
        o for o in raw["ops"]
        if (kinds is None or o["kind"] in kinds) and (traced is None or o["traced"] == traced)
    ]


def _tail(xs: list[float], guaranteed: int) -> dict:
    """Median and tail of a sample, with the tail's percentile and count."""
    pct = stats.tail_percentile(guaranteed)
    return {"p50": statistics.median(xs), "tail": stats.percentile(xs, pct), "tail_pct": pct, "n": len(xs)}


def end_to_end(workload: str, raw: dict, t_spawn: float, peak_rss: float) -> tuple[dict, dict]:
    """End-to-end metrics (result line) and the per-kind details."""
    ops = [o["s"] for o in raw["ops"]]
    first = [p["s"] for p in raw["passes"] if p["kind"] == "first" and not p["traced"]]
    later = [p["s"] for p in raw["passes"] if p["kind"] == "later" and not p["traced"]]
    m = {
        "setup_s": raw["t_first_op"] - t_spawn,
        "first_pass_s": statistics.median(first) if first else raw["passes"][0]["s"],
        "pass_s": statistics.median(later),
        "peak_rss_mb": peak_rss,
    }
    detail = {"op": _tail(ops, workloads.min_ops(workload)), "later_passes": len(later)}
    if workload == "ingest":
        writes = _ops(raw, ("load", "upsert"))
        ups = [o["s"] for o in _ops(raw, ("upsert",))]
        serve_by_pass: dict[int, float] = {}
        for o in _ops(raw, ("serve",)):
            serve_by_pass[o["pass"]] = serve_by_pass.get(o["pass"], 0.0) + o["s"]
        layer = raw["layer"]
        guaranteed = workloads.LATER_PASSES[workload] * len(workloads.ROUND_DATASETS)
        detail.update({
            "ingest_rows_per_s": sum(o.get("raw_rows", 0) for o in writes) / sum(o["s"] for o in writes),
            "upsert_s": _tail(ups, guaranteed),
            "serve_p50_s": statistics.median(list(serve_by_pass.values())),
            "stream_s": sum(o["s"] for o in _ops(raw, ("stream",))),
            "stored_bytes_per_row": layer["storage.bytes_on_disk"] / max(1, layer["live_rows"]),
        })
    else:
        family = dict((name, fam) for fam, name in workloads.QUERIES[workload])
        per_pass: dict[str, dict[int, float]] = {}
        for o in raw["ops"]:
            fam = per_pass.setdefault(family[o["name"]], {})
            fam[o["pass"]] = fam.get(o["pass"], 0.0) + o["s"]
        detail["query_s"] = detail.pop("op")
        for fam, by_pass in per_pass.items():
            detail[f"{fam}_first_pass_s"] = by_pass[0]
            detail[f"{fam}_pass_s"] = statistics.median(
                [s for p, s in by_pass.items() if p >= workloads.FIRST_PASSES[workload]]
            )
    return m, detail


def per_layer(raw: dict) -> dict:
    """Per-layer metrics: totals over the traced passes, per traced pass."""
    tr = raw["trace"]
    totals, self_s = tr["totals"], tr["self"]
    n = max(1, sum(1 for p in raw["passes"] if p["traced"]))

    def tot(name, key="s"):
        t = totals.get(name)
        if t is None:
            return 0.0
        return t[key] if key in ("n", "s") else t["counts"].get(key, 0.0)

    def counts(key, prefix=""):
        return sum(t["counts"].get(key, 0.0) for nm, t in totals.items() if nm.startswith(prefix))

    traced_ops = _ops(raw, traced=True)
    streams = [o for o in traced_ops if o["kind"] == "stream"]
    batches = sum(o.get("batches", 0) for o in streams)
    sink_s = sum(o["s"] for o in streams)
    rows_in = sum(o.get("rows_in", 0) for o in traced_ops if o["kind"] in ("load", "upsert"))
    layer = raw["layer"]
    out = {
        "session.start_s": layer.get("session.start_s", 0.0),
        "catalog.load_table_calls": tot("catalog.load_table", "n") / n,
        "catalog.load_table_s": tot("catalog.load_table") / n,
        "plans.build_s": tot("plans.build") / n,
        "plans.eager_jobs": tot("plans.build", "spark.jobs.incl") / n,
        "plans.cache_build_s": sum(o["cache_build_s"] for o in traced_ops) / n,
        "plans.cache_builds": sum(o["cache_builds"] for o in traced_ops) / n,
        "spark.jobs": counts("spark.jobs.incl", "op.") / n,
        "spark.stages": counts("spark.stages.incl", "op.") / n,
        "spark.tasks": counts("spark.tasks.incl", "op.") / n,
        "sources.read_s": tot("sources.read") / n,
        "pipeline.parse_s": tot("pipeline.parse") / n,
        "storage.upsert_s": tot("storage.upsert") / n,
        "storage.metadata_upsert_s": tot("storage.metadata_upsert") / n,
        "storage.read_s": tot("storage.read") / n,
        "storage.bytes_written": tot("storage.upsert", "storage.bytes_written") / n,
        "storage.files_written": tot("storage.upsert", "storage.files_written") / n,
        "storage.rows_rewritten_per_row_in": (
            tot("storage.upsert", "storage.rows_written") / rows_in if rows_in else 0.0
        ),
        "storage.bytes_on_disk": layer.get("storage.bytes_on_disk", 0.0),
        "serving.food_gaps_s": tot("serving.food_gaps") / n,
        "serving.poverty_by_zip_s": tot("serving.poverty_by_zip") / n,
        "serving.rent_by_zip_s": tot("serving.rent_by_zip") / n,
        "serving.doc_bytes": counts("serving.doc_bytes", "serving.") / n,
        "streaming.sink_s": sink_s / n,
        "streaming.batches": batches / n,
        "streaming.batch_s": sink_s / batches if batches else 0.0,
        "streaming.jobs_per_batch": tot("op.stream", "spark.jobs.incl") / batches if batches else 0.0,
    }
    for key in (
        "spark.analysis_s", "spark.optimization_s", "spark.planning_s", "spark.scan_s",
        "spark.shuffle_bytes", "spark.spill_bytes", "functions.python_boot_s",
        "functions.python_init_s", "functions.python_compute_s",
    ):
        out[key] = counts(key) / n
    by_layer: dict[str, float] = {}
    for name, s in self_s.items():
        layer_name = "bench" if name.startswith("op.") else name.split(".")[0]
        by_layer[layer_name] = by_layer.get(layer_name, 0.0) + s
    for key in workloads.PER_LAYER:
        if key.startswith("self."):
            out[key] = by_layer.get(key[len("self."):-len("_s")], 0.0) / n
    out["trace.overhead_pct"] = overhead_pct(raw["passes"])
    return {k: out[k] for k in workloads.PER_LAYER}


def overhead_pct(passes: list[dict]) -> float:
    """Tracing overhead: each traced later pass against the mean of its two
    untraced neighbours (the same work at about the same warmth, one before
    and one after it, so a steady drift cancels); the median ratio minus one."""
    later = [p for p in passes if p["kind"] == "later"]
    untraced = {p["index"]: p["s"] for p in later if not p["traced"]}
    ratios = [
        p["s"] / ((untraced[p["index"] - 1] + untraced[p["index"] + 1]) / 2)
        for p in later
        if p["traced"] and p["index"] - 1 in untraced and p["index"] + 1 in untraced
    ]
    return (statistics.median(ratios) - 1) * 100 if ratios else 0.0


# -- main ---------------------------------------------------------------------------------


def run(args: argparse.Namespace) -> tuple[dict, str]:
    """Run one workload; return (summary, result line)."""
    base_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base_dir, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    results_dir = os.path.join(base_dir, "results")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    before = git_status()
    for sub in ("work", "tmp", "spark-local", "storage", "feeds", "corpus"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.makedirs(results_dir, exist_ok=True)
    t0 = time.monotonic()
    try:
        inputs = prepare_inputs(args.workload, args.seed, run_dir)
        env, resolved = pinned_env(dict(os.environ), run_dir)
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "java_options": resolved["java_options"],
            "root": ROOT,
            "tmp_dir": os.path.join(run_dir, "tmp"),
            "storage_dir": os.path.join(run_dir, "storage"),
            "feeds_dir": os.path.join(run_dir, "feeds"),
            "result_path": os.path.join(run_dir, "result.json"),
            "trace_path": os.path.join(results_dir, f"spans-{tag}.json"),
            **inputs,
        }
        cfg_path = os.path.join(run_dir, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        t_spawn = time.time()
        cpu0 = cpu_jiffies()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", cfg_path],
            cwd=os.path.join(run_dir, "work"),
            env=env,
            stdout=sys.stderr.fileno(),
            start_new_session=True,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(1.0, CHILD_DEADLINE_S - (time.monotonic() - t0)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop()
            stop_session(proc.pid)
            proc.wait()
            resolved["steal_pct"] = steal_pct(cpu0, cpu_jiffies())
        if code != 0:
            raise RuntimeError(f"worker {'timed out' if code is None else f'exited with {code}'}")
        with open(cfg["result_path"]) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, failures = tally(raw["warmup_ops"] + raw["ops"])
    after = git_status()
    hygiene_ok = before == after
    if not hygiene_ok:
        failures.append(f"run changed git status: {before!r} -> {after!r}")
    e2e, detail = end_to_end(args.workload, raw, t_spawn, sampler.peak_mb)
    detail["peak_rss_split_mb"] = {k: v / 1024 for k, v in sampler.split_kb.items()}
    metrics = per_layer(raw) if args.trace else e2e
    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "environment": resolved,
        "end_to_end": e2e,
        "detail": detail,
        "failures": failures[:10],
        "passes": raw["passes"],
        "layer": raw["layer"],
    }
    with open(os.path.join(results_dir, f"{tag}.json"), "w") as f:
        json.dump({**summary, "metrics": metrics, "warmup_ops": raw["warmup_ops"], "ops": raw["ops"]}, f, indent=1)
    line = stats.result_line(
        correct=failed == 0 and hygiene_ok,
        attempted=attempted,
        failed=failed,
        metrics={k: stats.metric(v, units[k]) for k, v in metrics.items()},
    )
    return summary, line


def engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("nyc_open_data_pipeline_spark/__init__.py", "datasets/registry.yaml")
    )


def _exit_on_term(signum, _frame):
    sys.exit(128 + signum)  # unwinds through run()'s cleanup


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_term)
    if not engine_present():
        print("perfbench: the engine sources are not in this checkout", file=sys.stderr)
        return 2
    summary, line = run(args)
    print(json.dumps({"perfbench": summary}, separators=(",", ":")))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
