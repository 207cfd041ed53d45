"""One benchmark run in a fresh process: start the session, then run the
workload's closed loop (one client, one operation at a time) and
write the raw samples for ``run.py`` to summarise.

Invoked by ``run.py`` as ``python3 -m perfbench.worker <config.json>`` with
the working directory, temp directory, Spark local dirs and environment it
pinned for this run.
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys
import time

import pyarrow.parquet as pq

from perfbench import corpus, feeds, workloads
from perfbench.trace import SparkProbe, Tracer


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.ops: list[dict] = []
        self.warmup_ops: list[dict] = []
        self.warming = False
        self.passes: list[dict] = []
        self.t_first_op: float | None = None
        self.spark = None
        self.tracer = Tracer()
        self.layer: dict[str, float] = {}

    # -- session ------------------------------------------------------------
    def start_session(self) -> None:
        t0 = time.perf_counter()
        from nyc_open_data_pipeline_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keep the JVM's temp files in the run directory; no
                # hsperfdata file in the system temp dir
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.cfg['tmp_dir']} -XX:-UsePerfData {self.cfg['java_options']}"
                ),
            },
        )
        self.layer["session.start_s"] = time.perf_counter() - t0
        if self.cfg["trace"]:
            self.tracer = Tracer(SparkProbe(self.spark))

    # -- one timed operation ------------------------------------------------
    def op(self, kind: str, name: str, pass_idx: int, fn, check) -> None:
        """Time ``fn()`` as one operation; ``check(result, record)`` returns
        an error string (a failed correctness check) or None, and may add
        fields to the operation's record. An exception or a failed check
        counts the operation as failed."""
        from nyc_open_data_pipeline_spark.plans.common import drain_cache_build_secs

        op_id = self.tracer.begin_op()
        self.spark.sparkContext.setJobGroup(f"perfbench-{op_id}", f"{kind}:{name}")
        rec = {"kind": kind, "name": name, "pass": pass_idx, "traced": self.tracer.enabled}
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                result = fn()
            rec["s"] = time.perf_counter() - t0
            rec["err"] = check(result, rec)
        except Exception as e:  # a failed operation is data, not a crash
            rec["s"] = time.perf_counter() - t0
            rec["err"] = f"{type(e).__name__}: {str(e)[:300]}"
        builds = drain_cache_build_secs()
        rec["cache_builds"] = len(builds)
        rec["cache_build_s"] = sum(builds.values())
        (self.warmup_ops if self.warming else self.ops).append(rec)

    # -- query actions --------------------------------------------------------
    def run_query(self, fn, sf_dir: str) -> int:
        """Plan build (``fn``, a registered query function) plus one
        full-result action: every column is materialized by the noop sink
        and rows are counted by an observed metric of that same job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with self.tracer.span("plans.build"):
            df = fn(self.spark, sf_dir)
        obs = Observation()
        with self.tracer.span("spark.action"):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
            return obs.get["rows"]

    def query_op(self, kind: str, name: str, fn, pass_idx: int, sf_dir: str, want: int) -> None:
        self.op(
            kind, name, pass_idx,
            lambda: self.run_query(fn, sf_dir),
            lambda got, rec: None if got == want else f"row count {got} != expected {want}",
        )

    # -- pass bookkeeping -----------------------------------------------------
    def timed_pass(self, idx: int, kind: str, body, traced: bool) -> None:
        self.set_tracing(traced)
        t0 = time.perf_counter()
        body(idx)
        self.passes.append({"index": idx, "kind": kind, "s": time.perf_counter() - t0, "traced": traced})
        self.set_tracing(False)

    def set_tracing(self, on: bool) -> None:
        if on and not self.tracer.enabled:
            self.tracer.start()
            self.install_wrappers()
        elif not on and self.tracer.enabled:
            self.tracer.stop()

    def install_wrappers(self) -> None:
        """Spans around engine-internal layer calls (traced passes only)."""
        import nyc_open_data_pipeline_spark.catalog as catalog

        orig = catalog.load_table
        for mod in [m for k, m in sys.modules.items() if k.startswith("nyc_open_data_pipeline_spark")]:
            if getattr(mod, "load_table", None) is orig:
                self.tracer.wrap(mod, "load_table", "catalog.load_table")

    def warmup(self, body) -> None:
        """Set-up work that warms the JVM (class loading, JIT, codegen) and
        the Python workers on small inputs: its operations are checked like
        timed ones but feed no timing."""
        self.warming = True
        try:
            body()
        finally:
            self.warming = False

    def loop(self, first, later) -> None:
        """The workload's first passes, then its later passes, each a fixed
        number; ``first(idx, k)`` and ``later(idx, k)`` run the k-th pass of
        their kind. A traced run traces the first of the first passes and the
        chosen later ones."""
        trace = bool(self.cfg["trace"])
        n_first = workloads.FIRST_PASSES[self.cfg["workload"]]
        n_later, traced_later = workloads.later_passes(self.cfg["workload"], trace)
        self.t_first_op = time.time()
        for k in range(n_first):
            self.timed_pass(k, "first", lambda idx, k=k: first(idx, k), traced=trace and k == 0)
        for k in range(n_later):
            idx = n_first + k
            self.timed_pass(idx, "later", lambda idx, k=k: later(idx, k), traced=k + 1 in traced_later)

    def result(self) -> dict:
        return {
            "t_first_op": self.t_first_op,
            "ops": self.ops,
            "warmup_ops": self.warmup_ops,
            "passes": self.passes,
            "layer": self.layer,
            "trace": self.trace_summary() if self.cfg["trace"] else None,
        }

    def trace_summary(self) -> dict:
        return {"totals": self.tracer.totals(), "self": self.tracer.self_times()}


class QueryRun(Run):
    """query: a warm-up pass over the workload's queries (set-up), then the
    timed passes, all at sf0.1, the order shuffled by the seed in every
    pass."""

    def body(self) -> None:
        from nyc_open_data_pipeline_spark.plans import all_queries

        cfg = self.cfg
        specs = all_queries()  # builds the registry order: ~2 s, once
        queries = [name for _family, name in workloads.QUERIES[cfg["workload"]]]

        def one_pass(idx: int, sf_dir: str, oracle: dict) -> None:
            order = list(queries)
            random.Random(cfg["seed"] * 1_000 + idx).shuffle(order)
            for name in order:
                self.query_op("query", name, specs[name].fn, idx, sf_dir, oracle[name])

        self.warmup(lambda: one_pass(-1, cfg["warm_sf_dir"], cfg["oracle"]))
        # every first pass reads its own copy of the corpus, so it builds the
        # session caches afresh; later passes reuse the last copy's
        self.loop(
            lambda idx, k: one_pass(idx, cfg["sf_dirs"][k], cfg["oracle"]),
            lambda idx, k: one_pass(idx, cfg["sf_dirs"][-1], cfg["oracle"]),
        )


class Target:
    """One storage root, the feeds written into it, and the pandas reference
    of what it must hold."""

    def __init__(self, storage, feed_set: feeds.FeedSet):
        self.storage = storage
        self.feeds = feed_set
        self.ref = feeds.Reference()
        self.stored: dict[str, int] = {}


class IngestRun(Run):
    """ingest: a warm-up in set-up (small food and NTA feeds loaded into a
    storage root of their own), then the initial load of the five feeds,
    the three serving documents and the streaming upsert sink in the first
    pass; every later pass upserts one round of slices and rebuilds the
    documents."""

    def target(self, name: str, sizes: feeds.Sizes, rounds: int) -> Target:
        from nyc_open_data_pipeline_spark.pipeline.storage import ParquetStorage

        cfg = self.cfg
        feed_set = feeds.write_feeds(os.path.join(cfg["feeds_dir"], name), cfg["seed"], rounds, sizes)
        return Target(ParquetStorage(os.path.join(cfg["storage_dir"], name)), feed_set)

    def body(self) -> None:
        from nyc_open_data_pipeline_spark.config import load_dataset_config

        cfg = self.cfg
        rounds, _ = workloads.later_passes(cfg["workload"], bool(cfg["trace"]))
        registry = os.path.join(cfg["root"], "datasets", "registry.yaml")
        self.cfgs = {ds: load_dataset_config(registry, ds) for ds in workloads.DATASETS}
        warm = self.target("warmup", workloads.WARMUP_SIZES, 0)
        main = self.target("main", feeds.Sizes(), rounds)
        self.storage = main.storage  # the root the traced passes wrap
        self.replay_dir = os.path.join(cfg["feeds_dir"], "replay")
        corpus.write_corpus(self.replay_dir, cfg["seed"], workloads.REPLAY_SF)
        # st7 keeps the latest event per user: one row per distinct user
        users = pq.read_table(os.path.join(self.replay_dir, "events.parquet"), columns=["user_id"])
        self.want_stream = len(set(users.column("user_id").to_pylist()))

        warm_paths = {ds: warm.feeds.initial[ds] for ds in workloads.WARMUP_DATASETS}
        self.warmup(lambda: self.ingest_all(warm, "load", warm_paths, -1))
        self.loop(lambda idx, _k: self.first(main, idx), lambda idx, k: self.later(main, idx, k))
        self.layer["storage.bytes_on_disk"] = _dir_bytes(main.storage.root)
        self.layer["live_rows"] = sum(main.stored.values())

    def first(self, tg: Target, idx: int) -> None:
        from nyc_open_data_pipeline_spark.plans.events import st7_stream_upsert

        self.ingest_all(tg, "load", tg.feeds.initial, idx)
        self.serve(tg, idx)
        self.query_op("stream", workloads.STREAM, st7_stream_upsert, idx, self.replay_dir, self.want_stream)
        self.ops[-1]["batches"] = _committed_batches(self.cfg["tmp_dir"])

    def later(self, tg: Target, idx: int, round_idx: int) -> None:
        self.ingest_all(tg, "upsert", tg.feeds.rounds[round_idx], idx)
        self.serve(tg, idx)

    def ingest_all(self, tg: Target, kind: str, paths: dict[str, str], idx: int) -> None:
        from nyc_open_data_pipeline_spark.pipeline.ingest import ingest_dataset
        from nyc_open_data_pipeline_spark.sources.url import read_local

        for ds, path in paths.items():
            def fn(ds=ds, path=path):
                with self.tracer.span("sources.read"):
                    raw = read_local(self.spark, path)
                with self.tracer.span("pipeline.ingest"):
                    return ingest_dataset(self.spark, self.cfgs[ds], tg.storage, raw_df=raw)

            def check(res, rec, ds=ds, path=path):
                want = tg.ref.apply(ds, tg.feeds.frames[path])
                tg.stored[ds] = res.stored_count
                rec["raw_rows"] = tg.feeds.rows[path]
                rec["rows_in"] = res.record_count
                if res.status != "success" or res.stored_count != want:
                    return f"{ds}: stored {res.stored_count} rows ({res.status}) != reference {want}"
                return None

            self.op(kind, ds, idx, fn, check)

    def serve(self, tg: Target, idx: int) -> None:
        from nyc_open_data_pipeline_spark import serving

        docs = {
            "food_gaps": serving.food_gaps_document,
            "poverty_by_zip": serving.poverty_by_zip_document,
            "rent_by_zip": serving.rent_by_zip_document,
        }
        for name, build in docs.items():
            def fn(name=name, build=build):
                with self.tracer.span(f"serving.{name}") as sp:
                    doc = build(self.spark, tg.storage)
                    if sp is not None:
                        sp.counts["serving.doc_bytes"] = len(doc)
                    return doc

            def check(doc, rec, name=name):
                want = tg.ref.doc_features()[name]
                got = len(json.loads(doc)["features"])
                return None if got == want else f"{name}: {got} features != reference {want}"

            self.op("serve", name, idx, fn, check)

    def install_wrappers(self) -> None:
        import nyc_open_data_pipeline_spark.pipeline.parser as parser

        super().install_wrappers()
        st = self.storage

        def upsert_name(spark, df, schema):
            return "storage.metadata_upsert" if schema.table_name == st.META_TABLE else "storage.upsert"

        def before(spark, df, schema):
            table_dir = st.path(schema.table_name)
            return table_dir, _data_files(table_dir)

        self.tracer.wrap(parser, "parse", "pipeline.parse")
        self.tracer.wrap(st, "upsert", upsert_name, before=before, after=_written)
        self.tracer.wrap(st, "read", "storage.read")


def _data_files(table_dir: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass
    return out


def _written(state, sp, _result) -> None:
    """Files a data upsert wrote: count, bytes and rows (parquet footers)."""
    table_dir, old = state
    new = {p: b for p, b in _data_files(table_dir).items() if p not in old}
    sp.counts["storage.files_written"] = len(new)
    sp.counts["storage.bytes_written"] = sum(new.values())
    sp.counts["storage.rows_written"] = sum(pq.ParquetFile(p).metadata.num_rows for p in new)


def _committed_batches(tmp_dir: str) -> int:
    """Micro-batches the streaming sink committed: the numbered files in
    its checkpoint's ``commits`` directory (st7 checkpoints under TMPDIR)."""
    return sum(
        1
        for d in glob.glob(os.path.join(tmp_dir, "st7_*", "ckpt", "commits"))
        for f in os.listdir(d)
        if f.isdigit()
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    run = (IngestRun if cfg["workload"] == "ingest" else QueryRun)(cfg)
    run.start_session()
    try:
        run.body()
    finally:
        run.set_tracing(False)
        if cfg["trace"]:
            run.tracer.write(cfg["trace_path"])
        with open(cfg["result_path"], "w") as f:
            json.dump(run.result(), f)
        run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
