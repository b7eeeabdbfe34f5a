#!/usr/bin/env python3
"""The repository benchmark: three workloads against the package's public
API, one caller in a closed loop, Spark at ``local[<usable cores>]``.

    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 15 --trace 0

Workloads (see NOTES.md for why each exists, and why `BENCHMARK.json`
gates only ``trickle_cdc`` and ``catalog``):

* ``replay_bulk``  — replay a seeded skewed feed into an empty table;
  alternates with a ``local[1]`` child JVM replaying the same feed.
* ``trickle_cdc``  — small uniform-update chunks into a changelog table,
  each followed by a consumer reading that commit's changes and looking
  up a few just-updated keys.
* ``catalog``      — passes over the 17 headline catalog queries on the
  repository's sf0.01 test tables (copied under ``data/``), each written
  to a noop sink. Its input is fixed; the seed does not change it.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layer boundaries (`spans.py`), alternates traced and untraced operations,
and reports per-layer metrics instead. Every run checks its outputs
outside the timed region (`checks.py`) and exits 1 on any mismatch.
Lines before the last name each metric with its unit; the last line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from checks import (  # noqa: E402
    changes_mismatch,
    frames_mismatch,
    oracle_digest,
    table_digest,
)
from common import (  # noqa: E402
    REPLAY_DRIVER_MEM,
    build_spark,
    cpu_ref_s,
    cpu_times,
    host_cpus,
    jvm_pid,
    prepare_env,
    replay_once,
    reset_hwm,
    stop_spark,
    take_stdout,
    vm_hwm_mb,
)
from spans import Tracer, layer_wraps  # noqa: E402

WORKLOADS = ("replay_bulk", "trickle_cdc", "catalog")
SETUP_REPS = 3

#: `replay_bulk` feed size, and the warm-up feed's (events, before
#: duplicate deliveries)
REPLAY_EVENTS = 60_000
REPLAY_WARM_EVENTS = 10_000
#: `trickle_cdc`: keys pre-loaded, keys per tick, keys looked up per tick
TRICKLE_KEYS = 10_000
TRICKLE_CHUNK = 250
TRICKLE_LOOKUPS = 4
#: `trickle_cdc` ingest's compaction trigger: live files in a touched
#: bucket (the package default is 32, which a run never reaches)
TRICKLE_COMPACT_FILES = 4
#: measured ticks a run makes at least, after its warm-up tick
TRICKLE_MIN_TICKS = 3
#: every this-many ticks, check changelog fold == snapshot diff
TRICKLE_DIFF_EVERY = 3
#: `catalog` input: the repository's sf0.01 test tables (lineitem 60 000
#: rows), one Parquet file per table
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

#: the headline catalog queries, grouped by the operator module their
#: builder calls (`relational` = none of the others)
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "frontier_anti_join", "lww_latest_per_key", "running_total_per_user",
    "scrub_content_native", "dedup_exact", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_winnowing", "knn_bruteforce_cosine",
    "knn_lsh_bucketed", "knn_lsh_multiprobe", "text_quality_scores",
    "media_binary_meta", "seq_packing",
]
OPERATOR_MODULES = ("relational", "dedup", "similarity", "text", "multimodal")

#: the gated end-to-end metrics; ``peak_rss_mb`` is printed but not gated
#: (NOTES.md gives its measured spread)
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s"}

#: per-layer metric -> the span names whose self time it sums
SPAN_LAYERS = {
    "engine.frontier_s": ("engine.plan_frontier", "engine.read_feed_files"),
    "engine.batch_stats_s": ("engine.compute_batch_stats",),
    "engine.maintenance_s": ("engine.run_maintenance",),
    "merge.self_s": ("merge.merge_into",),
    "table.write_s": ("table.write_snapshot_files",),
    "table.scan_files_s": ("table.scan_files",),
    "table.commit_s": ("table.commit_snapshot_optimistic", "table.commit_snapshot"),
    "table.changelog_capture_s": (
        "table.write_changelog_rows", "table.materialize_changelog",
    ),
    "table.read_changes_s": ("table.read_changes",),
    "table.lookup_s": ("table.lookup_keys",),
}
#: table spans charged to their caller rather than to their own layer:
#: `scan_files` under a consumer read is part of that read, and the writes
#: and commit of a compaction are part of maintenance
_MAINT = ("engine.run_maintenance",)
CHARGE_TO_PARENT = {
    "table.scan_files": ("table.read_changes", "table.lookup_keys") + _MAINT,
    **{name: _MAINT for names in (
        SPAN_LAYERS["table.write_s"], SPAN_LAYERS["table.commit_s"],
        SPAN_LAYERS["table.changelog_capture_s"],
    ) for name in names},
}
LAYER_UNITS = {
    **{m: "s" for m in SPAN_LAYERS},
    "engine.compactions": "count",
    "merge.match_s": "s",
    "merge.files_replaced": "count",
    "merge.adaptive_append_frac": "frac",
    "scrub.rows_per_s": "1/s",
    "table.rows_written_per_event": "ratio",
    "spark.jobs_per_commit": "count",
    "spark.jobs_per_query": "count",
    **{f"catalog.{m}_s": "s" for m in OPERATOR_MODULES},
    **{f"query.{q}_s": "s" for q in HEADLINE},
    "host.steal_frac": "frac",
    "trace.overhead_frac": "frac",
    "trace.residual_frac": "frac",
}


class Run:
    """State of one benchmark run: session, counters, findings."""

    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.spark = None
        self.tracer = Tracer() if args.trace else None
        self.metrics: dict[str, float] = {}
        self.info: list[str] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.ops: list[tuple[bool, float]] = []  # (traced, seconds)
        self.counts: dict[str, float] = {}
        self._steal0 = (0, 0)
        self._cpu_ref: list[float] = []

    # -- set-up ----------------------------------------------------------
    def timed_setup(self, setup_once):
        """Start the session once, then run ``setup_once(spark, i)``
        SETUP_REPS times; ``setup_s`` is the session start plus the
        median repetition (the first one also pays JVM warm-up)."""
        t0 = time.perf_counter()
        self.spark = build_spark(host_cpus())
        session_s = time.perf_counter() - t0
        times, state = [], None
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            state = setup_once(self.spark, i)
            times.append(time.perf_counter() - t0)
        self.metrics["setup_s"] = session_s + statistics.median(times)
        self.info.append(
            f"setup: session start {session_s:.3f} s, inputs and pre-load "
            f"{', '.join(f'{t:.3f}' for t in times)} s"
        )
        return state

    # -- measured operations ---------------------------------------------
    def start_clock(self) -> None:
        """Start the measured loop: time the host-speed reference loop, then
        reset the resident high-water marks of the driver JVM and this
        process, so ``peak_rss_mb`` leaves out set-up and the correctness
        checks that run outside the loop."""
        self._cpu_ref = cpu_ref_s()
        if self.tracer is None:
            reset_hwm(jvm_pid())
            reset_hwm("self")
        self._steal0 = cpu_times()

    def stop_clock(self) -> None:
        steal1 = cpu_times()
        total = steal1[1] - self._steal0[1]
        self.metrics["host.steal_frac"] = (
            (steal1[0] - self._steal0[0]) / total if total else 0.0
        )
        if self.tracer is None:
            rss = vm_hwm_mb(jvm_pid()) + vm_hwm_mb("self")
            self.info.append(f"peak_rss_mb = {rss:.1f} MB (driver JVM + Python "
                             "VmHWM over the measured loop)")
        ref = self._cpu_ref + cpu_ref_s()
        self.info.append(f"host.cpu_ref_s = {statistics.median(ref):.4f} s (fixed "
                         f"Python loop, median of {len(ref)} around the measured loop)")

    def traced(self, k: int) -> bool:
        """Traced runs warm up on operation 0, then trace odd operations
        and leave even ones untraced, so both sides see the same ambient
        load and neither pays the cold start."""
        return self.tracer is not None and k % 2 == 1

    def min_ops(self, n: int) -> int:
        """At least ``n`` operations; a traced run needs the warm-up and
        one operation of each kind."""
        return n if self.tracer is None else max(n, 3)

    def op(self, k: int, fn):
        """Run operation ``k``; return ``(seconds, result)``."""
        self.attempted += 1
        traced = self.traced(k)
        if self.tracer is not None:
            self.tracer.active = traced
        t0 = time.perf_counter()
        try:
            res = self.tracer.span("op", fn) if traced else fn()
        except Exception:
            self.failed += 1
            raise
        finally:
            if self.tracer is not None:
                self.tracer.active = False
        secs = time.perf_counter() - t0
        if k > 0:  # operation 0 warms up
            self.ops.append((traced, secs))
        return secs, res

    def span(self, name: str, fn):
        return self.tracer.span(name, fn) if self.tracer is not None else fn()

    def job_group(self, name: str) -> None:
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(name, name)

    def jobs_in(self, name: str) -> int:
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(name))

    def count(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    # -- reporting -------------------------------------------------------
    def layer_metrics(self) -> None:
        """Per-layer metrics from the traced operations' spans."""
        tr = self.tracer
        roots = {sid for sid, name, _s, _e, parent in tr.spans
                 if name == "op" and parent is None}
        n = max(1, len(roots))
        selfs = tr.self_seconds(CHARGE_TO_PARENT)
        for metric, names in SPAN_LAYERS.items():
            self.metrics[metric] = sum(selfs.get(s, 0.0) for s in names) / n
        for q in HEADLINE:
            self.metrics[f"query.{q}_s"] = selfs.get(f"query.{q}", 0.0) / n
        module = {q: operator_module(q) for q in HEADLINE}
        for m in OPERATOR_MODULES:
            self.metrics[f"catalog.{m}_s"] = sum(
                self.metrics[f"query.{q}_s"] for q in HEADLINE if module[q] == m
            )
        root_time = sum(e - s for sid, _n, s, e, _p in tr.spans if sid in roots)
        self.metrics["trace.residual_frac"] = (
            selfs.get("op", 0.0) / root_time if root_time else 0.0
        )
        on = [s for t, s in self.ops if t]
        off = [s for t, s in self.ops if not t]
        self.metrics["trace.overhead_frac"] = (
            statistics.median(on) / statistics.median(off) - 1.0 if on and off else 0.0
        )
        c = self.counts
        commits = c.get("commits", 0)
        merges = c.get("merge_commits", 0)
        self.metrics.update({
            "engine.compactions": c.get("compactions", 0) / n,
            "merge.match_s": c.get("match_s", 0.0) / n,
            "merge.files_replaced": c.get("files_replaced", 0) / n,
            "merge.adaptive_append_frac": c.get("adaptive", 0) / merges if merges else 0.0,
            "table.rows_written_per_event": (
                c.get("rows_written", 0) / c["events"] if c.get("events") else 0.0
            ),
            "spark.jobs_per_commit": c.get("ingest_jobs", 0) / commits if commits else 0.0,
            "spark.jobs_per_query": (
                c.get("query_jobs", 0) / c["queries"] if c.get("queries") else 0.0
            ),
        })
        self.info.append(
            f"traced ops {len(on)}, untraced ops {len(off)}, spans {len(tr.spans)}"
        )

    def record_commits(self, table, after_sid: int, events: int) -> None:
        """Fold the lineage of commits ``> after_sid`` into the counters."""
        for e in table.lineage():
            if e["snapshot_id"] <= after_sid:
                continue
            self.count("commits", 1)
            self.count("rows_written", sum(p["rows_written"] for p in e["partitions"]))
            if "match_sec" in e:
                self.count("merge_commits", 1)
                self.count("match_s", e["match_sec"])
                self.count("files_replaced", e["files_replaced"])
                self.count("adaptive", 1 if e["adaptive_append"] else 0)
        self.count("events", events)


def operator_module(query: str) -> str:
    import inspect

    from image_deid_etl_spark.plans import QUERIES

    src = inspect.getsource(QUERIES[query])
    for m in OPERATOR_MODULES[1:]:
        if f"{m}." in src:
            return m
    return "relational"


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest of a few standard percentiles with at least 10 samples
    beyond it: ``(percentile, value, samples beyond)``; the maximum with 0
    beyond when there are too few samples for any."""
    xs = sorted(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        rank = math.ceil(len(xs) * p / 100.0)
        if len(xs) - rank >= 10:
            return p, xs[rank - 1], len(xs) - rank
    return 100.0, xs[-1], 0


def tamper_row(spark, table, path: str) -> None:
    """Negative control: overwrite one live row's content."""
    from image_deid_etl_spark.cdc.merge import update_where

    update_where(spark, table, set={"content": "'tampered'"},
                 condition=f"path = '{path}'")


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------
def replay_bulk(run: Run) -> None:
    from image_deid_etl_spark.cdc.engine import open_table
    from image_deid_etl_spark.cdc.feed import FeedSpec, make_events, write_feed
    from image_deid_etl_spark.cdc.scrub import scrub_series

    def feed_spec(n_events: int) -> FeedSpec:
        return FeedSpec(
            n_events=n_events, n_keys=n_events // 20, n_repos=100,
            seed=run.args.seed, skew=0.3, dup_frac=0.05,
            evolve_at=n_events // 2, n_files=8,
        )

    # both JVMs (this one and the local[1] child, which inherits the
    # environment) get a smaller heap than the package default
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = REPLAY_DRIVER_MEM
    spec = feed_spec(REPLAY_EVENTS)
    # a small feed of the same shape warms both JVMs (codegen, JIT, the
    # Python workers) before anything is timed
    warm_feed = os.path.join(run.work, "warm-feed")
    write_feed(warm_feed, feed_spec(REPLAY_WARM_EVENTS))
    feed = os.path.join(run.work, "feed")
    child = None
    if run.tracer is None:
        # started first, so its JVM start and warm-up overlap the
        # parent's; it waits for the real feed until the first `run`
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "replay_child.py"),
             "--feed", feed, "--warm-feed", warm_feed,
             "--work", os.path.join(run.work, "child")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
    try:
        def setup_once(_spark, i):
            out = os.path.join(run.work, f"feed{i}")
            write_feed(out, spec)
            if i:
                shutil.rmtree(os.path.join(run.work, f"feed{i - 1}"))
            return out

        os.rename(run.timed_setup(setup_once), feed)
        replay_once(run.spark, os.path.join(run.work, "warm"), warm_feed)
        shutil.rmtree(os.path.join(run.work, "warm"))
        if child is not None:
            ready = json.loads(child.stdout.readline() or "{}")
            if not ready.get("ready"):
                raise RuntimeError("local[1] replay child did not start")
        else:
            run.tracer.install(layer_wraps())
        nproc_secs, one_secs, child_digests = [], [], []
        events, measured, k, last_root = 0, 0.0, 0, None
        run.start_clock()
        while measured < run.args.seconds or k < run.min_ops(2):
            sides = ["nproc", "1core"] if k % 2 == 0 else ["1core", "nproc"]
            for side in sides:
                if side == "1core":
                    if child is None:
                        continue
                    run.attempted += 1
                    child.stdin.write("run\n")
                    child.stdin.flush()
                    reply = json.loads(child.stdout.readline() or "{}")
                    if "secs" not in reply:
                        run.failed += 1
                        raise RuntimeError("local[1] replay child failed")
                    one_secs.append(reply["secs"])
                    child_digests.append(reply["digest"])
                    measured += reply["secs"]
                    continue
                root = os.path.join(run.work, f"t{k}")
                run.job_group(f"ingest-{k}")
                secs, stats = run.op(k, lambda r=root: replay_once(run.spark, r, feed))
                measured += secs
                nproc_secs.append(secs)
                events = stats.events
                if run.traced(k):
                    t = open_table(root)
                    run.record_commits(t, 0, stats.events)
                    run.count("compactions", len(stats.compactions))
                    run.count("ingest_jobs", run.jobs_in(f"ingest-{k}"))
                if last_root is not None:
                    shutil.rmtree(last_root)
                last_root = root
            k += 1
        run.stop_clock()
    finally:
        if child is not None:
            try:
                child.stdin.write("quit\n")
                child.stdin.close()
            except BrokenPipeError:
                pass
            try:
                child.wait(timeout=120)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait(timeout=30)

    # -- correctness (untimed) --
    expected = make_events(spec)
    table = open_table(last_root)
    if run.args.tamper == "table":
        live = table.read(run.spark).select("path").limit(1).collect()[0]["path"]
        tamper_row(run.spark, table, live)
    want = oracle_digest(expected)
    run.check(table_digest(run.spark, table) == want,
              f"replay_bulk: local[{host_cpus()}] table state != fold oracle")
    run.check(all(d == want for d in child_digests),
              "replay_bulk: local[1] table state != fold oracle")

    eps = events / statistics.median(nproc_secs)
    run.metrics["op_p50_s"] = statistics.median(nproc_secs)
    run.info.append(f"replay_events_per_s = {eps:.1f} 1/s "
                    f"({events} events, {len(nproc_secs)} replays)")
    if one_secs:
        eps1 = events / statistics.median(one_secs)
        run.info.append(f"replay_events_per_s_1core = {eps1:.1f} 1/s "
                        f"({len(one_secs)} replays)")
        run.info.append(f"scaling_efficiency = {eps / eps1 / host_cpus():.4f} frac "
                        f"(local[{host_cpus()}] vs local[1])")
    if run.tracer is not None:
        content = expected["content"].dropna().astype("string")
        run.metrics["scrub.rows_per_s"] = scrub_rate(scrub_series, content)


def trickle_cdc(run: Run) -> None:
    import numpy as np
    import pandas as pd

    from image_deid_etl_spark.cdc.engine import open_table, run_ingest
    from image_deid_etl_spark.cdc.feed import (
        list_feed_files,
        scatter_key,
        write_uniform_chunk,
    )
    from image_deid_etl_spark.cdc.scrub import scrub_series
    from image_deid_etl_spark.lake.table import SnapshotTable

    def body(tick: int):
        return lambda _j, i: f"key {i} rev {tick} owner u{i}@example.org mrn MRN:{i:08d}"

    # the pre-loaded state, as feed-shaped events so the fold oracle can
    # replay it ahead of the ticks' chunks (seqs below every chunk's)
    base = pd.DataFrame({
        "seq": np.arange(1, TRICKLE_KEYS + 1, dtype=np.int64), "op": "add",
        "repo": "r", "path": [scatter_key(i) for i in range(TRICKLE_KEYS)],
        "commit": "c", "lang": "py",
        "content": [body(0)(0, i) for i in range(TRICKLE_KEYS)],
    })

    def setup_once(spark, i):
        root = os.path.join(run.work, f"table{i}")
        df = spark.createDataFrame(
            base.drop(columns=["seq", "op"]),
            "repo string, path string, commit string, lang string, content string",
        )
        SnapshotTable.import_dataframe(
            spark, root, df, n_buckets=8, properties={"changelog": True}
        )
        if i:
            shutil.rmtree(os.path.join(run.work, f"table{i - 1}"))
        return root

    root = run.timed_setup(setup_once)
    feed = os.path.join(run.work, "feed")
    os.makedirs(feed)
    if run.tracer is not None:
        run.tracer.install(layer_wraps())
    rng = np.random.default_rng(run.args.seed)
    fresh, lookups, compactions = [], [], []

    def tick(k: int) -> float:
        """Write chunk ``k``, ingest it and consume it; return the seconds."""
        ids = [int(x) for x in rng.integers(0, TRICKLE_KEYS, TRICKLE_CHUNK)]
        write_uniform_chunk(feed, k, ids, 10_000_000 + k * TRICKLE_CHUNK,
                            content=body(k + 1))
        pre = open_table(root).snapshot_id
        probe = ids[:TRICKLE_LOOKUPS]
        got: dict = {}

        def work():
            run.job_group(f"ingest-{k}")
            stats = run_ingest(run.spark, root, feed, max_files_per_batch=1,
                               auto_compact_files=TRICKLE_COMPACT_FILES)
            run.job_group(f"consume-{k}")
            t = open_table(root)
            got["changes"] = run.span(
                "table.read_changes",
                lambda: t.read_changes(run.spark, pre).select("path", "_change_type").collect(),
            )
            got["fresh"] = time.perf_counter()
            got["lookup"] = run.span(
                "table.lookup_keys",
                lambda: t.lookup_keys(
                    run.spark, [("r", scatter_key(i)) for i in probe]
                ).select("path", "content").collect(),
            )
            return stats

        t0 = time.perf_counter()
        secs, stats = run.op(k, work)
        if k > 0:  # tick 0 warms up every plan and is not measured
            fresh.append(got["fresh"] - t0)
            lookups.append(secs - (got["fresh"] - t0))
            compactions.append(len(stats.compactions))
        # -- per-tick correctness (untimed) --
        run.check(
            {r["path"] for r in got["changes"] if r["_change_type"] == "upsert"}
            == {scatter_key(i) for i in ids},
            f"trickle_cdc tick {k}: read_changes keys != chunk keys",
        )
        want_body = scrub_series(pd.Series(
            [body(k + 1)(0, i) for i in probe], dtype="string")).tolist()
        run.check(
            {(r["path"], r["content"]) for r in got["lookup"]}
            == {(scatter_key(i), b) for i, b in zip(probe, want_body)},
            f"trickle_cdc tick {k}: lookup_keys != just-written rows",
        )
        if run.traced(k):
            run.record_commits(open_table(root), pre, stats.events)
            run.count("compactions", len(stats.compactions))
            run.count("ingest_jobs", run.jobs_in(f"ingest-{k}"))
        if k % TRICKLE_DIFF_EVERY == TRICKLE_DIFF_EVERY - 1:
            why = changes_mismatch(run.spark, open_table(root), pre)
            run.check(why is None, f"trickle_cdc tick {k}: {why}")
        return secs

    tick(0)
    measured, k = 0.0, 1
    run.start_clock()
    while measured < run.args.seconds or k < 1 + TRICKLE_MIN_TICKS:
        measured += tick(k)
        k += 1
    run.stop_clock()

    # -- final state vs the fold of every chunk (untimed) --
    events = pd.concat([base] + [pd.read_parquet(p) for p in list_feed_files(feed)],
                       ignore_index=True)
    table = open_table(root)
    if run.args.tamper == "table":
        tamper_row(run.spark, table, scatter_key(0))
    run.check(table_digest(run.spark, table) == oracle_digest(events),
              "trickle_cdc: final table state != fold oracle")

    run.metrics["op_p50_s"] = statistics.median(fresh)
    p, tail, beyond = tail_percentile(fresh)
    n = len(fresh)
    run.info.append(f"freshness_p50_s = {statistics.median(fresh):.4f} s ({n} ticks)")
    run.info.append(f"freshness_tail_s = {tail:.4f} s (p{p:g}, {beyond} ticks beyond, "
                    f"{n} ticks)")
    run.info.append(f"lookup_p50_s = {statistics.median(lookups):.4f} s "
                    f"({TRICKLE_LOOKUPS} keys per call, {n} calls)")
    run.info.append(f"compactions = {sum(compactions)} count (over {n} ticks)")
    if run.tracer is not None:
        content = events["content"].dropna().astype("string")
        run.metrics["scrub.rows_per_s"] = scrub_rate(scrub_series, content)


def catalog(run: Run) -> None:
    import duckdb

    from image_deid_etl_spark.cdc.scrub import scrub_series
    from image_deid_etl_spark.plans import ORACLES, QUERIES

    data = CATALOG_DATA

    def setup_once(spark, _i):
        """Load every table once (footer read, schema and row count)."""
        return {
            name: spark.read.parquet(os.path.join(data, f"{name}.parquet")).count()
            for name in CATALOG_TABLES
        }

    rows = run.timed_setup(setup_once)
    run.info.append(f"catalog tables (rows): {rows}")

    # -- correctness first (untimed; also compiles every plan once) --
    con = duckdb.connect()
    try:
        for name in rows:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
        for q in HEADLINE:
            got = QUERIES[q](run.spark, data).toPandas()
            if run.args.tamper == "query" and q == HEADLINE[0]:
                num = got.select_dtypes("number").columns[0]
                got.loc[0, num] = got.loc[0, num] + 1
            why = frames_mismatch(got, con.sql(ORACLES[q]).df())
            run.check(why is None, f"catalog {q}: {why}")
    finally:
        con.close()

    per_query: dict[str, list[float]] = {q: [] for q in HEADLINE}
    measured, k = 0.0, 0
    run.start_clock()
    while measured < run.args.seconds or k < run.min_ops(1):
        def one_pass(p=k):
            for q in HEADLINE:
                run.job_group(f"q-{q}-{p}")
                t0 = time.perf_counter()
                run.span(f"query.{q}", lambda q=q: QUERIES[q](run.spark, data)
                         .write.format("noop").mode("overwrite").save())
                per_query[q].append(time.perf_counter() - t0)

        secs, _ = run.op(k, one_pass)
        run.attempted += len(HEADLINE) - 1
        measured += secs
        if run.traced(k):
            run.count("queries", len(HEADLINE))
            run.count("query_jobs", sum(run.jobs_in(f"q-{q}-{k}") for q in HEADLINE))
        k += 1
    run.stop_clock()

    pass_s = sum(statistics.median(v) for v in per_query.values())
    run.metrics["op_p50_s"] = pass_s
    run.info.append(f"catalog_pass_s = {pass_s:.4f} s (sum of per-query medians, "
                    f"{k} passes)")
    for q, v in per_query.items():
        run.info.append(f"  {q} = {statistics.median(v):.4f} s [{operator_module(q)}]")
    if run.tracer is not None:
        import pandas as pd

        text = pd.read_parquet(os.path.join(data, "documents.parquet"))["text"]
        run.metrics["scrub.rows_per_s"] = scrub_rate(scrub_series, text.astype("string"))


def scrub_rate(scrub_series, content) -> float:
    """Rows per second of an isolated `scrub_series` call (median of 3)."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        scrub_series(content)
        times.append(time.perf_counter() - t0)
    return len(content) / statistics.median(times)


# --------------------------------------------------------------------------
def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tamper", choices=("none", "table", "query"), default="none",
        help="negative control: corrupt one table row or query result "
             "before the correctness check",
    )
    args = ap.parse_args(argv)
    try:
        import image_deid_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    out = take_stdout()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    run = Run(args, work)
    try:
        {"replay_bulk": replay_bulk, "trickle_cdc": trickle_cdc,
         "catalog": catalog}[args.workload](run)
        if run.tracer is not None:
            run.layer_metrics()
            trace_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(trace_dir, exist_ok=True)
            run.tracer.dump(
                os.path.join(trace_dir, f"trace-{args.workload}-seed{args.seed}.jsonl")
            )
    except Exception:
        traceback.print_exc()
        run.errors.append("workload raised (traceback on stderr)")
    finally:
        if run.tracer is not None:
            run.tracer.uninstall()
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    units = LAYER_UNITS if args.trace else E2E_UNITS
    for line in run.info:
        out.write(line + "\n")
    out.write(f"failed_op_frac = {run.failed / max(1, run.attempted):.4f} frac "
              f"({run.failed} of {run.attempted} operations)\n")
    for name, value in sorted(run.metrics.items()):
        out.write(f"{name} = {value:.6g} {LAYER_UNITS.get(name) or E2E_UNITS.get(name)}\n")
    for e in run.errors:
        out.write(f"CHECK FAILED: {e}\n")
    correct = not run.errors and run.failed == 0
    result = {
        "correct": correct,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {
            name: {"value": run.metrics[name], "unit": unit}
            for name, unit in units.items() if name in run.metrics
        },
    }
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
