"""CDC and text-dedup benchmark for the engine, end to end and by layer.

    python3 cdcbench/run.py --workload cdc_update_read --seed 1 --seconds 15 --trace 0

Run from the repository root (or any checkout of it). All input is
generated from ``--seed`` and staged before timing starts; the engine
is driven only through its public entry points, in one process on
``local[nproc]``. Workloads are closed loops: the next micro-batch
starts when the previous one commits (an ``availableNow`` catch-up
drain). See WORKLOADS.md for the traffic of each workload and why it
was chosen.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
timed section twice in one process, untraced and traced with spans and
Spark job-group tags, and prints the per-layer metrics of the traced
section, the Spark counters parsed from the event log, and the tracing
overhead: traced minus untraced, as a share of untraced. CDC runs the
traced pass second, on a warmer JVM, so its overhead reads low by
whatever warm-up the first pass still carried; text runs untraced and
traced dedup passes in ABBA order.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Outputs are checked against DuckDB outside
the timed section; any mismatch makes the exit code non-zero.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import dataclasses
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

BUCKETS = 8
# warm-up: the bootstrap and one smaller batch of the same traffic,
# drained before timing; the first batches run cold (class loading,
# JIT, heap growth)
WARM_BATCHES = 1
WARM_EVENTS = 100_000
# in-loop tombstone-GC compaction cadence, counted over every applied
# batch of a pass from the bootstrap on: the first GC runs after the
# first timed batch, none in the warm-up
GC_EVERY = 3
# batches timed per second of --seconds; fixed so both sides of an A/B
# do identical work (measured on a 4-core box at the parent commit)
BATCHES_PER_S = 0.15
PASS_S = 7.5  # text: dedup passes per run = seconds / PASS_S

CDC_SPEC = dict(
    n_convs=10_000, turns=30, batch_events=750_000, hot_share=0.2, hot_turns=40,
    delete_share=0.2, straggler_share=0.01, ooo_window=20_000, redelivery_share=0.02,
    payload_chars=120,
)
TEXT_SPEC = gen.TextSpec(n_docs=2_000, chain_docs=5)

PLANS = ("argmax_broadcast", "append_only", "argmax", "hot_split")
SPARK_LAYERS = (
    "merge", "merge.compact", "merge.read", "lake", "lineage",
    "text.jaccard", "text.minhash", "text.groups",
)


# ------------------------------------------------------------------ host


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: on a virtual
    machine, steal is time the host ran something else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def start_session(work: str, trace: bool):
    """Spark on local[nproc] with every scratch path inside ``work``.
    The driver heap is sized to the host through the engine's
    SPARK_GRAFT_DRIVER_MEM deployment setting."""
    cpus = nproc()
    heap_mb = max(1024, min(4096, mem_total_mb() // 4))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + events,
        })
    from radiant_portal_pipeline_spark.session import get_spark

    return get_spark(
        app_name="cdcbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
        proc.kill()
        proc.wait(timeout=30)


def jvm_old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation: the long-lived heap."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return max(
        (pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
         if "Old Gen" in pool.getName()),
        default=0,
    ) / 2**20


def env_record(spark) -> dict:
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
    }


# ------------------------------------------------------------- staging


class Staged:
    """Feed files written before timing: bootstrap, warm batches, timed
    batches."""

    def __init__(self, d: str, seed: int, n_timed: int, spec: dict):
        self.spec = gen.CdcSpec(
            n_batches=WARM_BATCHES + n_timed, warm_batches=WARM_BATCHES, warm_events=WARM_EVENTS,
            **spec,
        )
        boot, batches = gen.cdc_feed(self.spec, seed)
        os.makedirs(d)
        self.boot = os.path.join(d, "b00000.parquet")
        gen.write_table(boot, self.boot)
        self.batches = []
        for i, t in enumerate(batches, start=1):
            p = os.path.join(d, f"b{i:05d}.parquet")
            gen.write_table(t, p)
            self.batches.append(p)
        self.warm = self.batches[:WARM_BATCHES]
        self.timed = self.batches[WARM_BATCHES:]
        self.boot_max_lsn = boot.num_rows
        self.timed_events = sum(t.num_rows for t in batches[WARM_BATCHES:])
        self.timed_bytes = sum(os.path.getsize(p) for p in self.timed)
        self.record = {
            **dataclasses.asdict(self.spec),
            "buckets": BUCKETS,
            "timed_events": self.timed_events,
            "within_batch_repeat_share": statistics.median(
                [gen.within_batch_repeat_share(t) for t in batches[WARM_BATCHES:]]
            ),
        }

    def all_files(self) -> list[str]:
        return [self.boot, *self.batches]


def link_into(feed: str, files: list[str]) -> None:
    """Publish staged files to the stream's source directory (hard
    links, strictly increasing mtimes: the file source orders by mtime)."""
    base = time.time()
    for i, src in enumerate(files):
        dst = os.path.join(feed, os.path.basename(src))
        os.link(src, dst)
        ts = base + 0.01 * i
        os.utime(dst, (ts, ts))


def _parquet_files(root: str) -> set[str]:
    out = set()
    for d, _, fs in os.walk(root):
        out.update(os.path.join(d, f) for f in fs if f.endswith(".parquet"))
    return out


def _dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


# ------------------------------------------------------------- CDC pass


class Outcome:
    """Counts operations attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def consume(df):
    """Read every column of ``df``: (rows, sum of lsn, max lsn)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lsn").alias("s"),
        F.max("lsn").alias("m"),
        F.sum(F.xxhash64(*df.columns) % 1024).alias("h"),
    ).head()
    return int(row["n"]), int(row["s"] or 0), row["m"]


def cdc_pass(spark, work: str, tag: str, st: Staged, tracer: Tracer | None) -> dict:
    """Bootstrap + warm batches (untimed), then the timed drain, the
    state read and the final compaction of a fresh table. After every
    batch a consumer reads ``changes_since`` its watermark, and every
    ``GC_EVERY`` batches tombstones below the lineage-derived safe
    watermark are purged by compaction."""
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter
    from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine
    from radiant_portal_pipeline_spark.cdc.stream import run_cdc_stream, tombstone_gc_hook

    d = os.path.join(work, tag)
    feed, ck = os.path.join(d, "feed"), os.path.join(d, "checkpoint")
    os.makedirs(feed)
    table = TranscriptMergeEngine.create_table(spark, os.path.join(d, "sink"), num_buckets=BUCKETS)
    engine = TranscriptMergeEngine(table)
    lineage = LineageWriter(spark, os.path.join(d, "lineage"))
    res = {"reads": [], "batch_s": [], "plans": [], "skipped": 0, "opened": 0, "live": 0}
    # ``timed`` turns on with the timed drain; spans and job tags only
    # cover the timed section
    consumer = {"wm": st.boot_max_lsn, "timed": False}

    def span(*args):
        on = tracer is not None and consumer["timed"]
        return tracer.span(*args) if on else contextlib.nullcontext()

    def read_delta():
        wm = consumer["wm"]
        if tracer is not None and consumer["timed"]:
            with span("bench.probe"):
                res["opened"] += len(table.live_files(skip={"lsn": (wm + 1, None)}))
                res["live"] += len(table.live_files())
        t = time.perf_counter()
        with span("merge.changes_since", "merge.read"):
            n, s, m = consume(engine.changes_since(wm))
        if consumer["timed"]:
            res["reads"].append((wm, n, s, time.perf_counter() - t, len(res["plans"])))
        if m is not None:
            consumer["wm"] = max(wm, int(m))

    gc = tombstone_gc_hook(engine, lineage, ooo_window=st.spec.ooo_window,
                           min_files_per_bucket=2, every=GC_EVERY)

    def drain():
        """Apply every staged file through ``run_cdc_stream``; returns the
        time the stream spent outside ``foreachBatch`` (source listing,
        planning, offset and commit logs), from the query's own progress
        reports, independent of the spans."""

        def hook(stats_):
            if consumer["timed"]:
                res["plans"].append(stats_.plan)
                res["skipped"] += bool(stats_.skipped)
            with span("stream.hook"):
                # the consumer reads before the purge: tombstone GC only
                # honours the straggler window, not consumer positions,
                # so a delete purged before it is read never reaches the
                # consumer
                read_delta()
                gc(stats_)

        query = run_cdc_stream(spark, feed, engine, ck, lineage=lineage, max_files_per_trigger=1,
                               on_batch=hook, await_termination=False)
        query.awaitTermination()
        return sum(
            (p.durationMs.get("triggerExecution", 0) - p.durationMs.get("addBatch", 0)) / 1e3
            for p in query.recentProgress
        )

    merge_batch = engine.merge_batch
    if tracer is None:
        def timed_merge(*a, **k):
            t = time.perf_counter()
            try:
                return merge_batch(*a, **k)
            finally:
                res["batch_s"].append(time.perf_counter() - t)

        engine.merge_batch = timed_merge

    link_into(feed, [st.boot, *st.warm])
    drain()
    res["warm_batch_s"], res["batch_s"] = res["batch_s"], []

    if tracer is not None:
        tracer.wrap(engine, "merge_batch", "merge.batch", "merge")
        tracer.wrap(engine, "compact", "merge.compact", "merge.compact")
        tracer.wrap(lineage, "record", "lineage.record", "lineage")
        tracer.wrap(lineage, "safe_purge_watermark", "lineage.safe_purge", "lineage")
        tracer.wrap(table, "append", "lake.append", "lake")
        tracer.wrap(table, "snapshot", "lake.snapshot")
    data_dir = os.path.join(d, "sink", "data")
    files_before = _parquet_files(data_dir)
    consumer["timed"] = True
    link_into(feed, st.timed)

    t0 = res["timed_from"] = time.perf_counter()
    epoch0 = time.time()
    res["stream_overhead_s"] = drain()
    res["traced_window"] = (epoch0, time.time())
    res["drain_s"] = time.perf_counter() - t0
    engine.merge_batch = merge_batch
    if tracer is not None:
        res["batch_s"] = [s.duration for s in tracer.spans if s.name == "merge.batch"]
    # storage figures between the timed steps, outside their timings
    res["files_written"] = len(_parquet_files(data_dir) - files_before)
    res["live_files_end"] = len(table.live_files())
    res["manifest_bytes_end"] = _dir_bytes(os.path.join(d, "sink", "_log"))
    t1 = time.perf_counter()
    with span("merge.current_state", "merge.read"):
        res["state"] = consume(engine.current_state())
    t2 = time.perf_counter()
    with span("merge.compact_final", "merge.compact"):
        TranscriptMergeEngine.compact(engine)
    t3 = time.perf_counter()
    res["state_read_s"] = t2 - t1
    res["compact_s"] = t3 - t2
    res["run_s"] = res["drain_s"] + res["state_read_s"] + res["compact_s"]
    res.update(engine=engine, lineage=lineage, table=table)
    print(json.dumps({"pass": tag, "warm_batch_s": [round(x, 3) for x in res["warm_batch_s"]],
                      "batch_s": [round(x, 3) for x in res["batch_s"]],
                      "read_s": [round(r[3], 3) for r in res["reads"]], "drain_s": res["drain_s"],
                      "stream_overhead_s": res["stream_overhead_s"],
                      "state_read_s": res["state_read_s"], "compact_s": res["compact_s"]}),
          file=sys.stderr)
    return res


def cdc_gate(spark, work: str, st: Staged, res: dict, ok: Outcome) -> None:
    """DuckDB adjudication of one CDC pass (outside timing)."""
    from pyspark.sql import functions as F

    n_timed = len(st.timed)
    ok.check(len(res["batch_s"]) == n_timed and res["skipped"] == 0,
             f"applied {len(res['batch_s'])}/{n_timed} timed batches, {res['skipped']} skipped")
    con = oracle.connect()
    files = st.all_files()
    oracle.feed_view(con, files)
    ok.check(res["state"][:2] == oracle.state_summary(con), "state read before compaction")
    out = os.path.join(work, "final_state")
    res["engine"].current_state().write.mode("overwrite").parquet(out)
    diff = oracle.diff_rows(
        con, f"SELECT * FROM read_parquet('{out}/*.parquet')", oracle.lww_sql()
    )
    ok.check(diff == 0, f"final state differs from the DuckDB LWW in {diff} rows")
    wm = res["lineage"].read().agg(F.max("applied_lsn_watermark")).head()[0]
    ok.check(wm == oracle.max_lsn(con), f"applied LSN watermark {wm} != feed max LSN")
    first = 1 + WARM_BATCHES
    for wm_, n, s, _, k in res["reads"]:
        oracle.feed_view(con, files[: first + k], name="prefix")
        ok.check((n, s) == oracle.delta_summary(con, wm_, feed="prefix"),
                 f"changes_since({wm_}) after timed batch {k}")
    con.close()


# ------------------------------------------------------------- text pass


def stage_corpus(work: str, seed: int) -> tuple[str, int]:
    corpus = gen.text_corpus(TEXT_SPEC, seed)
    d = os.path.join(work, "corpus")
    os.makedirs(d)
    gen.write_table(corpus, os.path.join(d, "documents.parquet"))
    return d, corpus.num_rows


def text_pass(spark, sf_dir: str, tracer: Tracer | None) -> dict:
    """Corpus -> exact-Jaccard pairs, MinHash-LSH pairs, duplicate groups,
    through the registered text queries and ``dedup_groups``."""
    import radiant_portal_pipeline_spark.text.queries  # noqa: F401 - registers queries
    from pyspark.sql import functions as F
    from radiant_portal_pipeline_spark.checkpoint import IterCheckpointer
    from radiant_portal_pipeline_spark.operators.registry import REGISTRY, load_table
    from radiant_portal_pipeline_spark.text import dedup as D

    class CountingCheckpointer(IterCheckpointer):
        cuts = 0

        def cut(self, df):
            self.cuts += 1
            return super().cut(df)

    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    out = {}
    t0 = time.perf_counter()
    pairs_ck = IterCheckpointer()
    with span("text.jaccard_pairs", "text.jaccard"):
        pairs_df = pairs_ck.cut(REGISTRY["t_ngram_jaccard_dedup"].fn(spark, sf_dir))
        out["pairs"] = [tuple(r) for r in pairs_df.collect()]
    t1 = time.perf_counter()
    with span("text.minhash_pairs", "text.minhash"):
        out["minhash"] = [tuple(r) for r in REGISTRY["t_minhash_lsh_dedup"].fn(spark, sf_dir).collect()]
    t2 = time.perf_counter()
    with span("text.groups", "text.groups"):
        cc = CountingCheckpointer()
        comp = D.dedup_groups(pairs_df, ck=cc)
        keeper = F.coalesce(F.col("label"), F.col("doc_id"))
        groups = (
            load_table(spark, sf_dir, "documents").select("doc_id")
            .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
            .select("doc_id", keeper.alias("keeper_doc_id"),
                    (F.col("doc_id") != keeper).alias("is_duplicate"))
        )
        out["groups"] = [tuple(r) for r in groups.collect()]
    t3 = time.perf_counter()
    pairs_ck.release(pairs_df)
    out.update(jaccard_s=t1 - t0, minhash_s=t2 - t1, groups_s=t3 - t2, pass_s=t3 - t0,
               cc_rounds=cc.cuts - 1)
    return out


def text_gate(sf_dir: str, res: dict, ok: Outcome) -> None:
    from radiant_portal_pipeline_spark.operators.registry import REGISTRY

    con = oracle.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")

    def rounded(rows):
        return sorted((a, b, round(float(j), 4)) for a, b, j in rows)

    for key, q in (("pairs", "t_ngram_jaccard_dedup"), ("minhash", "t_minhash_lsh_dedup")):
        want = rounded(oracle.rows_of(con, REGISTRY[q].oracle))
        ok.check(rounded(res[key]) == want, f"{q}: {len(res[key])} pairs vs oracle {len(want)}")
    want = sorted(oracle.rows_of(con, REGISTRY["t_dedup_groups"].oracle))
    ok.check(sorted(res["groups"]) == want, "t_dedup_groups differs from its oracle")
    con.close()


def text_lsh_candidates(spark, sf_dir: str) -> int:
    from radiant_portal_pipeline_spark.operators.registry import load_table
    from radiant_portal_pipeline_spark.text import dedup as D

    sigs = D.minhash_signatures(load_table(spark, sf_dir, "documents"), hash_family="md5lcg")
    return D.lsh_candidate_pairs(sigs, hash_family="md5lcg").count()


# --------------------------------------------------------------- metrics


def cdc_e2e(res: dict, st: Staged) -> dict:
    return {
        "items_per_s": (st.timed_events / res["drain_s"], "items/s"),
        "op_p50_s": (statistics.median(res["batch_s"]), "s"),
        "run_s": (res["run_s"], "s"),
    }


def text_e2e(passes: list[dict], n_docs: int) -> dict:
    p50 = statistics.median([p["pass_s"] for p in passes])
    return {
        "items_per_s": (n_docs / p50, "items/s"),
        "op_p50_s": (p50, "s"),
        "run_s": (sum(p["pass_s"] for p in passes), "s"),
    }


def per_layer(name: str, tr: Tracer, res: dict, extra: dict, wall: float) -> dict:
    """Every per-layer metric; layers a workload never calls read 0.
    ``wall`` is the wall time the layer spans must add up to: the traced
    drain for cdc, with the stream's own time taken from its progress
    reports; the untraced passes for text."""
    m = dict.fromkeys(PER_LAYER_NAMES, 0.0)
    m.update(extra)
    if name.startswith("cdc"):
        batch = res["batch_s"]
        m["stream.overhead_s"] = res["stream_overhead_s"]
        m["trace.phase_sum_share"] = (
            tr.total("merge.batch") + tr.total("stream.hook") + res["stream_overhead_s"]
        ) / wall
        m["merge.batch_self_s"] = tr.total("merge.batch", self_time=True)
        t = stats.tail(batch)
        m["batch_tail_s"], m["batch_tail_pct"] = (t[0], t[1]) if t else (max(batch), 100.0)
        m["batch_n"] = len(batch)
        for plan in res["plans"]:
            key = f"merge.plan.{plan}" if plan in PLANS else "merge.plan.other"
            m[key] += 1
        m["lineage.record_s"] = tr.total("lineage.record")
        m["lineage.safe_purge_s"] = tr.total("lineage.safe_purge")
        m["merge.compact_s"] = tr.total("merge.compact")
        m["lake.append_s"] = tr.total("lake.append")
        m["lake.snapshot_s"] = tr.total("lake.snapshot")
        m["lake.snapshot_calls"] = tr.calls("lake.snapshot")
        m["lake.files_written"] = res["files_written"]
        m["lake.live_files_end"] = res["live_files_end"]
        m["lake.manifest_bytes_end"] = res["manifest_bytes_end"]
        reads = [r[3] for r in res["reads"]]
        m["delta_read_p50_s"] = statistics.median(reads) if reads else 0.0
        m["merge.changes_since_s"] = tr.total("merge.changes_since")
        m["merge.current_state_s"] = tr.total("merge.current_state")
        m["lake.read.files_opened_share"] = res["opened"] / res["live"] if res["live"] else 0.0
        m["state_read_s"] = res["state_read_s"]
        m["compact_s"] = res["compact_s"]
    else:
        m["trace.phase_sum_share"] = sum(
            tr.total(s) for s in ("text.jaccard_pairs", "text.minhash_pairs", "text.groups")
        ) / wall
        m["text.jaccard_pairs_s"] = res["jaccard_s"]
        m["text.minhash_pairs_s"] = res["minhash_s"]
        m["text.groups_s"] = res["groups_s"]
        m["text.cc_rounds"] = res["cc_rounds"]
        m["dedup_s"] = res["pass_s"]
    return m


PER_LAYER_NAMES = (
    ["session.start_s", "setup.warmup_s", "setup.stage_s", "peak_rss_mb", "jvm.old_gen_peak_mb",
     "stream.overhead_s",
     "merge.batch_self_s", "batch_tail_s", "batch_tail_pct", "batch_n"]
    + [f"merge.plan.{p}" for p in PLANS] + ["merge.plan.other"]
    + ["lineage.record_s", "lineage.safe_purge_s", "merge.compact_s", "lake.append_s",
       "lake.snapshot_s", "lake.snapshot_calls", "lake.files_written",
       "lake.bytes_written_per_input_byte", "lake.live_files_end", "lake.manifest_bytes_end",
       "merge.changes_since_s", "merge.current_state_s",
       "merge.read.rows_scanned_per_row_returned", "lake.read.files_opened_share",
       "merge.rows_written_per_event", "delta_read_p50_s", "state_read_s", "compact_s",
       "text.jaccard_pairs_s", "text.minhash_pairs_s", "text.groups_s", "text.lsh_candidates",
       "text.lsh_pair_yield", "text.cc_rounds", "dedup_s", "failed_share",
       "trace.overhead_share", "trace.phase_sum_share", "trace.tagged_job_share"]
    + [f"{layer}.{c}" for layer in SPARK_LAYERS for c in eventlog.COUNTERS]
)

PER_LAYER_UNITS = {
    "batch_tail_pct": "%", "batch_n": "count", "peak_rss_mb": "MB", "jvm.old_gen_peak_mb": "MB", "lake.snapshot_calls": "count",
    "lake.files_written": "count", "lake.live_files_end": "count",
    "lake.manifest_bytes_end": "bytes", "text.lsh_candidates": "count", "text.cc_rounds": "count",
    "lake.bytes_written_per_input_byte": "ratio", "merge.read.rows_scanned_per_row_returned": "ratio",
    "lake.read.files_opened_share": "ratio", "merge.rows_written_per_event": "ratio",
    "text.lsh_pair_yield": "ratio", "failed_share": "ratio", "trace.overhead_share": "ratio",
    "trace.phase_sum_share": "ratio", "trace.tagged_job_share": "ratio",
}


def unit_of(name: str) -> str:
    if name in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[name]
    if name.startswith("merge.plan."):
        return "count"
    tail = name.rsplit(".", 1)[-1]
    if name.endswith("_s"):
        return "s"
    return {"jobs": "count", "tasks": "count", "input_rows": "rows", "output_rows": "rows"}.get(tail, "bytes")


# ------------------------------------------------------------------ main


def run(args, work: str) -> tuple[dict, Outcome]:
    ok = Outcome()
    trace = bool(args.trace)
    ticks0 = cpu_ticks()
    t_stage = time.perf_counter()
    if args.workload == "text_dedup":
        corpus, n_docs = stage_corpus(work, args.seed)
    else:
        n_timed = max(2, round(args.seconds * BATCHES_PER_S))
        st = Staged(os.path.join(work, "staged"), args.seed, n_timed, CDC_SPEC)
    stage_s = time.perf_counter() - t_stage

    t_session = time.perf_counter()
    spark = start_session(work, trace)
    session_s = time.perf_counter() - t_session
    try:
        record = st.record if args.workload != "text_dedup" else dataclasses.asdict(TEXT_SPEC)
        print(json.dumps({"env": env_record(spark), "workload": record}), flush=True)
        t_warm = time.perf_counter()
        tracer = Tracer(spark.sparkContext) if trace else None
        if args.workload == "text_dedup":
            # one warm-up pass: a pass is ~56 small Spark jobs and the
            # first one runs cold (class loading, JIT, codegen)
            text_pass(spark, corpus, None)
            warm_s = time.perf_counter() - t_warm
            n_passes = max(2, round(args.seconds / PASS_S))
            if trace:
                # passes keep getting faster (JIT) for a few passes; the
                # traced comparison gets one more untimed pass and then
                # runs untraced and traced passes in ABBA order, so both
                # sides see the same JVM
                text_pass(spark, corpus, None)
            passes, passes_b, windows = [], [], []
            for i in range(n_passes):
                pair = (None, tracer) if i % 2 == 0 else (tracer, None)
                for tr in pair if trace else (None,):
                    t = time.time()
                    p = text_pass(spark, corpus, tr)
                    if tr is None:
                        passes.append(p)
                    else:
                        passes_b.append(p)
                        windows.append((t, time.time()))
            e2e = text_e2e(passes, n_docs)
            print(json.dumps({"passes": [{k: round(p[k], 3) for k in
                                          ("jaccard_s", "minhash_s", "groups_s", "pass_s")}
                                         for p in passes]}), file=sys.stderr)
            res = passes[-1]
            if trace:
                e2e_b = text_e2e(passes_b, n_docs)
                passes += passes_b
                overhead = e2e_b["run_s"][0] / e2e["run_s"][0] - 1.0
                wall = e2e["run_s"][0]
                res = dict(passes_b[-1])  # outputs to check; timings: median pass
                for k in ("jaccard_s", "minhash_s", "groups_s", "pass_s"):
                    res[k] = statistics.median(p[k] for p in passes_b)
        else:
            # the first pass's bootstrap and warm batches are the warm-up
            res = cdc_pass(spark, work, "a", st, None)
            warm_s = res["timed_from"] - t_warm
            e2e = cdc_e2e(res, st)
            if trace:
                res = cdc_pass(spark, work, "b", st, tracer)
                overhead = res["run_s"] / e2e["run_s"][0] - 1.0
                wall = res["drain_s"]
                windows = [res["traced_window"]]
        peak = hwm_mb(os.getpid()) + hwm_mb(spark.sparkContext._gateway.proc.pid)
        heap = jvm_old_gen_peak_mb(spark)

        if args.workload == "text_dedup":
            text_gate(corpus, res, ok)
            for p in passes:
                ok.check(p["pairs"] == res["pairs"] and p["minhash"] == res["minhash"]
                         and p["groups"] == res["groups"], "dedup passes disagree")
            lsh = text_lsh_candidates(spark, corpus) if trace else 0
            ok.attempted += 3 * len(passes)
        else:
            cdc_gate(spark, work, st, res, ok)
            # batches, consumer reads, the state read and the final compaction
            ok.attempted += len(res["batch_s"]) + len(res["reads"]) + 2
    finally:
        stop_session(spark)
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(json.dumps({"host": {"steal_share": steal}}), file=sys.stderr)

    if not trace:
        metrics = {k: v for k, v in e2e.items()}
        metrics["setup_s"] = (stage_s + session_s + warm_s, "s")
        print(json.dumps({"setup": {"stage_s": stage_s, "session_s": session_s, "warmup_s": warm_s},
                          "peak_rss_mb": peak}), file=sys.stderr)
        return metrics, ok

    groups, jobs = eventlog.parse_dir(os.path.join(work, "events"))
    extra = eventlog.layer_metrics(groups, SPARK_LAYERS)
    extra.update({
        "session.start_s": session_s, "setup.warmup_s": warm_s, "setup.stage_s": stage_s,
        "peak_rss_mb": peak, "jvm.old_gen_peak_mb": heap,
        "trace.overhead_share": overhead, "trace.tagged_job_share": eventlog.tagged_share(jobs, SPARK_LAYERS, windows),
        "failed_share": ok.failed / max(ok.attempted, 1),
    })
    m = per_layer(args.workload, tracer, res, extra, wall)
    if args.workload == "text_dedup":
        m["text.lsh_candidates"] = lsh
        m["text.lsh_pair_yield"] = len(res["minhash"]) / lsh if lsh else 0.0
    else:
        lake = groups.get("lake", {})
        read = groups.get("merge.read", {})
        rows_returned = sum(r[1] for r in res["reads"]) + res["state"][0]
        m["merge.rows_written_per_event"] = lake.get("output_rows", 0) / st.timed_events
        m["lake.bytes_written_per_input_byte"] = lake.get("output_bytes", 0) / st.timed_bytes
        m["merge.read.rows_scanned_per_row_returned"] = (
            read.get("input_rows", 0) / rows_returned if rows_returned else 0.0
        )
    spans = {n: tracer.total(n) for n in sorted({s.name for s in tracer.spans})}
    print(eventlog.report(groups, spans, wall, m["trace.phase_sum_share"] * wall,
                          m["trace.overhead_share"]), file=sys.stderr)
    ok.check(abs(m["trace.phase_sum_share"] - 1.0) <= 0.10, "span self-times miss the wall by >10%")
    return {k: (v, unit_of(k)) for k, v in m.items()}, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc_update_read", "text_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "radiant_portal_pipeline_spark")):
        print("engine package not found next to the benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files under /tmp from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        metrics, ok = run(args, work)
    except Exception:  # noqa: BLE001 - report, then fail the run
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    for note in ok.notes:
        print(f"CHECK FAILED: {note}", file=sys.stderr)
    print(json.dumps({
        "correct": ok.failed == 0,
        "attempted": ok.attempted,
        "failed": ok.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
