"""Key-partitioned MERGE of a CDC micro-batch into a LakeTable.

Semantics (the reference's incremental protocol, re-expressed Spark-first
— SURVEY.md §2.9 / §3.2):

1. **Epoch guard** — a batch carries a monotonically increasing epoch
   (Structured Streaming's batch_id). The table snapshot records the
   last applied epoch per source; replaying an already-applied batch is
   a no-op, which makes ``foreachBatch`` exactly-once
   (reference: ``ingested_at`` watermark advanced only post-run,
   sequencing_experiment_update.sql:1-3 + import_part.py:588-622).
2. **LWW dedup** — per ``(conv_id, turn_idx)`` on ``lsn`` (reference
   W1 row_number pattern): argmax on the write path, a top-1 window on
   reads and compaction; both combine map-side before the shuffle.
3. **Partition pruning** — ``part = pmod(xxhash64(conv_id), buckets)``;
   only partitions present in the batch are touched.
4. **Deletes** become tombstones (``_deleted = true``) that keep their
   lsn, so an out-of-order lower-lsn update in a later batch cannot
   resurrect a deleted key (reference ST3/ST7).
5. **Additive schema evolution** — new payload columns in the batch are
   appended to the table schema before the merge (reference §1.2).
6. **Lineage** — per-partition applied-LSN watermarks, row counts and
   merge latency (reference ST2 / OTel spans).

Two physical strategies (same logical semantics, verified equal):

- **merge-on-read (default, ``mode="mor"``)** — the batch is LWW-
  deduped and APPENDED; no existing data is read or rewritten on the
  write path. Reads resolve LWW over (possibly) multiple versions per
  key (``lww_read``); ``compact()`` folds partitions back to one row
  per key. This is the Iceberg MoR design: write amplification O(batch)
  instead of O(table), the right trade at 10^10 events where most
  buckets receive a few rows per batch. Compaction is incremental and
  partition-scoped, so it parallelizes and can run on a schedule.
- **copy-on-write (``mode="cow"``)** — union batch with the touched
  buckets, one fused LWW, rewrite those buckets. Reads are then pure
  scans. Right when batches are large relative to touched partitions
  or read amplification matters more than write amplification
  (this is the reference's copy-unchanged + swap,
  operator.py:282-355, with the copy made free by the manifest).

Scale notes: the only shuffles are the LWW hash aggregation and the
write repartition by bucket; both are keyed on the hashed conversation
id so they stay balanced under conversation skew. Bucket count should
scale with cluster size (64 here; thousands at 1000 executors).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radiant_portal_pipeline_spark.cdc import schemas as S
from radiant_portal_pipeline_spark.cdc.dedup import (
    argmax_eligible,
    argmax_winner_rows,
    lww_dedup,
)
from radiant_portal_pipeline_spark.lake import LakeTable

_SRC_RANK = "_src_rank"  # tie-break: batch row beats existing row at equal lsn


@dataclass
class MergeStats:
    epoch: int
    skipped: bool
    parts_touched: int = 0
    parts: list = None
    seconds: float = 0.0
    plan: str = ""  # physical plan actually used (adaptive resolves per batch)


def part_expr(conv_col: str, num_buckets: int):
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(num_buckets)).cast("int")


class TranscriptMergeEngine:
    def __init__(
        self,
        table: LakeTable,
        num_buckets: int | None = None,
        source_id: str = "cdc",
        key_cols: tuple[str, ...] = S.KEY_COLS,
        lsn_col: str = S.LSN_COL,
        mode: str = "mor",
        lineage=None,
        merge_plan: str = "adaptive",
        append_only_enabled: bool = True,
        dup_share_threshold: float = 0.03,
        chooser_rsd: float = 0.02,
        broadcast_max_winners: int = 2_000_000,
        quarantine: "LakeTable | None" = None,
        estimate_every: int = 1,
        hot_split_enabled: bool = True,
        hot_split_max_convs: int = 1000,
        compact_broadcast_min_bytes: int = 256 << 20,
    ):
        if mode not in ("mor", "cow"):
            raise ValueError(f"unknown merge mode {mode!r}")
        if merge_plan not in (
            "adaptive", "argmax", "argmax_broadcast", "append_only",
            "hot_split", "two_phase", "single_exchange",
        ):
            raise ValueError(f"unknown merge_plan {merge_plan!r}")
        if merge_plan in ("append_only", "hot_split") and mode != "mor":
            raise ValueError(
                f"{merge_plan} elides (part of) the write-path dedup, which "
                "is only correct under MoR read-side LWW — copy-on-write "
                "must fold"
            )
        self.table = table
        # The bucket count is part of the TABLE's identity (rows are
        # physically placed by pmod(xxhash64(conv_id), buckets)): an
        # engine with a different count would read/replace the WRONG
        # partitions and silently corrupt merges. The authoritative
        # value lives in the table properties; an explicit mismatch is
        # an error, not a preference.
        stored = table.snapshot().properties.get("num_buckets")
        if stored is not None and num_buckets is not None and stored != num_buckets:
            raise ValueError(
                f"table was created with num_buckets={stored}, engine got "
                f"{num_buckets} — merges would target wrong partitions"
            )
        resolved = num_buckets if num_buckets is not None else stored
        if resolved is None:
            resolved = 32
        self.num_buckets = int(resolved)
        self.source_id = source_id
        self.key_cols = list(key_cols)
        self.lsn_col = lsn_col
        self.mode = mode
        self.merge_plan = merge_plan
        self.lineage = lineage  # optional LineageWriter (cdc.lineage)
        # adaptive-chooser knobs (see _choose_plan): operators with
        # unusual feeds tune or disable the elision instead of forking
        self.append_only_enabled = bool(append_only_enabled)
        self.dup_share_threshold = float(dup_share_threshold)
        self.chooser_rsd = float(chooser_rsd)
        self.broadcast_max_winners = int(broadcast_max_winners)
        # hot_split plan (round-5): when the batch's distinct keys are
        # too many to broadcast AND the duplicate mass is CONCENTRATED
        # in a few conversations (the hot-conv insert shape), dedup
        # ONLY the heavy conversations (tiny broadcast winners) and
        # append the unique tail raw — MoR read-side LWW keeps reads
        # correct, and the 10M+-winner shuffle disappears. Measured
        # (BENCH.md round 5): the insert-shape apply is dedup-compute-
        # bound, not write-bound (noop sink = 85% of apply), so this is
        # the lever that moves it.
        self.hot_split_enabled = bool(hot_split_enabled)
        self.hot_split_max_convs = int(hot_split_max_convs)
        self._hot_convs: list | None = None
        # compact(): minimum manifest-recorded fold size before the
        # broadcast-upgrade estimator runs (see compact) — small folds
        # are fixed-cost-bound and keep the estimator-free plan
        self.compact_broadcast_min_bytes = int(compact_broadcast_min_bytes)
        # dead-letter table: when set, contract-violating rows (NULL
        # merge key / NULL lsn) are SPLIT OUT with a reason and the
        # valid remainder merges; when None (default), the in-plan
        # raise_error guard fails the whole batch instead. The same
        # epoch guard covers the quarantine appends, so a replayed
        # batch quarantines nothing twice.
        self.quarantine = quarantine
        # OPT-IN plan stickiness (estimate_every > 1): a PERFORMANCE-
        # ONLY chooser decision (argmax/argmax_broadcast) is reused for
        # estimate_every-1 subsequent batches before re-estimating —
        # the estimator job costs ~0.5 s per 16M-row batch (BENCH.md
        # round 4), worth skipping on feeds with a stable character.
        # The append_only ELISION never sticks (it trades storage on a
        # wrong guess, so every elision is re-validated), and a sticky
        # argmax ALSO suppresses the elision check for its window —
        # which is why the default is 1 (estimate every batch): a mixed
        # feed keeps full adaptivity unless the operator opts out. All
        # plans are result-equal, so stickiness can never change
        # results — only which equally-correct plan runs.
        self.estimate_every = max(1, int(estimate_every))
        self._sticky_plan: tuple[str, str] | None = None
        self._sticky_left = 0
        self._sticky_n = 0  # batch rows the sticky estimate came from

    @staticmethod
    def create_table(spark, path: str, num_buckets: int = 32) -> LakeTable:
        return LakeTable.create(
            spark,
            path,
            S.sink_schema(),
            partition_col=S.PART_COL,
            # manifest min/max stats for the scan-pruning columns (an
            # lsn/ts/turn-range read opens only intersecting files) +
            # split manifests (per-bucket content-addressed blobs:
            # commits rewrite O(touched buckets) manifest bytes, pruned
            # reads load only their buckets' manifests — the layout
            # that survives 10^6 files)
            properties={
                "num_buckets": num_buckets,
                "stats_cols": [S.LSN_COL, "turn_idx", "ts"],
                "manifest_split": True,
            },
        )

    @staticmethod
    def create_quarantine_table(spark, path: str) -> LakeTable:
        """Dead-letter table for contract-violating change events
        (reference analog: malformed records are logged and skipped by
        the extraction pods rather than failing the whole import). All
        envelope fields nullable (the violation IS a null), partitioned
        by the violation reason so operators can scan one failure class
        without touching the rest."""
        import pyspark.sql.types as T

        fields = [
            T.StructField(f.name, f.dataType, True)
            for f in S.CHANGE_EVENT_SCHEMA.fields
        ]
        fields += [
            T.StructField("_reason", T.StringType(), False),
            T.StructField("_epoch", T.LongType(), False),
        ]
        return LakeTable.create(
            spark, path, T.StructType(fields), partition_col="_reason"
        )

    def _split_quarantine(self, batch: DataFrame, epoch: int) -> DataFrame:
        """Route contract-violating rows to the dead-letter table and
        return the valid remainder. One thin predicate over the key
        columns decides; the quarantine append carries the batch epoch
        under the SAME source_id, so a replayed batch is a no-op on
        both tables (exactly-once extends to the dead letters)."""
        reason = (
            F.when(
                sum(F.col(c).isNull().cast("int") for c in self.key_cols) > 0,
                F.lit("null_merge_key"),
            )
            .when(F.col(self.lsn_col).isNull(), F.lit("null_lsn"))
        )
        bad = (
            batch.withColumn("_reason", reason)
            .filter(F.col("_reason").isNotNull())
            .withColumn("_epoch", F.lit(epoch).cast("long"))
        )
        # probe before appending: a clean feed must NOT pay one
        # quarantine snapshot (manifest/version churn + applied-map
        # bump) per batch. Exactly-once is unaffected — re-splitting a
        # replayed batch regenerates the same (possibly empty) rows,
        # and non-empty appends still carry the epoch guard.
        if bad.limit(1).count() > 0:
            self.quarantine.append(bad, source_id=self.source_id, epoch=epoch)
        return batch.filter(reason.isNull())

    # ------------------------------------------------------------------

    def _choose_plan(self, df: DataFrame) -> tuple[str, str]:
        """Resolve ``merge_plan="adaptive"`` for ONE batch.

        First preference: ``argmax`` whenever the batch schema is
        eligible (single bigint lsn, no map payload columns — always
        true for the transcript envelope). Measured (BENCH.md plan
        table), argmax dominates BOTH static plans at every
        (parallelism, skew, dup-ratio) cell: it is all-hash (no
        SortAggregate — a struct aggregation buffer forces sort-based
        aggregation in the max-struct plans), its winners exchange
        carries only keys+lsn with a map-side partial combine, and its
        full-row exchange is keyed on (keys, lsn) — unique per row, so
        a hot conversation spreads uniformly with no salting.

        For ineligible schemas the old chooser decides between the
        max-struct topologies from a cheap deterministic ~2% key-hash
        sample: per-bucket event counts give the hot-bucket share.
        Decision rule (P = defaultParallelism):

        - num_buckets < P  -> two_phase (agg parallelism would be capped)
        - max_bucket_share > 2/P -> two_phase (straggler dominates: the
          hot task holds > 2x its fair share of the batch)
        - otherwise -> single_exchange

        The sample is one small extra job per batch (hash-deterministic,
        so replays choose the same plan); an empty sample falls back to
        the scale-safe two_phase. Returns (plan, reason) — the reason
        goes to lineage so operators can audit choices."""
        keys = [S.PART_COL, *self.key_cols]
        if argmax_eligible(df, keys, [self.lsn_col]):
            # One FULL-COVERAGE estimator job decides both remaining
            # choices: n rows + HLL distinct keys (approx_count_distinct
            # over xxhash64(keys) at rsd=chooser_rsd — map-side partial
            # sketches, one tiny exchange, a thin columnar scan; no
            # key-wise shuffle). rsd=0.02 measures ~0.5 s per 8M-row
            # batch at 8 cores (0.01 costs 2.4x for precision the
            # thresholds don't need); pin merge_plan to a static choice
            # to skip the estimator entirely on a known feed. HLL sees EVERY key, so duplicate mass
            # concentrated in a handful of hot keys is detected
            # deterministically — the round-3 ~2% key-hash sample
            # caught each hot key only w.p. 2%/batch and such feeds
            # elided on most batches (the documented blind spot, now
            # closed). Both estimates are deterministic per batch
            # content, so replays choose the same plan.
            #
            # - dup_share < threshold (insert-dominant) -> append_only:
            #   skip the write-path dedup entirely. MoR read-side LWW +
            #   compaction already guarantee the same read results;
            #   eliding measures ~40% faster on a 16M-row all-new-keys
            #   batch (BENCH.md). A wrong borderline guess costs
            #   bounded storage until compact, never correctness.
            # - est distinct keys <= broadcast_max_winners ->
            #   argmax_broadcast: the winners (keys+lsn) ship to every
            #   task and the batch's FULL ROWS move through ZERO
            #   exchanges — the full-row shuffle is the dominant memory
            #   traffic of the update-heavy path (BENCH.md round-4).
            # - else -> shuffled argmax (winners too big to broadcast).
            if self.mode == "mor":
                if self._sticky_left > 0 and self._sticky_plan is not None:
                    # GUARD the replayed decision with the cheap half of
                    # the estimator (count only, no HLL): a sticky
                    # argmax_broadcast decision taken on a small batch
                    # would otherwise broadcast an unbounded winners set
                    # when the feed's volume jumps mid-window (round-4
                    # advisor) — OOM risk, not a correctness risk. A
                    # materially different batch size (>2x either way)
                    # invalidates the stickiness and falls through to
                    # the full estimate.
                    n_now = df.count()
                    lo_ok = self._sticky_n / 2 <= n_now <= self._sticky_n * 2
                    if lo_ok:
                        self._sticky_left -= 1
                        plan, why = self._sticky_plan
                        return plan, f"sticky[{why}]"
                    self._sticky_plan, self._sticky_left = None, 0
                row = self._estimate_batch(df)
                if row is not None and row["n"]:
                    dup_share = max(0.0, 1.0 - row["nk"] / row["n"])
                    if (
                        self.append_only_enabled
                        and dup_share < self.dup_share_threshold
                    ):
                        # never sticks: each elision is re-validated
                        self._sticky_plan, self._sticky_left = None, 0
                        return (
                            "append_only",
                            f"dup_share~{dup_share:.4f}<"
                            f"{self.dup_share_threshold} (insert-dominant)",
                        )
                    if row["nk"] <= self.broadcast_max_winners:
                        choice = (
                            "argmax_broadcast",
                            f"dup_share~{dup_share:.4f}, est_keys~{row['nk']}"
                            f"<={self.broadcast_max_winners}",
                        )
                    else:
                        # winners too big to broadcast. If the dup mass
                        # is CONCENTRATED in a few conversations, dedup
                        # only those and append the unique tail raw
                        # (hot_split) — the O(distinct keys) winners
                        # shuffle is the dominant cost of this shape
                        choice = None
                        if self.hot_split_enabled:
                            hot = self._probe_hot_convs(
                                df, int(row["n"]), int(row["nk"])
                            )
                            if hot is not None:
                                convs, mass_frac = hot
                                self._hot_convs = convs
                                choice = (
                                    "hot_split",
                                    f"est_keys~{row['nk']}>"
                                    f"{self.broadcast_max_winners}, "
                                    f"{len(convs)} hot convs carry "
                                    f"~{mass_frac:.0%} of dup mass",
                                )
                        if choice is None:
                            choice = (
                                "argmax",
                                f"est_keys~{row['nk']}>"
                                f"{self.broadcast_max_winners}",
                            )
                    self._sticky_plan = choice
                    self._sticky_left = self.estimate_every - 1
                    self._sticky_n = int(row["n"])
                    return choice
            return "argmax", "argmax_eligible(dominates both static plans)"
        p = max(int(self.table.spark.sparkContext.defaultParallelism), 1)
        if self.num_buckets < p:
            return "two_phase", f"buckets({self.num_buckets})<parallelism({p})"
        sample = df.filter(
            F.pmod(F.xxhash64(*self.key_cols, F.lit(17)), F.lit(50)) == 0
        )
        row = (
            sample.groupBy(S.PART_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum("n").alias("n"), F.max("n").alias("hot"))
            .head()
        )
        if row is None or not row["n"]:
            return "two_phase", "empty_sample"
        share = row["hot"] / row["n"]
        if share > 2.0 / p:
            return "two_phase", f"hot_bucket_share={share:.3f}>2/{p}"
        return "single_exchange", f"hot_bucket_share={share:.3f}<=2/{p}"

    def _estimate_batch(self, df: DataFrame):
        """The chooser's one full-coverage estimator job: row count +
        HLL distinct keys (single definition — the adaptive chooser and
        the static hot_split path must never drift)."""
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(
                F.xxhash64(*self.key_cols), self.chooser_rsd
            ).alias("nk"),
        ).head()

    def _probe_hot_convs(
        self, df: DataFrame, n: int, nk: int
    ) -> tuple[list, float] | None:
        """Heavy-hitter probe for the hot_split decision: a 1%
        ROW-level deterministic sample (hash of key+lsn — hashing the
        conversation alone would put whole conversations in or out of
        the sample), per-conversation counts, keep conversations with
        >=20 sampled rows (~>=2,000 true rows). Returns (conv list,
        estimated fraction of the batch's duplicate mass they carry)
        when few enough conversations cover >=50% of the dup mass;
        None otherwise (fall back to shuffled argmax). Deterministic
        per batch content, so replays choose the same plan."""
        total_dups = n - nk
        if total_dups <= 0:
            return None
        conv = self.key_cols[0]
        # adaptive rate: ~160k sampled rows regardless of batch size
        # (1/100 at the 16M design point, full scan below 160k rows —
        # a fixed 1% starves the duplicate-evidence signal on small
        # batches)
        mod = max(1, min(100, n // 160_000))
        sample = df
        if mod > 1:
            sample = df.filter(
                F.pmod(
                    F.xxhash64(*self.key_cols, self.lsn_col, F.lit(43)),
                    F.lit(mod),
                )
                == 0
            )
        # per-conversation sampled rows AND sampled distinct keys: a
        # conversation is heavy only when its sampled rows materially
        # EXCEED its sampled keys (duplicate evidence) — a mega-
        # conversation backfill of unique keys has c ~= ck and must NOT
        # be flagged, because its "winners" are its entire row set and
        # broadcasting them is exactly the OOM the broadcast bound
        # exists to prevent (round-5 review finding #1)
        rows = (
            sample.groupBy(conv)
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.countDistinct(*self.key_cols).alias("ck"),
            )
            .filter(
                (F.col("c") * mod >= 2_000)
                & ((F.col("c") - F.col("ck")) * mod >= 1_000)
            )
            .orderBy(F.desc("c"), F.asc(conv))
            .limit(self.hot_split_max_convs + 1)
            .collect()
        )
        if not rows or len(rows) > self.hot_split_max_convs:
            return None
        # conservative winners bound: mod x the sampled distinct keys
        # OVERestimates the heavy set's true key count (every true key
        # with many duplicates is sampled with near-certainty but
        # counts once) — the broadcast winners must fit the same bound
        # the argmax_broadcast path enforces
        est_heavy_keys = sum(r["ck"] for r in rows) * mod
        if est_heavy_keys > self.broadcast_max_winners:
            return None
        est_heavy_dups = sum(r["c"] - r["ck"] for r in rows) * mod
        if est_heavy_dups < 0.5 * total_dups:
            return None
        return [r[conv] for r in rows], min(
            est_heavy_dups / total_dups, 1.0
        )

    def _dedup_and_layout(
        self, df: DataFrame, keys, order_cols, plan: str,
        source_bucketed: bool = False,
    ) -> DataFrame:
        """LWW + write layout, per ``merge_plan``.

        ``argmax`` (default via adaptive): hash-agg max(lsn) per key
        (exchange carries keys+lsn ONLY, map-side partial combine),
        shuffled-hash LEFT SEMI join back (full-row exchange keyed on
        keys+lsn — unique per row, so hot conversations spread
        uniformly), partition-local distinct for verbatim replays (its
        exchange elides under the subset rule), then repartition the
        deduped output by bucket for the write. Zero sorts; dominates
        both legacy plans at every measured (cores, skew, dup) cell
        (BENCH.md plan table).

        ``two_phase`` (max-struct; legacy scale-safe plan): aggregate
        FIRST — map-side partial combine before the exchange on the
        FULL group key, so a hot conversation reduces inside every
        input partition before data moves; THEN repartition the deduped
        output. Two exchanges; the aggregation is a SortAggregate
        (struct buffer), which is why argmax beats it.

        ``single_exchange`` (max-struct): repartition(num_buckets,
        part) first; because part = f(conv_id), HashPartitioning(part)
        satisfies the ClusteredDistribution of groupBy(part, conv_id,
        turn_idx) (subset rule) and the aggregation reuses the
        exchange. One exchange total — but it carries the RAW batch
        with no partial reduction, and the hot bucket lands in ONE
        task (the round-1 scaling ceiling).

        Both legacy plans are kept selectable as the comparison
        baselines and as the fallback for schemas the argmax plan can't
        serve (multi-column ordering, map-typed payloads)."""
        if plan == "append_only":
            # write-path dedup elided (insert-dominant batch, MoR):
            # read-side LWW resolves any duplicates; compact() folds
            if source_bucketed:
                return df  # see merge_batch(source_bucketed=True)
            return df.repartition(self.num_buckets, F.col(S.PART_COL))
        if plan == "hot_split":
            # the concentrated-duplicates insert shape: dedup ONLY the
            # heavy conversations (map-side combine collapses them to a
            # handful of winners; broadcast semi join, zero full-row
            # exchanges), append the unique tail RAW — read-side LWW
            # resolves any tail duplicates, compact() folds them. The
            # only full-row exchange left is the layout repartition
            # every plan needs. coalesce(.., False) sends NULL-conv
            # rows to the tail so the part column's raise_error guard
            # still reaches them.
            if self.merge_plan == "hot_split":
                # STATIC plan: probe THIS batch, never cache across
                # batches — a first insert-only batch would otherwise
                # pin an empty list and void the plan for the engine's
                # lifetime, and the hot set can shift mid-stream
                # (round-5 review finding #2)
                est = self._estimate_batch(df)
                hot = self._probe_hot_convs(df, int(est["n"]), int(est["nk"]))
                convs = hot[0] if hot is not None else []
            else:
                # adaptive: _choose_plan probed this batch (or a sticky
                # window is replaying its decision) and stored the list
                convs = list(self._hot_convs or [])
            if not convs:
                # no concentrated conversations found — degenerate to
                # the pure append (read-side LWW still correct)
                if source_bucketed:
                    return df
                return df.repartition(self.num_buckets, F.col(S.PART_COL))
            conv = self.key_cols[0]
            is_hot = F.coalesce(F.col(conv).isin(convs), F.lit(False))
            heavy = df.filter(is_hot)
            tail = df.filter(~is_hot)
            winners = argmax_winner_rows(
                heavy, keys, order_cols[0], broadcast=True
            ).dropDuplicates()
            if source_bucketed:
                # tail keeps the declared clustering (no exchange); the
                # WINNERS side is a few hundred rows spread over the
                # dropDuplicates exchange's partitions — repartition
                # only that tiny side by bucket so it doesn't fragment
                # the write into per-task-per-bucket files
                return winners.select(*df.columns).repartition(
                    self.num_buckets, F.col(S.PART_COL)
                ).unionByName(tail.select(*df.columns))
            out = winners.select(*df.columns).unionByName(
                tail.select(*df.columns)
            )
            return out.repartition(self.num_buckets, F.col(S.PART_COL))
        if plan in ("argmax", "argmax_broadcast"):
            # layout repartition BETWEEN the semi join and the verbatim-
            # replay distinct: the distinct's ClusteredDistribution is
            # then satisfied by hashpartitioning(part) (subset rule), so
            # it runs partition-local with NO exchange of its own — the
            # null-safe join's coalesce-keyed output partitioning would
            # otherwise force one. In the broadcast variant the semi
            # join is a BroadcastHashJoin, so the batch's full rows
            # reach this repartition WITHOUT any prior exchange — and
            # the repartition itself carries only the already-deduped
            # winners, typically a small fraction of the raw batch.
            rows = argmax_winner_rows(
                df, keys, order_cols[0], broadcast=(plan == "argmax_broadcast")
            )
            if source_bucketed and plan == "argmax_broadcast":
                # TRULY zero full-row exchanges: the broadcast join
                # preserved the source's bucket clustering, and the
                # verbatim-replay distinct is ALSO elided — under MoR
                # it bounds storage, not correctness (identical copies
                # of a winner are read-side-LWW'd away, exactly the
                # append_only argument), and keeping it would insert an
                # all-columns shuffle that destroys the clustering the
                # caller declared (measured: 512 mixed files/batch and
                # linearly growing manifest churn). compact() folds the
                # rare verbatim copies.
                return rows.select(*df.columns)
            laid = rows.repartition(self.num_buckets, F.col(S.PART_COL))
            return laid.dropDuplicates().select(*df.columns)
        # legacy topologies: "no_argmax" resolves to max_struct for
        # orderable payloads and to the window plan for map-bearing
        # ones — a hard via="max_struct" here would send exactly the
        # schemas the fallback exists for into INVALID_ORDERING_TYPE
        if plan == "single_exchange":
            laid = df.repartition(self.num_buckets, F.col(S.PART_COL))
            return lww_dedup(laid, keys, order_cols, via="no_argmax")
        deduped = lww_dedup(df, keys, order_cols, via="no_argmax")
        return deduped.repartition(self.num_buckets, F.col(S.PART_COL))

    def _prepare_batch(
        self, batch: DataFrame, source_bucketed: bool = False
    ) -> tuple[DataFrame, str, str]:
        """LWW-dedup the batch, fold op -> tombstone flag, add bucket,
        lay out for the partitioned write (see _dedup_and_layout).
        Returns (prepared, plan, reason) — plan is the resolved
        physical strategy (adaptive picks per batch).

        The envelope is slimmed BEFORE the aggregation: ``op`` folds to
        the 1-byte tombstone flag and ``commit_epoch`` is dropped
        up-front, so neither travels through the aggregation exchange
        (they used to ride both exchanges and be dropped at the end —
        dead bytes on the wire, and exchange bytes are the scaling
        ceiling on a memory-bandwidth-bound node)."""
        # data contract: merge keys and lsn must be non-null. Enforced
        # inside the plan (raise_error branch) — no extra pass; the
        # first violating row fails the batch with a clear message.
        key_ok = F.lit(True)
        for c in (*self.key_cols, self.lsn_col):
            key_ok = key_ok & F.col(c).isNotNull()
        checked_part = F.when(
            key_ok, part_expr(self.key_cols[0], self.num_buckets)
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"CDC batch contains NULL in a key column "
                    f"({', '.join(self.key_cols)}, {self.lsn_col})"
                )
            ).cast("int")
        )
        slim = (
            batch.withColumn(S.PART_COL, checked_part)
            .withColumn(S.DELETED_COL, (F.col("op") == F.lit("D")))
            .drop("op", "commit_epoch")
        )
        plan, reason = self.merge_plan, "static"
        if plan == "adaptive":
            plan, reason = self._choose_plan(slim)
        deduped = self._dedup_and_layout(
            slim, [S.PART_COL, *self.key_cols], [self.lsn_col], plan=plan,
            source_bucketed=source_bucketed,
        )
        return deduped, plan, reason

    def merge_batch(
        self, batch: DataFrame, epoch: int, source_bucketed: bool = False
    ) -> MergeStats:
        """Apply one micro-batch. ``source_bucketed=True`` declares that
        the batch's Spark partitions are already clustered by the
        engine's bucket hash (a feed KEYED BY CONVERSATION — Kafka
        partitioned on conv_id, or per-bucket feed files): the layout
        repartition — the only full-row exchange of the broadcast/
        append/hot_split plans — is then elided, so those plans run
        ZERO full-row exchanges end to end. A wrong declaration can
        never corrupt data (the bucket COLUMN, not the exchange,
        decides file placement); it only costs small files (each task
        writes one file per bucket value it holds). MoR only."""
        t0 = time.time()
        snap = self.table.snapshot()
        if snap.applied.get(self.source_id, -1) >= epoch:
            return MergeStats(epoch=epoch, skipped=True)

        if self.quarantine is not None:
            batch = self._split_quarantine(batch, epoch)
        if source_bucketed and self.mode != "mor":
            # CoW unions the batch with existing bucket files read back
            # from the table — the declared clustering is lost there
            raise ValueError("source_bucketed applies to MoR merges only")
        prepared, plan, plan_reason = self._prepare_batch(
            batch, source_bucketed=source_bucketed
        )
        lineage_checkpointed = self.lineage is not None
        if lineage_checkpointed:
            prepared = prepared.localCheckpoint(eager=True)

        if self.mode == "mor":
            # append-only write path: no existing data read or rewritten
            result = self.table.append(
                prepared, source_id=self.source_id, epoch=epoch, layout_ready=True
            )
            parts = [int(p) for p in self.table.last_commit_partitions]
            stats = MergeStats(
                epoch=epoch,
                skipped=result is None,
                parts_touched=len(parts),
                parts=parts,
                seconds=time.time() - t0,
                plan=plan,
            )
            lineage_batch = prepared
            writes_undeduped = plan in ("append_only", "hot_split") or (
                source_bucketed and plan == "argmax_broadcast"
            )
            if writes_undeduped and self.lineage is not None:
                # lineage I/U/D counts are per KEY (LineageWriter.record
                # contract) but append_only writes the UN-deduped batch
                # and hot_split writes a raw TAIL (round-5 review);
                # fold a SLIM projection just for the metrics — key
                # columns + lsn + tombstone, no payload, so the count
                # pass stays cheap and the write path stays elided
                lineage_batch = lww_dedup(
                    prepared.select(
                        S.PART_COL, *self.key_cols, self.lsn_col, S.DELETED_COL
                    ),
                    [S.PART_COL, *self.key_cols],
                    [self.lsn_col],
                )
            self._record_lineage(stats, lineage_batch, snap.version, plan_reason)
            return stats

        # ---- copy-on-write: fused union + LWW over touched buckets
        if not lineage_checkpointed:  # avoid materializing the batch twice
            prepared = prepared.localCheckpoint(eager=True)
        parts = [r[0] for r in prepared.select(S.PART_COL).distinct().collect()]
        if not parts:
            result = self.table.overwrite_partitions(
                prepared, source_id=self.source_id, epoch=epoch
            )
            return MergeStats(
                epoch=epoch,
                skipped=result is None,
                seconds=time.time() - t0,
                plan=plan,
            )

        existing = self.table.read(partitions=parts, version=snap.version)
        src = prepared.withColumn(_SRC_RANK, F.lit(1))
        tgt = existing.withColumn(_SRC_RANK, F.lit(0))
        unioned = src.unionByName(tgt, allowMissingColumns=True)
        if plan == "argmax_broadcast":
            # CoW folds the batch with ALL existing keys of the touched
            # buckets — the winners set is table-scale, not batch-scale,
            # so the broadcast variant's size estimate does not apply;
            # fall back to the shuffled argmax join.
            plan = "argmax"
        if plan == "argmax":
            # fold the (lsn, src_rank) ordering into ONE bigint so the
            # argmax plan stays eligible (it needs a single order
            # column): batch beats existing at equal lsn. The fold is
            # only order-preserving while lsn < 2^62 (a WAL/binlog
            # offset is far below) — ENFORCED in the plan, not assumed:
            # an overflowing lsn fails the batch instead of silently
            # electing the wrong winner.
            folded = F.when(
                F.col(self.lsn_col) < F.lit(1 << 62),
                F.col(self.lsn_col) * 2 + F.col(_SRC_RANK),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        f"CoW argmax ordering fold requires "
                        f"{self.lsn_col} < 2^62; use "
                        f"merge_plan='two_phase' for larger offsets"
                    )
                ).cast("bigint")
            )
            unioned = unioned.withColumn("_ord", folded)
            merged = self._dedup_and_layout(
                unioned.drop(_SRC_RANK),
                [S.PART_COL, *self.key_cols],
                ["_ord"],
                plan=plan,
            ).drop("_ord")
        else:
            merged = self._dedup_and_layout(
                unioned,
                [S.PART_COL, *self.key_cols],
                [self.lsn_col, _SRC_RANK],
                plan=plan,
            ).drop(_SRC_RANK)
        result = self.table.overwrite_partitions(
            merged,
            source_id=self.source_id,
            epoch=epoch,
            also_replace=parts,
            layout_ready=True,
            base_version=snap.version,
        )
        stats = MergeStats(
            epoch=epoch,
            skipped=result is None,
            parts_touched=len(parts),
            parts=parts,
            seconds=time.time() - t0,
            plan=plan,
        )
        self._record_lineage(stats, prepared, snap.version, plan_reason)
        return stats

    def _record_lineage(
        self, stats: MergeStats, prepared, prior_version: int, plan_reason: str = ""
    ):
        if self.lineage is None or stats.skipped or not stats.parts:
            return
        # raw_state semantics need the LWW over tombstones too, so the
        # pre-image for the insert/update split is the PRIOR snapshot
        # folded per key (partition-pruned to the touched buckets).
        self.lineage.record(
            batch_id=stats.epoch,
            sink=self.table,
            prepared_batch=prepared,
            parts=stats.parts,
            seconds=stats.seconds,
            prior_version=prior_version,
            key_cols=self.key_cols,
            lsn_col=self.lsn_col,
            plan=(f"{stats.plan}({plan_reason})" if plan_reason else stats.plan),
            source_id=self.source_id,
        )

    # ------------------------------------------------------------------

    @staticmethod
    def _bucket_needs_compaction(
        snap, part: str, min_files: int | None, small_bytes: int | None
    ) -> bool:
        fs = snap.files.get(part, [])
        if len(fs) < 2:
            return False  # already one file (or empty) — nothing to fold
        if min_files is not None and len(fs) >= min_files:
            return True
        if small_bytes is not None:
            sizes = [snap.stats.get(f, {}).get("_bytes") for f in fs]
            known = [s for s in sizes if s is not None]
            if known and sum(known) / len(known) < small_bytes:
                return True
        return False

    def changes_since(self, lsn_exclusive: int) -> DataFrame:
        """Rows with lsn > the given watermark — the downstream-delta
        read (reference P1 watermark filter). The manifest's per-file
        lsn min/max prune the scan to files that can contain newer
        rows: on a compacted 10^10-row table this opens only the tail
        of each bucket, not every file (SURVEY.md #2 'what's missing'
        round-1 item)."""
        pruned = self.table.read(skip={self.lsn_col: (lsn_exclusive + 1, None)})
        df = pruned.filter(F.col(self.lsn_col) > lsn_exclusive)
        if self.mode == "mor":
            df = self.lww_read(df)
        return df

    def lww_read(self, df: DataFrame, keys: list | None = None) -> DataFrame:
        """MoR last-writer-wins per ``keys`` (default: the merge keys)
        as a top-1 window: one scan, one exchange. At an equal lsn the
        tombstone wins, then a fixed payload order (``lww_dedup``)."""
        return lww_dedup(
            df, keys or self.key_cols, [self.lsn_col, S.DELETED_COL], use_window=True
        )

    def compact(
        self,
        partitions: list | None = None,
        purge_tombstones_below: int | None = None,
        min_files_per_bucket: int | None = None,
        small_file_bytes: int | None = None,
        concurrent_safe: bool = False,
    ) -> list:
        """Fold MoR deltas: rewrite partitions to one row per key.
        Tombstones are KEPT by default — they guard against out-of-order
        stragglers. Once the source guarantees no event below some LSN
        can still arrive (the applied-LSN low-watermark), pass it as
        ``purge_tombstones_below`` to GC them (reference analog: the
        final DELETE of flagged-deleted tasks,
        sequencing_experiment_delete.sql:1-2). Partition-scoped, so an
        external scheduler can compact hot buckets incrementally.

        Incremental policy (reference write-sizing X12,
        table_accumulator.py:16-41): when ``partitions`` is None,
        ``min_files_per_bucket`` folds ONLY buckets holding at least
        that many files, and ``small_file_bytes`` additionally selects
        buckets whose mean file size is below the target — so a
        streaming MoR table converges to bounded files/bucket with
        partition-scoped rewrites, never a full-table pass. Returns the
        list of partitions actually compacted.

        ``concurrent_safe=True`` commits through the FILE-scoped
        ``LakeTable.rewrite_files`` instead of the partition-level
        replace: only the exact input files of the pinned snapshot are
        swapped for the folded output, so an ingest batch APPENDING to
        the same buckets mid-compaction rebases cleanly instead of
        aborting the compaction — the overlap mode a streaming MoR
        table needs (compaction runs behind the stream; MoR read-side
        LWW keeps reads correct throughout). Result-equal to the
        default: folding a subset of a partition's files is valid under
        MoR because reads LWW-merge files anyway; only a concurrent
        REWRITE of the same files aborts (two compactors)."""
        snap = self.table.snapshot()
        base_version = snap.version  # pin what we fold
        if partitions is not None:
            parts = list(partitions)
        else:
            parts = sorted(snap.files.keys())
            if min_files_per_bucket is not None or small_file_bytes is not None:
                parts = [
                    p
                    for p in parts
                    if self._bucket_needs_compaction(
                        snap, p, min_files_per_bucket, small_file_bytes
                    )
                ]
        if not parts:
            return []
        fold_in = self.table.read(partitions=parts, version=base_version)
        keys = [S.PART_COL, *self.key_cols]
        # The fold is the read-side window behind the layout
        # repartition, whose hashpartitioning(part) satisfies the
        # window's (part, conv_id, turn_idx) clustering: ONE exchange.
        # Large folds (manifest _bytes, zero Spark jobs; unknown sizes
        # count as large) whose estimated distinct keys fit the bound
        # take the apply path's broadcast semi join instead: a wash
        # below ~70 MB, 10-35% faster at 858 MB / 32M rows (round 6).
        sizes = [
            snap.stats.get(f, {}).get("_bytes")
            for p in parts
            for f in snap.files.get(p, [])
        ]
        big_fold = None in sizes or sum(sizes) >= self.compact_broadcast_min_bytes
        est = None
        if big_fold and argmax_eligible(fold_in, keys, [self.lsn_col]):
            est = self._estimate_batch(fold_in)
        if est is not None and est["n"] and est["nk"] <= self.broadcast_max_winners:
            folded = self._dedup_and_layout(
                fold_in, keys, [self.lsn_col], plan="argmax_broadcast"
            )
        else:
            folded = self.lww_read(
                fold_in.repartition(self.num_buckets, F.col(S.PART_COL)), keys
            )
        if purge_tombstones_below is not None:
            folded = folded.filter(
                ~(
                    F.col(S.DELETED_COL)
                    & (F.col(self.lsn_col) < purge_tombstones_below)
                )
            )
        if concurrent_safe:
            # swap exactly the files the fold READ; files appended
            # after base_version stay live (MoR reads LWW over them)
            self.table.rewrite_files(
                folded,
                replace={p: list(snap.files.get(p, [])) for p in parts},
                layout_ready=True,
            )
        else:
            # base_version makes a concurrent append to these buckets
            # abort the compaction (ConcurrentModification) instead of
            # being lost
            self.table.overwrite_partitions(
                folded,
                also_replace=parts,
                layout_ready=True,
                base_version=base_version,
            )
        return parts

    def rescale(self, new_path: str, new_buckets: int) -> "TranscriptMergeEngine":
        """Re-bucket the table (the cluster grew: bucket count should
        track executor count, and it is part of the TABLE's identity —
        rows are placed by pmod(xxhash64(conv_id), buckets), so it
        cannot be changed in place). One distributed pass: fold the
        current table to one row per key (tombstones INCLUDED — they
        must keep guarding against stragglers), recompute the bucket
        column under the new count, write a fresh table, and carry the
        per-source applied-epoch watermarks so a resumed stream remains
        exactly-once against the new table. The old table is left
        untouched (cutover = repoint readers/writers, then drop).

        Data and watermarks are BOTH pinned to ONE snapshot taken up
        front — capturing the applied map after the (long) copy would
        mark epochs committed during the migration window as applied
        without their data (silent loss on resume). If the old table
        advanced while the migration ran, this raises
        ConcurrentModification AFTER DELETING the half-built target
        (self-cleaning: a retry needs a fresh full copy anyway, and a
        populated-but-stale table left behind would need manual
        cleanup — round-2 verdict gap). A pre-existing ``new_path``
        is refused up front for the same reason: there is no
        delta-migration entry point, so resuming into an existing
        target cannot be made correct."""
        import shutil

        from radiant_portal_pipeline_spark.lake.table import (
            ConcurrentModification,
        )

        if LakeTable.exists(new_path):
            raise ValueError(
                f"rescale target {new_path!r} already exists — rescale "
                f"always starts from a fresh full copy (delete the stale "
                f"target first)"
            )
        spark = self.table.spark
        snap0 = self.table.snapshot()  # pins files AND applied together
        new_tbl = TranscriptMergeEngine.create_table(
            spark, new_path, num_buckets=new_buckets
        )
        df = self.table.read(version=snap0.version)
        if self.mode == "mor":
            df = self.lww_read(df)
        folded = df.drop(S.PART_COL)
        relaid = folded.withColumn(
            S.PART_COL, part_expr(self.key_cols[0], new_buckets)
        ).repartition(new_buckets, F.col(S.PART_COL))
        new_tbl.append(relaid, layout_ready=True)
        new_tbl.carry_applied(snap0.applied)
        if self.table.latest_version() != snap0.version:
            shutil.rmtree(new_path, ignore_errors=True)  # self-clean
            raise ConcurrentModification(
                f"source table advanced past v{snap0.version} during the "
                f"rescale — the half-built target was deleted; quiesce "
                f"the writer and re-run (a retry re-copies from the new "
                f"snapshot)"
            )
        return TranscriptMergeEngine(
            new_tbl,
            source_id=self.source_id,
            key_cols=tuple(self.key_cols),
            lsn_col=self.lsn_col,
            mode=self.mode,
            merge_plan=self.merge_plan,
            lineage=self.lineage,
        )

    def current_state(self, include_meta: bool = False) -> DataFrame:
        df = self.raw_state().filter(~F.col(S.DELETED_COL))
        if include_meta:
            return df
        return df.drop(S.DELETED_COL, S.PART_COL)

    def raw_state(self) -> DataFrame:
        """Post-LWW rows INCLUDING tombstones (lineage/debug view)."""
        df = self.table.read()
        if self.mode == "mor":
            df = self.lww_read(df)
        return df

    def applied_lsn_watermarks(self) -> DataFrame:
        """Per-partition applied-LSN watermark (lineage view)."""
        return (
            self.raw_state()
            .groupBy(S.PART_COL)
            .agg(
                F.max(self.lsn_col).alias("applied_lsn"),
                F.sum(F.when(F.col(S.DELETED_COL), 1).otherwise(0)).alias(
                    "tombstones"
                ),
                F.count(F.lit(1)).alias("rows_total"),
            )
        )
