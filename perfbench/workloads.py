"""The benchmark's workloads. Each generates its input from the seed,
warms up with an untimed pass of its own work, runs its timed part, and
checks everything the engine returned against the sequential oracle
(``binlog_gen.expected_final_state``). One closed-loop client: each
call starts when the previous one has returned.

The timed part of each workload is a fixed amount of work; after it,
read rounds on the final table continue until ``--seconds`` have passed
since the timed part began (so ``--seconds`` is a floor, and a larger
value buys more read samples).

``catchup_wire_cow``
    A wire binlog backlog (``wire.write_wire_distributed``, default key
    mix) replayed into a copy-on-write table by ``CdcApplyJob.run``
    with the prefetch pipeline on. The warm-up replays the first files;
    the timed part catches the table up on the rest of the backlog,
    then runs a read round on the caught-up table.

``typed_mor_hot``
    A strongly skewed typed binlog (few conversations, high ``zipf_a``,
    PK-moving updates, the generator's mid-stream DDL) applied batch by
    batch into a merge-on-read table, each batch followed by a read
    round on the table with its deltas outstanding. Compaction runs at
    every ``COMPACT_EVERY``-th delta; the timed part runs one whole
    compaction period, so its read rounds see every delta depth.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import common


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _key_conv(m) -> str | None:
    return m.get("conv_id") if m else None


class Workload:
    name = ""
    N_BUCKETS = 16
    # subclasses set POINTS_PER_ROUND and SCANS_PER_ROUND (reads of a
    # timed round; a warm-up round makes one read of each kind)

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.batch_s: list[float] = []  # every timed apply_batch wall
        self.batch_cpu_s: list[float] = []  # ... and its tree CPU
        self.apply_s = 0.0  # timed apply wall (for events/s)
        self.apply_cpu_s = 0.0  # ... and its tree CPU
        self.stats: list = []  # timed ApplyStats
        self.rounds: list = []  # what each timed read round saw
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.bytes_written = 0
        self.files_written = 0
        self.input_bytes = 0
        self.input_files = 0
        self.timing = False
        self._install_batch_timer()

    def _install_batch_timer(self):
        """Time every ``CdcApplyJob.apply_batch`` call from outside
        (start to committed snapshot), whoever makes it: the typed
        workload calls it directly, ``CdcApplyJob.run`` calls it for
        the wire workload."""
        from mysql_tracker_spark.runner import CdcApplyJob

        orig = CdcApplyJob.apply_batch
        wl = self

        def timed_apply_batch(job, batch_id, paths):
            c0, t0 = common.tree_cpu_s(), time.perf_counter()
            out = orig(job, batch_id, paths)
            if wl.timing:
                wl.batch_s.append(time.perf_counter() - t0)
                wl.batch_cpu_s.append(common.tree_cpu_s() - c0)
                wl.stats.append(out)
            return out

        CdcApplyJob.apply_batch = timed_apply_batch

    def job(self, in_dir: str, table_dir: str, **kw):
        from mysql_tracker_spark.runner import CdcApplyJob

        return CdcApplyJob(self.spark, in_dir, table_dir, n_buckets=self.N_BUCKETS, **kw)

    def load_oracle(self) -> None:
        """Untimed, after input generation: the key weights and time
        span the read rounds draw from, taken from ``self.events``."""
        self.conv = self.events["after"].map(_key_conv)
        dml = self.events[self.conv.notna()]
        self.reads = common.ReadRound(
            self.rng,
            self.conv[self.conv.notna()].value_counts(),
            dml["ts"].min(),
            dml["ts"].max(),
        )

    def read_round(self, table) -> dict:
        if not self.timing:
            return self.reads.run(self.spark, table, 1, 1, record=False)
        if self.tracer is not None:
            self.tracer.group("read_round")
        try:
            return self.reads.run(
                self.spark,
                table,
                self.POINTS_PER_ROUND,
                self.SCANS_PER_ROUND,
                record=True,
                tracer=self.tracer,
            )
        finally:
            if self.tracer is not None:
                self.tracer.group(None)

    def serve_until(self, deadline: float, applied: int) -> None:
        """Read rounds on the final table until ``deadline``."""
        while time.perf_counter() < deadline:
            self.rounds.append((applied, self.read_round(self.table)))

    def note(self, bad: list[str], attempted: int) -> None:
        self.attempted += attempted
        self.failed += len(bad)
        self.problems.extend(bad)

    # subclasses: generate(), warmup(), timed(deadline), check()

    def final_check(self, expected: pd.DataFrame) -> None:
        """Every timed batch applied, and the final table equals the
        oracle's state (order-insensitive digest); then record the
        table's live layout."""
        self.note([f"batch {s.batch_id} skipped" for s in self.stats if s.skipped], len(self.stats))
        got = self.table.read(self.spark).toPandas()
        ok = common.digest(got) == common.digest(expected)
        self.note([] if ok else [f"final table: {len(got)} rows, oracle {len(expected)}"], 1)
        self.live_rows = len(expected)
        paths = self.table.live_files()
        self.live_bytes = sum(os.path.getsize(os.path.join(self.table.path, p)) for p in paths)
        self.live_files = len(paths)
        self.live_deltas = sum(self.table.delta_counts().values())


# ----------------------------------------------------------------- wire


class CatchupWireCow(Workload):
    name = "catchup_wire_cow"
    EVENTS = 48_000
    CHUNKS = 6  # one wire file of 8k events per chunk
    CONVERSATIONS = 1_200
    FILES_PER_BATCH = 1
    # the warm-up replays the first WARM_FILES files in two batches; the
    # timed replay catches the table up on the other 4 in four
    WARM_FILES = 2
    POINTS_PER_ROUND = 4
    SCANS_PER_ROUND = 6

    def generate(self):
        from mysql_tracker_spark.sources.wire import write_wire_distributed

        files = write_wire_distributed(
            self.spark,
            self.EVENTS,
            os.path.join(self.work, "wire"),
            n_chunks=self.CHUNKS,
            base_seed=self.seed * 1000,
            n_conversations=self.CONVERSATIONS,
        )
        self.warm_dir = os.path.join(self.work, "wire_warm")
        self.timed_dir = os.path.join(self.work, "wire_timed")
        for d, part in ((self.warm_dir, files[: self.WARM_FILES]), (self.timed_dir, files[self.WARM_FILES :])):
            os.makedirs(d)
            for f in part:
                os.link(f, os.path.join(d, os.path.basename(f)))
        self.input_bytes, self.input_files = _dir_bytes(self.timed_dir)
        self.table_dir = os.path.join(self.work, "table")

    def load_oracle(self) -> None:
        """Regenerate every chunk's events from its seed (chunk ``c``:
        seed ``base_seed + c``, binlog files from ``c * 1000``, as
        ``write_wire_distributed`` documents) for the oracle."""
        from mysql_tracker_spark.sources.binlog_gen import GenConfig, gen_change_events

        self.events = pd.concat(
            [
                gen_change_events(
                    GenConfig(
                        n_events=self.EVENTS // self.CHUNKS,
                        n_conversations=self.CONVERSATIONS,
                        seed=self.seed * 1000 + c,
                        file_base=c * 1000,
                    )
                )
                for c in range(self.CHUNKS)
            ],
            ignore_index=True,
        )
        super().load_oracle()

    def _replay(self, in_dir: str) -> tuple[float, float]:
        """Catch the table up on ``in_dir``; returns (wall, tree CPU)."""
        job = self.job(in_dir, self.table_dir, files_per_batch=self.FILES_PER_BATCH, source_format="wire")
        try:
            c0, t0 = common.tree_cpu_s(), time.perf_counter()
            job.run()
            wall, cpu = time.perf_counter() - t0, common.tree_cpu_s() - c0
        finally:
            job.close()
        self.table = job.table
        return wall, cpu

    def warmup(self) -> None:
        self._replay(self.warm_dir)
        self.read_round(self.table)

    def timed(self, deadline: float) -> None:
        before = _dir_bytes(self.table_dir)
        self.timing = True
        self.apply_s, self.apply_cpu_s = self._replay(self.timed_dir)
        after = _dir_bytes(self.table_dir)
        self.bytes_written = after[0] - before[0]
        self.files_written = after[1] - before[1]
        self.rounds.append((self.CHUNKS, self.read_round(self.table)))
        self.serve_until(deadline, self.CHUNKS)
        self.timing = False

    def check(self) -> None:
        from mysql_tracker_spark.sources.binlog_gen import expected_final_state

        expected = expected_final_state(self.events)
        for _, seen in self.rounds:
            self.note(common.check_round(seen, expected), common.round_ops(seen))
        self.final_check(expected)


# ---------------------------------------------------------------- typed


class TypedMorHot(Workload):
    name = "typed_mor_hot"
    EVENTS_PER_BATCH = 10_000
    COMPACT_EVERY = 3
    # batch 0 is the warm-up; the timed part applies the other three, one
    # compaction period, whose read rounds see 2, 0 and 1 deltas per bucket
    BATCHES = 4
    POINTS_PER_ROUND = 2
    SCANS_PER_ROUND = 2
    CONVERSATIONS = 400
    ZIPF_A = 1.6
    PK_MOVE_PROB = 0.05

    def generate(self):
        from mysql_tracker_spark.sources.binlog_gen import (
            GenConfig,
            frame_cuts,
            gen_change_events,
            write_batches,
        )

        ev = gen_change_events(
            GenConfig(
                n_events=self.EVENTS_PER_BATCH * self.BATCHES,
                n_conversations=self.CONVERSATIONS,
                zipf_a=self.ZIPF_A,
                pk_move_prob=self.PK_MOVE_PROB,
                seed=self.seed,
            )
        )
        self.in_dir = os.path.join(self.work, "typed_in")
        write_batches(ev, self.in_dir, n_batches=self.BATCHES)
        frame_no, cuts = frame_cuts(ev.drop(columns=["event_len"]), self.BATCHES)
        # row index where each batch's input ends (write_batches' rule)
        self.batch_end = [int(np.searchsorted(frame_no, c, side="left")) for c in cuts[1:]]
        self.events = ev
        self.table_dir = os.path.join(self.work, "table")
        self._job = self.job(
            self.in_dir,
            self.table_dir,
            write_mode="mor",
            mor_compact_threshold=self.COMPACT_EVERY,
        )
        self._job.prepare()
        self.groups = self._job.batch_files()
        if len(self.groups) != self.BATCHES:
            raise RuntimeError(f"{len(self.groups)} input batches, expected {self.BATCHES}")
        for g in self.groups[1:]:
            for p in g:
                self.input_bytes += os.path.getsize(p)
                self.input_files += 1

    def warmup(self) -> None:
        self._job.apply_batch(0, self.groups[0])
        self.read_round(self._job.table)

    def timed(self, deadline: float) -> None:
        before = _dir_bytes(self.table_dir)
        self.timing = True
        for i in range(1, self.BATCHES):
            self._job.apply_batch(i, self.groups[i])
            self.rounds.append((i + 1, self.read_round(self._job.table)))
        self.apply_s = sum(self.batch_s)
        self.apply_cpu_s = sum(self.batch_cpu_s)
        after = _dir_bytes(self.table_dir)
        self.bytes_written = after[0] - before[0]
        self.files_written = after[1] - before[1]
        self.table = self._job.table
        self.serve_until(deadline, self.BATCHES)
        self.timing = False

    def check(self) -> None:
        from mysql_tracker_spark.sources.binlog_gen import expected_final_state

        expected = expected_final_state(self.events)
        for applied, seen in self.rounds:
            if applied == self.BATCHES:
                self.note(common.check_round(seen, expected), common.round_ops(seen))
                continue
            end = self.batch_end[applied - 1]
            keys = {k for k, _ in seen["points"]}
            prefix = self.events.iloc[:end]
            exp_keys = expected_final_state(prefix[self.conv.iloc[:end].isin(keys)])
            # range and scan reads between batches are not checked: the
            # oracle of every intermediate state costs a full pass
            self.note(common.check_round(seen, exp_keys, check_aggs=False), common.round_ops(seen))
        self.final_check(expected)
        self._job.close()


WORKLOADS = {w.name: w for w in (CatchupWireCow, TypedMorHot)}
