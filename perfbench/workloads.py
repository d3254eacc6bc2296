"""The workloads: inputs, one closed-loop operation, and checks.

Each workload writes its inputs under its work dir before Spark starts,
runs its first operations as the warm pass of set-up, then one operation
per `step` call (the next starts only after the previous one has
committed), and checks every operation's outputs outside the timing.
Engine calls go through the public functions only and sit inside tracer
spans named `<layer>.<function>`.
"""

from __future__ import annotations

import copy
import json
import os
import random
import shutil
import time

import pyarrow.parquet as pq

import gen
import verify
from spans import NULL_TRACER, median

# Sizes, for a 4-core host: a similarity step takes 6-10 s and a delta
# 3-5 s, so a 12 s window holds two steps or three deltas after set-up,
# and a run stays near a minute. The generators write only as many step
# inputs as the windows can use.
SIM_RELEASES = 250
SIM_FLAGGED_SHARE = 0.2
SIM_TRACKS = 800
SIM_DIM = 64
SIM_K_RECALL = 15
SIM_K_FINAL = 5
SIM_SHARDS = 8
SIM_SAMPLE = 40
DELTA_BASE_ALBUMS = 200
# keys in the merge target before the first timed delta
MERGE_BASE = 20000

# StreamingQueryProgress.durationMs keys reported per delta
PROGRESS_KEYS = {
    "trigger_execution": "triggerExecution",
    "add_batch": "addBatch",
    "query_planning": "queryPlanning",
    "latest_offset": "latestOffset",
    "wal_commit": "walCommit",
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


class Workload:
    name = ""
    item_unit = ""
    # no step finishes faster than this; sizes the generated step inputs
    min_step_s = 2.0
    # steps the warm pass runs
    warm_steps = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.checks: verify.Checks = []

    def steps_needed(self, seconds: float, windows: int) -> int:
        """Step inputs for `windows` closed-loop windows of `seconds`
        each, plus the untimed warm steps."""
        return windows * (int(seconds / self.min_step_s) + 1) + self.warm_steps

    def generate(self, n_steps: int) -> None:
        """Write the inputs of set-up and of up to `n_steps` steps."""

    def warm(self, spark) -> int:
        """The warm pass of set-up: the workload's first `warm_steps`
        operations, which pay their plans' code generation, JIT and
        Python worker start as a job launched from a fresh process does.
        Returns the index of the first timed step."""
        for k in range(self.warm_steps):
            self.step(spark, NULL_TRACER, k)
        return self.warm_steps

    def after_warm(self) -> None:
        """Output checks of the warm pass, run outside set-up timing."""
        for k in range(self.warm_steps):
            self.after_step(k)

    def step(self, spark, tracer, k: int) -> tuple[int, float | None]:
        """Run operation k; returns (items committed, latency or None
        to use the step's wall time)."""
        raise NotImplementedError

    def has_next(self, k: int) -> bool:
        return True

    def after_step(self, k: int) -> None:
        """Output checks of step k, run outside the timed step."""

    def verify(self, spark) -> None: ...

    def stored_bytes_per_item(self) -> float:
        raise NotImplementedError

    def patches(self, tracer) -> list:
        """Spanned wrappers around the engine calls a step nests; returns
        the undo callables."""
        return []

    def layer_extras(self, tracer, step_ranges, ks) -> dict[str, float]:
        """Per-layer metrics that are not span measures, over the traced
        steps `ks` whose spans are `step_ranges`."""
        return {}


class SimilarTracks(Workload):
    """The similarity phase: the similar-track lifecycle over chunk
    embeddings, gated by a small published release table."""

    name = "similar_tracks"
    item_unit = "anchor tracks ranked and sharded"

    def generate(self, n_steps: int) -> None:
        # a fixed share of flagged releases keeps the gated anchor count
        # the same for every seed
        rng = random.Random(self.seed)
        flagged = set(rng.sample(range(SIM_RELEASES), int(SIM_RELEASES * SIM_FLAGGED_SHARE)))
        rels = [
            (a.circle_dir, a.album_dir, a.album_dir, "probe_missing" if i in flagged else "")
            for i, a in enumerate(gen.catalog(self.seed, SIM_RELEASES).albums)
        ]
        self.release = os.path.join(self.work, "release.parquet")
        gen.write_release(rels, self.release)
        # the lifecycle's gate: releases in (circle_dir, album_dir) order,
        # track t belongs to release t mod |releases|, clean = no review flag
        rels.sort(key=lambda r: (r[0].encode(), r[1].encode()))
        self.gated = {t for t in range(SIM_TRACKS) if not rels[t % len(rels)][3]}
        self.sample = sorted(rng.sample(sorted(self.gated), SIM_SAMPLE))
        # every step ranks its own embeddings, so no step can reuse an
        # earlier step's results
        self.inputs = []
        for k in range(n_steps):
            emb = gen.chunk_embeddings(self.seed * 1000 + k, SIM_TRACKS, SIM_DIM)
            path = os.path.join(self.work, f"chunks-{k:03d}.parquet")
            gen.write_chunks(*emb, path)
            self.inputs.append((path, emb))
        self.stored = []
        self.stats: dict[int, list] = {}  # step -> the lifecycle's read-back stats

    def _out(self, k: int) -> str:
        return os.path.join(self.work, f"shards-{k:03d}")

    def has_next(self, k: int) -> bool:
        return k < len(self.inputs)

    def patches(self, tracer) -> list:
        from tlmc_etl_spark.pipelines import lifecycle, similarity

        undo = [
            tracer.wrap(similarity, f, f"pipelines.similarity.{f}")
            for f in ("pooled_unit_mean", "recall_candidates", "gather_chunks", "chamfer_rerank")
        ]
        undo.append(tracer.wrap(lifecycle, "two_stage_similar_tracks",
                                "pipelines.similarity.two_stage_similar_tracks"))
        for f in ("lifecycle_pre_sink", "lifecycle_post_sink"):
            undo.append(tracer.wrap(lifecycle, f, f"pipelines.lifecycle.{f}"))
        undo.append(tracer.wrap(lifecycle, "write_similar_track_shards",
                                "sinks.shards.write_similar_track_shards"))
        return undo

    def step(self, spark, tracer, k):
        from tlmc_etl_spark.pipelines.lifecycle import similar_track_lifecycle

        out = self._out(k)
        with tracer.span("sources.read_inputs"):
            release = spark.read.parquet(self.release)
            chunks = spark.read.parquet(self.inputs[k][0])
        with tracer.span("pipelines.lifecycle.similar_track_lifecycle"):
            stats = similar_track_lifecycle(
                spark, release, chunks, out,
                k_recall=SIM_K_RECALL, k_final=SIM_K_FINAL, n_shards=SIM_SHARDS,
                catalog_rows_hint=SIM_RELEASES,
            )
        with tracer.span("sinks.shards.read_back"):
            self.stats[k] = stats.collect()
        return len(self.gated), None

    def after_step(self, k: int) -> None:
        n_anchors = sum(r["n_anchors"] for r in self.stats.pop(k))
        self.checks.append((f"step{k}_anchor_count", abs(n_anchors - len(self.gated))))
        oracle = verify.SimilarityOracle(*self.inputs[k][1], self.gated)
        self.checks += [
            (f"step{k}_{name}", n)
            for name, n in verify.verify_similar(self._out(k), oracle, self.sample, SIM_K_RECALL, SIM_K_FINAL)
        ]
        self.stored.append(dir_bytes(self._out(k)) / len(self.gated))
        shutil.rmtree(self._out(k), ignore_errors=True)

    def stored_bytes_per_item(self) -> float:
        return median(self.stored)


class StreamDrain(Workload):
    """Incremental runs: each step appends a delta to a JSONL journal and
    drains it with an availableNow stream that keeps one checkpoint
    across deltas and ends in the keyed parquet merge of
    `streaming/foreach_merge.py`. Latency runs from the journal append
    until the drained stream has published the merged table."""

    start_span = ""

    def _paths(self) -> None:
        self.journal = os.path.join(self.work, "journal.jsonl")
        self.gold = os.path.join(self.work, "gold")
        self.ckpt = os.path.join(self.work, "checkpoint")
        self.progress: dict[int, list[dict]] = {}
        self.changed: dict[int, int] = {}  # step -> distinct keys it changed

    def _start(self, spark, tracer):
        """Start the drain stream; called inside the start span."""
        raise NotImplementedError

    def _drain(self, spark, tracer):
        with tracer.span(self.start_span):
            q = self._start(spark, tracer)
        with tracer.span("streaming.drain") as sp:
            if sp is not None:
                sp.groups.append(str(q.runId))
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q

    def _append_and_drain(self, spark, tracer, k: int, lines: str) -> float:
        t0 = time.perf_counter()
        with open(self.journal, "a", encoding="utf-8") as fh:
            fh.write(lines)
        q = self._drain(spark, tracer)
        latency = time.perf_counter() - t0
        self.progress[k] = [p["durationMs"] for p in q.recentProgress]
        return latency

    def patches(self, tracer) -> list:
        from tlmc_etl_spark.streaming import foreach_merge

        return [tracer.wrap(foreach_merge, "merge_batch_into_parquet", "streaming.merge")]

    def layer_extras(self, tracer, step_ranges, ks) -> dict[str, float]:
        """Streaming progress durations per delta, and the merge's write
        amplification: bytes the drain wrote per byte of changed rows."""
        out = {
            f"streaming.progress.{name}_ms": median(
                sum(p.get(key, 0) for p in self.progress[k]) for k in ks
            )
            for name, key in PROGRESS_KEYS.items()
        }
        row_bytes = dir_bytes(self.gold) / parquet_rows(self.gold)
        amps = []
        for (lo, hi), k in zip(step_ranges, ks):
            written = sum(
                tracer.spans[i].stats.get("written_bytes", 0.0)
                for i in range(lo, hi)
                if tracer.spans[i].name == "streaming.drain"
            )
            amps.append(written / (row_bytes * self.changed[k]))
        out["streaming.merge.write_amp"] = median(amps)
        return out

    def stored_bytes_per_item(self) -> float:
        return dir_bytes(self.gold) / parquet_rows(self.gold)


class JournalMerge(StreamDrain):
    """The keyed change journal drained by `start_journal_merge_stream`
    into a parquet target of MERGE_BASE keys: stream start, micro-batch
    planning and the merge that rewrites the whole target per batch."""

    name = "journal_merge"
    item_unit = "keys merged"
    min_step_s = 0.5
    start_span = "streaming.foreach_merge.start"

    def generate(self, n_steps: int) -> None:
        self._paths()
        self.log = gen.merge_journal(self.seed, MERGE_BASE, n_steps)
        self.truth: dict[str, tuple[float, int]] = {}

    def _start(self, spark, tracer):
        from tlmc_etl_spark.streaming.foreach_merge import start_journal_merge_stream

        return start_journal_merge_stream(spark, self.journal, self.gold, self.ckpt)

    def _record(self, lines: list[str]) -> str:
        """The text to append; the truth learns the lines' offsets."""
        first = os.path.getsize(self.journal) if os.path.exists(self.journal) else 0
        self.truth.update(verify.journal_truth(lines, first))
        return "".join(line + "\n" for line in lines)

    def warm(self, spark) -> int:
        """Catch-up: drain the base keys into the target and the
        checkpoint the deltas then extend; then the warm delta, the
        first merge that reads an existing target."""
        self._append_and_drain(spark, NULL_TRACER, -1, self._record(self.log.base))
        return super().warm(spark)

    def has_next(self, k: int) -> bool:
        return k < len(self.log.deltas)

    def step(self, spark, tracer, k):
        text = self._record(self.log.deltas[k])
        self.changed[k] = self.log.changed[k]
        return self.changed[k], self._append_and_drain(spark, tracer, k, text)

    def after_step(self, k: int) -> None:
        self.checks += [(f"delta{k}_{n}", bad) for n, bad in verify.verify_merged_keys(self.gold, self.truth)]


class CatalogDelta(StreamDrain):
    """Album-change deltas drained by `start_incremental_catalog_stream`,
    which rebuilds the touched albums through the metadata pipeline
    before the keyed gold merge. Not listed in BENCHMARK.json: see the
    README's "Known defect"."""

    name = "catalog_delta"
    item_unit = "albums merged"
    warm_steps = 0
    start_span = "streaming.incremental.start"

    def generate(self, n_steps: int) -> None:
        self._paths()
        self.base = gen.catalog(self.seed, DELTA_BASE_ALBUMS)
        self.mdir = os.path.join(self.work, "manifest")
        self.pdir = os.path.join(self.work, "probe")
        os.makedirs(self.mdir)
        os.makedirs(self.pdir)
        gen.write_catalog(self.base, os.path.join(self.mdir, "base.parquet"),
                          os.path.join(self.pdir, "base.parquet"))
        self.deltas = gen.deltas(self.seed, self.base, n_steps)
        self.ddir = os.path.join(self.work, "deltas")
        gen.write_deltas(self.deltas, self.ddir)
        # ground truth of the gold table as the applied deltas change it
        self.truth = {(a.circle_dir, a.album_dir): copy.deepcopy(a) for a in self.base.albums}

    def patches(self, tracer) -> list:
        from tlmc_etl_spark.pipelines import metadata
        from tlmc_etl_spark.streaming import incremental

        # rebuild_releases imports build_catalog at call time, and
        # build_catalog looks its stages up in the module: both see the
        # wrappers
        return super().patches(tracer) + [
            tracer.wrap(incremental, "rebuild_releases", "streaming.incremental.rebuild_releases"),
        ] + [
            tracer.wrap(metadata, f, f"pipelines.metadata.{f}")
            for f in ("build_catalog", "classify_dirs", "parse_tracks", "vote_albums")
        ]

    def _start(self, spark, tracer):
        from tlmc_etl_spark.streaming.incremental import start_incremental_catalog_stream

        with tracer.span("sources.read_inputs"):
            m = spark.read.parquet(self.mdir)
            p = spark.read.parquet(self.pdir)
        return start_incremental_catalog_stream(spark, self.journal, m, p, self.gold, self.ckpt)

    def warm(self, spark) -> int:
        """Catch-up: drain the base albums into the gold table and the
        checkpoint the deltas then extend."""
        text = "".join(
            json.dumps({"circle_dir": a.circle_dir, "album_dir": a.album_dir}, ensure_ascii=False) + "\n"
            for a in self.base.albums
        )
        self._append_and_drain(spark, NULL_TRACER, -1, text)
        return 0

    def after_warm(self) -> None:
        self.checks.append(("base_gold_rows", abs(parquet_rows(self.gold) - len(self.truth))))

    def has_next(self, k: int) -> bool:
        return k < len(self.deltas)

    def step(self, spark, tracer, k):
        d = self.deltas[k]
        kdir = os.path.join(self.ddir, f"{k:05d}")
        # the archive changes first; the journal line announces it
        os.rename(os.path.join(kdir, "manifest.parquet"), os.path.join(self.mdir, f"d{k:05d}.parquet"))
        os.rename(os.path.join(kdir, "probe.parquet"), os.path.join(self.pdir, f"d{k:05d}.parquet"))
        with open(os.path.join(kdir, "journal.jsonl"), encoding="utf-8") as fh:
            lines = fh.read()
        latency = self._append_and_drain(spark, tracer, k, lines)
        self.changed[k] = len(d.albums)
        for key in d.retouched:
            self.truth[key].disc_tracks[1] += 1
        self.truth.update({(a.circle_dir, a.album_dir): a for a in d.fresh})
        return len(d.albums), latency

    def after_step(self, k: int) -> None:
        self.checks.append((f"delta{k}_gold_rows", abs(parquet_rows(self.gold) - len(self.truth))))

    def verify(self, spark) -> None:
        self.checks += verify.verify_merged_gold(
            os.path.join(self.mdir, "*.parquet"), os.path.join(self.pdir, "*.parquet"),
            self.gold, list(self.truth.values()),
        )


# the workloads BENCHMARK.json lists, and catalog_delta (see its docstring)
WORKLOADS = {w.name: w for w in (SimilarTracks, JournalMerge, CatalogDelta)}
