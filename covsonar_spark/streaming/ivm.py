"""Streaming join-view maintenance: keep V = A ⋈ B current while A
arrives as micro-batches (the fact stream) against a slowly-changing
dimension B — the streaming face of ``operators/ivm.join_delta``.

State layout mirrors the log-structured sketch store
(streaming/sketches.py): each micro-batch APPENDS its delta rows into
a ``batch=<id>_g<gen>`` subdirectory with overwrite semantics, so
foreachBatch's at-least-once replay rewrites rather than duplicates a
batch.  The stored view is the union of the parquet log — no merge
function needed because an inner-join view under inserts is purely
additive (ΔV = ΔA ⋈ B; use the retraction-counted form in
operators/ivm.py when deletes matter).

Dimension updates use the other half of the differential rule: a ΔB
wave joins the FULL replayed fact log (A_old ⋈ ΔB) — delta-sized on
the dimension side, and the fact log never re-joins itself.  Every
dimension generation persists under ``dim/gen=<g>`` and each fact
batch records WHICH generation it joined in its directory name, so a
replayed fact batch re-joins the exact dimension it saw the first
time — without that pinning, a replay arriving after a dim wave would
re-emit the ΔA ⋈ ΔB rows the wave already wrote (double count).

Scale notes: per micro-batch work is |ΔA| ⋈ B — Catalyst broadcasts a
small delta or shuffles on the key, never touching the accumulated
view; reading the view is a parquet scan of delta-sized files, exactly
the layout a compaction job (store.optimize pattern) periodically
rewrites into right-sized files.  The dimension is assumed
dimension-sized (persisting each generation copies only deltas, plus
the bootstrap once).

Reference note: the reference has no streaming surface; this is
beyond-reference capability (SURVEY §2.8) composing its ingest-append
pattern with the IVM algebra.
"""

from __future__ import annotations

import json
import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession


class StreamingJoinView:
    """Maintains V = fact ⋈ dim over fact micro-batches (inserts)."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 dim: DataFrame, on: list[str]) -> None:
        self.spark = spark
        self._view_path = os.path.join(state_dir, "view")
        self._fact_path = os.path.join(state_dir, "fact")
        self._dim_path = os.path.join(state_dir, "dim")
        self.on = on
        # auto ids resume PAST every batch ever written (fact-log dirs
        # plus ids folded into compacted view segments): a restarted
        # direct caller starting at 0 would collide with a folded id,
        # silently dropping its rows from the view while overwriting
        # that batch's raw fact log (the sketch store's _max_batch_id
        # rule, streaming/sketches.py)
        self._seq = self._max_seen_batch() + 1
        # serializes a live dim swap against the streaming thread's
        # crash-heal scan: heal observing the instant between
        # update_dim's two renames would "restore" the renamed-aside
        # generation and make the swap's second rename hit a non-empty
        # directory (crash-heal is for dead processes; a live swap in
        # THIS process is visible through this lock)
        self._swap_lock = threading.Lock()
        # signalled when the last in-flight batch drains (see
        # _invalidate_dim_cache: a swap must not unpersist — or rewrite
        # the generation dirs under — a dim frame a running batch job
        # is still consuming)
        self._idle = threading.Condition(self._swap_lock)
        self._inflight = 0
        # True while compact() is folding dirs: new batches wait (see
        # process_batch — a replay overwriting a dir mid-fold would
        # race compact's scan of that same dir)
        self._compacting = False
        # per-generation persisted dim frames (see _dim_as_of)
        self._dim_cache: dict[int, DataFrame] = {}
        # bootstrap generation 0 (idempotent: overwrite)
        if not os.path.isdir(os.path.join(self._dim_path, "gen=0")):
            dim.write.mode("overwrite").parquet(
                os.path.join(self._dim_path, "gen=0"))

    # -- dimension generations -------------------------------------------

    def _current_gen(self) -> int:
        gens = [int(e.split("=", 1)[1]) for e in os.listdir(self._dim_path)
                if e.startswith("gen=")]
        return max(gens)

    def _dim_as_of(self, gen: int) -> DataFrame:
        """Dimension state as of generation ``gen``, persisted per gen:
        every fact batch joins (and broadcast-builds) the same dim
        frame, so re-listing + re-reading the generation dirs per
        batch is pure fixed overhead.  The cache is invalidated
        whenever the generation dirs can change (update_dim swaps, heal
        restores) — a persisted frame over a dir that was swapped
        underneath it could serve mixed generations."""
        # cache get/insert under the swap lock: invalidation runs on
        # the maintenance thread while this runs on the streaming
        # thread — an unlocked insert mid-invalidation would either
        # blow up the value iteration or escape the invalidation
        with self._swap_lock:
            return self._dim_as_of_locked(gen)

    def _dim_as_of_locked(self, gen: int) -> DataFrame:
        got = self._dim_cache.get(gen)
        if got is not None:
            return got
        paths = [os.path.join(self._dim_path, f"gen={g}")
                 for g in range(gen + 1)
                 if os.path.isdir(os.path.join(self._dim_path,
                                               f"gen={g}"))]
        df = self.spark.read.parquet(*paths).persist()
        self._dim_cache[gen] = df
        return df

    def _invalidate_dim_cache(self) -> None:
        # always called with _swap_lock held (update_dim's swap block,
        # _heal_dim_swaps' scan) and only after _drain_inflight() —
        # unpersisting a dim frame (or rewriting the generation dirs
        # under it) while a batch job is mid-join would make evicted-
        # block recomputation re-read a swapped directory: FileNotFound
        # or mixed-generation rows.  snapshot-then-clear keeps the slow
        # py4j unpersist calls off the shared dict either way
        frames = list(self._dim_cache.values())
        self._dim_cache.clear()
        for df in frames:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — session teardown races
                pass

    def _drain_inflight(self) -> None:
        """Wait (``_swap_lock`` held, via the condition) until no
        process_batch job is consuming a cached dim frame.  Called
        before any generation-dir mutation + cache invalidation; the
        streaming thread never blocks on the maintenance thread in
        return, so there is no deadlock cycle."""
        while self._inflight:
            self._idle.wait(timeout=1.0)

    def _batch_gen(self, batch_id: int,
                   manifest: dict | None = None) -> int | None:
        """The dim generation a previously-written fact batch joined
        (encoded in its directory name, or in the compaction manifest
        once the directory was folded away), or None if never written.
        ``manifest`` lets the hot path reuse an already-loaded
        manifest instead of re-reading the file."""
        if not os.path.isdir(self._view_path):
            return None
        pat = re.compile(rf"^batch={batch_id}_g(\d+)$")
        for e in os.listdir(self._view_path):
            m = pat.match(e)
            if m:
                return int(m.group(1))
        if manifest is None:
            manifest = self._compact_manifest()
        got = manifest["consumed"].get(str(batch_id))
        return int(got) if got is not None else None

    # -- view-log compaction ----------------------------------------------

    @staticmethod
    def _parse_batch_dir(entry: str) -> tuple[str | None, int | None]:
        """(batch_id, gen|None) for a view delta dir name — the ONE
        grammar every consumer (compact, view, _pinned_gens) parses
        with.  Fact batches are ``batch=<id>_g<gen>`` with NUMERIC id
        and gen; anything else (dim waves ``batch=dim_<tag>``) is an
        opaque id with no gen — tags are caller-chosen strings that may
        themselves end in ``_g<digits>``, so the suffix is only split
        off when the id part is purely numeric."""
        if not entry.startswith("batch="):
            return None, None
        name = entry.split("=", 1)[1]
        m = re.fullmatch(r"(\d+)_g(\d+)", name)
        if m:
            return m.group(1), int(m.group(2))
        return name, None

    def _max_seen_batch(self) -> int:
        """Highest NUMERIC batch id ever written: fact-log dirs (kept
        forever — view compaction never touches them) plus ids folded
        into view segments (belt-and-braces for a fact log lost to
        out-of-band cleanup)."""
        top = -1
        if os.path.isdir(self._fact_path):
            for e in os.listdir(self._fact_path):
                bid = e.split("=", 1)[1] if e.startswith("batch=") else ""
                if bid.isdigit():
                    top = max(top, int(bid))
        if os.path.isdir(self._view_path):
            for bid in self._compact_manifest()["consumed"]:
                if bid.isdigit():
                    top = max(top, int(bid))
            for e in os.listdir(self._view_path):
                bid, _gen = self._parse_batch_dir(e)
                if bid is not None and bid.isdigit():
                    top = max(top, int(bid))
        return top

    def _compact_manifest(self) -> dict:
        """{"segments": [seq, ...], "consumed": {batch_id: gen|None}} —
        which ``compact=<seq>`` segment dirs are LIVE and which batch
        dirs they folded in.  A segment dir absent from the manifest is
        invisible (a crashed compaction's leftover); a batch id in
        ``consumed`` is excluded from reads even if its dir still
        exists (a crashed cleanup's leftover) — so the manifest publish
        is the single commit point and both crash windows are benign.

        A manifest that exists but does not PARSE raises — treating it
        as empty would silently drop every compacted row from reads,
        and the next compact() would then delete the 'unreferenced'
        segment dirs: unrecoverable loss dressed as healing (the sketch
        store's rule: transient read errors must surface)."""
        path = os.path.join(self._view_path, "_compact.json")
        try:
            with open(path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"segments": [], "consumed": {}}
        except ValueError as exc:
            raise RuntimeError(
                f"corrupt view-compaction manifest {path}: refusing to "
                "treat it as empty (that would orphan every compacted "
                "segment). Restore it from the segment dirs on disk — "
                "each compact=<N> dir is one committed segment."
            ) from exc

    def _write_compact_manifest(self, m: dict) -> None:
        import uuid

        path = os.path.join(self._view_path, "_compact.json")
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(m, fh)
            fh.flush()
            os.fsync(fh.fileno())   # data durable BEFORE the rename —
            #                         a reordered rename surviving a
            #                         power loss ahead of its contents
            #                         is exactly the torn manifest the
            #                         parse guard refuses
        os.replace(tmp, path)
        dir_fd = os.open(self._view_path, os.O_RDONLY)
        try:
            os.fsync(dir_fd)        # the rename itself durable too
        finally:
            os.close(dir_fd)

    def compact(self) -> int:
        """Fold the accumulated per-batch view deltas into one
        right-sized segment — the maintenance job the log-structured
        layout is designed for (store.optimize's pattern; the sketch
        store compacts the same way).  Returns how many delta dirs
        were folded.

        Replay safety: the manifest records each folded batch's pinned
        dim generation, so ``_batch_gen``/``_pinned_gens`` still answer
        for compacted batches, and ``process_batch`` skips the view
        write for a replayed id that is already durably inside a
        segment (the raw fact log is untouched — dimension waves keep
        joining it per batch).  Crash anatomy: the segment dir is
        written first but stays INVISIBLE until the manifest publish
        (single atomic os.replace); consumed batch dirs are excluded by
        the manifest even before they are deleted.  Either crash
        leftover is healed by the next compact().  Runs on the
        maintenance thread (same single-maintainer assumption as
        update_dim); in-flight batches are drained before dirs are
        consumed, and a view() DataFrame built BEFORE a compaction may
        need re-building after it (same caveat as store.optimize)."""
        import shutil

        with self._idle:
            self._drain_inflight()
            # block new batches for the whole fold: a replayed batch
            # passing its folded-check before the manifest publish
            # could otherwise overwrite a fold-set dir mid-scan
            self._compacting = True
        try:
            m = self._compact_manifest()
            live = set(m["segments"])
            entries = (os.listdir(self._view_path)
                       if os.path.isdir(self._view_path) else [])
            folds, stale = [], []
            for e in entries:
                # heal the crash leftovers: unpublished segment dirs
                # and orphaned manifest tmp files
                if e.startswith("compact=") and \
                        int(e.split("=", 1)[1]) not in live:
                    shutil.rmtree(os.path.join(self._view_path, e),
                                  ignore_errors=True)
                    continue
                if e.startswith("_compact.json.tmp-"):
                    try:
                        os.unlink(os.path.join(self._view_path, e))
                    except OSError:
                        pass
                    continue
                # snapshot the fold set: every batch dir not already
                # consumed (a consumed dir still on disk is a crashed
                # cleanup's leftover — just delete it)
                bid, gen = self._parse_batch_dir(e)
                if bid is None:
                    continue
                if bid in m["consumed"]:
                    stale.append(e)
                else:
                    folds.append((e, bid, gen))
            for e in stale:
                shutil.rmtree(os.path.join(self._view_path, e),
                              ignore_errors=True)
            if not folds and len(m["segments"]) <= 1:
                return 0
            seq = max(m["segments"], default=0) + 1
            paths = ([os.path.join(self._view_path, f"compact={s}")
                      for s in m["segments"]]
                     + [os.path.join(self._view_path, e)
                        for e, _, _ in folds])
            (self.spark.read.parquet(*paths)
             .write.mode("overwrite")
             .parquet(os.path.join(self._view_path, f"compact={seq}")))
            consumed = dict(m["consumed"])
            consumed.update({bid: gen for _, bid, gen in folds})
            old_segments = list(m["segments"])
            # the commit point: after this, the old dirs are invisible
            self._write_compact_manifest(
                {"segments": [seq], "consumed": consumed})
            for e, _, _ in folds:
                shutil.rmtree(os.path.join(self._view_path, e),
                              ignore_errors=True)
            for s in old_segments:
                shutil.rmtree(
                    os.path.join(self._view_path, f"compact={s}"),
                    ignore_errors=True)
            return len(folds)
        finally:
            with self._idle:
                self._compacting = False
                self._idle.notify_all()

    # -- maintenance ------------------------------------------------------

    def process_batch(self, delta_fact: DataFrame,
                      batch_id: int | None = None) -> None:
        """ΔV = ΔA ⋈ B_asof appended under ``batch=<id>_g<gen>``.
        A replayed batch id re-joins the SAME dimension generation it
        joined originally (pinned via the directory name), keeping the
        view identical under at-least-once delivery even when dim
        waves interleave with replays.  The raw ΔA is logged too so
        later dimension updates can join the accumulated fact."""
        if batch_id is None:
            batch_id = self._seq
            self._seq += 1
        self._heal_dim_swaps()
        # the ΔV write and the raw-ΔA log write are independent jobs
        # over the same input — submit them concurrently (driver
        # threads into one scheduler, the store-ingest pattern); the
        # crash window between them is unchanged (foreachBatch replays
        # the whole batch until both land, overwrite semantics)
        import concurrent.futures as _cf

        # both jobs consume ΔA — persist it so the upstream batch plan
        # (at scale: an arbitrary source scan) computes once, not once
        # per sink; scoped to this batch, dropped before returning
        delta_fact = delta_fact.persist()
        # ONE locked step covers the folded check, gen resolution, dim
        # acquisition, and the in-flight mark — a dim swap drains
        # _inflight before touching generation dirs, and compact()
        # blocks new batches for its whole fold (checking folded
        # OUTSIDE the lock could let a replay overwrite a fold-set dir
        # mid-scan); the manifest is read once and reused
        with self._idle:
            while self._compacting:
                self._idle.wait(timeout=1.0)
            manifest = self._compact_manifest()
            # a replayed id already folded into a compacted segment
            # must NOT re-create its batch dir — its rows are durably
            # inside the segment and the re-created dir would
            # double-count.  The raw fact log is still (re)written:
            # overwrite-idempotent, and dim waves depend on it.
            folded = str(batch_id) in manifest["consumed"]
            if not folded:
                gen = self._batch_gen(batch_id, manifest)
                if gen is None:
                    gen = self._current_gen()
                dim = self._dim_as_of_locked(gen)
                self._inflight += 1
        if folded:
            try:
                delta_fact.write.mode("overwrite").parquet(
                    os.path.join(self._fact_path, f"batch={batch_id}"))
            finally:
                delta_fact.unpersist()
            return
        try:
            view_df = delta_fact.join(dim, self.on)
            with _cf.ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(
                        lambda: view_df.write.mode("overwrite").parquet(
                            os.path.join(self._view_path,
                                         f"batch={batch_id}_g{gen}"))),
                    pool.submit(
                        lambda: delta_fact.write.mode("overwrite").parquet(
                            os.path.join(self._fact_path,
                                         f"batch={batch_id}"))),
                ]
                for f in futs:
                    f.result()
        finally:
            delta_fact.unpersist()
            with self._idle:
                self._inflight -= 1
                if not self._inflight:
                    self._idle.notify_all()

    def _heal_dim_swaps(self) -> None:
        """Recover a crash between the two renames of a dim-generation
        swap: a ``_trash_gen<N>`` dir whose ``gen=<N>`` is missing IS
        the committed generation renamed aside mid-swap — restore it;
        one whose ``gen=<N>`` exists is a completed swap's leftover —
        drop it.  Keeps the crash-safety claim honest: no window where
        an already-committed generation is permanently deleted."""
        import shutil

        if not os.path.isdir(self._dim_path):
            return
        with self._swap_lock:
            for e in os.listdir(self._dim_path):
                if not e.startswith("_trash_gen"):
                    continue
                trash = os.path.join(self._dim_path, e)
                committed = os.path.join(
                    self._dim_path, "gen=" + e[len("_trash_gen"):])
                if os.path.isdir(committed):
                    shutil.rmtree(trash, ignore_errors=True)
                else:
                    # restoring changes what the generation dirs hold:
                    # let in-flight batch jobs (other threads) drain
                    # before mutating dirs their dim frames span
                    self._drain_inflight()
                    os.rename(trash, committed)
                    self._invalidate_dim_cache()

    def _gen_of_tag(self, tag: str) -> int | None:
        for e in os.listdir(self._dim_path):
            if e.startswith("gen=") and os.path.exists(
                    os.path.join(self._dim_path, e, f"_tag_{tag}")):
                return int(e.split("=", 1)[1])
        return None

    def _pinned_gens(self) -> dict[str, int]:
        """batch id -> the dim generation that fact batch joined,
        parsed from the view directory names plus the compaction
        manifest (a folded batch keeps its pin — without it, a dim
        wave after a compaction would re-join already-joined batches
        and double-count ΔA ⋈ ΔB)."""
        out: dict[str, int] = {}
        for bid, gen in self._compact_manifest()["consumed"].items():
            if gen is not None:
                out[bid] = int(gen)
        if os.path.isdir(self._view_path):
            for e in os.listdir(self._view_path):
                bid, gen = self._parse_batch_dir(e)
                if bid is not None and gen is not None:
                    out[bid] = gen
        return out

    def update_dim(self, delta_dim: DataFrame, tag: str) -> None:
        """Dimension insert wave: ΔV = A_old ⋈ ΔB (delta-sized on the
        dim side), and the delta becomes generation ``g+1`` for later
        fact batches.  Safe before any fact batch exists (ΔV empty);
        idempotent under replay — a tag that already has a generation
        rewrites it instead of minting a new one, and the A_old ⋈ ΔB
        term joins ONLY fact batches pinned to an older generation:
        batches processed after the original wave already joined this
        delta (their pinned gen includes it), so re-joining them here
        would double-count ΔA ⋈ ΔB.  The generation directory is
        staged in a tmp dir containing its tag marker and swapped into
        place via rename-aside (never rmtree-then-rename), so a crash
        at any point either leaves the old committed generation
        restorable from its ``_trash_gen`` alias or the new one fully
        in place — a retry can never duplicate or lose a generation."""
        import shutil

        self._heal_dim_swaps()
        new_gen = self._gen_of_tag(tag)
        if new_gen is None:
            new_gen = self._current_gen() + 1
        gen_dir = os.path.join(self._dim_path, f"gen={new_gen}")
        tmp_dir = os.path.join(self._dim_path, f"_tmp_{tag}")
        shutil.rmtree(tmp_dir, ignore_errors=True)

        delta_dim.write.mode("overwrite").parquet(tmp_dir)
        open(os.path.join(tmp_dir, f"_tag_{tag}"), "w").close()
        trash = os.path.join(self._dim_path, f"_trash_gen{new_gen}")
        # the two renames and the trash cleanup run under the swap
        # lock, so a concurrent process_batch heal scan (streaming
        # thread) can never observe — and "repair" — the mid-swap
        # state
        with self._swap_lock:
            # a tag-replay rewrite swaps an EXISTING gen dir that a
            # running batch's persisted dim frame may span, and the
            # invalidation below unpersists frames a running join
            # may be consuming — drain in-flight batches first
            # (ADVICE r9: eager unpersist widened the
            # recompute-after-swap race to the whole batch window)
            self._drain_inflight()
            # list A_old drained and locked: every batch pinned to an
            # older generation has finished writing its fact dir (a
            # listing before the drain could leave such a batch out of
            # ΔV for good), and no batch pinned to new_gen can start
            # until the lock drops.  A staging failure above raised before
            # any batch=dim_<tag> exists for a generation that never
            # swapped in.
            old_batches = []
            if os.path.isdir(self._fact_path):
                pinned = self._pinned_gens()
                old_batches = [
                    e.split("=", 1)[1] for e in os.listdir(self._fact_path)
                    if e.startswith("batch=")
                    and pinned.get(e.split("=", 1)[1], -1) < new_gen]
            shutil.rmtree(trash, ignore_errors=True)
            if os.path.isdir(gen_dir):
                os.rename(gen_dir, trash)
            os.rename(tmp_dir, gen_dir)
            shutil.rmtree(trash, ignore_errors=True)
            # cached frames may span the swapped generation dir
            self._invalidate_dim_cache()
        # ΔV = A_old ⋈ ΔB; a replayed tag rewrites both the generation
        # dir and the ΔV dir idempotently
        if old_batches:
            fact = self.spark.read.parquet(
                *[os.path.join(self._fact_path, f"batch={b}")
                  for b in old_batches])
            (fact.join(delta_dim, self.on)
             .write.mode("overwrite")
             .parquet(os.path.join(self._view_path, f"batch=dim_{tag}")))

    def view(self) -> DataFrame:
        """The maintained join view: the compacted segments plus the
        not-yet-folded per-batch deltas, read as explicit leaf paths
        (a consumed batch dir still on disk — a crashed cleanup — is
        excluded by the manifest, so reads never double-count).  Empty
        view reads fail only if NOTHING was ever processed."""
        m = self._compact_manifest()
        paths = [os.path.join(self._view_path, f"compact={s}")
                 for s in m["segments"]]
        if os.path.isdir(self._view_path):
            for e in sorted(os.listdir(self._view_path)):
                bid, _gen = self._parse_batch_dir(e)
                if bid is not None and bid not in m["consumed"]:
                    paths.append(os.path.join(self._view_path, e))
        return self.spark.read.parquet(*paths)

    def attach(self, stream_df: DataFrame, checkpoint_dir: str):
        """foreachBatch sink for a real fact stream."""
        return (stream_df.writeStream
                .foreachBatch(lambda bdf, bid: self.process_batch(bdf, bid))
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start())
