"""Streaming cardinality sketching: incremental HyperLogLog over a
micro-batched stream, with a log-structured register store.

Why this exists: exact streaming COUNT(DISTINCT) needs unbounded state
(every key ever seen).  HLL registers are the textbook fix — 256
BIGINTs per group, and the merge operation is MAX, which is
commutative/associative/idempotent.  That algebra is what makes the
streaming form EXACTLY equal to the batch form: the union of per-batch
register tables, max-merged, is the register table of the whole input
regardless of how the stream was chopped (value-checked in
tests/test_streaming_sketches.py and by the registry oracle, which
computes the one-shot batch sketch in DuckDB).

State layout: each batch APPENDS its (grp, bucket, m) registers to a
parquet dir — a log-structured mergeable store, merged lazily by
``groupBy(grp, bucket).max(m)`` at read time and compacted when the
log grows past ``compact_every`` batches.  Appending beats
read-modify-write state: writes are conflict-free (any number of
writers), and the merge cost is bounded by groups x 256 x batches
between compactions.

Scale notes (100 TB / real cluster): per micro-batch work is one pass
over the batch + a ≤ groups·256-row write — independent of history
size; the estimate query reads ≤ groups·256·log_len rows.  The same
register algebra drops into applyInPandasWithState (register array as
the state value) when per-event updates matter more than micro-batch
granularity; the foreachBatch form here keeps everything in JVM
expressions.

Reference note: the reference computes exact distinct counts over
sqlite (lib/sonardb.py:1552-1595) and has no streaming surface at
all — this is beyond-reference capability (SURVEY §2.8).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from covsonar_spark.operators.sketches import (cm_cells, cm_estimate,
                                               hll_estimate, hll_registers)


class _LogStructuredSketch:
    """Shared state machinery: per-batch sketch rows APPEND to a
    parquet log; a lazy algebraic merge (subclass-defined) reconstructs
    the exact one-shot sketch; the log compacts every N batches."""

    def __init__(self, spark: SparkSession, state_dir: str,
                 compact_every: int) -> None:
        self.spark = spark
        self._path = os.path.join(state_dir, "sketch")
        self._compact_every = compact_every
        self._batches_since_compact = 0
        self._seq = 0                      # direct-call batch ids

    def _merge(self, log: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def _sketch_of(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def _recover(self) -> None:
        """Heal the two crash windows of ``_compact``'s rename pair.

        A crash after ``rename(path → old)`` but before
        ``rename(tmp → path)`` leaves the state path absent while a
        COMPLETE compacted copy sits in ``.compact.tmp`` (it was fully
        written before the first rename) — restore it.  If somehow only
        ``.old`` survives, restore that instead.  Without this, the
        next read would treat the state as 'no batches yet' and
        silently restart the sketch empty."""
        import shutil

        tmp, old = self._path + ".compact.tmp", self._path + ".old"
        if not os.path.isdir(self._path):
            if os.path.isdir(tmp) and any(
                    e.startswith("batch=") for e in os.listdir(tmp)):
                os.rename(tmp, self._path)
            elif os.path.isdir(old):
                os.rename(old, self._path)
        shutil.rmtree(old, ignore_errors=True)

    def _watermark(self) -> int:
        """Highest batch id folded into a compacted segment (encoded in
        the segment name ``batch=c_<maxid>``), or -1 if never
        compacted.  Replayed batch ids at or below this are already
        inside the compacted state and must be skipped — re-appending
        them would double-count every SUM-merged sketch."""
        if not os.path.isdir(self._path):
            return -1
        wm = -1
        for e in os.listdir(self._path):
            if e.startswith("batch=c_"):
                try:
                    wm = max(wm, int(e[len("batch=c_"):]))
                except ValueError:
                    pass
        return wm

    def _max_batch_id(self) -> int:
        """Highest batch id present in the log — raw ``batch=<n>`` dirs
        AND the compaction watermark — so a restarted direct caller
        (batch_id=None) never overwrites existing batches even before
        the first compaction."""
        wm = self._watermark()
        if not os.path.isdir(self._path):
            return wm
        for e in os.listdir(self._path):
            if e.startswith("batch=") and not e.startswith("batch=c_"):
                try:
                    wm = max(wm, int(e[len("batch="):]))
                except ValueError:
                    pass
        return wm

    def _read_or_none(self) -> DataFrame | None:
        # only the genuinely-absent case maps to "no state yet";
        # transient read errors must SURFACE, not silently reset the
        # sketch to empty
        self._recover()
        if not os.path.isdir(self._path) or not any(
                e.startswith("batch=") for e in os.listdir(self._path)):
            return None
        return self.spark.read.parquet(self._path).drop("batch")

    def process_batch(self, df: DataFrame, batch_id: int | None = None) -> None:
        """IDEMPOTENT under foreachBatch's at-least-once replay: each
        batch writes (mode=overwrite) into its own ``batch=<id>``
        subdirectory, so a redelivered batch replaces its previous
        write instead of double-counting — which is what keeps the
        SUM-merged sketches (Count-Min, histogram) equal to the
        one-shot batch sketch.  A replayed batch id at or below the
        compaction watermark is already folded into the compacted
        segment and is skipped outright.  Direct callers without a
        stream batch id get a local monotone sequence starting above
        the watermark."""
        self._recover()
        wm = self._watermark()
        if batch_id is None:
            self._seq = max(self._seq, self._max_batch_id() + 1)
            batch_id = self._seq
            self._seq += 1
        elif batch_id <= wm:
            return          # at-least-once replay of a compacted batch
        (self._sketch_of(df).write.mode("overwrite")
         .parquet(os.path.join(self._path, f"batch={batch_id}")))
        self._batches_since_compact += 1
        if self._batches_since_compact >= self._compact_every:
            self._compact()
            self._batches_since_compact = 0

    def _compact(self) -> None:
        """Atomic: the merged state lands in a TMP directory first and
        swaps in via rename — a crash mid-compaction leaves the old log
        intact (plain overwrite deletes the source before the new write
        commits, destroying the accumulated state on failure).  The
        compacted segment is named ``batch=c_<maxid>`` after the
        highest batch id it folds, which doubles as the replay
        watermark."""
        import shutil

        # a stale tmp from a crashed compaction (crash BEFORE the first
        # rename: state path still intact) must not leak its segment
        # into this run's tmp — that would double-count on swap-in
        tmp = self._path + ".compact.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        max_id = self._watermark()
        for e in os.listdir(self._path):
            if e.startswith("batch=") and not e.startswith("batch=c_"):
                try:
                    max_id = max(max_id, int(e[len("batch="):]))
                except ValueError:
                    pass
        (self._merged().write.mode("overwrite")
         .parquet(os.path.join(tmp, f"batch=c_{max_id}")))
        old = self._path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self._path, old)
        os.rename(tmp, self._path)
        shutil.rmtree(old, ignore_errors=True)

    def _merged(self) -> DataFrame:
        log = self._read_or_none()
        assert log is not None, "no batches processed yet"
        return self._merge(log)

    def attach(self, stream_df: DataFrame, checkpoint_dir: str):
        """foreachBatch sink; availableNow-triggered for drain tests.
        The stream's batch_id flows into the idempotent per-batch
        write."""
        return (stream_df.writeStream
                .foreachBatch(lambda bdf, bid: self.process_batch(bdf, bid))
                .option("checkpointLocation", checkpoint_dir)
                .trigger(availableNow=True)
                .start())


class StreamingCountMin(_LogStructuredSketch):
    """Incremental Count-Min: per-batch (i, bucket, cnt) cells merge by
    SUM — commutative/associative, so the streamed sketch equals the
    one-shot batch sketch for any chunking of the input."""

    def __init__(self, spark: SparkSession, state_dir: str, *,
                 key_col: str, compact_every: int = 8) -> None:
        super().__init__(spark, state_dir, compact_every)
        self.key_col = key_col

    def _sketch_of(self, df: DataFrame) -> DataFrame:
        return cm_cells(df, self.key_col)

    def _merge(self, log: DataFrame) -> DataFrame:
        return log.groupBy("i", "bucket").agg(F.sum("cnt").alias("cnt"))

    def estimates(self, keys: DataFrame) -> DataFrame:
        """(key, [carried...], cm_est) for the given distinct-key
        frame: extra columns of ``keys`` ride through (see
        :func:`cm_estimate`)."""
        return cm_estimate(self._merged(), keys)


class StreamingHll(_LogStructuredSketch):
    """Incremental per-group distinct-count sketch: per-batch (grp,
    bucket, m) registers merge by MAX — commutative/associative/
    idempotent, so the streamed sketch equals the one-shot batch
    sketch for any chunking (and even replayed batches)."""

    def __init__(self, spark: SparkSession, state_dir: str, *,
                 group_col: str, key_col: str,
                 compact_every: int = 8) -> None:
        super().__init__(spark, state_dir, compact_every)
        self.group_col, self.key_col = group_col, key_col

    def _sketch_of(self, df: DataFrame) -> DataFrame:
        return hll_registers(df, self.group_col, self.key_col)

    def _merge(self, log: DataFrame) -> DataFrame:
        return log.groupBy("grp", "bucket").agg(F.max("m").alias("m"))

    def estimates(self) -> DataFrame:
        """(grp, hll_est) over everything streamed so far."""
        return hll_estimate(self._merged())


class StreamingHistogram(_LogStructuredSketch):
    """Incremental histogram-quantile sketch: per-batch (grp, b, cnt)
    cells with FIXED bounds append to the log; cells merge by SUM
    (commutative/associative), so the streamed state equals the
    one-shot batch histogram regardless of how the stream was chopped
    — the quantile member of the streaming sketch family, same store
    as StreamingHll/StreamingCountMin."""

    def __init__(self, spark: SparkSession, state_dir: str, *,
                 group_col: str, val_col: str, lo: float, hi: float,
                 bins: int = 64, compact_every: int = 4) -> None:
        super().__init__(spark, state_dir, compact_every)
        self._group_col, self._val_col = group_col, val_col
        self._lo, self._hi, self._bins = lo, hi, bins

    def _sketch_of(self, df: DataFrame) -> DataFrame:
        from covsonar_spark.operators.sketches import hist_cells
        return hist_cells(df, self._group_col, self._val_col,
                          self._lo, self._hi, self._bins)

    def _merge(self, log: DataFrame) -> DataFrame:
        return log.groupBy("grp", "b").agg(F.sum("cnt").alias("cnt"))

    def estimates(self, p: float = 0.5) -> DataFrame:
        from covsonar_spark.operators.sketches import hist_quantile_from_cells
        return hist_quantile_from_cells(self._merged(), self._lo, self._hi,
                                        p, self._bins)
