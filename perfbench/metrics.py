"""Pure metric helpers: the percentile rule and the frame → micro-batch
latency attribution. Kept free of I/O so test_metrics.py can pin them."""
import datetime
import math

import numpy as np

MIN_BEYOND = 10


def percentile(sorted_values, p):
    """Nearest-rank percentile of an ascending sequence. Refuses a percentile
    that fewer than MIN_BEYOND samples lie beyond: a p99 needs 1000 samples."""
    n = len(sorted_values)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(f"p{p} of {n} samples has {n - rank} beyond it; "
                         f"the rule needs {MIN_BEYOND}")
    return float(sorted_values[rank - 1])


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of nothing")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def parse_ts_ms(iso):
    """Progress `timestamp` (ISO-8601 UTC, millisecond precision) → epoch ms."""
    dt = datetime.datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


class Batches:
    """Micro-batches of one source in offset order. The source's offsets are
    frame counts and a single connection delivers FIFO, so the frame with
    sequence number s (0-based) is committed by the batch whose
    [startOffset, endOffset) holds s. The batch ends at its progress
    timestamp (trigger start) + durationMs.triggerExecution. A frame in a
    gap between ranges was committed by no batch; ranges that overlap are
    refused, since no single batch would own the frames they share."""

    def __init__(self, progress):
        rows = []
        for p in progress:
            src = p["sources"][0]
            start = int(src["startOffset"]) if src.get("startOffset") is not None else 0
            end = int(src["endOffset"])
            if end > start:
                rows.append((start, end, p["batchId"],
                             parse_ts_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]))
        rows.sort()
        for (s0, e0, _, _), (s1, _, _, _) in zip(rows, rows[1:]):
            if s1 < e0:
                raise ValueError(f"offset ranges overlap: [{s0},{e0}) then {s1}")
        self.starts = np.array([r[0] for r in rows], dtype=np.int64)
        self.ends = np.array([r[1] for r in rows], dtype=np.int64)
        self.ids = np.array([r[2] for r in rows], dtype=np.int64)
        self.end_ms = np.array([r[3] for r in rows], dtype=np.float64)

    def locate(self, seqs):
        """Index of the committing batch for each sequence number, -1 where
        none has committed it."""
        seqs = np.asarray(seqs, dtype=np.int64)
        i = np.searchsorted(self.ends, seqs, side="right")
        inside = i < len(self.ends)
        inside[inside] &= seqs[inside] >= self.starts[i[inside]]
        return np.where(inside, i, -1)

    def _pick(self, values, seqs, missing):
        i = self.locate(seqs)
        if not len(values):
            return np.full(i.shape, missing)
        return np.where(i >= 0, values[np.maximum(i, 0)], missing)

    def batch_of(self, seqs):
        """Committing batch id per sequence number (-1: not committed)."""
        return self._pick(self.ids, seqs, -1)

    def commit_ms(self, seqs):
        """Epoch ms at which each frame's batch ended (NaN: not committed)."""
        return self._pick(self.end_ms, seqs, np.nan)


def frame_latencies_ms(batches, seqs, stamps_us):
    """Latency of each committed frame in ms (creation stamp → end of the
    batch that committed it), ascending; uncommitted frames are skipped."""
    end = batches.commit_ms(seqs)
    lat = end - np.asarray(stamps_us, dtype=np.float64) / 1000.0
    return np.sort(lat[~np.isnan(lat)])


def exactly_once(seqs, ok, total):
    """Verdict on a sink read back against the frames [0, total) that were
    sent. seqs holds each sink row's sequence number (-1 where it cannot be
    read), ok whether that row is a well-formed, byte-identical copy in the
    epoch of the batch that committed its frame. A frame passes when exactly
    one row carries it and that row is ok: a missing frame, a second copy
    (in any epoch) and an altered copy all fail it. Returns (passing
    sequence numbers, failing sequence numbers, count of rows that carry no
    sent frame), the first two ascending."""
    seqs = np.asarray(seqs, dtype=np.int64)
    ok = np.asarray(ok, dtype=bool)
    sent = (seqs >= 0) & (seqs < total)
    copies = np.bincount(seqs[sent], minlength=total)
    good = np.bincount(seqs[sent & ok], minlength=total)
    passed = (copies == 1) & (good == 1)
    return np.flatnonzero(passed), np.flatnonzero(~passed), int((~sent).sum())
