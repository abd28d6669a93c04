"""The benchmark's own arithmetic: spans and self time, result checks and
the ratios it reports. Spark-free, so ``test_measure.py`` checks it without
starting a JVM."""

from __future__ import annotations

import contextlib
import time
from collections.abc import Iterator

import pandas as pd

from scripts.check_parity import canon_frame


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the union of its children's
    intervals, clipped to the span (seconds)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


class Tracer:
    """In-memory spans: name, start, end, parent and the id of the root op
    they belong to. Disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else len(self.spans),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def layer_totals(self) -> dict[str, tuple[int, float]]:
        """Per span name: (calls, total self seconds)."""
        selfs = self_times(self.spans)
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            n, own = out.get(s["name"], (0, 0.0))
            out[s["name"]] = (n + 1, own + selfs[s["id"]])
        return out


def failed_ratio(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def write_amplification(bytes_written: int, batch_bytes: int) -> float:
    """Bytes the write put on disk per byte of the update batch."""
    if batch_bytes <= 0:
        raise ValueError("empty update batch")
    return bytes_written / batch_bytes


class Verifier:
    """Checks every result of a run. The first result per key is compared
    with its oracle (``oracle(key)`` returns the oracle's
    ``check_parity.canon_frame``); once it matches, later results of that
    key are compared with the verified result. A frame equal to the verified
    one, row order included, matches without the per-row ``canon_frame``."""

    def __init__(self, oracle) -> None:
        self.oracle = oracle
        self.verified: dict[object, tuple[pd.DataFrame, tuple]] = {}
        self.mismatches: list[object] = []

    def check(self, key: object, pdf: pd.DataFrame) -> bool:
        want = self.verified.get(key)
        if want is not None and pdf.equals(want[0]):
            return True
        got = canon_frame(pdf)
        if want is None:
            ok = got == self.oracle(key)
            if ok:
                self.verified[key] = (pdf, got)
        else:
            ok = got == want[1]
        if not ok:
            self.mismatches.append(key)
        return ok
