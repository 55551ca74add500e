"""What every workload shares: the run context, the op log and the
end-to-end summary."""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from . import stats

READ, WRITE = "read", "write"


@dataclass
class Context:
    seed: int
    seconds: int
    root: Path  # this run's private temp root, deleted at exit
    smoke: bool = False
    process_start: float = 0.0  # wall-clock time the process started

    def since_start(self) -> float:
        return time.time() - self.process_start


@dataclass
class Op:
    kind: str  # READ or WRITE
    name: str  # op type, e.g. "load_table" or a query name
    start: float
    end: float
    ok: bool = True
    info: dict[str, Any] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class OpLog:
    """Thread-safe list of completed ops."""

    def __init__(self) -> None:
        self.ops: list[Op] = []
        self.checks_failed: list[str] = []
        self._lock = threading.Lock()

    def add(self, op: Op) -> None:
        with self._lock:
            self.ops.append(op)

    def fail_check(self, message: str) -> None:
        with self._lock:
            self.checks_failed.append(message)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        """Failed ops plus failed correctness checks, at most every op."""
        bad = sum(1 for o in self.ops if not o.ok) + len(self.checks_failed)
        return min(bad, max(self.attempted, 1))

    def absorb(self, other: "OpLog", phase: str) -> None:
        """Count another phase's failed ops and checks as failed checks here."""
        for o in other.ops:
            if not o.ok:
                self.fail_check(f"{phase}: {o.name} failed: {o.info.get('error')}")
        for msg in other.checks_failed:
            self.fail_check(f"{phase}: {msg}")

    def timed(self, kind: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` as one op; an exception marks it failed and is kept
        in ``info["error"]`` (the loop goes on)."""
        op = Op(kind, name, time.perf_counter(), 0.0)
        try:
            result = fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            op.ok = False
            op.info["error"] = f"{type(e).__name__}: {e}"[:300]
            result = None
        op.end = time.perf_counter()
        self.add(op)
        return op, result


def summarize(log: OpLog, wall_s: float) -> dict[str, float]:
    """ops_per_s, read/write p50, per-op-type geomean, failed_ratio."""
    done = [o for o in log.ops if o.ok]
    out: dict[str, float] = {"ops_per_s": len(done) / wall_s if wall_s > 0 else 0.0}
    for kind, key in ((READ, "read_p50_ms"), (WRITE, "write_p50_ms")):
        vals = [o.ms for o in done if o.kind == kind]
        if vals:
            out[key] = stats.median(vals)
    by_type: dict[str, list[float]] = {}
    for o in done:
        by_type.setdefault(o.name, []).append(o.ms)
    if by_type:
        out["op_geomean_ms"] = stats.geomean(stats.median(v) for v in by_type.values())
    out["failed_ratio"] = log.failed / max(log.attempted, 1)
    return out


def tails(log: OpLog) -> dict[str, dict[str, float]]:
    """Per op type: median and the highest percentile with at least ten
    samples beyond it, with the sample count."""
    by_type: dict[str, list[float]] = {}
    for o in log.ops:
        if o.ok:
            by_type.setdefault(o.name, []).append(o.ms)
    out = {}
    for name, vals in sorted(by_type.items()):
        row: dict[str, float] = {"n": len(vals), "p50_ms": stats.median(vals)}
        t = stats.tail(vals)
        if t is not None:
            row["tail_pct"], row["tail_ms"] = t[0], t[1]
        out[name] = row
    return out


def dir_bytes(*paths: str | Path) -> int:
    total = 0
    for p in paths:
        p = Path(p)
        if p.is_file():
            total += p.stat().st_size
            continue
        for dirpath, _, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total


def metadata_files(root: str | Path) -> dict[str, int]:
    """{path: bytes} of every archived table-metadata file under ``root``."""
    return {str(p): p.stat().st_size for p in Path(root).rglob("*.metadata.json")}


def new_bytes_per(before: dict[str, int], after: dict[str, int], n: int) -> float:
    """Bytes of files in ``after`` but not ``before``, per one of ``n`` events."""
    added = sum(size for path, size in after.items() if path not in before)
    return added / n if n else 0.0
