"""Shared helpers: percentiles with sample counts, result digests, memory."""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_q(n: int) -> int:
    """The highest whole percentile with at least ten of ``n`` samples
    beyond it; 0 when there are too few samples for any."""
    return max(0, math.floor(100 * (1 - 10 / n))) if n > 10 else 0


def summarize(values: list[float]) -> dict:
    """Median, the tail percentile ``tail_q`` (see ``tail_q``) with its
    value (None without one), and the sample count they rest on."""
    n, q = len(values), tail_q(len(values))
    return {
        "n": n,
        "p50": percentile(values, 50),
        "tail_q": q,
        "tail": percentile(values, q) if q else None,
    }


def norm_value(v) -> str:
    """Engine-neutral text form of one result cell (6 significant digits
    for floats, ISO for dates, lists and structs flattened)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def rowset(columns: list[str], rows) -> list[str]:
    """Order-insensitive result form: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(norm_value(r[i]) for i in order) for r in rows)


def digest(columns: list[str], rows) -> dict:
    rs = rowset(columns, rows)
    h = hashlib.sha256("\n".join(rs).encode()).hexdigest()
    return {"columns": sorted(columns), "rows": len(rs), "sha256": h}


def digest_mismatch(expected: dict, got: dict) -> str | None:
    """None when the digests agree, else a one-line reason."""
    for key in ("columns", "rows", "sha256"):
        if expected.get(key) != got.get(key):
            return f"{key}: expected {expected.get(key)!r}, got {got.get(key)!r}"
    return None


def error_text(exc: BaseException) -> str:
    """One-line form of an exception, for the failure log."""
    first = (str(exc).splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:200]}"


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendant_pids(pid: int) -> list[int]:
    """All live descendants of ``pid`` (via /proc/<pid>/task/*/children)."""
    out: list[int] = []
    stack = [pid]
    while stack:
        p = stack.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except OSError:
                continue
            out.extend(kids)
            stack.extend(kids)
    return out


def jvm_pids() -> list[int]:
    pids = []
    for p in descendant_pids(os.getpid()):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    pids.append(p)
        except OSError:
            pass
    return pids


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers under it, including children they have already reaped."""
    return sum(_cpu_ticks(p) for p in [os.getpid(), *descendant_pids(os.getpid())]) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has withheld from this machine so far,
    summed over its CPUs (the ``steal`` field of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / _TICK
    except (OSError, IndexError, ValueError):
        return 0.0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python driver plus its JVM, in MB."""
    kb = _vm_hwm_kb(os.getpid()) + sum(_vm_hwm_kb(p) for p in jvm_pids())
    return kb * 1024 / 1e6
