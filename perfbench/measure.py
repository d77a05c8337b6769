"""Measurement helpers: process-tree CPU and RSS from /proc, latency
percentiles, and timing spans with self time."""

from __future__ import annotations

import functools
import math
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------- /proc
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants: the driver Python process,
    the JVM it launched and the JVM's Python workers."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the process tree, counting the reaped
    children of each member (cutime/cstime), so short-lived Python
    workers are not lost."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:  # fields 14-17 of stat, 0-based after the comm
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the process tree of each process's peak resident set
    (VmHWM): the driver, the JVM and the live Python workers."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def physical_memory_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * _PAGE


# --------------------------------------------------------- percentiles
def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: returns ``(percentile, value)``. With ``n`` samples that is
    the sample of rank ``n - beyond`` (1-based) in ascending order, i.e.
    percentile ``100 * (n - beyond) / n``. Needs ``n > beyond``."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for the tail, got {n}")
    s = sorted(values)
    rank = n - beyond
    return 100.0 * rank / n, s[rank - 1]


# --------------------------------------------------------------- spans
@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory span log. ``wrap`` returns a timing wrapper; nesting is
    tracked per thread so a span's parent is the innermost open span.
    ``context`` is copied into the attributes of every span opened."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.context: dict = {}
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else None
        self.spans.append(
            Span(name, time.time(), math.nan, parent, self.run_id, {**self.context, **attrs})
        )
        idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self._stack().pop()
        self.spans[idx].end = time.time()

    @contextmanager
    def span(self, name: str, **attrs):
        idx = self.open(name, **attrs)
        try:
            yield idx
        finally:
            self.close(idx)

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as idx:
                out = fn(*args, **kwargs)
            if on_result is not None:
                self.spans[idx].attrs.update(on_result(out))
            return out

        return wrapper


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the durations of its direct children."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.duration
    return [s.duration - c for s, c in zip(spans, child)]


def install_wrapper(module_name: str, attr: str, wrapper_factory) -> int:
    """Replace ``module.attr`` (a function, or ``Class.method`` when
    ``attr`` is dotted) with a wrapper, also at every module that bound
    the same object under the same name at import time, so callers see
    the wrapper whichever name they look up. Returns the number of
    bindings replaced."""
    mod = sys.modules[module_name]
    if "." in attr:
        cls_name, meth = attr.split(".")
        cls = getattr(mod, cls_name)
        original = cls.__dict__[meth]
        setattr(cls, meth, wrapper_factory(original))
        return 1
    original = getattr(mod, attr)
    wrapped = wrapper_factory(original)
    n = 0
    for m in list(sys.modules.values()):
        if getattr(m, attr, None) is original:
            setattr(m, attr, wrapped)
            n += 1
    return n

