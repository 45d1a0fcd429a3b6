"""In-memory spans around the calls the benchmark makes into each layer.

The benchmark patches public functions from its own files (nothing in
``synch_spark`` is edited). Names are patched where they are *looked
up*: ``streaming.pipeline`` binds ``apply_cdc_batch`` and
``log_monitor_row`` at import time, so those are replaced in that
module; ``bloom``/``manifest``/``commit_with_retry`` are imported inside
functions at call time, so replacing the attribute on their home module
reaches every caller. Spans stay in memory and are summarised
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        rec = {"name": name, "parent": st[-1] if st else None,
               "thread": threading.get_ident(), "t0": time.perf_counter(),
               "t1": None, **attrs}
        idx = len(self.spans)
        self.spans.append(rec)
        st.append(idx)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            st.pop()

    def patch(self, owner, attr: str, name: str, after=None):
        """Replace ``owner.attr`` with a wrapper recording one span per
        call. ``after(rec, result, args, kwargs)`` runs after the span
        closed, so its cost is not charged to the layer."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
            if after is not None:
                after(rec, result, args, kwargs)
            return result

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``restore()``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def per_span_cost_s(n: int = 20_000) -> float:
    """Measured bookkeeping cost of one traced call on the running host: a
    wrapped no-op minus a bare no-op, averaged over ``n`` calls."""

    class _Box:
        @staticmethod
        def noop():
            return None

    tr = Tracer()
    bare = _Box.noop
    t0 = time.perf_counter()
    for _ in range(n):
        bare()
    t_bare = time.perf_counter() - t0
    tr.patch(_Box, "noop", "noop")
    wrapped = _Box.noop
    t0 = time.perf_counter()
    for _ in range(n):
        wrapped()
    t_wrapped = time.perf_counter() - t0
    tr.restore()
    return max(0.0, (t_wrapped - t_bare) / n)
