"""Counters and timers around the engine's layer entry points.

``Tracer.install`` rebinds, in every loaded ``etl_finance_spark``
module, the public functions that enter a layer — ``catalog.table`` and
``catalog.events_between``, ``memo.session_memo``,
``lineage.cut_lineage`` and ``lineage.release_cuts``,
``sinks.write_upsert`` and ``sinks.backfill_partitions`` — to wrappers
that count calls and time them; ``uninstall`` binds the originals back.
The engine's code is not changed; the wrappers only see the calls from
outside. Install after ``registry.collect()`` has imported every query
module.
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from collections.abc import Callable

now = time.perf_counter


class Tracer:
    """Per-pass call counts (``n``) and seconds (``s``) by layer key."""

    def __init__(self) -> None:
        self.n: dict[str, float] = defaultdict(float)
        self.s: dict[str, float] = defaultdict(float)
        self._memo_depth = 0
        self._bound: list[tuple[Callable, Callable]] = []

    def reset(self) -> None:
        self.n.clear()
        self.s.clear()

    def add(self, key: str, seconds: float, count: float = 1) -> None:
        self.n[key] += count
        self.s[key] += seconds

    def timed(self, key: str, fn: Callable) -> Callable:
        def wrapper(*args, **kwargs):
            t = now()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(key, now() - t)
        return wrapper

    def install(self) -> None:
        from etl_finance_spark import catalog, lineage, memo
        from etl_finance_spark.sources import sinks

        for key, fn in (("catalog.table", catalog.table),
                        ("catalog.table", catalog.events_between),
                        ("lineage.cut", lineage.cut_lineage),
                        ("sinks.write", sinks.write_upsert),
                        ("sinks.write", sinks.backfill_partitions)):
            self._bind(fn, self.timed(key, fn))

        release = lineage.release_cuts

        def release_cuts() -> int:
            t = now()
            released = release()
            self.add("lineage.release", now() - t, released)
            return released

        self._bind(release, release_cuts)

        session_memo = memo.session_memo

        def memo_wrapper(table, spark, sf_dir, build):
            def timed_build():
                # nested builds (the IVF model builds the corpus memo)
                # count as misses; only the outermost adds time
                self._memo_depth += 1
                t = now()
                try:
                    return build()
                finally:
                    self._memo_depth -= 1
                    self.add("memo.build", 0 if self._memo_depth else now() - t)
            return session_memo(table, spark, sf_dir, timed_build)

        self._bind(session_memo, memo_wrapper)

    def uninstall(self) -> None:
        for original, wrapper in self._bound:
            _rebind(wrapper, original)
        self._bound.clear()

    def _bind(self, original: Callable, wrapper: Callable) -> None:
        _rebind(original, wrapper)
        self._bound.append((original, wrapper))


def _rebind(old: Callable, new: Callable) -> None:
    """Point every module-level name bound to ``old`` in the engine's
    loaded modules at ``new``."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("etl_finance_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if value is old:
                setattr(mod, attr, new)
