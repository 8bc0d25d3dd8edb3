"""Layer spans recorded from outside the program.

The benchmark wraps the calls into each layer's public functions (the
module-level names the pipeline and the search loop call through) for
the length of a traced run; nothing inside ``motive_rdf_spark`` changes.

One layer is *current* at a time. ``switch`` charges the wall time since
the last switch to the outgoing layer and sets the Spark job group, so
every job submitted while a layer is current carries its name; the
list of switches lets ``eventlog.Timeline`` place jobs that carry no
group. A layer's ``s`` is therefore its self time.

Two wrapper kinds exist because Spark is lazy:

- ``scoped`` makes the layer current for the call and restores the
  previous one on return. Used where the call does its own work.
- ``sticky`` makes the layer current and leaves it so: the pipeline
  builds a DataFrame in one call and runs it in a later action of its
  own (``count``, ``localCheckpoint``, the next write), and that action
  belongs to the layer whose call built the plan, until another wrapped
  call starts.

``force`` additionally persists and counts a lazy result inside the
span, so the join it describes runs there and not inside the next
layer's write. Only a traced run does this; it adds one count job per
forced call, which the recorded tracing overhead includes.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc=None, start: str = "idle"):
        self.sc = sc  # None: time only, set no job groups
        self.layer = start
        self._t = time.perf_counter()
        self.wall: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, float] = defaultdict(float)
        self.switches: list[tuple[float, str]] = [(time.time() * 1000.0, start)]
        self._forced: list = []

    def switch(self, layer: str) -> None:
        now = time.perf_counter()
        self.wall[self.layer] += now - self._t
        self._t = now
        if layer != self.layer:
            self.layer = layer
            self.switches.append((time.time() * 1000.0, layer))
            if self.sc is not None:
                self.sc.setJobGroup(layer, layer)

    def bind(self, sc) -> None:
        """Set job groups from now on (``None``: stop setting them)."""
        self.sc = sc
        if sc is not None:
            sc.setJobGroup(self.layer, self.layer)

    def flush(self) -> None:
        """Charge the time since the last switch to the current layer."""
        self.switch(self.layer)

    @contextlib.contextmanager
    def scope(self, layer: str):
        prev = self.layer
        self.switch(layer)
        try:
            yield
        finally:
            self.switch(prev)

    def scoped(self, layer: str, fn, on_result=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.calls[layer] += 1
            with self.scope(layer):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, out)
            return out

        return wrapper

    def sticky(self, layer: str, fn, force=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.calls[layer] += 1
            self.switch(layer)
            out = fn(*args, **kwargs)
            if force is not None:
                df = force(out)
                df.persist()
                self.counts[f"{layer}.rows"] += df.count()
                self._forced.append(df)
            return out

        return wrapper

    def release(self) -> None:
        """Unpersist what ``force`` cached."""
        for df in self._forced:
            df.unpersist()
        self._forced.clear()


@contextlib.contextmanager
def patched(replacements: list[tuple[object, str, object]]):
    """Set ``obj.name = value`` for each triple; restore on exit."""
    saved = []
    try:
        for obj, name, value in replacements:
            had = name in vars(obj)
            saved.append((obj, name, had, vars(obj).get(name)))
            setattr(obj, name, value)
        yield
    finally:
        for obj, name, had, old in reversed(saved):
            if had:
                setattr(obj, name, old)
            else:
                delattr(obj, name)
