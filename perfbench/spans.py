"""In-memory span tracer, attached to the package from outside.

`Tracer.install` wraps public functions at each layer boundary — module
functions as the engine loop looks them up, and `SnapshotTable` methods —
so every call records a span ``(id, name, start, end, parent)``. Spans
stay in a list until `Tracer.dump` writes them out at the end of a run.
Wrappers record nothing while `active` is false, so the same process can
alternate traced and untraced operations to measure tracing overhead.

A span's self time is its duration minus the time its direct children
cover; `self_seconds` sums self time per span name, optionally counting
some child spans under their parent's name.
"""

from __future__ import annotations

import functools
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self.active = False
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------
    def span(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((sid, name, time.perf_counter(), 0.0, parent))
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            _, _, start, _, _ = self.spans[sid]
            self.spans[sid] = (sid, name, start, time.perf_counter(), parent)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.span(name, orig, *args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self, wraps: list[tuple[object, str, str]]) -> None:
        for owner, attr, name in wraps:
            self.wrap(owner, attr, name)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reporting -------------------------------------------------------
    def self_seconds(
        self, under_parent: dict[str, tuple[str, ...]] | None = None
    ) -> dict[str, float]:
        """Self seconds per span name over every recorded span. A span
        named ``c`` whose parent is named one of ``under_parent[c]`` counts
        under the parent's name (a shared helper charged to its caller)."""
        under_parent = under_parent or {}
        label: list[str] = []
        child_time = [0.0] * len(self.spans)
        for _sid, name, start, end, parent in self.spans:
            # a parent's id is always lower than its children's
            if parent is not None:
                child_time[parent] += end - start
                if label[parent] in under_parent.get(name, ()):
                    name = label[parent]
            label.append(name)
        out: dict[str, float] = {}
        for sid, _name, start, end, _parent in self.spans:
            out[label[sid]] = out.get(label[sid], 0.0) + (end - start) - child_time[sid]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sid, name, start, end, parent in self.spans:
                f.write(
                    json.dumps(
                        {"id": sid, "name": name, "start": start, "end": end,
                         "parent": parent}
                    )
                    + "\n"
                )


def layer_wraps() -> list[tuple[object, str, str]]:
    """The layer boundaries the traced run records, as
    ``(owner, attribute, span name)``. Engine-loop functions are wrapped
    in the `cdc.engine` namespace, where `run_ingest` looks them up.
    Read-side calls (`read_changes`, `lookup_keys`) return lazy frames, so
    the workloads span them at the call site, around the collect."""
    from image_deid_etl_spark.cdc import engine
    from image_deid_etl_spark.lake.table import SnapshotTable

    wraps: list[tuple[object, str, str]] = [
        (engine, "plan_frontier", "engine.plan_frontier"),
        (engine, "read_feed_files", "engine.read_feed_files"),
        (engine, "compute_batch_stats", "engine.compute_batch_stats"),
        (engine, "run_maintenance", "engine.run_maintenance"),
        (engine, "merge_into", "merge.merge_into"),
    ]
    for method in (
        "write_snapshot_files",
        "scan_files",
        "commit_snapshot_optimistic",
        "commit_snapshot",
        "write_changelog_rows",
        "materialize_changelog",
    ):
        wraps.append((SnapshotTable, method, f"table.{method}"))
    return wraps
