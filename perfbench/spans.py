"""In-memory spans around calls into the engine's layers.

The tracer patches layer functions at run time, from the benchmark's own
files: no package file changes. Each span records its name, start, end and
parent, and sets the Spark job group ``perfbench-span-<id>`` while it is
open, so every job Spark runs is attributed to the innermost open span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", GROUP_PREFIX + str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                GROUP_PREFIX + str(self._open[-1]) if self._open else None,
            )

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unwrap()``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def subtree(self, root: int) -> list[dict]:
        """``root``'s span and every span opened beneath it."""
        ids = {root}
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return [s for s in self.spans if s["id"] in ids]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
