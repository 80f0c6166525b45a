"""In-memory spans recorded around calls into the engine's public
functions, from the benchmark's side only: each patched function is
replaced, in every ``mare_spark`` module that binds it by name, by a
wrapper that records (name, start, end, parent, invocation)."""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass

# (module, attribute, span name). Classes are patched on the class.
TARGETS = (
    ("mare_spark.tables", "read_table", "tables.read_table"),
    ("mare_spark.operators.dedup", "ngram_jaccard_pairs", "dedup.ngram_jaccard_pairs"),
    ("mare_spark.operators.dedup", "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    ("mare_spark.operators.dedup", "dedup_clusters", "dedup.dedup_clusters"),
    ("mare_spark.operators.corpus", "decontaminate_ngrams", "corpus.decontaminate_ngrams"),
    ("mare_spark.operators.similarity", "brute_force_topk", "similarity.brute_force_topk"),
    ("mare_spark.operators.scale", "merge_parquet", "scale.merge_parquet"),
)
METHOD_TARGETS = (
    ("mare_spark.dataset", "MaRe", "repartition", "pipe.repartition"),
    ("mare_spark.dataset", "MaRe", "map", "pipe.map"),
    ("mare_spark.dataset", "MaRe", "reduce", "pipe.reduce"),
    ("mare_spark.dataset", "MaRe", "collect_reduce", "pipe.collect_reduce"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    inv: int | None = None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.inv: int | None = None
        self.hooks: dict = {}  # span name -> fn(args, result), after the call

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, inv=self.inv))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self._stack.remove(idx)
        self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.close(idx)
            hook = tracer.hooks.get(name)
            if hook is not None:
                hook(args, result)
            return result

        return traced

    def install(self) -> None:
        """Patch every target in every loaded ``mare_spark`` module that
        binds it by name."""
        modules = [m for k, m in list(sys.modules.items())
                   if k.startswith("mare_spark") and m is not None]
        for mod_name, attr, span_name in TARGETS:
            orig = getattr(sys.modules[mod_name], attr)
            wrapped = self.wrap(span_name, orig)
            for mod in modules:
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)
        for mod_name, cls_name, attr, span_name in METHOD_TARGETS:
            cls = getattr(sys.modules[mod_name], cls_name)
            setattr(cls, attr, self.wrap(span_name, getattr(cls, attr)))

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its direct children cover, summed
        per layer (the span name up to any ``:query`` suffix)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            layer = s.name.partition(":")[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def totals(self, name: str) -> tuple[int, float]:
        """Call count and wall time of ``name``. A call made inside another
        call of the same name (``MaRe.reduce`` recurses) is counted but its
        time is not, as the outer call's time already covers it."""
        calls, wall = 0, 0.0
        for s in self.spans:
            if s.name != name:
                continue
            calls += 1
            parent = s.parent
            while parent is not None and self.spans[parent].name != name:
                parent = self.spans[parent].parent
            if parent is None:
                wall += s.end - s.start
        return calls, wall
