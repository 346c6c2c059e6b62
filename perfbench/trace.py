"""Spans and counters recorded around calls into the engine's layers.

Tracing wraps the public functions of each layer from outside: a
`Recorder` replaces module attributes (`pdf_io.parse_pdf`,
`tier1.tier1_batches`, ...) with timing wrappers for the duration of a
`with recorder.patched(...)` block and restores them afterwards. The
engine looks these functions up by module attribute at call time, so
the wrappers see every call without any change to the package.

A span is (name, start, end, parent, item): `parent` is the index of the
enclosing span or -1, `item` the request, call or batch number. A
generator layer (the Arrow batch kernels) gets one span per `next()`,
so the time it spends producing each batch is attributed to it while
the time its consumer spends is not; its input pulls are child spans.
Spans stay in memory; Spark workers write theirs to one JSON file per
task when the task's iterator ends.

`mapInArrow` shims for the Spark workloads live here too. A traced
pass swaps them onto `pipeline.fused_batches` and
`ingest.sniff_decode_batches` in the driver, so the plans the engine's
own `extract` and `sniff_decode_table` build ship the shims, and the
worker processes run the same batch functions with the same wrappers.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import time
import uuid
from collections import Counter, defaultdict
from contextlib import contextmanager

# (module, attribute, span name, kind): "call" wraps a plain function
# (one document per call), "gen" an Arrow batch generator function
# whose first argument is an iterator of RecordBatches, "count" only
# counts the values a function returns (no span).
DECODE_LAYERS = [
    ("pdf_io", "parse_pdf", "pdf_io.parse_pdf", "call"),
    ("html_io", "parse_html", "html_io.parse_html", "call"),
    ("binary_io", "decode_batches", "binary_io.decode", "gen"),
]
KERNEL_LAYERS = [
    ("tier1", "tier1_batches", "tier1.tier1_batches", "gen"),
    ("tier2", "tier2_batches", "tier2.tier2_batches", "gen"),
]
FACADE_LAYERS = DECODE_LAYERS + KERNEL_LAYERS + [
    ("ingest", "sniff_decode_doc", "ingest.sniff_decode", "call"),
    ("api", "_run_kernel_one", "api.kernel", "call"),
    ("png", "artifact_png", "png.artifact_png", "call"),
    ("api", "_route_one", "routing.docs", "count"),
]

PKG = "two_tier_document_parser_spark"


def traced_unit(i: int) -> bool:
    """Which timed units a traced run traces: untraced and traced units
    in ABBA order (U T T U U T T U ...), so a warm-up trend across the
    run weighs equally on both sides of the tracing-overhead figure."""
    return i % 4 in (1, 2)


@contextmanager
def swapped(replacements):
    """Set `PKG.<module>.<attr>` to `make(original)` for each (module,
    attr, make) during the block; the originals are restored after."""
    saved = []
    try:
        for mod_name, attr, make in replacements:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, make(fn))
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


class Recorder:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []

    def begin(self, name: str, item=None) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, item])
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid][2] = time.perf_counter()
        self._stack.pop()

    def wrap_call(self, name: str, fn):
        """One span per call; a None result (decoder gave up) is counted
        as `<name>.none`."""
        def traced(*args, **kwargs):
            self.counts[name + ".calls"] += 1
            self.counts[name + ".rows"] += 1
            sid = self.begin(name, self.counts[name + ".calls"])
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(sid)
            if out is None:
                self.counts[name + ".none"] += 1
            return out

        return traced

    def wrap_count(self, name: str, fn):
        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.counts[f"{name}.{out}"] += 1
            return out

        return counted

    def wrap_gen(self, name: str, fn):
        """One span per `next()` of the generator. Pulling its input
        batches is a child span `<name>.input`, so time spent waiting for
        upstream (Spark's Arrow stream, another kernel) is not self time."""
        def pull(batches):
            it = iter(batches)
            while True:
                sid = self.begin(name + ".input")
                try:
                    b = next(it)
                except StopIteration:
                    return
                finally:
                    self.end(sid)
                self.counts[name + ".rows"] += b.num_rows
                if "spans" in b.schema.names:
                    self.counts[name + ".spans_in"] += len(
                        b.column("spans").flatten())
                yield b

        def traced(batches, *args, **kwargs):
            self.counts[name + ".calls"] += 1
            it = iter(fn(pull(batches), *args, **kwargs))
            for batch_no in itertools.count():
                sid = self.begin(name, batch_no)
                try:
                    out = next(it)
                except StopIteration:
                    return
                finally:
                    self.end(sid)
                yield out

        return traced

    @contextmanager
    def patched(self, layers):
        """Replace each layer function with its wrapper for the block."""
        wraps = {"call": self.wrap_call, "gen": self.wrap_gen,
                 "count": self.wrap_count}
        with swapped([(mod_name, attr, functools.partial(wraps[kind], name))
                      for mod_name, attr, name, kind in layers]):
            yield self

    def dump(self) -> dict:
        return {"spans": self.spans, "counts": dict(self.counts)}


def self_times(spans: list[list]) -> dict[str, list[float]]:
    """name -> [total seconds, self seconds, span count].

    A span's self time is its duration minus the part of its interval
    that its direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s[3] >= 0:
            children[s[3]].append((s[1], s[2]))
    out: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0, 0])
    for i, (name, start, end, _parent, _item) in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, start), min(hi, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        agg = out[name]
        agg[0] += end - start
        agg[1] += end - start - covered
        agg[2] += 1
    return dict(out)


# ---------------------------------------------------------------------------
# Spark worker shims (module-level so cloudpickle ships them by reference)
# ---------------------------------------------------------------------------


def xycut_info():
    from two_tier_document_parser_spark import layout

    info = layout._xycut_cached.cache_info()
    return info.hits, info.misses


def _run_traced(dump_dir: str, top: str, fn, batches, layers, on_batch):
    rec = Recorder()
    hits0, misses0 = xycut_info()
    try:
        with rec.patched(layers):
            for out in rec.wrap_gen(top, fn)(batches):
                on_batch(rec, out)
                yield out
    finally:
        hits1, misses1 = xycut_info()
        rec.counts["layout.xycut.hits"] += hits1 - hits0
        rec.counts["layout.xycut.misses"] += misses1 - misses0
        os.makedirs(dump_dir, exist_ok=True)
        path = os.path.join(dump_dir, f"{os.getpid()}-{uuid.uuid4().hex}.json")
        with open(path, "w") as f:
            json.dump(rec.dump(), f)


def _count_tiers(rec: Recorder, batch) -> None:
    for t in batch.column("tier").to_pylist():
        rec.counts["routing.docs." + t] += 1


def _count_quarantined(rec: Recorder, batch) -> None:
    # the decoders' quarantine rows carry doc_class '' (schemas.QUARANTINE_ROW)
    rec.counts["ingest.sniff_decode.none"] += (
        batch.column("doc_class").to_pylist().count(""))


def traced_fused(dump_dir, batches):
    """`pipeline.fused_batches` with its tier kernels traced. Runs in
    the Python workers, where the module attribute is the engine's own."""
    from two_tier_document_parser_spark import pipeline

    return _run_traced(dump_dir, "pipeline.fused_batches",
                       pipeline.fused_batches, batches, KERNEL_LAYERS,
                       _count_tiers)


def traced_sniff(dump_dir, batches):
    """`ingest.sniff_decode_batches` with its per-format decoders traced
    (in the Python workers, like `traced_fused`)."""
    from two_tier_document_parser_spark import ingest

    return _run_traced(dump_dir, "ingest.sniff_decode",
                       ingest.sniff_decode_batches, batches, DECODE_LAYERS,
                       _count_quarantined)


def traced_plan(dump_dir: str):
    """Driver side: within the block, the plans that `pipeline.extract`
    and `ingest.sniff_decode_table` build run `traced_fused` and
    `traced_sniff`, which write their spans under `dump_dir`. Both plan
    builders read these module attributes when they are called."""
    return swapped([
        ("pipeline", "fused_batches",
         lambda _fn: functools.partial(traced_fused, dump_dir)),
        ("ingest", "sniff_decode_batches",
         lambda _fn: functools.partial(traced_sniff, dump_dir)),
    ])


def extend(spans: list[list], more: list[list]) -> None:
    """Append `more` to `spans`, rebasing its parent indexes."""
    base = len(spans)
    spans += [[n, s, e, p + base if p >= 0 else -1, i] for n, s, e, p, i in more]


def load_dumps(dump_dir: str) -> tuple[list[list], Counter]:
    """All worker dumps under `dump_dir` -> (spans, counts)."""
    spans: list[list] = []
    counts: Counter = Counter()
    if not os.path.isdir(dump_dir):
        return spans, counts
    for name in sorted(os.listdir(dump_dir)):
        with open(os.path.join(dump_dir, name)) as f:
            d = json.load(f)
        extend(spans, d["spans"])
        counts.update(d["counts"])
    return spans, counts
