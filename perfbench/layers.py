"""Per-layer metrics of a traced run, from spans, counters and Spark's
SQL plan metrics. Every traced run reports every metric; a layer the
workload never calls reads 0."""

from __future__ import annotations

import statistics

from perfbench.trace import self_times

PER_LAYER = [
    ("pdf_io.parse_pdf.ms_per_doc", "ms"),
    ("pdf_io.parse_pdf.calls", "count"),
    ("html_io.parse_html.ms_per_doc", "ms"),
    ("html_io.parse_html.calls", "count"),
    ("binary_io.decode.ms_per_doc", "ms"),
    ("binary_io.decode.calls", "count"),
    ("ingest.sniff_decode.self_ms_per_doc", "ms"),
    ("ingest.quarantined_frac", "fraction"),
    ("pipeline.fused_batches.self_ms_per_doc", "ms"),
    ("tier1.tier1_batches.ms_per_doc", "ms"),
    ("tier1.us_per_span", "us"),
    ("tier2.tier2_batches.ms_per_doc", "ms"),
    ("tier2.us_per_span", "us"),
    ("routing.docs.fast", "count"),
    ("routing.docs.deep", "count"),
    ("routing.docs.error", "count"),
    ("layout.xycut_cache.hit_frac", "fraction"),
    ("layout.xycut_cache.lookups", "count"),
    ("api.parse_bytes.self_ms", "ms"),
    ("png.artifact_png.ms_per_req", "ms"),
    ("png.artifact_png.calls", "count"),
    ("spark.python_boot_ms", "ms"),
    ("spark.python_init_ms", "ms"),
    ("spark.python_init_ms_per_pass", "ms"),
    ("spark.python_total_ms", "ms"),
    ("spark.arrow_mb_sent", "MB"),
    ("spark.arrow_mb_received", "MB"),
    ("spark.scan_ms", "ms"),
    ("spark.write_ms", "ms"),
    ("spark.framework_ms_per_doc", "ms"),
    ("trace.docs_per_s_traced", "1/s"),
    ("trace.docs_per_s_untraced", "1/s"),
    ("trace.overhead_docs_per_s", "1/s"),
]

# top-level spans: the kernel time a Spark worker spends per pass
KERNEL_TOPS = ("pipeline.fused_batches", "ingest.sniff_decode")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def kernel_seconds(spans: list[list]) -> float:
    """Worker time inside the top-level kernels, input waits excluded."""
    tops = {i for i, s in enumerate(spans) if s[3] < 0 and s[0] in KERNEL_TOPS}
    busy = sum(spans[i][2] - spans[i][1] for i in tops)
    waits = sum(s[2] - s[1] for s in spans
                if s[3] in tops and s[0].endswith(".input"))
    return busy - waits


def span_metrics(spans: list[list], counts, requests: int = 0) -> dict:
    """Layer metrics from the spans and counters of the traced work.
    `requests` is the number of facade requests (0 for batch runs)."""
    st = self_times(spans)

    def total_ms(name):
        return st.get(name, [0.0, 0.0, 0])[0] * 1e3

    def self_ms(name):
        return st.get(name, [0.0, 0.0, 0])[1] * 1e3

    def rows(name):
        return counts.get(name + ".rows", 0)

    out = {}
    for name in ("pdf_io.parse_pdf", "html_io.parse_html", "binary_io.decode"):
        out[name + ".ms_per_doc"] = _ratio(total_ms(name), rows(name))
        out[name + ".calls"] = counts.get(name + ".calls", 0)
    sniff = "ingest.sniff_decode"
    out[sniff + ".self_ms_per_doc"] = _ratio(self_ms(sniff), rows(sniff))
    out["ingest.quarantined_frac"] = _ratio(counts.get(sniff + ".none", 0),
                                            rows(sniff))
    fused = "pipeline.fused_batches"
    out[fused + ".self_ms_per_doc"] = _ratio(self_ms(fused), rows(fused))
    for tier in ("tier1", "tier2"):
        name = f"{tier}.{tier}_batches"
        out[name + ".ms_per_doc"] = _ratio(total_ms(name), rows(name))
        out[tier + ".us_per_span"] = _ratio(total_ms(name) * 1e3,
                                            counts.get(name + ".spans_in", 0))
    # the facade quarantines undecodable payloads before routing; count
    # them as error documents, as the batch cascade's output does
    facade_quarantined = counts.get(sniff + ".none", 0) if requests else 0
    for t in ("fast", "deep", "error"):
        out["routing.docs." + t] = counts.get("routing.docs." + t, 0) + (
            facade_quarantined if t == "error" else 0)
    hits = counts.get("layout.xycut.hits", 0)
    lookups = hits + counts.get("layout.xycut.misses", 0)
    out["layout.xycut_cache.hit_frac"] = _ratio(hits, lookups)
    out["layout.xycut_cache.lookups"] = lookups
    out["api.parse_bytes.self_ms"] = _ratio(self_ms("api.parse_bytes"), requests)
    out["png.artifact_png.ms_per_req"] = _ratio(total_ms("png.artifact_png"),
                                               requests)
    out["png.artifact_png.calls"] = counts.get("png.artifact_png.calls", 0)
    return out


def spark_metrics(warmup: dict, untraced: list[dict], traced: list[dict],
                  slots: int) -> dict:
    """Spark-layer metrics. `warmup` holds the warm-up pass's SQL
    metrics; `untraced`/`traced` one dict per timed pass with its SQL
    metrics, `wall_s`, `docs` and (traced) `kernel_s`. SQL metrics are
    medians over the untraced passes; the framework share is the traced
    passes' core time per document minus their kernel time."""
    def med(key, scale=1.0):
        vals = [p["sql"].get(key, 0.0) * scale for p in untraced]
        return statistics.median(vals) if vals else 0.0

    framework = [
        (p["wall_s"] * slots - p["kernel_s"]) / p["docs"] * 1e3 for p in traced
    ]
    return {
        "spark.python_boot_ms": warmup.get("python_boot_ms", 0.0),
        "spark.python_init_ms": warmup.get("python_init_ms", 0.0),
        "spark.python_init_ms_per_pass": med("python_init_ms"),
        "spark.python_total_ms": med("python_total_ms"),
        "spark.arrow_mb_sent": med("arrow_bytes_sent", 1e-6),
        "spark.arrow_mb_received": med("arrow_bytes_received", 1e-6),
        "spark.scan_ms": med("scan_ms"),
        "spark.write_ms": med("write_ms"),
        "spark.framework_ms_per_doc": (statistics.median(framework)
                                       if framework else 0.0),
    }


def trace_overhead(untraced_rates: list[float], traced_rates: list[float]) -> dict:
    u = statistics.median(untraced_rates)
    t = statistics.median(traced_rates)
    return {"trace.docs_per_s_traced": t, "trace.docs_per_s_untraced": u,
            "trace.overhead_docs_per_s": t - u}


def complete(values: dict) -> dict:
    """Every PER_LAYER metric, 0 where the workload has no such layer."""
    return {name: {"value": values.get(name, 0), "unit": unit}
            for name, unit in PER_LAYER}
