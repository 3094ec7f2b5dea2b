"""Per-layer numbers of the traced run.

A traced op records one span per layer action (`workloads.py`). Some
actions only force a prefix of the pipeline (a `noop` write), so a layer
is a signed sum of spans: geocode is the geocoded prefix minus the
scanned prefix, the sink is the real parquet write minus the joined
prefix plus the invariant and joined-output actions, and so on. The same
sums apply to every additive quantity recorded per span (wall time,
Spark task time, shuffle bytes, ...). Spans whose coefficients cancel
(the forcing writes) are tracing cost; the op's wall time not covered by
any span is reported as `other.s`.
"""

from __future__ import annotations

import json
import os
import statistics

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

# layer: (its wall-time metric, the signed sum of spans that is the layer)
LAYER_SPANS: dict[str, tuple[str, dict[str, int]]] = {
    # sources.pages + geocode + spatial_join + sink + lineage (snapshot ops)
    "scan": ("pages.scan_s", {"force.scan": 1}),
    "geocode": ("geocode.s", {"force.geocode": 1, "force.scan": -1}),
    "join": ("join.s", {"force.join": 1, "force.geocode": -1}),
    "sink": (
        "sink.s",
        {
            "sink.assign": 1,
            "force.join": -1,
            "sink.invariant_in": 1,
            "sink.joined": 1,
            "sink.invariant_out": 1,
        },
    ),
    "lineage": ("lineage.s", {"lineage": 1}),
    # append cycle
    "commit": ("pages.commit_s", {"pages.commit": 1}),
    "delta": ("pages.delta_s", {"pages.delta": 1}),
    "increment": ("increment.s", {"increment": 1}),
    "tiles_count": ("tiles.count_s", {"tiles.count": 1}),
    "tiles_merge": ("tiles.merge_s", {"tiles.merge": 1, "tiles.count": -1}),
    # Part A
    "lint": ("lint.s", {"lint": 1}),
    "zone_build": ("zone_build.s", {"zone_build": 1}),
    "validate": ("validate.s", {"validate": 1}),
    "oceans": ("oceans.s", {"oceans": 1}),
    "outputs": ("outputs.s", {"outputs": 1}),
}

# Spark's task numbers of the `tiles` layer are those of the merge write
# alone: it recomputes the counts the `tiles.count` action forced
SPARK_SPANS = {"tiles": {"tiles.merge": 1}}
SPARK_FIELDS = ("tasks", "task_s", "gc_s", "shuffle_bytes", "spill_bytes")


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, as BENCHMARK.json lists them."""
    with open(BENCHMARK) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def spark_layers() -> dict[str, dict[str, int]]:
    """The layers BENCHMARK.json reports Spark's task numbers for (those
    with a `<layer>.tasks` metric), each with its signed sum of spans."""
    names = [n for n, _ in per_layer_metrics() if n.endswith(".tasks")]
    layers = [n[: -len(".tasks")] for n in names]
    return {layer: SPARK_SPANS.get(layer) or LAYER_SPANS[layer][1] for layer in layers}


def _combine(coeffs: dict[str, int], values: dict) -> float | None:
    """The signed sum, or None when a span of it did not run or its value
    is unknown."""
    total = 0.0
    for span, c in coeffs.items():
        if values.get(span) is None:
            return None
        total += c * values[span]
    return total


def per_layer(wl, tracer, layers, untraced: list, traced: list) -> dict[str, float | None]:
    """Median over the traced ops (and append cycles) in which a layer ran
    of its wall time and Spark numbers; `other.s` and the tracing
    overhead come from the full-snapshot or build ops. A value that could
    not be read is None, and the median of a layer with one is None."""
    walls = dict(traced)
    op_ids = list(walls) + sorted(
        {s["op"] for s in tracer.spans if str(s["op"]).startswith("cycle-")}
    )
    cores = layers.metrics.cores
    spark_spans = spark_layers()
    rows: dict[str, list] = {}
    for k in op_ids:
        d = tracer.self_times(k)
        spark = layers.spark_by_op.get(k, {})

        def field(coeffs, f, *, node=False):
            """A Spark number of a layer. SQL node metrics (`node`) are only
            recorded by actions whose plan held the node; the layer needs
            it in one of its positive spans, the others count as 0."""
            if node and not any(f in spark.get(s, {}) for s, c in coeffs.items() if c > 0):
                return None
            return _combine(coeffs, {s: v.get(f, 0.0 if node else None) for s, v in spark.items()})

        for name, coeffs in LAYER_SPANS.values():
            if any(s in d for s in coeffs):
                rows.setdefault(name, []).append(_combine(coeffs, d))
        for layer, coeffs in spark_spans.items():
            if not any(s in d for s in coeffs):
                continue
            for f in SPARK_FIELDS:
                rows.setdefault(f"{layer}.{f}", []).append(field(coeffs, f))
            wall, task_s = _combine(coeffs, d), field(coeffs, "task_s")
            busy = None if wall is None or task_s is None else task_s / (wall * cores)
            rows.setdefault(f"{layer}.busy_frac", []).append(busy)
        if k in walls:
            rows.setdefault("other.s", []).append(walls[k] - sum(d.values()))
        if "force.join" in d:
            join, scan = LAYER_SPANS["join"][1], LAYER_SPANS["scan"][1]
            rows.setdefault("join.python_s", []).append(field(join, "python_s", node=True))
            n_rows = field(join, "arrow_rows", node=True)
            n_bytes = field(join, "arrow_bytes", node=True)
            rows.setdefault("join.arrow_bytes_per_row", []).append(
                None if not n_rows or n_bytes is None else n_bytes / n_rows
            )
            rows.setdefault("pages.scan_bytes", []).append(field(scan, "scan_bytes", node=True))
    out = {
        name: None if None in v else statistics.median(v) for name, v in rows.items()
    }
    out["trace.overhead_s"] = statistics.median(walls.values()) - statistics.median(
        w for _, w in untraced
    )
    setup = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "cover.build"]
    if setup:
        out["cover.build_s"] = statistics.median(setup)
    if out.get("geocode.s") and hasattr(wl, "text_bytes"):
        out["geocode.ns_per_byte"] = out["geocode.s"] / wl.text_bytes() * 1e9
    return out
