"""Turn a run's raw timings into the reported metrics."""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _per_layer_units():
    """Per-layer metric name -> unit, as BENCHMARK.json lists them."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def percentile(values, q, weights=None):
    """Nearest-rank percentile; with weights, of the expanded sample."""
    if weights is None:
        weights = [1] * len(values)
    pairs = sorted(zip(values, weights))
    total = sum(weights)
    rank = max(1, -(-q * total // 100))  # ceil(q/100 * total)
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= rank:
            return v
    return pairs[-1][0]


def m(value, unit):
    return {"value": value, "unit": unit}


def visible(raw, layer, q):
    """Row-weighted percentile of a layer's live visibility, ms."""
    live = raw["live"]["latency"][layer]
    return percentile([float(ms) for _, ms in live], q, [r for r, _ in live])


def end_to_end(raw):
    b = raw["catch_up"]
    return {"ingest_rows_per_s": m(b["rows"] / b["seconds"], "rows/s"),
            "silver_visible_ms_p50": m(visible(raw, "silver", 50), "ms"),
            "setup_s": m(raw["setup_s"], "s")}


def per_layer(raw):
    # A layer the workload does not run reports 0 for every metric.
    t = dict(raw["trace"])
    t["gold5m.visible_ms_p50"] = visible(raw, "gold5m", 50)
    t["gold5m.visible_ms_p90"] = visible(raw, "gold5m", 90)
    return {name: m(float(t.get(name, 0.0)), unit) for name, unit in _per_layer_units().items()}
