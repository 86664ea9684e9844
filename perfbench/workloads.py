"""Workload definitions: input sizes (the generator's arguments) and the
names the stderr report gives the shared metrics.
Engine-side constants (nlist, nprobe, compaction cycle) live in the
harness, `harness/src/main/scala/graft/perfbench/Main.scala`.

`ask` and `ingest` share the `io/IvfIndex` layer: `ask` probes a built
index, `ingest` appends to, compacts and probes one under a stream.
"""
import json
import os

WORKLOADS = {
    "ask": {
        "sizes": {"docs": 1000, "questions": 20},
        "aliases": {"latency_p50_ms": "ask_p50_ms", "throughput_per_s": "ask_requests_per_s"},
    },
    "ingest": {
        "sizes": {"base": 5000, "batch": 500, "batches": 25, "clusters": 24, "queries": 8},
        "aliases": {"latency_p50_ms": "ingest_batch_p50_ms", "throughput_per_s": "ingest_rows_per_s"},
    },
}


def declared_metrics():
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as f:
        b = json.load(f)
    return {k: {m["name"]: m["unit"] for m in b[k]} for k in ("end_to_end", "per_layer")}
