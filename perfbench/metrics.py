"""The benchmark's workloads and metrics: the one place they are defined.
``BENCHMARK.json`` is written from here (``run.py --write-benchmark-json``).

End-to-end metrics are defined on every workload, each through the
workload's own operations:

================  ============================  ============================
metric            event_store                   query_mix
================  ============================  ============================
throughput_per_s  envelopes ingested / s        queries / s
light_ms          median ``get`` request        light-class total, each
                                                query's best of two runs
heavy_ms          median write request          heavy-class total, each
                  (create, PUT, delete)         query's best of two runs
peak_pss_mb       peak proportional set size of the driver, the gateway JVM
                  and the Python workers, set-up and measured phase
================  ============================  ============================
"""

from __future__ import annotations

import json

WORKLOADS = [
    ("event_store",
     "write path then object API on one warehouse: evolving envelope batches through "
     "ingest and bulk MERGE, then HTTP gets and point writes; bypasses workload/operators"),
    ("query_mix",
     "analytics: heavy graph/Python-worker queries plus light fixed-cost queries "
     "through session, workload and operators; bypasses ingest, storage and crud"),
]

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("light_ms", "ms", "lower", 0.25),
    ("heavy_ms", "ms", "lower", 0.25),
    ("peak_pss_mb", "MB", "lower", 0.25),
]

_HEAVY_QUERIES = ("trade_pagerank_det", "user_copresence_triangles", "videos_near_dup_det")
OPERATOR_MODULES = ("common", "dedup", "frequent", "graph", "multimodal", "textan")
CRUD_KINDS = ("get", "create", "put", "delete")


def _per_layer() -> list[tuple[str, str, str]]:
    s, c, b, ms = "s", "count", "bytes", "ms"
    out = [
        ("session.get_spark_s", s), ("session.load_tables_s", s),
        ("session.load_tables_calls", c),
    ]
    for cls in ("light", "heavy"):
        out += [(f"workload.{cls}.build_s", s), (f"workload.{cls}.plan_s", s),
                (f"workload.{cls}.exec_s", s), (f"workload.{cls}.jobs", c),
                (f"workload.{cls}.shuffle_bytes", b), (f"workload.{cls}.spill_bytes", b),
                (f"workload.{cls}.gc_ms", ms)]
    for q in _HEAVY_QUERIES:
        out += [(f"workload.{q}.build_s", s), (f"workload.{q}.exec_s", s),
                (f"workload.{q}.jobs", c), (f"workload.{q}.shuffle_bytes", b)]
    for m in OPERATOR_MODULES:
        out += [(f"operators.{m}.calls", c), (f"operators.{m}.build_s", s)]
    out += [
        ("ingest.ingest_batch_s", s), ("ingest.self_s", s), ("ingest.unwrap_envelope_s", s),
        ("ingest.jobs_per_batch", c), ("ingest.jobs_per_type", c),
        ("ingest.rows_upserted", c), ("ingest.dead_letters", c),
        ("ingest.evolved_fields", c), ("ingest.useful_ratio", "ratio"),
        ("registry.get_or_create_s", s), ("registry.save_s", s), ("registry.save_calls", c),
    ]
    for path in ("bulk", "point"):
        out += [(f"storage.{path}.upsert_s", s), (f"storage.{path}.upsert_calls", c),
                (f"storage.{path}.buckets_rewritten_per_commit", c),
                (f"storage.{path}.bytes_written_per_user_byte", "ratio")]
    out += [("storage.bulk.append_s", s), ("storage.point.lookup_s", s),
            ("storage.point.delete_by_key_s", s), ("storage.files_per_table", c)]
    out += [(f"crud.{k}_s", s) for k in CRUD_KINDS]
    out += [("crud.self_s", s)]
    out += [(f"crud.jobs_per_op.{k}", c) for k in CRUD_KINDS]
    out += [("service.request_s", s), ("service.self_s", s),
            ("typesys.validate_s", s), ("flatten.flatten_dict_s", s)]
    # a shorter time, fewer jobs, bytes or calls is better; more stored
    # rows per envelope is better
    higher = {"ingest.useful_ratio"}
    return [(n, u, "higher" if n in higher else "lower") for n, u in out]


PER_LAYER = _per_layer()


def benchmark_json(run_seconds: int) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


def write_benchmark_json(path: str, run_seconds: int) -> None:
    with open(path, "w") as fh:
        json.dump(benchmark_json(run_seconds), fh, indent=2)
        fh.write("\n")
