"""Per-layer metrics of a traced run, from its spans, the Spark event log
grouped by job group, and the storage commits observed.

Times (``_s``) and counts are per workload operation, so the layers of one
operation add up to its latency: per batch for ``ingest.*``, ``registry.*``
and ``storage.bulk.*``; per request for ``crud.*``, ``service.*``,
``storage.point.*``, ``typesys.*`` and ``flatten.*`` (``crud.<kind>_s`` and
``crud.jobs_per_op.<kind>`` per request of that kind); per measured pass
for ``session.load_tables_*`` and ``operators.*``; per run of the class's
queries for ``workload.{light,heavy}.*`` and per run of the query for
``workload.<query>.*``. ``workload.*.plan_s`` is the exception: an extra
probe the untraced run does not make (see ``w_query``). A layer the
workload bypasses reads 0.
"""

from __future__ import annotations

from perfbench import metrics
from perfbench.trace import Span, self_times

CRUD_METHOD = {"get": "get_object", "create": "create_object", "put": "upsert_object",
               "delete": "delete_object"}


def _sum(spans, name) -> float:
    return sum(s.duration for s in spans if s.name == name)


def _count(spans, name) -> int:
    return sum(1 for s in spans if s.name == name)


def _module_self(spans, module) -> float:
    selfs = self_times(spans)
    return sum(selfs[s.id] for s in spans if s.module == module)


def _op_spans(spans, prefix) -> list[Span]:
    return [s for s in spans if s.op is not None and s.op.startswith(prefix)]


def _commits(commits, prefix, payload_bytes) -> tuple[float, float]:
    mine = [c for c in commits if c["op"].startswith(prefix)]
    if not mine:
        return 0.0, 0.0
    return (sum(c["buckets"] for c in mine) / len(mine),
            sum(c["bytes"] for c in mine) / max(payload_bytes, 1))


def store_layers(wl, spans, groups, commits, files_per_table) -> dict[str, float]:
    n_b, n_r = max(len(wl.batch_ms), 1), max(len(wl.ops), 1)
    bulk = _op_spans(spans, "ingest:")
    point = _op_spans(spans, "crud:")
    jobs = sum(v["jobs"] for g, v in groups.items() if g.startswith("ingest:"))
    exp = wl.expected
    out = {
        "session.get_spark_s": _sum(spans, "session.get_spark"),
        "ingest.ingest_batch_s": _sum(bulk, "ingest.ingest_batch") / n_b,
        "ingest.self_s": _module_self(bulk, "ingest") / n_b,
        "ingest.unwrap_envelope_s": _sum(bulk, "ingest.unwrap_envelope") / n_b,
        "ingest.jobs_per_batch": jobs / n_b,
        "ingest.jobs_per_type": jobs / max(sum(s.types for s in wl.stats), 1),
        "ingest.rows_upserted": sum(s.rows_upserted for s in wl.stats),
        "ingest.dead_letters": sum(s.dead_letters for s in wl.stats),
        "ingest.evolved_fields": sum(s.evolved_fields for s in wl.stats),
        # rows the engine stored (read back by the ingest check) per
        # envelope sent; the check compares them with the expectation
        "ingest.useful_ratio": wl.rows_stored / exp.envelopes,
        "registry.get_or_create_s": _sum(bulk, "registry.get_or_create") / n_b,
        "registry.save_s": _sum(bulk, "registry.save") / n_b,
        "registry.save_calls": _count(bulk, "registry.save") / n_b,
        "storage.bulk.upsert_s": _sum(bulk, "storage.upsert") / n_b,
        "storage.bulk.upsert_calls": _count(bulk, "storage.upsert") / n_b,
        "storage.bulk.append_s": _sum(bulk, "storage.append") / n_b,
        "storage.point.upsert_s": _sum(point, "storage.upsert") / n_r,
        "storage.point.upsert_calls": _count(point, "storage.upsert") / n_r,
        "storage.point.lookup_s": _sum(point, "storage.lookup") / n_r,
        "storage.point.delete_by_key_s": _sum(point, "storage.delete_by_key") / n_r,
        "storage.files_per_table": files_per_table,
        "crud.self_s": _module_self(point, "crud") / n_r,
        "service.request_s": _sum(point, "service.request") / n_r,
        "service.self_s": _module_self(point, "service") / n_r,
        "typesys.validate_s": _sum(point, "typesys.validate") / n_r,
        "flatten.flatten_dict_s": _sum(point, "flatten.flatten_dict") / n_r,
    }
    for path, prefix, payload in (("bulk", "ingest:", sum(wl.batch_bytes)),
                                  ("point", "crud:", wl.client.payload_bytes)):
        per_commit, per_byte = _commits(commits, prefix, payload)
        out[f"storage.{path}.buckets_rewritten_per_commit"] = per_commit
        out[f"storage.{path}.bytes_written_per_user_byte"] = per_byte
    requests = {s.id for s in point if s.name == "service.request"}
    for kind, method in CRUD_METHOD.items():
        top = [s for s in point if s.name == f"crud.{method}" and s.parent in requests
               and s.op.endswith(f":{kind}")]
        out[f"crud.{kind}_s"] = sum(s.duration for s in top) / max(len(top), 1)
        n_kind = sum(1 for op in wl.ops if op.kind == kind)
        kind_jobs = sum(v["jobs"] for g, v in groups.items()
                        if g.startswith("crud:") and g.endswith(f":{kind}"))
        out[f"crud.jobs_per_op.{kind}"] = kind_jobs / max(n_kind, 1)
    return out


def query_layers(wl, spans, groups) -> dict[str, float]:
    from perfbench.w_query import HEAVY, LIGHT, REPEATS

    n_passes = max(len(wl.passes), 1)
    measured = _op_spans(spans, "query:")
    out = {
        "session.get_spark_s": _sum(spans, "session.get_spark"),
        "session.load_tables_s": _sum(measured, "session.load_tables") / n_passes,
        "session.load_tables_calls": _count(measured, "session.load_tables") / n_passes,
    }

    def of(names):
        return [s for s in measured if s.op.rsplit(":", 1)[1] in names]

    def group_sum(names, key):
        return sum(v[key] for g, v in groups.items()
                   if g.startswith("query:") and g.rsplit(":", 1)[1] in names)

    # per run of the class, like the class total it explains
    n = n_passes * REPEATS
    for cls, names in (("light", LIGHT), ("heavy", HEAVY)):
        sp = of(names)
        for step in ("build", "plan", "exec"):
            out[f"workload.{cls}.{step}_s"] = _sum(sp, f"workload.{step}") / n
        for key in ("jobs", "shuffle_bytes", "spill_bytes", "gc_ms"):
            out[f"workload.{cls}.{key}"] = group_sum(names, key) / n
    for q in HEAVY:
        sp = of((q,))
        out[f"workload.{q}.build_s"] = _sum(sp, "workload.build") / n
        out[f"workload.{q}.exec_s"] = _sum(sp, "workload.exec") / n
        out[f"workload.{q}.jobs"] = group_sum((q,), "jobs") / n
        out[f"workload.{q}.shuffle_bytes"] = group_sum((q,), "shuffle_bytes") / n
    by_id = {s.id: s for s in measured}
    for m in metrics.OPERATOR_MODULES:
        mod = f"operators.{m}."
        # outermost calls into the module: nested calls it makes to itself
        # are part of the outer call's time
        outer = [s for s in measured if s.name.startswith(mod)
                 and not (s.parent in by_id and by_id[s.parent].name.startswith(mod))]
        out[f"operators.{m}.calls"] = len(outer) / n_passes
        out[f"operators.{m}.build_s"] = sum(s.duration for s in outer) / n_passes
    return out


def module_self_per_op(spans: list[Span], n_ops: int) -> dict[str, float]:
    """Self time per module (per operator module) per operation."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        key = ".".join(s.name.split(".")[:2]) if s.module == "operators" else s.module
        out[key] = out.get(key, 0.0) + selfs[s.id] / n_ops
    return dict(sorted(out.items()))
