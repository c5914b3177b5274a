"""``event_store``: the write path and the object API on one warehouse.

Phase 1, bulk writes: seeded batches of raw JSON ``value`` envelopes (the
Kafka wire shape) go one after another through
``IngestEngine.ingest_batch(batch_id=...)`` into a fresh warehouse. Each
batch carries one hot type and one small tail type, so both the per-type
fixed cost and the per-row Python cost show; new fields appear in early
batches, ids repeat so later MERGEs rewrite rows of a growing table, and
about 1% conflicting records plus 0.5% untyped envelopes take the
dead-letter paths. The final state is checked against the generator's
independent expectation.

Phase 2, point reads and writes: one client sends requests over one
keep-alive HTTP connection to ``service.serve_background`` (a closed
loop), against the hot type's ingested objects. Per block of 30 requests
the mix is fixed at 21 ``get`` and 9 writes (3 create, 4 PUT, 2 delete);
the seed orders them and picks the targets. Every response is checked
against a shadow model kept by the client, including 404 after delete.
PATCH is sent once in set-up, as a probe of a known engine defect.

Both phases go through ``storage.upsert``: a layout change that helps
point writes but costs bulk merges, or the reverse, shows in one run.
"""

from __future__ import annotations

import base64
import http.client
import json
import statistics
import time
from decimal import Decimal, InvalidOperation

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

NOMINAL_BATCH_S = 5.0   # one measured batch on a 4-CPU host
NOMINAL_BLOCK_S = 15.0  # one block of 30 requests on a 4-CPU host
OP_HEADER = "X-Perfbench-Op"


def _write_batch(path: str, batch: list[gen.Envelope]) -> int:
    wire = [env.wire() for env in batch]
    pq.write_table(pa.table({"value": pa.array(wire, pa.binary())}), path)
    return sum(len(w) for w in wire)


def same_object(expected: dict, got: dict) -> bool:
    """``got`` (a stored row or an API response) holds exactly the fields of
    ``expected``: numbers written as floats are stored as DECIMAL and may
    come back as decimals or strings, so they compare as decimals; ``id``
    and ``last_modified`` are the engine's and are ignored."""
    want = {k: v for k, v in gen.flat(expected).items() if k != "id"}
    have = {k: v for k, v in gen.flat(got).items() if k not in ("id", "last_modified")}
    if set(want) != set(have):
        return False
    for k, v in want.items():
        if isinstance(v, float):
            try:
                if Decimal(str(v)) != Decimal(str(have[k])):
                    return False
            except InvalidOperation:
                return False
        elif have[k] != v:
            return False
    return True


class Client:
    """One keep-alive HTTP connection to the object API."""

    def __init__(self, engine):
        from moisturizer_spark.service import serve_background

        self.server = serve_background(engine)
        host, port = self.server.server_address
        self.conn = http.client.HTTPConnection(host, port, timeout=120)
        key = engine.get_user("admin")["api_key"]
        self.auth = "Basic " + base64.b64encode(f"admin:{key}".encode()).decode()
        self.payload_bytes = 0

    def request(self, op: gen.CrudOp, op_id: str):
        base = f"/types/{gen.HOT_TYPE}/objects"
        method, path = {
            "get": ("GET", f"{base}/{op.target}"),
            "create": ("POST", base),
            "put": ("PUT", f"{base}/{op.target}"),
            "patch": ("PATCH", f"{base}/{op.target}"),
            "delete": ("DELETE", f"{base}/{op.target}"),
        }[op.kind]
        headers = {"Authorization": self.auth, OP_HEADER: op_id}
        data = None
        if op.body is not None:
            data = json.dumps(op.body).encode()
            headers["Content-Type"] = "application/json"
            self.payload_bytes += len(data)
        self.conn.request(method, path, body=data, headers=headers)
        resp = self.conn.getresponse()
        return resp.status, json.loads(resp.read() or b"null")

    def close(self) -> None:
        self.conn.close()
        self.server.shutdown()
        self.server.server_close()


class Shadow:
    """The client's model of the hot type's objects; :meth:`apply` returns
    True when a response is what the model predicts."""

    def __init__(self, objects: dict[str, dict]):
        self.objects = dict(objects)

    def apply(self, op: gen.CrudOp, status, got) -> bool:
        if op.kind == "get":
            if op.target not in self.objects:
                return status == 404
            return status == 200 and same_object(self.objects[op.target], got)
        if status != 200 or not isinstance(got, dict):
            return False
        if op.kind == "create":
            if not got.get("id") or got["id"] in self.objects:
                return False
            self.objects[got["id"]] = op.body
            return same_object(op.body, got)
        if op.kind == "put":
            self.objects[op.target] = op.body
            return got.get("id") == op.target and same_object(op.body, got)
        if op.kind == "patch":
            self.objects[op.target] = gen.merge_patch(self.objects[op.target], op.body)
            return got.get("id") == op.target and same_object(self.objects[op.target], got)
        before = self.objects.pop(op.target)
        return got.get("id") == op.target and same_object(before, got)


class EventStore:
    name = "event_store"

    def __init__(self, spark, dirs, seed: int, seconds: int, tracer=None):
        self.spark, self.dirs, self.seed, self.tracer = spark, dirs, seed, tracer
        # a third of the run length for batches, a third for requests; the
        # rest goes to the checks between and after them
        self.n_batches = max(2, round(seconds / 3 / NOMINAL_BATCH_S))
        self.n_blocks = max(1, round(seconds / 3 / NOMINAL_BLOCK_S))
        self.batch_ms: list[float] = []
        self.by_kind: dict[str, list[float]] = {}
        self.failed = 0
        self.checks = 0
        self.failures: list[str] = []

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    # -- set-up ---------------------------------------------------------------
    def setup(self) -> None:
        from moisturizer_spark.crud import Engine
        from moisturizer_spark.ingest import IngestEngine
        from moisturizer_spark.registry import Registry

        self.batches = gen.ingest_batches(self.seed, self.n_batches)
        self.paths, self.batch_bytes = [], []
        for i, batch in enumerate(self.batches):
            path = self.dirs.path("data", f"batch{i:03d}.parquet")
            self.batch_bytes.append(_write_batch(path, batch))
            self.paths.append(path)
        self.expected = gen.expected_after(self.batches)
        hot_ids = self.expected.rows[gen.HOT_TYPE]
        self.ops = gen.crud_ops(self.seed, hot_ids, self.n_blocks)

        # fixed warm-up on a throwaway warehouse: one small batch of the hot
        # type (with its dead letters), then one request per storage path, so
        # the measured phase does not pay for JIT, codegen and Python-worker
        # start
        warm_batch = gen.ingest_batches(self.seed + 1_000_003, 1, hot_rows=300, tail_rows=0)[0]
        warm_wh = self.dirs.path("warm-warehouse")
        path = self.dirs.path("data", "warm.parquet")
        _write_batch(path, warm_batch)
        IngestEngine(Registry(self.spark, warm_wh)).ingest_batch(
            self.spark.read.parquet(path), batch_id=0)
        warm_rows = gen.expected_after([warm_batch]).rows[gen.HOT_TYPE]
        client = Client(Engine(self.spark, warm_wh))
        shadow = Shadow(warm_rows)
        for i, op in enumerate(gen.crud_ops(self.seed + 1, warm_rows, 1, gen.WARMUP, False)):
            status, got = client.request(op, f"warm:{i}:{op.kind}")
            self._expect(shadow.apply(op, status, got),
                         f"warm-up {op.kind} {op.target}: {status} {str(got)[:200]}")
        # the PATCH probe: reported in the context line, not counted as an
        # operation, while the engine rejects it (README, "Known engine defect")
        op = gen.crud_ops(self.seed + 2, shadow.objects, 1, gen.PROBE)[0]
        status, got = client.request(op, "probe:patch")
        self.patch_probe = {"status": status, "ok": shadow.apply(op, status, got)}
        client.close()

        self.registry = Registry(self.spark, self.dirs.path("warehouse"))
        self.ingest = IngestEngine(self.registry)
        self.stats = []

    # -- measured phase -----------------------------------------------------------
    def run(self, on_op) -> None:
        from moisturizer_spark.crud import Engine

        for i, path in enumerate(self.paths):
            on_op(f"ingest:b{i}")
            t0 = time.perf_counter()
            try:
                self.stats.append(
                    self.ingest.ingest_batch(self.spark.read.parquet(path), batch_id=i))
            except Exception as exc:  # a failed batch is a failed operation
                self._fail(f"batch {i}: {type(exc).__name__}: {exc}")
            self.batch_ms.append((time.perf_counter() - t0) * 1000)
        on_op(None)
        self.check_ingest()

        self.client = Client(Engine(self.spark, self.dirs.path("warehouse")))
        self.shadow = Shadow(self.expected.rows[gen.HOT_TYPE])
        for i, op in enumerate(self.ops):
            t0 = time.perf_counter()
            try:
                status, got = self.client.request(op, f"crud:{i}:{op.kind}")
            except (OSError, http.client.HTTPException, ValueError) as exc:
                status, got = None, str(exc)
            ms = (time.perf_counter() - t0) * 1000
            self.by_kind.setdefault(op.kind, []).append(ms)
            if not self.shadow.apply(op, status, got):
                self._fail(f"request {i} {op.kind} {op.target}: {status} {str(got)[:200]}")

    # -- correctness -----------------------------------------------------------
    def _expect(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self._fail(what)

    def check_ingest(self) -> None:
        """Warehouse state after the batches against the generator's
        expectation: every stored row holds its last-written values (last
        write wins), plus dead letters, descriptors and reported stats."""
        exp = self.expected
        self.rows_stored = 0
        for type_id, ids in exp.rows.items():
            rows = {r["id"]: r.asDict() for r in self.registry.table(type_id).read().collect()}
            self.rows_stored += len(rows)
            self._expect(rows.keys() == ids.keys(), f"{type_id} stored ids")
            wrong = [oid for oid in ids if oid in rows and not same_object(ids[oid], rows[oid])]
            self._expect(not wrong, f"{type_id} last-written values differ for {wrong[:5]}")
            self._expect(set(self.registry.get(type_id).properties) == exp.fields[type_id],
                         f"{type_id} descriptor fields")
        self._expect(self.rows_stored == sum(exp.row_counts().values()),
                     f"{self.rows_stored} rows stored, expected {sum(exp.row_counts().values())}")
        self._expect(self.ingest.dead_letters().count() == exp.dead_letters,
                     "dead-letter count")
        for key in ("dead_letters", "rows_upserted", "evolved_fields"):
            self._expect(sum(getattr(s, key) for s in self.stats) == getattr(exp, key),
                         f"{key} reported")

    def check(self) -> None:
        """After the requests: the hot table holds exactly the shadow's objects."""
        n = self.registry.table(gen.HOT_TYPE).read().count()
        self._expect(n == len(self.shadow.objects),
                     f"hot table holds {n} objects, shadow {len(self.shadow.objects)}")

    def close(self) -> None:
        self.client.close()

    # -- results ---------------------------------------------------------------
    @property
    def attempted(self) -> int:
        return len(self.batch_ms) + len(self.ops) + self.checks

    @property
    def light_ms(self) -> list[float]:
        return self.by_kind.get("get", [])

    @property
    def heavy_ms(self) -> list[float]:
        return [ms for k, v in self.by_kind.items() if k != "get" for ms in v]

    def throughput(self) -> float:
        """Envelopes accepted (stored or dead-lettered) per second of ingest."""
        return self.expected.envelopes / (sum(self.batch_ms) / 1000)

    def context(self) -> dict:
        exp = self.expected
        return {
            "batches": len(self.batch_ms), "envelopes": exp.envelopes,
            "ingest_batch_p50_ms": statistics.median(self.batch_ms),
            "rows_stored": self.rows_stored,
            "dead_letters": exp.dead_letters,
            "requests": len(self.ops),
            "patch_probe": self.patch_probe,
            "p50_ms_by_kind": {k: statistics.median(v) for k, v in sorted(self.by_kind.items())},
        }
