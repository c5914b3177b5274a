"""Seeded inputs for the ``event_store`` workload.

Everything here is plain Python with no Spark import: the same seed gives
the same envelopes and the same request sequence, and the expected state
each produces is computed here, independently of the engine, so the
benchmark can check the engine's outputs against it.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

# -- envelope batches ---------------------------------------------------------

HOT_TYPE = "evt_hot"
TAIL_TYPES = ("evt_tail_a", "evt_tail_b", "evt_tail_c")
HOT_ROWS = 2400          # envelopes of the hot type per batch
TAIL_ROWS = 120          # envelopes of the one tail type per batch
HOT_IDS = 6000           # id space: later batches overwrite earlier rows
TAIL_IDS = 400
CONFLICT_RATE = 0.01     # records whose field type conflicts with the schema
NO_TYPE_RATE = 0.005     # envelopes without a type_id
# field -> first batch that carries it (schema evolution in early batches)
HOT_EVOLUTION = {"ref": 1, "score": 2, "meta__src": 3}
TAIL_EVOLUTION_FIELD = "extra"   # appears from a tail type's 2nd batch on
KINDS = ("view", "click", "buy", "refund", "share")


@dataclass
class Envelope:
    type_id: str | None
    data: dict
    valid: bool  # False: conflicting field type, must dead-letter

    def wire(self) -> bytes:
        env = {"data": self.data}
        if self.type_id is not None:
            env["type_id"] = self.type_id
        return json.dumps(env, sort_keys=True).encode()


def _hot_record(rng: random.Random, batch: int) -> dict:
    rec = {
        "id": f"h{rng.randrange(HOT_IDS)}",
        "user": rng.randrange(100_000),
        "amount": round(rng.uniform(0.5, 900.0), 2),
        "kind": rng.choice(KINDS),
        "ok": rng.random() < 0.9,
        "geo": {"lat": round(rng.uniform(-80, 80), 4), "lon": round(rng.uniform(-170, 170), 4)},
        "qty": rng.randrange(1, 50),
    }
    if batch >= HOT_EVOLUTION["ref"] and rng.random() < 0.5:
        rec["ref"] = f"r{rng.randrange(10_000)}"
    if batch >= HOT_EVOLUTION["score"] and rng.random() < 0.5:
        rec["score"] = rng.randrange(1000)
    if batch >= HOT_EVOLUTION["meta__src"] and rng.random() < 0.5:
        rec["meta"] = {"src": rng.choice(("web", "app", "api"))}
    return rec


def _tail_record(rng: random.Random, type_id: str, appearance: int) -> dict:
    rec = {
        "id": f"{type_id[-1]}{rng.randrange(TAIL_IDS)}",
        "qty": rng.randrange(1_000),
        "label": rng.choice(KINDS),
    }
    if appearance >= 1 and rng.random() < 0.6:
        rec[TAIL_EVOLUTION_FIELD] = round(rng.uniform(0, 1), 3)
    return rec


def ingest_batches(seed: int, n_batches: int, hot_rows: int = HOT_ROWS,
                   tail_rows: int = TAIL_ROWS) -> list[list[Envelope]]:
    """``n_batches`` envelope batches: each has the hot type plus one tail
    type (rotating), about 1% conflicting records and 0.5% envelopes
    without a ``type_id``, in a seeded arrival order."""
    rng = random.Random(seed)
    batches = []
    for b in range(n_batches):
        tail = TAIL_TYPES[b % len(TAIL_TYPES)]
        appearance = b // len(TAIL_TYPES)
        envs = [Envelope(HOT_TYPE, _hot_record(rng, b), True) for _ in range(hot_rows)]
        envs += [Envelope(tail, _tail_record(rng, tail, appearance), True)
                 for _ in range(tail_rows)]
        rng.shuffle(envs)
        for env in envs:
            r = rng.random()
            if r < CONFLICT_RATE:
                # an integer field re-sent as a string: SchemaConflict. "integer"
                # sorts before "string", so even in the field's first batch the
                # integer type wins and this record is the one rejected.
                env.data["qty"] = f"n/a-{rng.randrange(100)}"
                env.valid = False
            elif r < CONFLICT_RATE + NO_TYPE_RATE:
                env.type_id = None
        batches.append(envs)
    return batches


def flat(obj: dict, prefix: str = "") -> dict:
    """The stored columns of a payload: nested objects become
    ``parent__child`` columns and null leaves are dropped. Kept apart from
    the engine's ``flatten_dict`` so the checks do not use the code they
    check."""
    out = {}
    for k, v in obj.items():
        if isinstance(v, dict):
            out.update(flat(v, f"{prefix}{k}__"))
        elif v is not None:
            out[f"{prefix}{k}"] = v
    return out


@dataclass
class IngestExpectation:
    """What the warehouse must hold after a prefix of the batches."""

    rows: dict[str, dict[str, dict]] = field(default_factory=dict)  # type -> id -> record
    fields: dict[str, set[str]] = field(default_factory=dict)       # type -> descriptor fields
    dead_letters: int = 0
    evolved_fields: int = 0
    envelopes: int = 0
    rows_upserted: int = 0

    def apply(self, batch: list[Envelope]) -> None:
        """Last-write-wins in arrival order; a later batch overwrites the
        whole row. Invalid records and untyped envelopes dead-letter."""
        self.envelopes += len(batch)
        for env in batch:
            if env.type_id is None:
                self.dead_letters += 1
                continue
            known = self.fields.setdefault(env.type_id, {"id", "last_modified"})
            new = flat(env.data).keys() - known
            self.evolved_fields += len(new)
            known |= new
            if not env.valid:
                self.dead_letters += 1
                continue
            self.rows.setdefault(env.type_id, {})[env.data["id"]] = env.data
            self.rows_upserted += 1

    def row_counts(self) -> dict[str, int]:
        return {t: len(ids) for t, ids in self.rows.items()}


def expected_after(batches: list[list[Envelope]]) -> IngestExpectation:
    exp = IngestExpectation()
    for batch in batches:
        exp.apply(batch)
    return exp


# -- object API requests -----------------------------------------------------

# Every block of 30 requests has this fixed composition, 70% gets (the seed
# only orders them and picks targets), so any whole number of blocks has
# the same read/write mix whatever the seed. PATCH is not in it: the engine
# rejects every PATCH of an object with a number field (README, "Known
# engine defect"), so it is sent once per run as a probe, outside the mix.
BLOCK = ("get",) * 21 + ("create",) * 3 + ("put",) * 4 + ("delete",) * 2
WARMUP = ("get", "put", "delete")  # one request per storage path: lookup, upsert, delete
PROBE = ("patch",)


@dataclass
class CrudOp:
    kind: str            # get | create | put | patch | delete
    target: str | None   # object id (None for create)
    body: dict | None


def crud_object(rng: random.Random) -> dict:
    """A request body of the hot type, every evolved field included."""
    rec = _hot_record(rng, max(HOT_EVOLUTION.values()))
    del rec["id"]
    return rec


def crud_ops(seed: int, live_ids, n_blocks: int, block=BLOCK,
             shuffle: bool = True) -> list[CrudOp]:
    """A seeded request sequence against objects ``live_ids`` of the hot
    type: ``n_blocks`` copies of ``block``, each shuffled. Targets come from
    a model of which ids exist, so the sequence is valid when run in order:
    gets hit live ids, and one get in ten hits a deleted id (404). Created
    objects get server-side ids, so later requests never target them; PUT
    targets live ids or fresh ``p<n>`` ids."""
    rng = random.Random(seed)
    live = sorted(live_ids)
    deleted: list[str] = []
    n_put_new = 0

    def op(kind: str) -> CrudOp:
        nonlocal n_put_new
        if kind == "get":
            if deleted and rng.random() < 0.1:
                return CrudOp("get", rng.choice(deleted), None)
            return CrudOp("get", rng.choice(live), None)
        if kind == "create":
            return CrudOp("create", None, crud_object(rng))
        if kind == "put":
            if rng.random() < 0.5:
                return CrudOp("put", rng.choice(live), crud_object(rng))
            target = f"p{n_put_new}"
            n_put_new += 1
            live.append(target)
            return CrudOp("put", target, crud_object(rng))
        if kind == "patch":
            body = {"qty": rng.randrange(1, 50), "kind": rng.choice(KINDS)}
            return CrudOp("patch", rng.choice(live), body)
        target = live.pop(rng.randrange(len(live)))
        deleted.append(target)
        return CrudOp("delete", target, None)

    ops = []
    for _ in range(n_blocks):
        kinds = list(block)
        if shuffle:
            rng.shuffle(kinds)
        ops.extend(op(k) for k in kinds)
    return ops


def merge_patch(current: dict, partial: dict) -> dict:
    """PATCH semantics: provided (flattened) fields replace, others stay."""
    out = json.loads(json.dumps(current))
    for k, v in partial.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = merge_patch(out[k], v)
        else:
            out[k] = v
    return out
