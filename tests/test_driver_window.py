"""Mechanical driver-window rotation policy.

The correctness harness snapshots only the first ~50 registered queries
each round (see the registration-order note in ``workload.py``), so a
query whose implementation changes mid-round MUST be re-ordered into
that window or its green rows go stale (round 3 shipped a modified
``events_grouping_sets`` outside the window — VERDICT r03 "What's
wrong" #1). This test makes the policy self-enforcing: it diffs the
repo against the previous round's end commit (the driver's
``round N:`` marker), computes every query whose implementation — or a
transitively-referenced operator symbol — changed this round, and fails
unless each one sits inside the first-50 window. No human has to
remember to rotate the list; pytest flags the omission at commit time.

Window POLICY (round 5 on): all 50 slots go to ORACLE queries — this
round's tainted set first, then backfill by oldest green driver row.
Round 4's probe settled that the driver does NO rows-only checking
(it records ``err:"no_oracle"`` and moves on), so a rows-only query in
the window is a dead slot; their recall/accuracy/invariant checks live
in pytest only.
"""

from __future__ import annotations

import ast
import re
import subprocess
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "moisturizer_spark"
WINDOW = 50


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout


def _baseline_commit() -> str | None:
    """The commit the taint diff runs against: the newest commit whose
    message carries the driver's marker for round ``_WINDOW_ROUND − 1``
    (the round the committed window closed on).

    TIMING SEMANTICS (VERDICT r09 "What's wrong" #1b): diffing against
    the newest ``round N:`` marker of ANY round made the base MOVE when
    the driver dropped the end-of-round snapshot commit — round N's
    edit-tainted window occupants retroactively lost their tainted
    status and the stalest-first check reddened a window that was legal
    when committed. Pinning the base to the marker that closed round
    ``_WINDOW_ROUND − 1`` judges the window against the information
    available when it was built, exactly like the artifact horizon.
    Falls back to the newest marker when that round has none (fresh
    repos / missing history)."""
    from moisturizer_spark import workload

    window_round = getattr(workload, "_WINDOW_ROUND", None)
    if window_round is not None:
        out = _git(
            "log", "--grep", f"^round {window_round - 1}:",
            "-n", "1", "--format=%H",
        )
        if out.strip():
            return out.strip()
    out = _git("log", "--grep", "^round [0-9]*:", "-n", "1", "--format=%H")
    return out.strip() or None


def _old_text(commit: str, relpath: str) -> str | None:
    try:
        return _git("show", f"{commit}:{relpath}")
    except subprocess.CalledProcessError:
        return None  # file didn't exist at baseline


_LINE_RX = re.compile(r"[^\r\n]*(?:\r\n|\r|\n)|[^\r\n]+\Z")


def _segmenter(text: str):
    """``ast.get_source_segment(text, node)`` with the line split done
    once: the stdlib re-splits the whole text on every call, which made
    segmenting the ~14k-line workload module quadratic (~3 min). Same
    line rule (only CR, LF and CRLF end a line) and the same UTF-8
    column offsets, so the segments are byte-for-byte the stdlib's."""
    lines = [ln.encode() for ln in _LINE_RX.findall(text)]

    def segment(node) -> str:
        first, last = node.lineno - 1, node.end_lineno - 1
        if first == last:
            return lines[first][node.col_offset:node.end_col_offset].decode()
        return "".join(
            [lines[first][node.col_offset:].decode()]
            + [ln.decode() for ln in lines[first + 1:last]]
            + [lines[last][:node.end_col_offset].decode()]
        )

    return segment


def _toplevel_segments(text: str) -> dict[str, str]:
    """name → exact source segment for every top-level def/class/assign.

    DECORATORS are part of a def's segment: ``ast.get_source_segment``
    starts at the ``def`` line, which would make an oracle-SQL change
    inside ``@query(name, sql)`` invisible to the taint diff — exactly
    the edit the driver window exists to catch (the driver hashes the
    oracle's output, so a changed oracle NEEDS a fresh row)."""
    tree = ast.parse(text)
    segment = _segmenter(text)
    out: dict[str, str] = {}
    for node in tree.body:
        names: list[str] = []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        seg = segment(node)
        decs = getattr(node, "decorator_list", None)
        if decs:
            seg = (
                "\n".join(segment(d) for d in decs)
                + "\n"
                + seg
            )
        for n in names:
            out[n] = seg
    return out


def _changed_symbols(old: str | None, new: str) -> set[str]:
    """Top-level names whose source segment changed (or is new), closed
    transitively over intra-module references: if helper ``_h`` changed
    and public ``f`` references ``_h``, ``f`` is tainted too."""
    new_segs = _toplevel_segments(new)
    old_segs = _toplevel_segments(old) if old else {}
    tainted = {n for n, seg in new_segs.items() if old_segs.get(n) != seg}
    # reference graph over the NEW module: name → referenced top-level names
    refs = {
        n: {w for w in re.findall(r"\b\w+\b", seg) if w in new_segs and w != n}
        for n, seg in new_segs.items()
    }
    while True:
        grown = {
            n for n, rs in refs.items() if n not in tainted and rs & tainted
        }
        if not grown:
            return tainted
        tainted |= grown


import functools


@functools.lru_cache(maxsize=1)
def _changed_query_names() -> tuple[set[str], str | None]:
    # cached: BOTH window tests need the taint diff (git show + AST
    # walk over the ~14k-line workload module). Inputs are the on-disk
    # tree + the marker commit, both fixed for a pytest session.
    base = _baseline_commit()
    if base is None:
        return frozenset(), None
    changed_files = {
        f
        for f in _git("diff", "--name-only", base).splitlines()
        if f.startswith(f"{PKG}/") and f.endswith(".py")
    }
    from moisturizer_spark import workload

    wl_rel = f"{PKG}/workload.py"
    wl_new = (REPO / wl_rel).read_text()
    wl_segs = _toplevel_segments(wl_new)  # parse the big file ONCE
    query_src = {
        name: wl_segs.get(fn.__name__, "")
        for name, fn in workload.QUERIES.items()
    }

    tainted_queries: set[str] = set()
    # 1) queries (or workload helpers they reference) changed directly
    if wl_rel in changed_files:
        wl_tainted = _changed_symbols(_old_text(base, wl_rel), wl_new)
        fn_to_query = {
            workload.QUERIES[n].__name__: n for n in workload.QUERIES
        }
        for sym in wl_tainted:
            if sym in fn_to_query:
                tainted_queries.add(fn_to_query[sym])
        # changed non-query helpers taint every query referencing them
        helper_syms = {s for s in wl_tainted if s not in fn_to_query}
        for name, src in query_src.items():
            if any(re.search(rf"\b{re.escape(s)}\b", src) for s in helper_syms):
                tainted_queries.add(name)
    # 2) changed operator-module symbols taint queries referencing them
    for relpath in changed_files - {wl_rel}:
        new_text = (REPO / relpath).read_text() if (REPO / relpath).exists() else None
        if new_text is None:
            continue  # deleted module: its symbols can't be referenced
        syms = _changed_symbols(_old_text(base, relpath), new_text)
        for name, src in query_src.items():
            if any(re.search(rf"\b{re.escape(s)}\b", src) for s in syms):
                tainted_queries.add(name)
    return frozenset(tainted_queries), base


def test_changed_queries_sit_inside_driver_window():
    from moisturizer_spark import workload

    tainted, base = _changed_query_names()
    if base is None:
        pytest.skip("no round marker commit to diff against")
    all_order = list(workload.QUERIES)
    oracle_order = list(workload.ORACLE)
    missing = [
        q
        for q in sorted(tainted)
        # rows-only queries are exempt: the driver records `no_oracle`
        # and checks nothing for them (r04 probe), so a window slot
        # would be dead — their re-verification after a change is the
        # pytest suite's job, which runs them all every time
        if q in workload.ORACLE
        and (q not in all_order[:WINDOW] or q not in oracle_order[:WINDOW])
    ]
    assert not missing, (
        f"queries changed since round baseline {base[:9]} but OUTSIDE the "
        f"first-{WINDOW} driver window: {missing} — add them to "
        "_NEEDS_DRIVER_ROW in workload.py"
    )


def test_needs_driver_row_names_are_real():
    from moisturizer_spark import workload

    unknown = [n for n in workload._NEEDS_DRIVER_ROW if n not in workload.QUERIES]
    assert not unknown, f"_NEEDS_DRIVER_ROW lists unknown queries: {unknown}"


def test_driver_window_slots_are_all_oracle():
    """Every window slot must be an oracle query (driver-provable) —
    EXCEPT the explicitly declared ``_ROWS_ONLY_SMOKE`` set: VERDICT r08
    requires a one-time driver execution (non-null ``spark_rows``) for
    rows-only queries that have never appeared in any CORRECTNESS
    artifact. Any OTHER rows-only query in the window is a dead slot —
    the driver records ``no_oracle`` and checks nothing (r04 probe)."""
    from moisturizer_spark import workload

    smoke = set(getattr(workload, "_ROWS_ONLY_SMOKE", []))
    dead = [
        n
        for n in workload._NEEDS_DRIVER_ROW
        if n not in workload.ORACLE and n not in smoke
    ]
    assert not dead, f"rows-only queries waste driver-window slots: {dead}"
    # a smoke slot is only justified while the query has NEVER had a
    # driver row; once an artifact records one, the slot must be freed
    # AT THE NEXT ROTATION — judged, like the stalest-first check,
    # against artifacts from rounds strictly before _WINDOW_ROUND (the
    # information available when the window was built), so the driver
    # dropping the current round's artifact cannot retroactively redden
    # a committed window (VERDICT r09 "What's wrong" #1a)
    import glob
    import json

    window_round = getattr(workload, "_WINDOW_ROUND", None)
    executed = set()
    for f in glob.glob(str(REPO / "CORRECTNESS_r*.json")):
        rnum = int(re.search(r"_r(\d+)\.json$", f).group(1))
        if window_round is not None and rnum >= window_round:
            continue
        executed.update(json.load(open(f)))
    stale_smoke = sorted(smoke & executed)
    assert not stale_smoke, (
        "rows-only smoke slots already have a driver row on record — "
        f"free the slots: {stale_smoke}"
    )


def test_window_backfill_is_stalest_first():
    """Mechanize VERDICT r07's hand audit: the driver window's
    NON-tainted slots must go to the oracles with the OLDEST green
    driver rows. The failure this prevents: r7's new-query head
    displaced the planned rotation set and 17 oracles silently reached
    age 3 — from now on, leaving an older oracle outside the window
    while a younger non-tainted one occupies a slot fails the suite.

    Ages come from the committed CORRECTNESS_r*.json artifacts (last
    round with rows+schema+hash all green); tainted/new queries are
    exempt from the comparison (their slots are mandatory regardless
    of age).

    TIMING SEMANTICS (VERDICT r08 "What's wrong" #1): the window is
    judged against the information available WHEN IT WAS BUILT —
    artifacts from rounds strictly before ``workload._WINDOW_ROUND``.
    Without this, the driver dropping CORRECTNESS_r{N}.json at round
    close would retroactively turn the committed round-N window red
    until the round-N+1 rotation lands; with it, the test goes red only
    if a NEW window is committed (bumping _WINDOW_ROUND) without
    honoring stalest-first over the artifacts it could see."""
    import glob
    import json

    from moisturizer_spark import workload

    files = sorted(glob.glob(str(REPO / "CORRECTNESS_r*.json")))
    if not files:
        pytest.skip("no correctness artifacts yet")
    window_round = getattr(workload, "_WINDOW_ROUND", None)
    rounds = {}
    for f in files:
        rnum = int(re.search(r"_r(\d+)\.json$", f).group(1))
        if window_round is not None and rnum >= window_round:
            continue  # not available when the window was built
        rounds[rnum] = json.load(open(f))
    if not rounds:
        pytest.skip("no artifacts predate the committed window round")
    latest = max(rounds)
    if window_round is not None:
        assert latest == window_round - 1, (
            f"_WINDOW_ROUND={window_round} but the newest prior artifact "
            f"is r{latest} — the window claims to be built on artifacts "
            "that don't exist (or skipped a round): rebuild the rotation"
        )

    def green(row):
        return (
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
            and not row.get("err")
        )

    last_green = {}
    for rnum in sorted(rounds):
        for q, row in rounds[rnum].items():
            if green(row):
                last_green[q] = rnum

    def age(q):  # never-green sorts oldest (None -> +inf)
        lg = last_green.get(q)
        return (latest - lg) if lg is not None else 10**9

    tainted, base = _changed_query_names()
    if base is None:
        pytest.skip("no round marker commit to diff against")
    # the driver snapshots the first-50 of QUERIES; with rows-only smoke
    # slots present, the oracle window is the ORACLE queries among those
    # 50 (NOT oracle_order[:50], which would reach 3 deeper and judge
    # oracles the driver won't actually run)
    all_order = list(workload.QUERIES)
    window = {q for q in all_order[:WINDOW] if q in workload.ORACLE}
    backfill = [q for q in window if q not in tainted and age(q) < 10**9]
    outside = [q for q in workload.ORACLE if q not in window]
    if not backfill or not outside:
        pytest.skip("degenerate window split")
    min_inside = min(age(q) for q in backfill)
    offenders = sorted(
        (q, age(q)) for q in outside if age(q) > min_inside
    )
    assert not offenders, (
        "stalest-first violated: these oracles sit OUTSIDE the driver "
        f"window with older green rows (age > {min_inside}) than a "
        f"non-tainted window occupant: {offenders[:10]} — rotate them "
        "into _NEEDS_DRIVER_ROW ahead of younger backfill"
    )
