"""Seeded analytics tables for the ``query_mix`` workload.

The tables come from the repo's own scale-data generator,
``tools/gen_scale_data.py``, at a small scale factor: the engine's
TPC-H-ish table names, columns and types (``region nation customer
supplier part orders lineitem events documents embeddings``) from that
generator's fixed seed, so the query results can be pinned
(``pinned_hashes.json``). They are not the tables of ``TESTDATA.md``.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os

NAMES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings")
SF = 0.002
GENERATOR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "tools", "gen_scale_data.py")


def generator():
    """``tools/gen_scale_data.py`` as a module (``tools`` is not a package)."""
    spec = importlib.util.spec_from_file_location("gen_scale_data", GENERATOR)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def write_tables(out_dir: str, sf: float = SF) -> None:
    """Write every table in ``NAMES`` as ``<out_dir>/<name>.parquet``."""
    with contextlib.redirect_stdout(io.StringIO()):  # it prints row counts
        generator().gen(sf, out_dir)
