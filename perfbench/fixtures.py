"""Deterministic input tables for the benchmark.

The tables come from the repository's own fixture generator,
``scripts/gen_fixtures.py`` (same schemas and value domains as the engine's
fixture layout, FIXTURES.md), loaded by path and called with a fixed data
seed and row counts scaled from the layout's sf1. The seed is not the run's
``--seed``: every run measures the same data, and the run seed only picks
the chunking and the operation order (see README.md).
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_SEED = 42
EMB_DIM = 64


def sizes(scale: float) -> dict[str, int]:
    """Row counts per table at ``scale`` (1.0 = the layout's sf1), as
    ``gen_fixtures.generate`` keywords; lineitem follows from orders."""
    return {
        "n_customer": int(150_000 * scale),
        "n_supplier": int(10_000 * scale),
        "n_part": int(200_000 * scale),
        "n_orders": int(1_500_000 * scale),
        "n_events": int(1_000_000 * scale),
        "n_docs": int(50_000 * scale),
        "n_vecs": int(20_000 * scale),
    }


def generate(out_dir: str, scale: float) -> None:
    """Write every table the catalog reads under ``out_dir``."""
    path = os.path.join(ROOT, "scripts", "gen_fixtures.py")
    spec = importlib.util.spec_from_file_location("gen_fixtures", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with contextlib.redirect_stdout(sys.stderr):  # stdout carries only the result
        gen.generate(out_dir, DATA_SEED, **sizes(scale), emb_dim=EMB_DIM)
