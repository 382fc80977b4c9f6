from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))


@pytest.fixture(scope="session")
def spark():
    from engine.session import build_session

    s = build_session(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.session.timeZone": "UTC"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def ref_1k(tmp_path_factory):
    """Path of a seeded 1000-node, 10000-edge text edge list with the
    properties of the reference's random_1k_10k.txt (FIXTURES.md §2),
    written once per session."""
    from engine.datagen import random_graph_edges

    path = tmp_path_factory.mktemp("fixtures") / "random_1k_10k.txt"
    path.write_text("".join(f"{u} {v}\n" for u, v in random_graph_edges()))
    return str(path)
