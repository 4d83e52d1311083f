"""Master parsing in engine/session.py (no JVM)."""

import os

import pytest

from engine.session import local_cores


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local", 1),
        ("local[1]", 1),
        ("local[4]", 4),
        ("local[16]", 16),
        ("local[2,3]", 2),
        ("local[2, 3]", 2),
        ("local[*]", os.cpu_count()),
        ("local[*,4]", os.cpu_count()),
        ("local-cluster[2,1,1024]", None),
        ("spark://host:7077", None),
        ("yarn", None),
        ("local[x]", None),
    ],
)
def test_local_cores(master, cores):
    assert local_cores(master) == cores
