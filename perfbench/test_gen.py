"""The generator is a pure function of (workload, seed).

    python3 -m pytest perfbench/test_gen.py
"""

import os

import pytest

from gen import SPECS, generate


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for name in names:
            path = os.path.join(d, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(SPECS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        generate(workload, seed, str(tmp_path / name))
    a, b, c = (_files(str(tmp_path / name)) for name in "abc")
    assert a and a == b
    assert a.keys() == c.keys()
    assert all(a[name] != c[name] for name in a)
