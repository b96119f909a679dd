"""The generator is a pure function of (workload, seed).

    python3 -m pytest perfbench/test_gen.py -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    files = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                files[os.path.relpath(path, root)] = f.read()
    return files


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = gen.generate(workload, str(tmp_path / "a"), seed=7)
    b = gen.generate(workload, str(tmp_path / "b"), seed=7)
    c = gen.generate(workload, str(tmp_path / "c"), seed=8)
    files_a, files_b = _tree(a.root), _tree(b.root)
    assert files_a and files_a == files_b
    assert (a.input_bytes, a.input_records, a.poison_ids) == (
        b.input_bytes, b.input_records, b.poison_ids)
    assert _tree(c.root) != files_a


def test_braze_dead_letter_share_is_seeded(tmp_path):
    size = gen.SIZES["braze_delivery"]
    m = gen.generate("braze_delivery", str(tmp_path), seed=3)
    poisoned_blocks = {int(user[1:]) // size["block"] for user in m.poison_ids}
    assert len(poisoned_blocks) == len(m.poison_ids)
    assert m.dlq_records == len(m.poison_ids) * size["block"]
    assert m.dlq_records / m.input_records == pytest.approx(gen.POISON_BLOCK_SHARE, rel=0.1)
