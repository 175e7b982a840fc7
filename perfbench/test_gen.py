"""The generator is a pure function of the seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os

from perfbench import gen


def _generate(root, seed: int) -> dict[str, bytes]:
    feed = gen.IngestFeed(seed)
    for k in range(3):
        gen.write_landing(feed.batch(300, 2), os.path.join(root, "landing"), f"b{k}")
    feed.write_manifest(os.path.join(root, "manifest.json"))
    gen.write_tables(seed, os.path.join(root, "tables"), scale=0.002)
    files = {}
    for folder, _, names in os.walk(root):
        for name in names:
            path = os.path.join(folder, name)
            with open(path, "rb") as fh:
                files[os.path.relpath(path, root)] = fh.read()
    return files


def test_same_seed_gives_identical_files(tmp_path):
    first = _generate(tmp_path / "a", 7)
    second = _generate(tmp_path / "b", 7)
    assert first.keys() == second.keys()
    assert first == second


def test_different_seed_gives_different_files(tmp_path):
    first = _generate(tmp_path / "a", 7)
    other = _generate(tmp_path / "b", 8)
    assert first.keys() == other.keys()
    assert first["manifest.json"] != other["manifest.json"]
    changed = [name for name in first if first[name] != other[name]]
    # every landing file and every generated table except the two fixed
    # dimension tables (region, nation) depends on the seed
    assert len(changed) == len(first) - 2


def test_manifest_counts_redeliveries_once():
    feed = gen.IngestFeed(3)
    batch = feed.batch(400, 2)
    lines = [line for files in batch.values() for f in files for line in f]
    assert len(lines) == 400
    assert len(set(lines)) < len(lines)  # redeliveries repeat a line verbatim
    manifest = feed.manifest()
    assert manifest["mints"] >= manifest["gold_mints"] > 0
    assert manifest["keys"] == len(feed.expected)
