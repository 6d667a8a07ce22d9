"""The fixture builder reproduces the committed sf0.001 tree: every
parquet file byte for byte, every ``.npz`` array for array, and a
second call over a complete tree writes nothing."""

import filecmp
import os

import numpy as np

from pdf_table_spark.fixtures.build import OUTPUTS, build_sf, fixture_dir


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, names in os.walk(root) for f in names)


def test_build_sf_reproduces_committed_fixtures(tmp_path, fixture_root):
    info = build_sf(str(tmp_path), "0.001")
    assert info["skipped"] is False and info["docs"] == 50
    built = fixture_dir(str(tmp_path), "0.001")
    committed = fixture_dir(fixture_root, "0.001")

    names = _files(built)
    shards = [n for n in names if os.path.dirname(n)]
    assert names == _files(committed)
    assert sorted(set(OUTPUTS) - {"documents_spans.parquet"}) == sorted(
        n for n in names if n not in shards)
    assert shards == [os.path.join("documents_spans.parquet",
                                   f"part-{i:05d}.parquet") for i in range(8)]

    for name in names:
        new, old = os.path.join(built, name), os.path.join(committed, name)
        if not name.endswith(".npz"):
            assert filecmp.cmp(new, old, shallow=False), name
            continue
        # contents, not bytes: zip entry order is not part of the format
        with np.load(new) as a, np.load(old) as b:
            assert sorted(a.files) == sorted(b.files), name
            for key in a.files:
                assert a[key].dtype == b[key].dtype, (name, key)
                assert np.array_equal(a[key], b[key]), (name, key)

    mtimes = {n: os.stat(os.path.join(built, n)).st_mtime_ns for n in names}
    assert build_sf(str(tmp_path), "0.001") == {"sf": "0.001",
                                                "skipped": True}
    assert {n: os.stat(os.path.join(built, n)).st_mtime_ns
            for n in names} == mtimes
