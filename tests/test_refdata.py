"""The reference-data root: the committed fixture files are exactly the
seed-42 generator's output, and the resolver picks the reference checkout
only when all four of its files are there."""

from __future__ import annotations

import os
import subprocess
import sys

from big_data_project_spark import refdata

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_committed_fixtures_are_the_seed_42_generator_output(tmp_path):
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "gen_testdata.py"),
            "--refdata",
            str(tmp_path),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert sorted(os.listdir(tmp_path)) == sorted(refdata.FILES)
    for name in refdata.FILES:
        with open(tmp_path / name, "rb") as got, open(
            os.path.join(refdata.FIXTURE_DIR, name), "rb"
        ) as want:
            assert got.read() == want.read(), f"{name} differs from the generator"


def test_root_falls_back_whole_unless_all_reference_files_exist(
    tmp_path, monkeypatch
):
    monkeypatch.setattr(refdata, "REFERENCE_DIR", str(tmp_path))
    for name in refdata.FILES[:-1]:
        (tmp_path / name).write_text("")
    assert refdata.root() == refdata.FIXTURE_DIR
    (tmp_path / refdata.FILES[-1]).write_text("")
    assert refdata.root() == str(tmp_path)
