"""tools/gate_check.py argument handling: a bare scale factor names that
scale's test data directory instead of being taken as a (missing) path."""

from __future__ import annotations

import os

import pytest

from tools.gate_check import sf_dir_arg


@pytest.mark.parametrize("arg,sf", [("0.01", "sf0.01"), ("sf0.01", "sf0.01"),
                                    ("0.1", "sf0.1"), ("sf0.1", "sf0.1")])
def test_bare_scale_factor_names_testdata_dir(arg, sf):
    got = sf_dir_arg(arg)
    assert os.path.isabs(got) and os.path.basename(got) == sf
    assert os.path.dirname(got) == os.path.dirname(sf_dir_arg("0.001"))


def test_paths_pass_through(tmp_path):
    assert sf_dir_arg(str(tmp_path)) == str(tmp_path)
    assert sf_dir_arg("some/dir/sf0.01") == "some/dir/sf0.01"
