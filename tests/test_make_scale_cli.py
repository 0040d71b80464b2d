"""`tools/make_scale.py` parses its command line: `--help` prints usage
and builds nothing, and a flag it does not know is an error rather than
a default 10x build."""

import os
import shutil
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "make_scale.py")


def _run(tmp_path, *args):
    """Run a copy of the tool from `tmp_path/tools/`, so its default
    output dir (`<repo>/.scale/sf1`) would land under `tmp_path`."""
    tools = tmp_path / "tools"
    tools.mkdir(exist_ok=True)
    shutil.copy(TOOL, tools / "make_scale.py")
    return subprocess.run(
        [sys.executable, str(tools / "make_scale.py"), *args],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        for f in files
        if "__pycache__" not in d
    )


def test_help_exits_zero_and_writes_nothing(tmp_path):
    r = _run(tmp_path, "--help")
    assert r.returncode == 0, r.stderr
    assert "usage:" in r.stdout and "--clustered" in r.stdout
    assert _tree(tmp_path) == [os.path.join("tools", "make_scale.py")]


def test_unknown_flag_is_an_error(tmp_path):
    r = _run(tmp_path, "--no-such-flag")
    assert r.returncode != 0
    assert "unrecognized arguments" in r.stderr
    assert _tree(tmp_path) == [os.path.join("tools", "make_scale.py")]
