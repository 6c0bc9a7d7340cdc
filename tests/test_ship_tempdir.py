"""The package zip a session ships to its executors lives in a
temporary directory that is removed when the interpreter exits, so
sessions leave no ``boltspark_ship_*`` directory behind."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import os
from boltspark.engine.shipping import build_package_zip
path = build_package_zip()
assert os.path.getsize(path) > 0
print(path)
"""


def test_ship_dir_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   [REPO, os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", SCRIPT], env=env, cwd=REPO,
                         capture_output=True, text=True, check=True)
    zip_path = out.stdout.strip()
    assert zip_path.startswith(str(tmp_path))
    assert os.path.basename(os.path.dirname(zip_path)).startswith(
        "boltspark_ship_")
    assert not os.path.exists(os.path.dirname(zip_path))
    assert os.listdir(tmp_path) == []

