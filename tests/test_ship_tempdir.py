"""The package zip a session ships to its executors lives in a
temporary directory that is removed when the interpreter exits, so
sessions leave no ``boltspark_ship_*`` directory behind; a SparkContext
gets it once, however often ``get_session`` returns it."""

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



SESSION_SCRIPT = """
import os, tempfile
from pyspark import SparkContext
calls = []
add = SparkContext.addPyFile
SparkContext.addPyFile = lambda sc, path: (calls.append(path), add(sc, path))
from boltspark.engine.session import get_session

def ship_dirs():
    return sorted(d for d in os.listdir(tempfile.gettempdir())
                  if d.startswith("boltspark_ship_"))

s1 = get_session("ship-once", cpus=1, driver_memory="1g")
s2 = get_session("ship-once", cpus=1, driver_memory="1g")
assert s1 is s2
print(len(calls), len(ship_dirs()))
s1.stop()
s3 = get_session("ship-once", cpus=1, driver_memory="1g")
print(len(calls), len(ship_dirs()))
s3.stop()
"""


def test_session_ships_the_package_once_per_context(tmp_path):
    """Two get_session calls in one process share one SparkContext: the
    package is zipped and addPyFile'd once (a second addPyFile of a
    changed zip would fail every later task).  A stopped and recreated
    context ships again."""
    env = dict(os.environ, TMPDIR=str(tmp_path),
               PYTHONPATH=os.pathsep.join(
                   [REPO, os.environ.get("PYTHONPATH", "")]))
    out = subprocess.run([sys.executable, "-c", SESSION_SCRIPT], env=env,
                         cwd=REPO, capture_output=True, text=True,
                         check=True, timeout=300)
    lines = out.stdout.strip().splitlines()[-2:]
    assert lines == ["1 1", "2 2"], out.stdout
