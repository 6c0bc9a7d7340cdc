"""Package the boltspark source as a zip for spark-submit --py-files /
SparkContext.addPyFile, so executors can import the kernels anywhere
(multi-executor clusters have no shared filesystem with the driver)."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile


def build_package_zip(dest_dir: str | None = None) -> str:
    """Zip the boltspark package into ``dest_dir`` -> the zip path.
    Without ``dest_dir`` the zip goes to a fresh temporary directory,
    removed when the interpreter exits (a session serves the zip from
    there until then)."""
    import boltspark

    pkg_root = os.path.dirname(os.path.abspath(boltspark.__file__))
    if dest_dir is None:
        dest_dir = tempfile.mkdtemp(prefix="boltspark_ship_")
        atexit.register(shutil.rmtree, dest_dir, ignore_errors=True)
    zip_path = os.path.join(dest_dir, "boltspark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join("boltspark", os.path.relpath(full, pkg_root))
                zf.write(full, rel)
    return zip_path


# applicationId -> the zip its SparkContext was given
_shipped: dict[str, str] = {}


def ship_package(spark) -> str:
    """addPyFile the package zip to a live session, once per SparkContext
    (a second addPyFile of the same name with other bytes fails every
    later task); returns the zip path.  A stopped and recreated context
    has a new applicationId, so it ships again."""
    sc = spark.sparkContext
    if sc.applicationId not in _shipped:
        zip_path = build_package_zip()
        sc.addPyFile(zip_path)
        _shipped[sc.applicationId] = zip_path
    return _shipped[sc.applicationId]
