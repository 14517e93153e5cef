"""Environment-compat shims that need no Spark session."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DROP_SCRIPT = r"""
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, sys.argv[1])
from fitness_data_ingest_spark.compat import drop_archive_importers

tmp = sys.argv[2]
archive = os.path.join(tmp, "pkgs.zip")
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("zpkg/__init__.py", "")
    z.writestr("zpkg/first.py", "VALUE = 1\n")
    z.writestr("zpkg/second.py", "VALUE = 2\n")
# a jar, like spark-core's: a valid archive with resources, no modules
jar = os.path.join(tmp, "resources.jar")
with zipfile.ZipFile(jar, "w") as z:
    z.writestr("google/protobuf/any.proto", "")
sys.path[:0] = [jar, archive]  # the jar is searched first

import zpkg.first

def zip_importers():
    return [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)]

cached = zip_importers()
assert any(k.startswith(archive) for k in cached), cached
assert jar in cached, cached

drop_archive_importers()
assert zip_importers() == [], zip_importers()
assert not [p for p in sys.path if p.endswith(".jar")], sys.path
assert archive in sys.path
importlib.invalidate_caches()
assert zip_importers() == [], zip_importers()

import zpkg.second
assert zpkg.second.VALUE == 2
assert zpkg.second.__file__.startswith(archive), zpkg.second.__file__
print("DROP_OK")
"""


def test_drop_archive_importers_evicts_zip_importers_and_jars(tmp_path):
    """The jar leaves ``sys.path``, no ``zipimporter`` stays cached, and
    ``invalidate_caches()`` brings none back; a module not yet imported
    still imports from the zip, through a rebuilt importer."""
    r = subprocess.run(
        [sys.executable, "-c", DROP_SCRIPT, ROOT, str(tmp_path)],
        capture_output=True, text=True, timeout=120,
    )
    assert "DROP_OK" in r.stdout, f"stdout={r.stdout[-2000:]}\nstderr={r.stderr[-2000:]}"
