"""``session.ship_package`` removes the temp dir holding its zip when the
interpreter exits (one dir per session used to pile up in the temp
root)."""

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import os
from hlld_spark.session import ship_package

class Context:
    _python_includes = []

    def addPyFile(self, path):
        self.shipped = path

class Session:
    sparkContext = Context()

zpath = ship_package(Session())
assert Session.sparkContext.shipped == zpath and os.path.isfile(zpath)
print(zpath)
"""


def test_ship_package_removes_its_temp_dir_at_exit(tmp_path):
    env = dict(os.environ, PYTHONPATH=_REPO, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    zpath = out.stdout.strip().splitlines()[-1]
    assert zpath.startswith(str(tmp_path)) and zpath.endswith("hlld_spark.zip")
    assert not os.path.exists(os.path.dirname(zpath))
    assert os.listdir(tmp_path) == []
