"""pipeline.ship_package leaves no temp directory behind: the zip it
ships lives until the interpreter exits, then its directory goes."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_CHILD = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from two_tier_document_parser_spark.pipeline import ship_package

class _Context:
    def __init__(self):
        self.shipped = []
    def addPyFile(self, path):
        self.shipped.append(path)

class _Spark:
    sparkContext = _Context()

spark = _Spark()
zpath = ship_package(spark)
again = ship_package(spark)
print(json.dumps({"zpath": zpath, "again": again,
                  "shipped": spark.sparkContext.shipped,
                  "exists": os.path.isfile(zpath)}))
"""


def test_shipped_zip_dir_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(ROOT)],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    # shipped once, and the zip existed while the interpreter ran
    assert out["shipped"] == [out["zpath"]] and out["again"] == ""
    assert out["exists"]
    assert Path(out["zpath"]).parent.parent == tmp_path
    assert not list(tmp_path.glob("ttdp_pyfiles_*"))
