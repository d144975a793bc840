"""Python workers import the package whatever the driver's cwd: a driver
started outside the repo, with no PYTHONPATH, still runs the mapInPandas
silver builders (the session exports the package's parent directory to
its workers)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from tests.test_build_table import _members_page

REPO = Path(__file__).resolve().parents[1]

SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})      # the driver's path only, not the workers'
from eirepolitic_data_pipeline_spark.session import get_spark
from eirepolitic_data_pipeline_spark.tables import silver_members
spark = get_spark("worker-imports", cores=1)
raw = spark.createDataFrame([({page!r},)], "payload string")
print("ROWS", silver_members(raw, snapshot_date="2026-08-13").count())
spark.stop()
"""


def test_workers_import_package_from_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = SCRIPT.format(repo=str(REPO),
                           page=json.dumps(_members_page()))
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 2" in proc.stdout
