"""Per-process scratch roots: under TMPDIR, and gone when the process
exits."""

from __future__ import annotations

import os
import subprocess
import sys

from cdc_pubsub_spark import paths

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import os
from cdc_pubsub_spark.paths import scratch_root, work_dir
d = work_dir("fixture")
os.makedirs(os.path.join(d, "nested"))
with open(os.path.join(d, "nested", "part-0"), "w") as fh:
    fh.write("x")
print(scratch_root())
"""


def test_scratch_root_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path))
    done = subprocess.run(
        [sys.executable, "-c", _CHILD],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    root = done.stdout.strip()
    assert root.startswith(str(tmp_path)), "scratch root must honour TMPDIR"
    assert not os.path.exists(root)
    assert list(tmp_path.iterdir()) == []


def test_warehouse_lives_in_scratch_root(spark):
    assert paths.scratch_root() in spark.conf.get("spark.sql.warehouse.dir")
