"""What a CLI pass loads, each check in a new process: the per-epoch
kernel's import closure on a worker, and the CLI's own Spark footprint.

A pass runs one RDD job on a bare SparkContext, so it needs neither a
SparkSession (Spark SQL's session state) on the driver nor pandas or
pyarrow on its workers; both are fixed costs a short nightly run cannot
amortise. The driver may still import pandas: PySpark's own py4j
converters do.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from tests.test_cli_pipeline import SIZE, write_night

ROOT = Path(__file__).resolve().parent.parent

#: a worker's view of the kernel: what ``pyspark.worker`` loads, then one
#: epoch decoded and run as ``plans.pipeline.night_records``' tasks run it
KERNEL = """
import os, sys
import pyspark.worker
from telescope_data_pipeline_spark.plans.pipeline import _frame, process_epoch, sink_record
from telescope_data_pipeline_spark.sources.fits import image_row

images, size = sys.argv[1], int(sys.argv[2])
names = sorted(n for n in os.listdir(images) if n.startswith("e0_"))
frames = []
for name in names:
    with open(os.path.join(images, name), "rb") as fh:
        frames.append(_frame(image_row(name, fh.read())))
rec = sink_record(process_epoch(0, frames, size, listed=names))
assert rec["outcome"] == "ok" and rec["csv"] and rec["txt"], rec["outcome"]
print("loaded:", sorted(m for m in ("pandas", "pyarrow") if m in sys.modules))
"""

#: the CLI in a new process, then whether it made a SparkSession
CLI = """
import sys
from pyspark.sql import SparkSession
from telescope_data_pipeline_spark.__main__ import main

main(sys.argv[1:])
print("session:", SparkSession._instantiatedSession)
"""


def _python(code: str, *args: str, timeout: int) -> subprocess.CompletedProcess:
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])}
    return subprocess.run([sys.executable, "-c", code, *args], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=timeout)


def test_kernel_imports_no_pandas_or_pyarrow(tmp_path):
    images, _ = write_night(tmp_path, seed=12, epochs=1)
    run = _python(KERNEL, str(images), str(SIZE), timeout=120)
    assert run.returncode == 0, run.stderr
    assert run.stdout.strip().splitlines()[-1] == "loaded: []"


def test_cli_in_a_new_process_makes_no_session(tmp_path):
    """``main()`` as a nightly run starts it: exit 0 with the summary
    line, no SparkSession made, and no console progress bar (Spark's
    ``[Stage 0:>  (0 + 4) / 4]``) in the log."""
    images, manifest = write_night(tmp_path, seed=13, epochs=4, frames=2)
    run = _python(CLI, "--images", str(images), "--manifest", str(manifest),
                  "--out", str(tmp_path / "out"), "--size", str(SIZE), timeout=300)
    assert run.returncode == 0, run.stderr
    lines = run.stdout.strip().splitlines()
    assert lines[-2].startswith("pipeline done: 4 epochs, "), run.stdout
    assert lines[-1] == "session: None"
    assert "[Stage " not in run.stderr, run.stderr
