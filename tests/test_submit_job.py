"""North-rule launch shape: spark-submit --py-files bela_spark.zip <job>.

Runs the REAL deployment path end-to-end in a subprocess: the package is
zipped, the job script is copied OUT of the repo tree (so the only way the
driver can import bela_spark is through --py-files), and spark-submit runs
the full linkage pipeline on a synthetic input, writing clusters + metrics.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pyspark

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = Path(pyspark.__file__).parent / "bin" / "spark-submit"


def _zip_package(dest: Path) -> Path:
    zpath = dest / "bela_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for py in (REPO / "bela_spark").rglob("*.py"):
            z.write(py, py.relative_to(REPO))
    return zpath


def test_spark_submit_py_files_linkage(tmp_path):
    zpath = _zip_package(tmp_path)
    job = tmp_path / "submit_linkage.py"
    shutil.copy(REPO / "scripts" / "submit_linkage.py", job)
    out = tmp_path / "out"

    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)  # bela_spark must arrive via --py-files only
    proc = subprocess.run(
        [
            str(SPARK_SUBMIT),
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zpath),
            str(job),
            "--input", "synth:rows=600,seed=11",
            "--output", str(out),
        ],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"

    metrics = json.loads((out / "metrics.json").read_text())
    assert metrics["rows"] == 600
    assert 0 < metrics["clusters"] <= 600
    assert metrics["cc_rounds"] >= 1
    # the key log counts hot keys per pair tier; the fused stage drops none
    assert "dropped_keys" not in metrics
    assert set(metrics["hot_keys"]) <= {"plain", "chained"}
    assert all(n > 0 for n in metrics["hot_keys"].values())
    assert len(metrics["top_clusters"]) > 0
    # clusters parquet is lang-partitioned and complete
    assert any((out / "clusters").glob("lang=*"))
