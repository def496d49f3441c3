import os
import subprocess
import sys

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import os, sys
sys.path.insert(0, {perfbench!r})
import run
run.isolate({work!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())

def touch_engine(batches):
    import udacitydatawarehouseprj_spark.schemas  # resolved in the worker
    yield from batches

n = spark.range(4).mapInPandas(touch_engine, "id long").count()
run.stop_spark(spark)
print("rows", n)
"""


def test_python_workers_import_the_engine_from_any_directory(tmp_path):
    """This process finds the engine through sys.path, but Spark's Python
    workers only through the environment they inherit."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = SCRIPT.format(perfbench=PERFBENCH, work=str(tmp_path / "work"))
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 4" in out.stdout
