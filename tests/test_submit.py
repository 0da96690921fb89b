"""Ship-mode pin: the full pipeline runs via

    spark-submit --py-files s3_log_parser_spark.zip <driver.py>

with the package imported ONLY from the zip (cwd and PYTHONPATH point
nowhere near the repo) — the deployment shape the north rule names.
One subprocess test, ~60 s: it catches packaging regressions (a
module importing something only present on the repo's local path, a
non-.py resource the zip misses) that no in-process test can."""

import os
import shutil
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
from tools.make_pyfiles_zip import build  # noqa: E402

_DRIVER = """
import sys
from s3_log_parser_spark.session import get_spark
from s3_log_parser_spark.sources.gen import gen_transcripts
from s3_log_parser_spark.plans.pipeline import run_pipeline

spark = get_spark(cores=4)
spark.sparkContext.setLogLevel("ERROR")
t = gen_transcripts(spark, rows=2000)
res = run_pipeline(spark, t, sys.argv[1], run_id="submit-smoke")
for name in sorted(res.sink_counts):
    print("SINK", name, res.sink_counts[name].count())
print("SUBMIT-OK")
"""


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_pyfiles_runs_pipeline(tmp_path):
    zip_path = build(str(tmp_path / "s3_log_parser_spark.zip"))
    driver = tmp_path / "driver.py"
    driver.write_text(_DRIVER)
    out_dir = str(tmp_path / "out")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the ONLY source
    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--py-files", zip_path,
            str(driver), out_dir,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("SINK")]
    sinks = {ln.split()[1]: int(ln.split()[2]) for ln in lines}
    assert sinks["by_role"] == 3 and sinks["by_tool"] == 20
    assert "SUBMIT-OK" in proc.stdout
    assert os.path.isdir(os.path.join(out_dir, "slim"))


_BPE_PROBE = """
import sys
from s3_log_parser_spark.functions import bpe

assert bpe.__file__.startswith(sys.argv[1]), bpe.__file__
print(len(bpe.MERGES))
print(bpe.bpe_encode_py(sys.argv[2]))
"""


def test_bpe_table_loads_from_the_zip(tmp_path):
    """the merge table is a data file, not a module: a zip that leaves
    it out fails here without a Spark session (the pipeline smoke test
    above never imports ``functions.bpe``)."""
    from s3_log_parser_spark.functions.bpe import bpe_encode_py

    zip_path = build(str(tmp_path / "s3_log_parser_spark.zip"))
    text = "the quick brown fox 123 jumps over eaad!"
    env = dict(os.environ, PYTHONPATH=zip_path)
    proc = subprocess.run(
        [sys.executable, "-c", _BPE_PROBE, zip_path, text],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    n, ids = proc.stdout.splitlines()
    assert int(n) == 32_768
    assert ids == str(bpe_encode_py(text))
