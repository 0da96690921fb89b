"""Build the spark-submit --py-files archive of the package.

Usage: python tools/make_pyfiles_zip.py [out.zip]

Zips ``s3_log_parser_spark/`` (its ``.py`` sources and ``.txt`` data
files such as the BPE merge table — __pycache__ excluded so the
artifact is deterministic and small) for:

    spark-submit --master ... --py-files s3_log_parser_spark.zip job.py ...

The ship mode the north rule names; pinned end-to-end by
tests/test_submit.py.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out_path: str) -> str:
    pkg = os.path.join(REPO, "s3_log_parser_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for name in sorted(filenames):
                if not name.endswith((".py", ".txt")):
                    continue
                full = os.path.join(dirpath, name)
                zf.write(full, os.path.relpath(full, REPO))
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "s3_log_parser_spark.zip"
    print(build(out))
