"""Build planetiler_spark.zip for `spark-submit --py-files` (north_rule launch
mode). Pure-Python package, no build step:

    python tools/package.py
    spark-submit --py-files dist/planetiler_spark.zip \
        planetiler_spark/plans/pipeline.py --n 10000000 --out /tmp/tiles
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    out_dir = os.path.join(REPO, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "planetiler_spark.zip")
    n = 0
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(os.path.join(REPO, "planetiler_spark")):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))
                    n += 1
    print(f"wrote {out} ({n} modules)")


if __name__ == "__main__":
    main()
