"""Build dist/pii_detection_service_spark.zip for spark-submit --py-files.

Usage:
    python tools/package_pyfiles.py
    spark-submit --py-files dist/pii_detection_service_spark.zip \
        tools/submit_stage.py --source ... --out ...
"""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "pii_detection_service_spark"


def main() -> str:
    dist = os.path.join(ROOT, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, f"{PKG}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
            if "__pycache__" in dirpath:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main()
