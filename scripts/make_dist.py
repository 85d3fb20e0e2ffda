"""Build dist/metasra_pipeline_spark.zip for spark-submit --py-files.

    python scripts/make_dist.py
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from metasra_pipeline_spark.session import build_package_zip  # noqa: E402


def main() -> str:
    os.makedirs(os.path.join(HERE, "dist"), exist_ok=True)
    out = build_package_zip(
        os.path.join(HERE, "dist", "metasra_pipeline_spark.zip"))
    print(out)
    return out


if __name__ == "__main__":
    main()
