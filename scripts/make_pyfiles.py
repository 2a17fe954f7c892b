#!/usr/bin/env python3
"""Build dist/engine.zip for ``spark-submit --py-files``."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pytorch_bert_bilstm_crf_ner_spark.plans.session import write_package_zip  # noqa: E402


def main() -> str:
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    zpath = write_package_zip(os.path.join(dist, "engine.zip"))
    print(zpath)
    return zpath


if __name__ == "__main__":
    sys.exit(0 if main() else 1)
