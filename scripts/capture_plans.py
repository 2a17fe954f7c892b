#!/usr/bin/env python3
"""Capture .explain("formatted") for registered queries into plans/r06/.

Usage: python scripts/capture_plans.py <suffix> [query ...]
Writes plans/r06/<query>_<suffix>.txt for each named query (default: the
24 bench-listed queries).  Plan-only — nothing is executed except the
driver-side work some query builders do (ivf centroids, the
connected-components size gate of canonical_entities and neardup_clusters).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BENCH_QUERIES = [
    "transcripts", "dict_mentions", "entity_counts", "adjacent_pairs",
    "cooccur_triples", "span_eval", "turn_offsets", "conversation_stats",
    "dedup_exact", "minhash_signatures", "lsh_candidate_pairs", "simhash",
    "simhash_neardup", "cosine_topk", "text_profile", "events_sessionized",
    "embedding_neardup", "neardup_clusters", "lsh_ann_topk", "ivf_ann_topk",
    "training_features", "augmented_corpus", "media_features",
    "language_mixture",
]


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or BENCH_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pytorch_bert_bilstm_crf_ner_spark.plans.queries import SPARK_QUERIES
    from pytorch_bert_bilstm_crf_ner_spark.plans.session import get_spark

    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture-plans", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = SPARK_QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
