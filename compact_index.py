#!/usr/bin/env python
"""CLI: compact a multi-epoch index.

Full force-merge (rewrites everything into a fresh directory):

    spark-submit --py-files dist/elasticsearch_eslib_spark.zip \
        compact_index.py --src <index dir> --dst <new index dir>

Tiered (partial) compaction — merge only the trailing run of small
epochs IN PLACE at O(merged deltas), the steady-state maintenance pass
for a long-lived index (the base and large epochs are never decoded):

    compact_index.py --src <index dir> --tiered --max-epoch-docs 1000000

The full-merge destination is a brand-new immutable index directory
(doc/term ids preserved, WAND bounds re-tightened); swap your pointer to
it when done. The tiered mode commits atomically on the source index
itself (one manifest swap; a concurrent append aborts it cleanly).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True, help="existing index dir")
    ap.add_argument("--dst", help="fresh output index dir (full merge)")
    ap.add_argument("--tiered", action="store_true",
                    help="merge only the trailing run of small epochs, "
                         "in place (needs --max-epoch-docs)")
    ap.add_argument("--max-epoch-docs", type=int, default=None,
                    help="tiered mode: epochs that added at most this "
                         "many docs are merge candidates")
    args = ap.parse_args()

    if args.tiered and args.max_epoch_docs is None:
        ap.error("--tiered requires --max-epoch-docs")
    if not args.tiered and not args.dst:
        ap.error("--dst is required for a full merge")

    from elasticsearch_eslib_spark.config import get_spark

    spark = get_spark("eslib-compact-index")
    if args.tiered:
        from elasticsearch_eslib_spark.plans.compact_index import (
            compact_epochs,
        )

        print(json.dumps(compact_epochs(
            spark, args.src, max_epoch_docs=args.max_epoch_docs)))
    else:
        from elasticsearch_eslib_spark.plans.compact_index import (
            compact_index,
        )

        print(json.dumps(compact_index(spark, args.src, args.dst)))


if __name__ == "__main__":
    main()
