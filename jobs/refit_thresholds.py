"""Threshold refit job: derive per-corpus cutoff candidates.

    spark-submit --py-files engine.zip jobs/refit_thresholds.py \
        --input /path/to/clips [--scored] --output /path/to/proposal.json

Reads a clips table (or, with --scored, an already-scored table such as a
checkpoint's `scored/` directory — skipping the UDF pass), derives
threshold candidates via engine/refit.py (histogram + exact 1-D 2-means,
plus an elbow-chosen MULTI-component strata proposal per score — the
reference's 5-7-component mixture-strata capability, Step3:150-366),
and writes a provenance-stamped JSON proposal.  The proposal is a config
DIFF for human review — the job never mutates config.py (frozen constants
are the contract; see engine/config.py docstring).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True, help="proposal JSON path")
    ap.add_argument("--scored", action="store_true",
                    help="input is an already-scored table (no UDF pass)")
    args = ap.parse_args()

    from engine import refit, session, sources
    from engine.operators import scoring

    spark = session.get_or_create("clip-quality-refit")

    if args.scored:
        scored = spark.read.parquet(args.input)
    else:
        scored = scoring.score_clips(sources.read_clips_table(spark, args.input))

    proposal = refit.refit_thresholds(scored)
    with open(args.output, "w") as f:
        json.dump(proposal, f, indent=2, sort_keys=True)
    print(json.dumps(proposal, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
