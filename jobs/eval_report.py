"""Corpus evaluation report over a labels table (the Step6 graft as a job).

Ship (north_rule):
    cd <repo> && zip -qr /tmp/engine.zip engine
    spark-submit --master 'local[*]' --py-files /tmp/engine.zip \
        jobs/eval_report.py --labels /path/out/labels [--out /path/report]

Reads the labels written by jobs/run_pipeline.py, prints the per-language
keep/drop/scrub report (one aggregation of decision.label_counts per
language, engine/operators/evaluation.py), and optionally writes it as
parquet.
Graft of the reference's evaluation pass: per-user error-rate tables
(Step6-Evaluation.R:7-39) + before/after comparison (Step6:100-127).
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--labels", required=True)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from engine import schema, session
    from engine.operators import evaluation

    spark = session.get_or_create("clip-quality-eval-report")

    labels = spark.read.schema(schema.LABELS_SCHEMA).parquet(args.labels)
    report = evaluation.corpus_report(labels)

    rows = report.collect()  # one row per language — tiny
    hdr = f"{'lang':8s} {'n_total':>10s} {'n_kept':>10s} {'keep_rate':>9s} " \
          f"{'scrub_rate':>10s} {'ppl_kept':>9s} {'sil_kept':>9s}"
    print(hdr)
    for r in rows:
        print(f"{r['lang']:8s} {r['n_total']:>10d} {r['n_kept']:>10d} "
              f"{r['keep_rate']:>9.4f} {r['scrub_rate']:>10.4f} "
              f"{(r['avg_ppl_kept'] if r['avg_ppl_kept'] is not None else float('nan')):>9.2f} "
              f"{(r['avg_silence_kept'] if r['avg_silence_kept'] is not None else float('nan')):>9.4f}")
        top = sorted(r["drop_reason_counts"].items(), key=lambda kv: -kv[1])[:3]
        top = [(k, v) for k, v in top if v > 0]
        if top:
            print("         top drop reasons: "
                  + ", ".join(f"{k}={v}" for k, v in top))

    if args.out:
        report.coalesce(1).write.mode("overwrite").parquet(args.out)
        print(f"report written to {args.out}")

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
