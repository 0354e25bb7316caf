"""Generate the deterministic synthetic clips table (FIXTURES.md).

    spark-submit --py-files /tmp/engine.zip jobs/gen_fixture.py \
        --n 20000 --profile test --out /tmp/clips [--seed 42]
"""

from __future__ import annotations

import argparse
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2000)
    ap.add_argument("--profile", default="test",
                    choices=["fixtures", "test", "bench"])
    ap.add_argument("--codec-mix", default="default",
                    choices=["default", "telephony"],
                    help="telephony = mostly real compressed payloads — "
                         "G.711 mu-law/A-law companded plus IMA ADPCM "
                         "(all decoded exactly in-engine)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from engine import fixtures, session

    spark = session.get_or_create("clip-fixture-gen")
    weights = (fixtures.TELEPHONY_CODEC_WEIGHTS
               if args.codec_mix == "telephony" else None)
    clips_pd, planted = fixtures.generate_clips(
        args.n, seed=args.seed, profile=args.profile, codec_weights=weights)
    fixtures.write_clips_parquet(spark, clips_pd, args.out)
    spark.createDataFrame(planted).coalesce(1).write.mode("overwrite") \
        .parquet(f"{args.out}_planted")
    print(f"wrote {len(clips_pd)} clips to {args.out} "
          f"(profile={args.profile}, codec_mix={args.codec_mix}, "
          f"seed={args.seed})")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
