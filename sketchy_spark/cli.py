"""spark-submit entry point.

North rule: the pipeline runs "via spark-submit --py-files on a
multi-executor cluster". Usage:

    zip -r sketchy_spark.zip sketchy_spark
    spark-submit --py-files sketchy_spark.zip sketchy_spark/cli.py \\
        --input /path/to/files_parquet --output /path/to/out \\
        [--checkpoint /path/to/ckpt] [--mode bottom-s] [--seed 0] \\
        [--containment] [--synthetic N]

Mirrors the reference CLI surface (src/cli.rs): sketch params are
flags with the same defaults (k=16, s=1000, scale=0.001, seed=0),
validated the same way (scale bounds, file existence).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="sketchy-spark",
        description="PySpark near-duplicate detection & clustering",
    )
    p.add_argument("--input", help="parquet dir with (repo,path,commit,lang,content)")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate N deterministic corpus rows instead of --input")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--checkpoint", help="checkpoint store dir (resumable)")
    # sketch params, reference defaults (src/cli.rs:33-48)
    p.add_argument("--kmer-size", "-k", type=int, default=16)
    p.add_argument("--sketch-size", "-s", type=int, default=1000)
    p.add_argument("--scale", "-c", type=float, default=0.001)
    p.add_argument("--seed", type=int, default=0,
                   help="hash seed; 42 replicates Mash")
    p.add_argument("--mode", choices=["bottom-s", "scaled"], default="bottom-s")
    p.add_argument("--threshold", "-t", type=float, default=0.7,
                   help="Jaccard verification threshold")
    p.add_argument("--containment", action="store_true",
                   help="run the exact-substring containment pass")
    p.add_argument("--master", default=None, help="override spark master")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if not args.input and not args.synthetic:
        print("error: one of --input / --synthetic required", file=sys.stderr)
        return 2
    if args.input and not Path(args.input).exists():
        # file-exists validation, mirroring src/cli.rs:145-152
        print(f"error: input path does not exist: {args.input}", file=sys.stderr)
        return 2

    from sketchy_spark.config import SketchConfig

    try:
        cfg = SketchConfig(
            k=args.kmer_size, s=args.sketch_size, scale=args.scale,
            seed=args.seed, mode=args.mode, jaccard_threshold=args.threshold,
        )
    except ValueError as e:  # scale bounds etc. (src/cli.rs:135-143)
        print(f"error: {e}", file=sys.stderr)
        return 2

    from sketchy_spark.session import get_spark

    spark = get_spark("sketchy-cli", master=args.master)
    t0 = time.time()
    if args.input:
        from sketchy_spark.sources.tables import load_files

        files = load_files(spark, args.input)
    else:
        from sketchy_spark.corpus import corpus_df

        files = corpus_df(spark, args.synthetic)

    from sketchy_spark.checkpoint import make_store
    from sketchy_spark.pipeline import run_pipeline

    out = Path(args.output)
    store = None
    if args.checkpoint:
        store = make_store(spark, args.checkpoint, cfg.config_hash)
    r = run_pipeline(
        files, cfg, with_containment=args.containment, store=store
    )
    r.clusters.write.mode("overwrite").parquet(str(out / "clusters"))
    if args.containment:
        r.containment.write.mode("overwrite").parquet(str(out / "containment"))
    n = spark.read.parquet(str(out / "clusters")).count()
    summary = {
        "rows": n,
        "wall_sec": round(time.time() - t0, 2),
        "config_hash": cfg.config_hash,
        "resumed": r.resumed,
        "output": str(out),
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
