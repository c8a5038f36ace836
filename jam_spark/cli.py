"""Job entry points — the analogue of jam-rs's CLI
(``/root/reference/src/cli.rs:46-116``: ``sketch`` / ``dist`` / ``stats``;
``merge`` is disabled in the reference, ``src/main.rs:24-31``).

    python -m jam_spark.cli sketch  --input pages.parquet --root CKPT [...]
    python -m jam_spark.cli pairs   --root CKPT            # ≅ jam dist
    python -m jam_spark.cli cluster --root CKPT
    python -m jam_spark.cli run     --input pages.parquet --root CKPT
    python -m jam_spark.cli ingest  --landing DIR --root CKPT
    python -m jam_spark.cli stats   --root CKPT            # ≅ jam stats
    python -m jam_spark.cli extract --input pages.parquet --output text.pq

On a cluster: ``spark-submit --py-files jam_spark_pkg.zip --jars
jam_spark/jvm/jam_spark_jvm.jar -m ...`` with the same flags. Sketch parameters mirror the reference's knobs
(``-k/--kmer-size``, ``--fscale``, ``--nmax``, ``--algorithm``,
``--cutoff``) reinterpreted for word-shingles.
"""

from __future__ import annotations

import argparse
import json
import sys

from .checkpoint import CheckpointedDedup
from .params import SketchParams
from .session import get_spark


def _add_params(p: argparse.ArgumentParser) -> None:
    d = SketchParams()
    p.add_argument("-k", "--kmer-size", type=int, default=d.k,
                   help="shingle width in word tokens (ref: src/cli.rs:58)")
    p.add_argument("--fscale", type=int, default=d.fscale,
                   help="FracMinHash scale; 0 = keep all (ref: src/cli.rs:62)")
    p.add_argument("--nmax", type=int, default=d.nmax,
                   help="bottom-k cap on sketch size (ref: src/cli.rs:65)")
    p.add_argument("--algorithm",
                   choices=["xxh64", "xxh3", "ahash", "murmur3"],
                   default=d.algo,
                   help="per-shingle hash; xxh64 = JVM-native mode, the "
                        "default (ref: src/cli.rs:69)")
    p.add_argument("--cutoff", type=float, default=d.cutoff,
                   help="similarity cutoff, percent, strict > (ref: src/cli.rs:103)")
    p.add_argument("--bands", type=int, default=d.bands)
    p.add_argument("--rows", type=int, default=d.rows)
    p.add_argument("--band-cap", type=int, default=d.band_cap)


def _params(args) -> SketchParams:
    return SketchParams(
        k=args.kmer_size,
        fscale=args.fscale or None,
        nmax=args.nmax or None,
        algo=args.algorithm,
        cutoff=args.cutoff,
        bands=args.bands,
        rows=args.rows,
        num_perm=args.bands * args.rows,
        band_cap=args.band_cap,
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="jam_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    for name, needs_input in [
        ("sketch", True), ("pairs", False), ("cluster", False),
        ("run", True), ("stats", False),
    ]:
        sp = sub.add_parser(name)
        sp.add_argument("--cores", type=int, default=None)
        sp.add_argument("--root", required=True, help="checkpoint root dir")
        if needs_input:
            sp.add_argument("--input", required=True,
                            help="pages parquet (url, text, ...)")
            sp.add_argument("--from-html", action="store_true",
                            help="derive text from the html binary column "
                            "with the frozen extraction spec (map-side, "
                            "same scan pass as the sketch)")
        if name != "stats":
            _add_params(sp)

    sp = sub.add_parser(
        "extract",
        help="html -> text extraction (frozen spec; the north-rule "
        "byte-identical-text-per-url stage) to a parquet sink",
    )
    sp.add_argument("--cores", type=int, default=None)
    sp.add_argument("--input", required=True,
                    help="pages parquet with an html binary column")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--key", default="url", help="id column to carry")

    sp = sub.add_parser(
        "ingest",
        help="drain a landing zone of page files into the incremental "
        "dedup state (Structured Streaming file source; each invocation "
        "processes exactly the files that landed since the last one)",
    )
    sp.add_argument("--cores", type=int, default=None)
    sp.add_argument("--root", required=True, help="checkpoint root dir")
    sp.add_argument("--landing", required=True,
                    help="directory new page parquet files land in")
    sp.add_argument("--max-files-per-trigger", type=int, default=None,
                    help="bound each micro-batch (O(delta) incremental "
                    "pass per batch)")
    _add_params(sp)

    args = ap.parse_args(argv)
    spark = get_spark(app=f"jam_spark_{args.cmd}", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.cmd == "stats":
            pfile = f"{args.root}/params.json"
            params = SketchParams.from_json(open(pfile).read())
            ck = CheckpointedDedup(spark, args.root, params)
            print(json.dumps(ck.stats(), default=str))
            return 0
        if args.cmd == "extract":
            from .ops.text import extract_text

            out = extract_text(spark.read.parquet(args.input), key=args.key)
            out.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print(json.dumps({"stage": "extract", "rows": n}))
            return 0
        ck = CheckpointedDedup(spark, args.root, _params(args))
        if args.cmd in ("sketch", "run"):
            pages = spark.read.parquet(args.input)
            if args.from_html:
                from .ops.text import html_text_col

                pages = pages.withColumn("text", html_text_col())
        if args.cmd == "sketch":
            sk, _ = ck.run_sketches(pages)
            print(json.dumps({"stage": "sketches", "rows": sk.count()}))
        elif args.cmd == "pairs":
            sk = ck._read("sketches").persist()
            bands = ck.run_bands(sk)
            p = ck.run_pairs(sk, bands)
            print(json.dumps({"stage": "pairs", "rows": p.count()}))
        elif args.cmd == "cluster":
            cl = ck.run_clusters(ck._read("pairs"), ck._read("membership"))
            print(json.dumps({"stage": "clusters", "rows": cl.count()}))
        elif args.cmd == "run":
            cl = ck.run(pages)
            print(json.dumps({"stage": "clusters", "rows": cl.count()}))
        elif args.cmd == "ingest":
            from .streaming import drain_landing_zone

            ck = drain_landing_zone(
                spark, args.landing, args.root, _params(args),
                max_files_per_trigger=args.max_files_per_trigger,
            )
            print(json.dumps(
                {"stage": "ingest", **{
                    k: v for k, v in ck.stats().items()
                    if k in ("n_pages", "n_sketches")
                }}
            ))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
