"""skyway-equivalent convert CLI (reference: src/main.rs:50-88).

    spark-submit --py-files skyway_spark.zip jobs/convert.py \
        [--from opl|json|xml|pbf] [--to opl|json|overpass|xml] \
        [--filter f.osmfilter]... --input in.opl --output out.json

Flag semantics match the reference CLI: --from/--to override the
file-extension inference (src/main.rs:23-48); each --filter file is
auto-detected as OSMFilter-then-CEL and applied in CLI order, each
filter seeing the previous one's mutations (src/main.rs:150-171);
`-` as input/output means stdin/stdout (src/readers/mod.rs:60-68,
src/main.rs:176-184). The output is one document, written to the file
or to stdout with the reference's bytes by ``convert.write_document``;
the copy of stdin the readers need is removed after the run. Output
is serialized in canonical (type, id) order — the reference's
cross-blob order is nondeterministic (par_bridge,
src/readers/pbf.rs:145); ours is pinned (SURVEY §7.5).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(argv: list[str] | None = None) -> int:
    from skyway_spark.functions.filter import apply_filters
    from skyway_spark.plans.session import get_spark
    from skyway_spark.sources import convert

    ap = argparse.ArgumentParser(prog="skyway-spark")
    ap.add_argument("--from", dest="from_fmt", choices=["opl", "json", "xml", "pbf"])
    ap.add_argument(
        "--to", dest="to_fmt", choices=["opl", "json", "overpass", "xml"]
    )
    ap.add_argument("--filter", action="append", default=[], metavar="FILE")
    ap.add_argument("--input", required=True, help="path or - for stdin")
    ap.add_argument("--output", required=True, help="path or - for stdout")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    if args.input == "-" and not args.from_fmt:
        ap.error("--from is required when reading stdin")
    if args.output == "-" and not args.to_fmt:
        ap.error("--to is required when writing stdout")

    spark = get_spark("skyway-convert", cpus=args.cpus)
    in_path, stdin_copy = args.input, None
    try:
        if in_path == "-":
            # the readers take a path; OPL and PBF read it lazily, so the
            # copy lives until the write has run
            with tempfile.NamedTemporaryFile(
                "wb", suffix=f".{args.from_fmt}", delete=False
            ) as tmp:
                stdin_copy = tmp.name
                shutil.copyfileobj(sys.stdin.buffer, tmp)
            in_path = stdin_copy
        df, metadata = convert.read_elements(spark, in_path, args.from_fmt)

        programs = [Path(f).read_text() for f in args.filter]
        if programs:
            df = apply_filters(df, programs)

        out = sys.stdout if args.output == "-" else args.output
        convert.write_document(df, args.to_fmt, metadata, out)
        sys.stdout.flush()
    finally:
        if stdin_copy is not None:
            os.unlink(stdin_copy)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
