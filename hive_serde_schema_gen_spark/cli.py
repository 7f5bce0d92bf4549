"""CLI entry point — the Spark twin of ``Generator.main``
(``/root/reference/Generator.scala:4-11``): ``file [tableName]`` →
Hive DDL script on stdout; default table name ``data``
(``Schemer.scala:117``).  As ``Generator`` is ``new Schemer(file)`` plus a
print, this is :class:`SchemaGen` plus a print: the class decides between
the local fold (a small local file, no JVM) and a Spark job, and starts a
session only for the latter."""

from __future__ import annotations

import argparse
import sys

from .schema_infer import SchemaGen, SchemaGenError, alter_statements
from .session import get_spark


def _pipeline_main(argv) -> int:
    """``pipeline <sf_dir> <out_dir> --total-tokens N [flags]`` — the
    one-COMMAND form of :func:`operators.corpus.crawl_to_shards` (the
    one-CALL pipeline proven at sf1 in ``tests/test_e2e_pipeline.py``):
    curate → per-domain integer token budgets → budget mixture →
    manifest → one sorted training-shard file per shard."""
    p = argparse.ArgumentParser(
        prog="hive-serde-schema-gen-spark pipeline",
        description="Curate a document corpus and export token-budgeted "
        "training shards in one command.",
    )
    p.add_argument("sf_dir", help="input dir containing documents.parquet")
    p.add_argument("out_dir", help="output dir for the shard files")
    p.add_argument("--total-tokens", type=int, required=True,
                   help="total token budget across all domains")
    p.add_argument("--epoch", type=int, default=1)
    p.add_argument("--context-len", type=int, default=2048)
    p.add_argument("--n-shards", type=int, default=8)
    p.add_argument("--alpha", default="1/2", metavar="NUM/DEN",
                   help="mixture temperature exponent as a fraction "
                   "(default 1/2 — proportional-to-sqrt sampling)")
    p.add_argument("--hash-fn", choices=["xxhash64", "md5"],
                   default="xxhash64")
    p.add_argument("--c4-lines", action="store_true",
                   help="run the C4 line-level structural cleanup first")
    p.add_argument("--redact", action="store_true",
                   help="redact PII spans before export")
    p.add_argument("--max-dup-gram-frac", type=float, default=None,
                   metavar="F", help="drop documents whose duplicate "
                   "n-gram character fraction exceeds F (the Gopher "
                   "repetition rule, e.g. 0.2)")
    p.add_argument("--strip-boilerplate-min-docs", type=int, default=None,
                   metavar="N", help="strip lines that repeat across >= N "
                   "documents of a domain (cross-document boilerplate)")
    args = p.parse_args(argv)

    def _frac(s, flag):
        num_s, _, den_s = s.partition("/")
        try:
            num, den = int(num_s), int(den_s or "1")
        except ValueError:
            raise SystemExit(
                f"error: {flag} must be NUM/DEN, got {s!r}"
            ) from None
        # a zero denominator or negative fraction would surface later as
        # an unhandled arithmetic error inside the pipeline — usage error
        if den <= 0 or num < 0:
            raise SystemExit(
                f"error: {flag} must be a non-negative fraction with a "
                f"positive denominator, got {s!r}"
            )
        return (num, den)

    alpha = _frac(args.alpha, "--alpha")

    from .operators.corpus import crawl_to_shards

    spark = get_spark("hive-serde-schema-gen-pipeline")
    accounting: list = []
    kwargs = dict(
        total_tokens=args.total_tokens,
        epoch=args.epoch,
        context_len=args.context_len,
        n_shards=args.n_shards,
        alpha=alpha,
        hash_fn=args.hash_fn,
        accounting=accounting,
        c4_lines=args.c4_lines,
        redact=args.redact,
    )
    if args.max_dup_gram_frac is not None:
        kwargs["max_dup_gram_frac"] = args.max_dup_gram_frac
    if args.strip_boilerplate_min_docs is not None:
        kwargs["strip_boilerplate_min_docs"] = args.strip_boilerplate_min_docs
    try:
        sel, budgets = crawl_to_shards(
            spark, args.sf_dir, args.out_dir, **kwargs
        )
    except Exception as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    # the reconciliation audit on stderr, the budget summary on stdout
    for stage, n in accounting:
        print(f"stage {stage}: {n} docs", file=sys.stderr)
    print(f"selected {sel.count()} documents into "
          f"{args.n_shards} shards at {args.out_dir}")
    for dom in sorted(budgets):
        print(f"  budget {dom}: {budgets[dom]} tokens")
    return 0


def _media_main(argv) -> int:
    """``media-dedup <in.parquet> <out_dir> [flags]`` — the one-COMMAND
    form of :func:`operators.multimodal.dedup_media_corpus`: byte-
    identical collapse before any decode, fingerprint survivors only,
    perceptual keep-first, optional persisted-index probe + extend.
    Writes ``kept/``, ``attribution/``, ``dropped/`` parquet dirs under
    ``out_dir``; stage accounting on stderr."""
    p = argparse.ArgumentParser(
        prog="hive-serde-schema-gen-spark media-dedup",
        description="Dedup an (id, payload) media corpus in one command.",
    )
    p.add_argument("input", help="parquet with (img_id|aud_id, payload)")
    p.add_argument("out_dir")
    p.add_argument("--modality", choices=["image", "audio", "video"],
                   default="image")
    p.add_argument("--index", default=None, metavar="DIR",
                   help="persisted pHash/AFP index to probe (and extend "
                   "with the accepted novel payloads)")
    p.add_argument("--extend-epoch", type=int, default=None)
    p.add_argument("--no-extend", action="store_true",
                   help="probe the index without extending it")
    p.add_argument("--radius", type=int, default=None)
    p.add_argument("--strategy", choices=["auto", "minpair", "anchor"],
                   default="auto",
                   help="'auto' (default) picks 'anchor' when the band-"
                   "bucket diagnostic trips; 'anchor' is the mega-cluster "
                   "scale path (same duplicate set, linear in near-dup "
                   "cluster size)")
    args = p.parse_args(argv)

    from .operators.media_core import PHASH_RADIUS
    from .operators.media_corpus import dedup_media_corpus

    spark = get_spark("hive-serde-schema-gen-media")
    accounting: list = []
    try:
        kept, attr, dropped = dedup_media_corpus(
            spark.read.parquet(args.input),
            args.modality,
            radius=args.radius if args.radius is not None else PHASH_RADIUS,
            index_path=args.index,
            extend_epoch=args.extend_epoch,
            extend_index=not args.no_extend,
            strategy=args.strategy,
            accounting=accounting,
        )
        kept.write.mode("overwrite").parquet(f"{args.out_dir}/kept")
        attr.write.mode("overwrite").parquet(f"{args.out_dir}/attribution")
        dropped.write.mode("overwrite").parquet(f"{args.out_dir}/dropped")
    except Exception as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    for stage, n in accounting:
        print(f"stage {stage}: {n} rows", file=sys.stderr)
    print(f"kept -> {args.out_dir}/kept; attribution and dropped beside it")
    return 0


def main(argv=None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    # subcommand dispatch that keeps the reference-compatible positional
    # form (`file [table]`) intact: only the literal first tokens
    # "pipeline" / "media-dedup" route to the library front ends (an
    # NDJSON input with such a name can be passed as "./pipeline")
    if argv and argv[0] == "pipeline":
        return _pipeline_main(argv[1:])
    if argv and argv[0] == "media-dedup":
        return _media_main(argv[1:])
    p = argparse.ArgumentParser(
        prog="hive-serde-schema-gen-spark",
        description="Infer the strictest Hive schema for an NDJSON file and "
        "emit a CREATE TABLE script (a small local file is folded on this "
        "host's cores with no JVM; anything else by a Spark job).",
    )
    p.add_argument("file", help="NDJSON input path/glob (local or any Hadoop FS)")
    p.add_argument("table", nargs="?", default="data", help="table name (default: data)")
    p.add_argument(
        "--mode",
        choices=["FAILFAST", "PERMISSIVE"],
        default="FAILFAST",
        help="FAILFAST aborts on the first bad line (reference behavior); "
        "PERMISSIVE skips bad rows and types a field whose rows disagree on "
        "kind as STRING",
    )
    p.add_argument("--sampling-ratio", type=float, default=None,
                   help="infer from a random sample of this fraction of the "
                   "lines (0 < ratio <= 1); any value, 1.0 included, runs a "
                   "Spark job")
    p.add_argument(
        "--detect-dates",
        action="store_true",
        help="type ISO-8601 strings as DATE/TIMESTAMP (opt-in deviation; "
        "default keeps the reference's strings-stay-strings behavior)",
    )
    p.add_argument(
        "--infer-maps",
        type=int,
        default=None,
        metavar="N",
        help="rewrite nested structs with >= N keys of one unified value "
        "type as MAP<STRING, T> (opt-in deviation for key-as-data objects "
        "— per-user dicts, counters — whose key set never converges; the "
        "reference has no MAP type, so the default output is unchanged)",
    )
    p.add_argument(
        "--evolve-from",
        metavar="OLD_FILE",
        default=None,
        help="also infer OLD_FILE's schema and print ALTER TABLE statements "
        "migrating it to FILE's schema (instead of a CREATE TABLE script)",
    )
    args = p.parse_args(argv)
    # FILE and OLD_FILE alike through --infer-maps, or every mapped column
    # would show up in --evolve-from as a spurious STRUCT->MAP type change
    opts = dict(mode=args.mode, sampling_ratio=args.sampling_ratio,
                infer_maps=args.infer_maps, detect_dates=args.detect_dates)
    try:
        new = SchemaGen(args.file, **opts)
        if args.evolve_from is not None:
            old = SchemaGen(args.evolve_from, **opts)
            stmts = alter_statements(args.table, old.schema, new.schema)
            print(
                "\n".join(stmts)
                if stmts
                else f"-- no changes: {args.table} already fits the new data"
            )
            return 0
    except SchemaGenError as e:
        print(str(e), file=sys.stderr)
        return 1
    except Exception as e:  # e.g. missing input path surfacing from the JVM
        lines = [ln.strip(" :") for ln in str(e).splitlines() if ln.strip()]
        # Py4J wraps the real cause: prefer the first line naming an
        # exception/cause over the generic "An error occurred while calling"
        cause = next(
            (ln for ln in lines if "Exception" in ln and "error occurred" not in ln),
            lines[0] if lines else type(e).__name__,
        )
        print(f"error: {cause}", file=sys.stderr)
        return 1
    print(new.table(args.table))
    for err in new.errors:
        print(f"skipped line {err.line}: {err.message}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
