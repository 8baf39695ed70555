"""Operational CLI — the engine-side counterpart of the reference's
``scripts/download_efficient.py`` driver + ``__main__.py`` (which SURVEY
§0.1 notes is broken in the reference: it imports a module that does not
exist). Subcommands:

  python -m simtradedata_spark build --root PATH [--symbols N] [--start D]
      [--end D] [--zorder]        # generate + persist the full warehouse
  python -m simtradedata_spark bench [--sf-dir DIR]
      # run every registered query, print the one-line bench JSON
  python -m simtradedata_spark check [--sf-dir DIR] [QUERY ...]
      # Spark-vs-DuckDB oracle gate for the named (or all) queries
  python -m simtradedata_spark export-corpus --sf-dir DIR --out PATH
      [--sample-pct N] [--shards N]
      # curate documents and ship JSONL shards + _datacard.json
  python -m simtradedata_spark maintain --root PATH [--tables T ...]
      [--target-file-mb N] [--vacuum DIR ...] [--keep N] [--regrain T ...]
      # nightly maintenance: compact warehouse tables, vacuum snapshot
      # stores, migrate tables left at a pre-upgrade partition grain
  python -m simtradedata_spark ingest-ticks --root PATH --ticks DIR
      # fold a new tick batch into the stateful minute_bars table
      # (partition-selective dynamic overwrite) and append to ticks
  python -m simtradedata_spark stream-ticks --root PATH --ticks DIR
      # same fold as a Structured Streaming query (exactly-once via the
      # checkpointed version pointer); one-shot by default, --follow tails
  python -m simtradedata_spark ingest-vectors --index PATH --vectors DIR
      # exactly-once embedding-batch fold into a persisted IVF index
      # (bootstrap trains the quantizer; appends pin it)

``bench`` and ``check`` shell out to the repo-root harnesses so the CLI and
the driver measure the exact same code path.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cmd_build(args: argparse.Namespace) -> int:
    from simtradedata_spark.session import get_spark
    from simtradedata_spark.sources.synthetic import SyntheticMarket
    from simtradedata_spark.sources.tables import (
        Warehouse,
        ZOrderWarehouse,
        build_warehouse,
    )

    spark = get_spark("build_warehouse")
    market = SyntheticMarket(
        spark, n_symbols=args.symbols, start=args.start, end=args.end
    )
    wh = (ZOrderWarehouse if args.zorder else Warehouse)(spark, args.root)
    build_warehouse(spark, args.root, market=market, warehouse=wh)
    rows = wh.read("bars").count()
    print(f"warehouse built at {args.root}: tables={wh.tables()} bars_rows={rows}")
    return 0


def _cmd_bench(args: argparse.Namespace) -> int:
    env = dict(os.environ)
    if args.sf_dir:
        env["SPARK_GRAFT_SF_DIR"] = args.sf_dir
    return subprocess.call(
        [sys.executable, os.path.join(_REPO, "bench.py")], env=env
    )


def _cmd_check(args: argparse.Namespace) -> int:
    cmd = [sys.executable, os.path.join(_REPO, "tools", "check_correctness.py")]
    if args.sf_dir:
        cmd.append(args.sf_dir)
    cmd.extend(args.queries)
    return subprocess.call(cmd)


def _cmd_maintain(args: argparse.Namespace) -> int:
    from simtradedata_spark.session import get_spark
    from simtradedata_spark.sources.tables import Warehouse
    from simtradedata_spark.streaming.incremental import vacuum_versions

    if args.target_file_mb < 1:
        raise SystemExit("--target-file-mb must be >= 1")
    spark = get_spark("maintain")
    wh = Warehouse(spark, args.root)
    for t in args.regrain or []:
        r = wh.regrain(t)
        print(
            f"regrain {t}: "
            + (f"rewritten at {r['grain']} grain" if r["regrained"]
               else f"no-op (grain={r['grain']})")
        )
    tables = args.tables or wh.tables()
    for t in tables:
        stats = wh.compact(t, target_file_bytes=args.target_file_mb << 20)
        print(
            f"compact {t}: {stats['files_before']} -> {stats['files_after']} "
            f"files ({stats['partitions_rewritten']} partitions rewritten)"
        )
    for store in args.vacuum or []:
        removed = vacuum_versions(store, keep=args.keep)
        print(f"vacuum {store}: removed versions {removed}")
    return 0


def _batch_fingerprint(batch_dir: str) -> tuple[list[str], str]:
    """Shared ingest replay-guard key: the sorted data-file listing and a
    digest of its (name, size, mtime_ns) triples. size alone misses a file
    regenerated in place with identical byte-length but different contents
    — that batch would silently be treated as a replay and skipped. Used
    by both ingest-ticks and ingest-vectors so the fingerprint semantics
    cannot drift between the two CLIs."""
    import hashlib

    batch_files = sorted(
        f for f in os.listdir(batch_dir) if not f.startswith(("_", "."))
    )
    files = []
    for f in batch_files:
        st = os.stat(os.path.join(batch_dir, f))
        files.append((f, st.st_size, st.st_mtime_ns))
    return batch_files, hashlib.md5(repr(files).encode()).hexdigest()[:16]


def _ingested(log: str, bid: str) -> bool:
    """Whether batch ``bid`` is already in the ingest log ``log`` (one
    committed batch id per line) — the replay guard of both ingest CLIs."""
    if not os.path.exists(log):
        return False
    with open(log) as fh:
        return bid in fh.read().split()


def _log_ingested(log: str, bid: str) -> None:
    """Commit batch ``bid``: append it to the ingest log ``log``."""
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "a") as fh:
        fh.write(bid + "\n")


def _cmd_ingest_ticks(args: argparse.Namespace) -> int:
    """Exactly-once daily ingest with the TICKS TABLE as source of truth:

      1. replay guard: the batch id (--batch-id, else a fingerprint of the
         batch dir's file listing) is checked against
         ``<root>/minute_bars/_ingest_log`` — a committed batch is a no-op
         (a fold replayed over already-updated state would double-count;
         the streaming path guards the same hazard via its version
         pointer, streaming/incremental.py::minute_bar_rollup_batch).
      2. append only the batch rows NOT already present (left_anti on the
         (symbol, trade_date, seq) tick key over a partition-pruned
         read_range) — heals a crash that committed the append but never
         reached the log.
      3. REBUILD the touched trade_month partitions' minute bars from the
         ticks table (not a fold over bar state): every retry recomputes
         from raw ticks and converges, and a warehouse without a
         minute_bars table bootstraps for free. Partition-selective
         dynamic overwrite rewrites only those months — a daily batch
         rewrites ≤31 days of bars, not a year (ticks and minute_bars are
         month-grain partitioned, sources/tables.py::GRAIN, so the
         rebuild's tick read prunes to the same months it rewrites).
      4. commit the batch id.

    refresh_time_bars (the state fold that never re-reads history) stays
    the STREAMING path's operator, where the checkpointed version pointer
    provides the replay guard this CLI gets from the log + rebuild."""
    import calendar

    from pyspark.sql import functions as F

    from simtradedata_spark.operators.resample import time_bars_from_ticks
    from simtradedata_spark.session import get_spark
    from simtradedata_spark.sources.tables import Warehouse

    spark = get_spark("ingest_ticks")
    wh = Warehouse(spark, args.root)
    batch_files, fingerprint = _batch_fingerprint(args.ticks)
    if not batch_files:
        print("empty batch dir — no-op")
        return 0
    bid = args.batch_id or fingerprint
    log = os.path.join(args.root, "minute_bars", "_ingest_log")
    if _ingested(log, bid):
        print(f"batch {bid} already ingested — no-op")
        return 0

    new = spark.read.parquet(args.ticks)
    b = new.agg(
        F.min("trade_date").alias("lo"), F.max("trade_date").alias("hi")
    ).first()
    if b["lo"] is None:
        print("batch has no rows — no-op")
        return 0
    lo, hi = str(b["lo"]), str(b["hi"])
    if wh.exists("ticks"):
        present = wh.read_range("ticks", lo, hi).select(
            "symbol", "trade_date", "seq"
        )
        to_append = new.join(present, ["symbol", "trade_date", "seq"], "left_anti")
    else:
        to_append = new
    n_new = to_append.count()
    if n_new:
        wh.write("ticks", to_append, mode="append")

    # rebuild the touched MONTHS from the ticks table (partition-pruned
    # read over the same month partitions the dynamic overwrite replaces)
    hi_end = calendar.monthrange(int(hi[:4]), int(hi[5:7]))[1]
    affected = wh.read_range("ticks", f"{lo[:7]}-01", f"{hi[:7]}-{hi_end:02d}")
    merged = time_bars_from_ticks(
        affected, minutes=1, with_state=True
    ).localCheckpoint(eager=True)
    wh.write("minute_bars", merged, dynamic=True)
    _log_ingested(log, bid)
    print(
        f"batch {bid}: appended {n_new} new ticks "
        f"({lo}..{hi}); rebuilt {merged.count()} minute bars in "
        f"months {lo[:7]}..{hi[:7]}"
    )
    return 0


def _cmd_stream_ticks(args: argparse.Namespace) -> int:
    """Streaming counterpart of ``ingest-ticks``: a Structured Streaming
    file source over the tick dir, folded micro-batch-by-micro-batch into
    the versioned minute-bar snapshot store at ``<root>/minute_bars_stream``
    (streaming/incremental.py::streaming_minute_rollup). The checkpointed
    batch-id pointer is the replay guard — the streaming analog of the
    batch CLI's ``_ingest_log``; a restart resumes from the committed
    pointer and never double-folds.

    Default is one-shot (trigger availableNow: drain the files currently
    present, then stop) so the command terminates like the batch CLI;
    ``--follow`` keeps tailing the dir for new tick files. test_cli.py
    proves the batch CLI and this fold land identical minute bars from
    the same tick batch."""
    from simtradedata_spark.session import get_spark
    from simtradedata_spark.streaming.incremental import (
        read_current,
        streaming_minute_rollup,
    )

    spark = get_spark("stream_ticks")
    schema = spark.read.parquet(args.ticks).schema
    target = os.path.join(args.root, "minute_bars_stream")
    q = streaming_minute_rollup(
        spark,
        args.ticks,
        schema,
        target,
        minutes=args.minutes,
        checkpoint=args.checkpoint or os.path.join(target, "_checkpoint"),
        available_now=not args.follow,
    )
    q.awaitTermination()
    bars = read_current(spark, target)
    n = bars.count() if bars is not None else 0
    print(f"stream-ticks: folded {args.ticks} into {target}; {n} minute bars")
    return 0


def _cmd_ingest_vectors(args: argparse.Namespace) -> int:
    """Exactly-once embedding-batch ingest into a persisted IVF index —
    the vector-side sibling of ``ingest-ticks``:

      1. replay guard: a batch id (``--batch-id``, else a
         (name, size, mtime) fingerprint of the batch dir) checked
         against ``<index>/_ingest_log``;
      2. first batch bootstraps the index (trains the quantizer); later
         batches fold via similarity.ivf_index_append — cell-assigned
         under the PINNED sidecar centroids, anti-join heal against only
         the batch's own cell partitions, append-only files;
      3. commit the batch id.

    Retrain-by-rebuild (build_ivf_index with fresh training) is the
    operational answer to distribution drift, same as the minute-bar
    fold's periodic compaction."""
    from simtradedata_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
    )
    from simtradedata_spark.session import get_spark

    spark = get_spark("ingest_vectors")
    batch_files, fingerprint = _batch_fingerprint(args.vectors)
    if not batch_files:
        print("empty batch dir — no-op")
        return 0
    bid = args.batch_id or fingerprint
    log = os.path.join(args.index, "_ingest_log")
    if _ingested(log, bid):
        print(f"batch {bid} already ingested — no-op")
        return 0
    batch = spark.read.parquet(args.vectors)
    if not os.path.exists(os.path.join(args.index, "centroids.json")):
        build_ivf_index(batch, args.index, n_lists=args.n_lists)
        n = batch.count()
        print(f"batch {bid}: bootstrapped index at {args.index} ({n} vectors)")
    else:
        n = ivf_index_append(spark, args.index, batch)
        print(f"batch {bid}: appended {n} new vectors into {args.index}")
    _log_ingested(log, bid)
    return 0


def _cmd_export_corpus(args: argparse.Namespace) -> int:
    from simtradedata_spark.catalog import load_table
    from simtradedata_spark.operators.pipeline import (
        export_curated_release,
        export_training_corpus,
    )
    from simtradedata_spark.session import get_spark

    # initial shuffle partitions derived from the corpus size (session.py):
    # floors at cores for driver scales, rises toward 4x cores at the
    # 100-1000x release points where pinned-cores measurably spills
    spark = get_spark("export_corpus", input_dir=args.sf_dir)
    docs = load_table(spark, args.sf_dir, "documents")
    if args.full_curation:
        card = export_curated_release(
            docs, args.out, n_shards=args.shards,
            select_top=args.select_top, seq_len=args.seq_len,
        )
        t = card["totals"]
        print(
            f"curated release at {args.out}: "
            f"{t['n_docs']} docs → {t['n_quality']} quality → "
            f"{t['n_unique']} unique → {t['n_canonical']} canonical → "
            f"{t['n_nonempty']} non-empty → {t['n_clean']} clean → "
            f"{t['n_selected']} selected, {t['selected_tokens']} tokens "
            f"in {t['n_bins']} bins of {args.seq_len}"
        )
        return 0
    card = export_training_corpus(
        docs, args.out, n_shards=args.shards, sample_pct=args.sample_pct
    )
    t = card["totals"]
    print(
        f"corpus exported to {args.out}: {t['n_sampled']}/{t['n_docs']} docs, "
        f"{t['sampled_tokens']} tokens"
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="simtradedata_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="generate + persist the synthetic warehouse")
    b.add_argument("--root", required=True)
    b.add_argument("--symbols", type=int, default=20)
    b.add_argument("--start", default="2022-01-03")
    b.add_argument("--end", default="2023-12-29")
    b.add_argument("--zorder", action="store_true")
    b.set_defaults(fn=_cmd_build)

    be = sub.add_parser("bench", help="run the registered-query benchmark")
    be.add_argument("--sf-dir", default=None)
    be.set_defaults(fn=_cmd_bench)

    c = sub.add_parser("check", help="Spark-vs-DuckDB oracle correctness gate")
    c.add_argument("--sf-dir", default=None)
    c.add_argument("queries", nargs="*")
    c.set_defaults(fn=_cmd_check)

    e = sub.add_parser("export-corpus", help="curate + ship JSONL corpus release")
    e.add_argument("--sf-dir", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--sample-pct", type=int, default=50)
    e.add_argument("--shards", type=int, default=4)
    e.add_argument(
        "--full-curation", action="store_true",
        help="run the COMPLETE chain (quality → exact dedup → near-dup → "
        "cross-doc strip → bloom decontam → DSIR select → pack) instead of "
        "the 4-stage funnel",
    )
    e.add_argument("--select-top", type=int, default=None,
                   help="DSIR selection size (default: keep all clean docs)")
    e.add_argument("--seq-len", type=int, default=4096)
    e.set_defaults(fn=_cmd_export_corpus)

    it = sub.add_parser(
        "ingest-ticks", help="fold a tick batch into the minute-bar store"
    )
    it.add_argument("--root", required=True)
    it.add_argument("--ticks", required=True, help="parquet dir of new ticks")
    it.add_argument("--batch-id", default=None,
                    help="stable ingest id (default: fingerprint of the dir)")
    it.set_defaults(fn=_cmd_ingest_ticks)

    st = sub.add_parser(
        "stream-ticks",
        help="Structured Streaming fold of a tick dir into minute bars",
    )
    st.add_argument("--root", required=True)
    st.add_argument("--ticks", required=True, help="parquet dir of tick files")
    st.add_argument("--minutes", type=int, default=1)
    st.add_argument("--checkpoint", default=None,
                    help="checkpoint dir (default: <target>/_checkpoint)")
    st.add_argument("--follow", action="store_true",
                    help="keep tailing the dir instead of one-shot drain")
    st.set_defaults(fn=_cmd_stream_ticks)

    iv = sub.add_parser(
        "ingest-vectors",
        help="exactly-once embedding-batch fold into a persisted IVF index",
    )
    iv.add_argument("--index", required=True, help="IVF index dir")
    iv.add_argument("--vectors", required=True,
                    help="parquet dir of (vec_id, embedding) batch files")
    iv.add_argument("--n-lists", default="auto",
                    type=lambda v: v if v == "auto" else int(v),
                    help="cells to train when bootstrapping a new index "
                         "(default auto = corpus_rows/256, clamped)")
    iv.add_argument("--batch-id", default=None,
                    help="explicit replay-guard id (default: dir fingerprint)")
    iv.set_defaults(fn=_cmd_ingest_vectors)

    m = sub.add_parser("maintain", help="compact tables / vacuum snapshot stores")
    m.add_argument("--root", required=True)
    m.add_argument("--tables", nargs="*", default=None)
    m.add_argument("--target-file-mb", type=int, default=128)
    m.add_argument("--vacuum", nargs="*", default=None)
    m.add_argument("--keep", type=int, default=2)
    m.add_argument(
        "--regrain",
        nargs="*",
        default=None,
        metavar="TABLE",
        help="rewrite tables whose on-disk partition grain predates the "
        "current layout (e.g. trade_year= minute_bars from before the "
        "month-grain move); runs before compaction",
    )
    m.set_defaults(fn=_cmd_maintain)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
