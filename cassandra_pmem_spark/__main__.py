"""cqlsh-analog CLI: run CQL statements against the engine.

    python -m cassandra_pmem_spark -e "SELECT ... ; INSERT ... ;"
    python -m cassandra_pmem_spark -f script.cql
    python -m cassandra_pmem_spark            # REPL on stdin
    python -m cassandra_pmem_spark -f s.cql --record results.json
    python -m cassandra_pmem_spark -f s.cql --compare results.json

Statement routing mirrors the reference's QueryProcessor front door:
DDL/DML/USE/BATCH/TRUNCATE go to the write model (`cql/ddl.CqlDatabase`
— schema registry + per-table LWW sessions); a SELECT goes to the
database when its target table lives in the registry, otherwise to the
parquet read facade (`cql/parser.execute_cql`) over the `--sf-dir`
tables (`region nation customer supplier part orders lineitem events
documents embeddings`) — so the same prompt queries both the mounted
analytics lake and tables you just CREATEd.

`--record` / `--compare` are the fqltool analog (the reference's query
replay + result-diff harness, tools/fqltool/.../commands/Replay.java and
Compare.java:44): `--record` replays the script and writes each
statement's canonical result (sorted columns, sorted stringified rows —
the same shape the oracle gate hashes) to a result store; `--compare`
replays the same script later and diffs per statement, printing one
OK/MISMATCH verdict line each and exiting 3 on any mismatch — a
regression-corpus runner for mixed DDL/DML/SELECT scripts.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

_FROM_RE = re.compile(r"\bfrom\s+([A-Za-z_][\w]*(?:\.[\w]+)?)", re.IGNORECASE)
_BEGIN_RE = re.compile(r"begin\b", re.IGNORECASE)
_APPLY_END_RE = re.compile(r"\bapply\s+batch\s*$", re.IGNORECASE)


def split_statements(text: str) -> list[str]:
    """Split on ';' outside string literals (the BATCH body splitter,
    cql/writes._split_statements) while keeping BEGIN ... APPLY BATCH
    whole."""
    from cassandra_pmem_spark.cql.writes import _split_statements

    out: list[str] = []
    buf: list[str] = []
    for p in (p.strip() for p in _split_statements(text)):
        if not p and not buf:
            continue
        if buf:
            buf.append(p)
            if _APPLY_END_RE.search(p):
                out.append("; ".join(buf))
                buf = []
        elif _BEGIN_RE.match(p) and not _APPLY_END_RE.search(p):
            buf = [p]
        else:
            out.append(p)
    if buf:
        out.append("; ".join(buf))
    return [s for s in out if s]


def _sstable_paths(target: str) -> list[str]:
    """The *-Data.db file given, or every one under a directory (raises
    ValueError when the directory holds none)."""
    from cassandra_pmem_spark.sources.sstable import data_files

    return data_files(target) if os.path.isdir(target) else [target]


def _route(db, spark, stmt: str, sf_dir: str):
    """Route one statement; returns a DataFrame, True/False (conditional
    applied), or None (DDL/DML acknowledgement)."""
    from cassandra_pmem_spark.cql.parser import execute_cql

    head = stmt.split(None, 1)[0].lower()
    if head == "select":
        m = _FROM_RE.search(stmt)
        target = m.group(1) if m else ""
        try:
            db._table_key(tuple(target.split(".", 1)) if "." in target else target)
            in_db = True
        except Exception:
            in_db = False
        return db.execute(stmt) if in_db else execute_cql(spark, stmt, sf_dir)
    return db.execute(stmt)


def run_statement(db, spark, stmt: str, sf_dir: str, max_rows: int,
                  fetch_size: int = 0):
    """Route one statement; returns printable output or None."""
    if (
        fetch_size
        and stmt.split(None, 1)[0].lower() == "select"
        and "system_schema." not in stmt.lower()
    ):
        # cqlsh-style paging (driver fetch size): registry-table SELECTs
        # stream page by page through the QueryPager; the parquet read
        # facade and introspection tables stay unpaged
        try:
            pager = db.pager(stmt, page_size=fetch_size)
        except Exception:
            pager = None  # not pageable (facade table etc.) — fall through
        if pager is not None:
            import pandas as pd

            chunks = []
            fetched = 0
            page_no = 0
            while not pager.is_exhausted() and fetched < max_rows:
                page = pager.fetch_page()
                if not page:
                    break
                chunks.append(pd.DataFrame(page))
                fetched += len(page)
                page_no += 1
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if chunks
                else pd.DataFrame()
            )
            pdf = pdf.head(max_rows)  # same cap as the unpaged branch
            out = pdf.to_string(index=False)
            out += f"\n({len(pdf)} rows in {page_no} pages of {fetch_size})"
            return out
    result = _route(db, spark, stmt, sf_dir)
    if result is None or result is True:
        return "OK"
    if result is False:
        return "[applied: false]"
    pdf = result.limit(max_rows).toPandas()
    out = pdf.to_string(index=False)
    if stmt.split(None, 1)[0].lower() == "select":
        out += f"\n({len(pdf)} rows shown)"
    return out


def canonical_result(db, spark, stmt: str, sf_dir: str) -> dict:
    """One statement's result in the oracle gate's canonical shape:
    sorted column names + sorted stringified rows (floats via repr), or
    an {"ack": ...} marker for non-result statements. Errors canonicalize
    too — a replay that starts failing where the recording succeeded is a
    reportable diff, not a crash."""
    try:
        result = _route(db, spark, stmt, sf_dir)
    except Exception as ex:
        return {"error": type(ex).__name__}
    if result is None or isinstance(result, bool):
        return {"ack": "OK" if result in (None, True) else "[applied: false]"}
    pdf = result.toPandas()
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(repr(v) if isinstance(v, float) else str(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return {"columns": cols, "rows": [list(r) for r in rows]}


def replay_and_compare(db, spark, statements, sf_dir, baseline: list) -> int:
    """fqltool-compare analog: re-execute each statement, diff its
    canonical result against the recorded baseline, print one verdict
    line per statement. Returns the number of mismatches."""
    mismatches = 0
    if len(baseline) != len(statements):
        print(
            f"MISMATCH: script has {len(statements)} statements, "
            f"baseline recorded {len(baseline)}"
        )
        mismatches += 1
    for i, stmt in enumerate(statements):
        label = f"#{i + 1} {stmt[:60]}{'…' if len(stmt) > 60 else ''}"
        if i >= len(baseline):
            print(f"MISMATCH {label}: not in baseline")
            mismatches += 1
            continue
        want = baseline[i]
        if want.get("statement") != stmt:
            print(f"MISMATCH {label}: statement text differs from recording")
            mismatches += 1
            continue
        got = canonical_result(db, spark, stmt, sf_dir)
        exp = want["result"]
        if got == exp:
            print(f"OK       {label}")
            continue
        mismatches += 1
        detail = "result differs"
        if got.get("columns") != exp.get("columns"):
            detail = f"columns {exp.get('columns')} -> {got.get('columns')}"
        elif "rows" in got and "rows" in exp and len(got["rows"]) != len(exp["rows"]):
            detail = f"row count {len(exp['rows'])} -> {len(got['rows'])}"
        elif "rows" in got and "rows" in exp:
            diff = [
                (a, b) for a, b in zip(exp["rows"], got["rows"]) if a != b
            ]
            if diff:
                detail = f"first differing row: {diff[0][0]} -> {diff[0][1]}"
        print(f"MISMATCH {label}: {detail}")
    return mismatches


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="cassandra_pmem_spark")
    ap.add_argument("-e", "--execute", help="semicolon-separated statements")
    ap.add_argument("-f", "--file", help="CQL script file")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="parquet table directory for the read facade",
    )
    ap.add_argument("--max-rows", type=int, default=50)
    ap.add_argument(
        "--fetch-size", type=int, default=0, metavar="N",
        help="page registry-table SELECTs through the QueryPager in "
        "pages of N rows (the cqlsh/driver fetch-size analog); 0 = "
        "unpaged",
    )
    ap.add_argument(
        "--record",
        metavar="FILE",
        help="replay the script and write each statement's canonical "
        "result to FILE (fqltool-record analog)",
    )
    ap.add_argument(
        "--compare",
        metavar="FILE",
        help="replay the script and diff per-statement results against a "
        "previous --record FILE (fqltool-compare analog); exit 3 on any "
        "mismatch",
    )
    ap.add_argument(
        "--sstabledump",
        metavar="PATH",
        help="dump a big-format sstable (a *-Data.db file or a directory "
        "of them) as JSON partitions (tools/bin/sstabledump analog) and "
        "exit — no Spark session",
    )
    ap.add_argument(
        "--sstablemetadata",
        metavar="PATH",
        help="print a big-format sstable's metadata (a *-Data.db file or "
        "a directory of them) as Name: value lines — partitioner, stats, "
        "clustering bounds, compression, the COMPACTION cardinality "
        "estimate (tools/bin/sstablemetadata analog) — and exit; no "
        "Spark session",
    )
    ap.add_argument(
        "--sstableverify",
        metavar="PATH",
        help="verify a big-format sstable (a *-Data.db file or a "
        "directory of them): metadata/index/summary/bloom deserialize, "
        "Digest.crc32 hash check, and — with --extended or when the "
        "digest is missing — a full partition walk checking index/data "
        "agreement and token order (nodetool verify / "
        "tools/bin/sstableverify analog); exit 1 on corruption; no "
        "Spark session",
    )
    ap.add_argument(
        "--extended",
        action="store_true",
        help="with --sstableverify: extended verification (inspect "
        "every partition's values)",
    )
    ap.add_argument(
        "--sstableupgrade",
        metavar="PATH",
        help="rewrite every non-current-version sstable under a "
        "directory (or one *-Data.db) at the current version into "
        "--upgrade-out (tools/bin/sstableupgrade analog); no Spark "
        "session",
    )
    ap.add_argument(
        "--upgrade-out",
        metavar="DIR",
        help="output directory for --sstableupgrade (default: "
        "<input>/upgraded)",
    )
    ap.add_argument(
        "--sstablesplit",
        metavar="PATH",
        help="split a big *-Data.db (or each in a directory) into "
        "size-capped sstables under --upgrade-out "
        "(tools/bin/sstablesplit analog; default cap 50MB, see "
        "--split-size); no Spark session",
    )
    ap.add_argument(
        "--split-size",
        type=float,
        default=50,
        metavar="MB",
        help="with --sstablesplit: max output sstable size in MB "
        "(StandaloneSplitter DEFAULT_SSTABLE_SIZE = 50)",
    )
    ap.add_argument(
        "--sstablescrub",
        metavar="PATH",
        help="corruption-skipping rewrite of a *-Data.db (or directory) "
        "into --upgrade-out: undecodable partitions are skipped via the "
        "next index position, survivors re-written at the current "
        "version (tools/bin/sstablescrub analog); no Spark session",
    )
    ap.add_argument(
        "--sstablelevelreset",
        metavar="DIR",
        help="reset every sstable's leveled-compaction level to 0 by "
        "patching the STATS metadata in place "
        "(tools/bin/sstablelevelreset analog); no Spark session",
    )
    ap.add_argument(
        "--sstablerepairedset",
        metavar="PATH",
        help="mark a *-Data.db (or directory) repaired/unrepaired by "
        "patching repairedAt in the STATS metadata "
        "(tools/bin/sstablerepairedset analog — repaired stamps the "
        "file's mtime millis, unrepaired stamps 0); pair with "
        "--is-unrepaired to clear; no Spark session",
    )
    ap.add_argument(
        "--is-unrepaired",
        action="store_true",
        help="with --sstablerepairedset: stamp repairedAt = 0 instead "
        "of the Data.db mtime",
    )
    ap.add_argument(
        "--sstableexpiredblockers",
        metavar="DIR",
        help="report which sstables block fully-expired ones from being "
        "dropped (tools/bin/sstableexpiredblockers analog); set the "
        "grace window with --gc-grace-seconds",
    )
    ap.add_argument(
        "--gc-grace-seconds",
        type=int,
        default=864000,
        help="with --sstableexpiredblockers: gc_grace_seconds "
        "(default 864000 — TableParams.DEFAULT_GC_GRACE_SECONDS)",
    )
    ap.add_argument(
        "--sstableofflinerelevel",
        metavar="DIR",
        help="rebuild the leveled-compaction hierarchy from key ranges "
        "(tools/bin/sstableofflinerelevel analog); pair with --dry-run "
        "to only print the would-be leveling",
    )
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="with --sstableofflinerelevel: print the leveling without "
        "mutating any sstable",
    )
    args = ap.parse_args(argv)

    if args.sstablelevelreset:
        from cassandra_pmem_spark.sources.sstable import reset_sstable_level

        target = args.sstablelevelreset
        try:
            paths = _sstable_paths(target)
        except ValueError:
            print("Found no sstables, did you give the correct directory?")
            return 1
        for p in paths:
            m = reset_sstable_level(p)
            print(
                f"Skipped {os.path.basename(p)} since it is already on "
                f"level 0"
                if m["skipped"]
                else f"Changing level from {m['old_level']} to 0 on "
                f"{os.path.basename(p)}"
            )
        return 0

    if args.sstablerepairedset:
        from cassandra_pmem_spark.sources.sstable import set_sstable_repaired

        target = args.sstablerepairedset
        paths = _sstable_paths(target)
        for p in paths:
            m = set_sstable_repaired(p, repaired=not args.is_unrepaired)
            print(
                f"{os.path.basename(p)}: repairedAt "
                f"{m['old_repaired_at']} -> {m['new_repaired_at']}"
            )
        return 0

    if args.sstableexpiredblockers:
        from cassandra_pmem_spark.sources.sstable import (
            sstable_expired_blockers,
        )

        rows = sstable_expired_blockers(
            args.sstableexpiredblockers, args.gc_grace_seconds
        )
        for r in rows:
            print(
                f"{os.path.basename(r['blocker'])} blocks {r['blocks']} "
                f"expired sstables from getting dropped: "
                + ", ".join(os.path.basename(b) for b in r["blocked"])
            )
        if not rows:
            print("No expired sstables are blocked")
        return 0

    if args.sstableofflinerelevel:
        from cassandra_pmem_spark.sources.sstable import offline_relevel

        res = offline_relevel(
            args.sstableofflinerelevel, dry_run=args.dry_run
        )
        print("Potential leveling: " if args.dry_run else "New leveling: ")
        for lv, n in res["level_counts"].items():
            print(f"L{lv}={n}")
        if not args.dry_run:
            print(f"Mutated {res['mutated']} sstables")
        return 0

    if args.sstablesplit:
        from cassandra_pmem_spark.sources.sstable import split_sstable

        target = args.sstablesplit
        out_dir = args.upgrade_out or os.path.join(
            target if os.path.isdir(target) else os.path.dirname(target),
            "split",
        )
        paths = _sstable_paths(target)
        for p in paths:
            ms = split_sstable(p, out_dir, size_mb=args.split_size)
            if not ms:
                # reference message verbatim, incl. the upstream "it's"
                # typo (StandaloneSplitter.java:123)
                print(
                    f"Skipping {os.path.basename(p)}: it's size is less "
                    f"than the split size ({args.split_size:g} MB)"
                )
            else:
                print(
                    f"Split {os.path.basename(p)} into {len(ms)} sstables"
                )
        return 0

    if args.sstablescrub:
        from cassandra_pmem_spark.sources.sstable import scrub_sstable

        target = args.sstablescrub
        out_dir = args.upgrade_out or os.path.join(
            target if os.path.isdir(target) else os.path.dirname(target),
            "scrubbed",
        )
        paths = _sstable_paths(target)
        for p in paths:
            m = scrub_sstable(p, out_dir)
            print(
                f"Scrub of {os.path.basename(p)} complete: "
                f"{m['good_partitions']} partitions in new sstable, "
                f"{m['bad_partitions']} corrupt partitions skipped"
            )
        return 0

    if args.sstableupgrade:
        from cassandra_pmem_spark.sources.sstable import (
            upgrade_sstable,
            upgrade_sstables,
        )

        target = args.sstableupgrade
        out_dir = args.upgrade_out or os.path.join(
            target if os.path.isdir(target) else os.path.dirname(target),
            "upgraded",
        )
        manifests = (
            upgrade_sstables(target, out_dir)
            if os.path.isdir(target)
            else [upgrade_sstable(target, out_dir)]
        )
        for m in manifests:
            print(
                f"Upgraded {m['partitions']} partitions / {m['rows']} rows "
                f"-> {m['data_path']}"
            )
        if not manifests:
            print("Nothing to upgrade (all sstables already current)")
        return 0

    if args.sstableverify:
        from cassandra_pmem_spark.sources.sstable import (
            CorruptSSTableError,
            verify_sstable,
            verify_sstables,
        )

        target = args.sstableverify
        try:
            lines = (
                verify_sstables(target, extended=args.extended)
                if os.path.isdir(target)
                else verify_sstable(target, extended=args.extended)
            )
        except (CorruptSSTableError, ValueError, OSError) as e:
            print(f"Verification failed: {e}", file=sys.stderr)
            return 1
        for line in lines:
            print(line)
        return 0

    if args.sstablemetadata:
        from cassandra_pmem_spark.sources.sstable import sstable_metadata

        target = args.sstablemetadata
        paths = _sstable_paths(target)
        for p in paths:
            for line in sstable_metadata(p):
                print(line)
            print()
        return 0

    if args.sstabledump:
        from cassandra_pmem_spark.sources.sstable import dump_sstable

        target = args.sstabledump
        paths = _sstable_paths(target)
        dump = []
        for p in paths:
            dump.extend(dump_sstable(p))
        json.dump(dump, sys.stdout, indent=2)
        print()
        return 0

    from cassandra_pmem_spark.cql.ddl import CqlDatabase
    from cassandra_pmem_spark.session import get_spark

    spark = get_spark("cassandra-pmem-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    db = CqlDatabase(spark)

    if args.execute:
        text = args.execute
    elif args.file:
        with open(args.file) as fh:
            text = fh.read()
    else:
        text = sys.stdin.read()

    statements = split_statements(text)

    if args.compare:
        with open(args.compare) as fh:
            baseline = json.load(fh)
        n = replay_and_compare(db, spark, statements, args.sf_dir, baseline)
        print(f"{len(statements) - n}/{len(statements)} statements match")
        return 3 if n else 0

    if args.record:
        store = [
            {
                "statement": stmt,
                "result": canonical_result(db, spark, stmt, args.sf_dir),
            }
            for stmt in statements
        ]
        with open(args.record, "w") as fh:
            json.dump(store, fh, indent=1)
        print(f"recorded {len(store)} statements -> {args.record}")
        return 0

    rc = 0
    for stmt in statements:
        try:
            out = run_statement(
                db, spark, stmt, args.sf_dir, args.max_rows,
                fetch_size=args.fetch_size,
            )
            if out:
                print(out)
        except Exception as ex:  # surface per-statement errors, keep going
            print(f"ERROR: {type(ex).__name__}: {ex}", file=sys.stderr)
            rc = 2
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
