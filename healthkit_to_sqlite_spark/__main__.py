"""CLI entry point — drop-in for the reference's command line.

Reference (main.rs:12-29): ``healthkit-to-sqlite <EXPORT_ZIP> <DB_URL>
[--drop] [--yes] [--quiet]`` with DB_URL also read from the
``DATABASE_URL`` env var.  Same surface here:

    python -m healthkit_to_sqlite_spark export.zip sqlite://healthkit.db \
        [--drop] [--yes] [--quiet]

Flow parity with main.rs:39-90: existence check, interactive drop
confirmation unless --yes, engine call, progress line unless --quiet.
The sink is the real SQLite writer (a Datasette user can point at the
output exactly as with the reference, reference README.md:96-110).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile


def _db_path(db_url: str) -> str:
    """Accept sqlite://path, sqlite:///path, or a bare filesystem path
    (the reference feeds sqlx a sqlite: URL, main.rs:17-18)."""
    # sqlite://rel.db → rel.db (reference style, main.rs usage) and
    # sqlite:///abs/path.db → /abs/path.db (URL style) both work
    for prefix in ("sqlite://", "sqlite:"):
        if db_url.startswith(prefix):
            return db_url[len(prefix):] or "healthkit.db"
    return db_url


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="healthkit-to-sqlite-spark",
        description="Convert an Apple HealthKit export.zip to SQLite "
                    "(PySpark engine)")
    p.add_argument("export_zip", help="Path to the HealthKit export.zip data")
    p.add_argument("db_url", nargs="?",
                   default=os.environ.get("DATABASE_URL"),
                   help="URL to the SQLite database (or DATABASE_URL env)")
    p.add_argument("-d", "--drop", action="store_true",
                   help="Prompts the user to drop the database if it "
                        "already exists")
    p.add_argument("-y", "--yes", action="store_true",
                   help="Responds yes to all prompts")
    p.add_argument("-q", "--quiet", action="store_true",
                   help="Minimize stdout output")
    args = p.parse_args(argv)
    if not args.db_url:
        p.error("db_url is required (argument or DATABASE_URL env var)")

    db_path = _db_path(args.db_url)
    if os.path.exists(db_path):
        if not args.drop:
            print(f"Database {db_path} already exists "
                  "(pass --drop to replace it)", file=sys.stderr)
            return 1
        if not args.yes:
            reply = input(f"Drop existing database {db_path}? [y/N] ")
            if reply.strip().lower() not in ("y", "yes"):
                print("Aborted.", file=sys.stderr)
                return 1

    from .session import get_spark
    from .sinks.database import write_sqlite
    from .sources.healthkit import convert

    spark = get_spark("healthkit-to-sqlite-spark")
    if args.quiet:
        spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="hk_staging_") as staging:
        if not args.quiet:
            print(f"Converting {args.export_zip} ...")
        tables = convert(spark, args.export_zip, staging)
        # --drop (main.rs:39-62): the old file goes only once the
        # conversion has succeeded
        if os.path.exists(db_path):
            os.remove(db_path)
        write_sqlite(tables, db_path)
    if not args.quiet:
        print(f"Done: {db_path} ({len(tables)} tables)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
