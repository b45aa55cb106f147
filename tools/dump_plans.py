"""Dump `.explain("formatted")` output for registry queries to files.

    python tools/dump_plans.py [<out_dir> [<suffix> [<key> ...]]]

Writes <out_dir>/<key>_<suffix>.txt for each key (e.g. suffix "before"
run from a git worktree at the pre-optimization commit, "after" at
HEAD). With no keys every registry key is dumped, in sorted order; the
defaults are out_dir plans/dump and suffix "plan". Expression ids are
written as `#N`, and exchange plan ids and RDD ids as `N`, so
whole-registry dumps taken at two commits compare with `diff -r`.
Planning only for most keys; keys with an eager build (localCheckpoint)
run that build while the frame is constructed.

Spark orders the Expand columns of a multi-distinct aggregate by a hash
that includes expression ids, so those plans can list the same columns
in another order when earlier keys allocated a different number of ids;
dump such a key on its own to compare it.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kuibadb_spark import registry  # noqa: E402
from kuibadb_spark.session import get_spark  # noqa: E402

_RUN_IDS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def main() -> int:
    args = sys.argv[1:]
    out_dir = Path(args[0]) if args else ROOT / "plans" / "dump"
    suffix = args[1] if len(args) > 1 else "plan"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("kuibadb-dump-plans")
    queries = registry.all_queries()
    keys = args[2:] or sorted(queries)
    for key in keys:
        df = queries[key](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = out_dir / f"{key}_{suffix}.txt"
        text = buf.getvalue()
        for pattern, repl in _RUN_IDS:
            text = pattern.sub(repl, text)
        path.write_text(text)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
