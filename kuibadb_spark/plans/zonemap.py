"""File-level zone maps: per-file column min/max harvested from parquet
footers at commit time (metadata-only — no data read), stored in the table
manifest, and used to drop whole files from a scan before Spark ever
lists them.

This is the manifest-level analog of the reference's per-block metadata
(/root/reference/src/access/cs.rs:91-107 stores rownum/colnum per L0
block; the Hologres/OceanBase lineage it cites lives on block zone maps),
and the same trick Delta/Iceberg use for file skipping. Parquet row-group
pruning still happens inside whatever files survive — this layer just
keeps Spark from opening files that cannot match.

Pruning is best-effort and NEVER affects correctness: the caller always
re-applies the full predicate as a DataFrame filter; an unparseable
conjunct or a column with no stats simply prunes nothing.

At 100 TB the stats read is the scale risk, not the data: stats come from
file footers only (one footer read per new file, at commit, for files the
committer just wrote — typically page-cached), and the manifest stays
metadata-sized (a few numbers per file)."""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# stats collection (commit-time, footer-only)
# ---------------------------------------------------------------------------

_STATTYPES = (int, float, str)


def collect_file_stats(files: list[str]) -> tuple[dict, int]:
    """({file -> {col -> [min, max]}}, total rows) from the footers: the
    zone maps for int/float/string columns with parquet statistics, and
    the files' row count (a writer's affected-row count, with no re-read
    of the data). Columns with missing/odd-typed stats are omitted
    (omitted ⇒ never pruned on)."""
    import pyarrow.parquet as pq

    out: dict = {}
    rows = 0
    for path in files:
        md = pq.ParquetFile(path).metadata
        rows += md.num_rows
        per_col: dict = {}
        ok: set = set()
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                col = rgm.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if (
                    st is None
                    or not st.has_min_max
                    or not isinstance(st.min, _STATTYPES)
                    or not isinstance(st.max, _STATTYPES)
                    or isinstance(st.min, bool)
                ):
                    per_col.pop(name, None)
                    ok.discard(name)
                    continue
                if rg == 0:
                    per_col[name] = [st.min, st.max]
                    ok.add(name)
                elif name in ok:
                    per_col[name][0] = min(per_col[name][0], st.min)
                    per_col[name][1] = max(per_col[name][1], st.max)
        out[path] = per_col
    return out, rows


# ---------------------------------------------------------------------------
# simple conjunctive predicate parser
# ---------------------------------------------------------------------------

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_NUM = r"-?\d+(?:\.\d+)?"
_STR = r"'(?:[^'])*'"
_LIT = f"(?:{_NUM}|{_STR})"

_CMP_RE = re.compile(
    rf"^\s*({_IDENT})\s*(<=|>=|=|<|>)\s*({_LIT})\s*$", re.IGNORECASE
)
_BETWEEN_RE = re.compile(
    rf"^\s*({_IDENT})\s+BETWEEN\s+({_LIT})\s+AND\s+({_LIT})\s*$", re.IGNORECASE
)
_IN_RE = re.compile(
    rf"^\s*({_IDENT})\s+IN\s*\(\s*({_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s*$",
    re.IGNORECASE,
)
_AND_SPLIT = re.compile(r"\bAND\b", re.IGNORECASE)
_OR_SPLIT = re.compile(r"\bOR\b", re.IGNORECASE)


def _lit(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        return tok[1:-1]
    return float(tok) if "." in tok else int(tok)


def parse_conjuncts(where: str) -> list[tuple[str, str, object, object]]:
    """Parse `a < 5 AND b BETWEEN 1 AND 2 AND c = 'x'` into
    [(col, op, lo, hi), …]; conjuncts that don't fit the grammar are
    skipped (= prune nothing for them). BETWEEN splits are re-assembled
    by lookahead since AND is both separator and BETWEEN syntax."""
    parts = _AND_SPLIT.split(where)
    out: list[tuple[str, str, object, object]] = []
    i = 0
    while i < len(parts):
        piece = parts[i]
        # BETWEEN consumed its AND: stitch the next part back on
        if re.search(r"\bBETWEEN\b", piece, re.IGNORECASE) and i + 1 < len(parts):
            piece = f"{piece} AND {parts[i + 1]}"
            i += 1
        i += 1
        m = _BETWEEN_RE.match(piece)
        if m:
            out.append((m.group(1), "between", _lit(m.group(2)), _lit(m.group(3))))
            continue
        m = _CMP_RE.match(piece)
        if m:
            out.append((m.group(1), m.group(2), _lit(m.group(3)), None))
            continue
        m = _IN_RE.match(piece)
        if m:
            vals = [_lit(v) for v in _split_literals(m.group(2))]
            out.append((m.group(1), "in", vals, None))
    return out


def _split_literals(s: str) -> list[str]:
    return re.findall(_LIT, s)


# ---------------------------------------------------------------------------
# pruning
# ---------------------------------------------------------------------------


def _comparable(a, b) -> bool:
    if isinstance(a, str) != isinstance(b, str):
        return False
    return True


def _may_match(stats: dict, col: str, op: str, v, v2) -> bool:
    if col not in stats:
        return True
    lo, hi = stats[col]
    if not _comparable(lo, v):
        return True
    if op == "=":
        return lo <= v <= hi
    if op == "<":
        return lo < v
    if op == "<=":
        return lo <= v
    if op == ">":
        return hi > v
    if op == ">=":
        return hi >= v
    if op == "between":
        return not (hi < v or lo > v2)
    if op == "in":
        return any(
            _comparable(lo, x) and lo <= x <= hi for x in v
        ) or any(not _comparable(lo, x) for x in v)
    return True


def prune(files: list[str], stats_by_file: dict, where: str) -> list[str]:
    """Files that may contain rows matching `where` (conjuncts the
    grammar can't parse prune nothing). Files absent from stats_by_file
    are always kept.

    Top-level OR splits into disjuncts and keeps the UNION of each
    disjunct's survivors — sound even when parentheses defeat the
    textual split, because any piece the grammar can't parse keeps every
    file, and the union only ever grows the kept set. (SQL precedence —
    AND binds tighter than OR — matches the textual split for the
    paren-free case.)"""
    disjuncts = _OR_SPLIT.split(where)
    if len(disjuncts) > 1:
        keep: set = set()
        for d in disjuncts:
            keep.update(_prune_conjunctive(files, stats_by_file, d))
        return [f for f in files if f in keep]
    return _prune_conjunctive(files, stats_by_file, where)


def _prune_conjunctive(
    files: list[str], stats_by_file: dict, where: str
) -> list[str]:
    conjuncts = parse_conjuncts(where)
    if not conjuncts:
        return list(files)
    kept = []
    for f in files:
        st = stats_by_file.get(f)
        if st is None:
            kept.append(f)
            continue
        if all(_may_match(st, c, op, v, v2) for (c, op, v, v2) in conjuncts):
            kept.append(f)
    return kept
