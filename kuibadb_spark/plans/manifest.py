"""Per-table snapshot manifest: version = an immutable list of parquet
files. This keeps the one piece of reference machinery worth keeping —
KuiBaDB's SuperVersion/manifest (/root/reference src/access/sv.rs:129-296)
gives atomic multi-file commit and snapshot reads; with immutable parquet
there is no WAL/CLOG/MVCC left to replicate, only the manifest swap.

Durability trick is the reference's own (src/utils.rs:287-301 `persist`):
write a temp file, fsync, rename into place, fsync the directory — one
private pair (_write_temps, _rename_temps) that every writer shares.

Readers pin a version: a DataFrame built from a manifest's explicit file
list never sees later commits (snapshot isolation per query — the
semantics of the reference's Snapshot{xmin,xmax} without transaction IDs).
Writers use optimistic concurrency: commit re-reads the manifest and
fails (SerializationFailure) if the base version moved.
"""

from __future__ import annotations

import fcntl
import json
import os
import threading
import uuid
import zlib
from contextlib import ExitStack, contextmanager

from kuibadb_spark.errors import SerializationFailure, StagedFileVanished


def _verify_files_exist(files, table_dir: str) -> None:
    """Commit-side existence check (round-6 review finding): a manifest
    must never be published referencing a file that is no longer on
    disk. The one interleaving the commit locks cannot cover is an
    OPEN transaction's staged segment (staging holds no lock) reaped by
    another session's gc(staged_retention_s=0) before this COMMIT runs —
    without this check, the publish succeeds and the table is silently
    corrupt; with it, the commit fails loudly and rolls back, which is
    the correct loser of that race. Runs under the commit lock, after
    the version check: one stat per referenced file."""
    for f in files:
        if not os.path.exists(f):
            raise StagedFileVanished(
                f"commit references missing file {f!r} (table {table_dir!r})"
                " — staged data was reclaimed (aggressive gc?) before"
                " COMMIT; transaction rolled back"
            )

MANIFEST = "manifest.json"

# Commit critical section: the optimistic read-check-persist must be
# atomic per table or two same-version committers both pass the check
# and one silently overwrites the other (found by the round-2 concurrent
# append test). threading.Lock serializes threads of this process;
# flock on a sidecar file serializes other processes. The reference
# holds its SupVer mutex across the same window (src/access/sv.rs).
_LOCKS: dict[str, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


@contextmanager
def commit_lock(table_dir: str):
    with _LOCKS_GUARD:
        lock = _LOCKS.setdefault(os.path.abspath(table_dir), threading.Lock())
    with lock:
        path = os.path.join(table_dir, ".commit.lock")
        while True:
            fd = os.open(path, os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                # Unlink-safety (round-6 storage review): DROP TABLE
                # removes the lock FILE, and flock locks an INODE — a
                # waiter that opened the old inode before the unlink
                # would otherwise "win" a lock no new opener contends
                # on (the table may have been re-created with a fresh
                # lock file), re-admitting two committers to the
                # critical section. Verify the path still names the
                # inode we locked; if not, retry on the current file.
                try:
                    cur = os.stat(path)
                except FileNotFoundError:
                    continue  # unlinked while we waited: reopen
                st = os.fstat(fd)
                if (st.st_ino, st.st_dev) != (cur.st_ino, cur.st_dev):
                    continue  # replaced while we waited: reopen
                yield
                return
            finally:
                try:
                    fcntl.flock(fd, fcntl.LOCK_UN)
                except OSError:
                    pass
                os.close(fd)


@contextmanager
def multi_commit_lock(table_dirs):
    """Hold the commit critical section for SEVERAL tables at once — the
    transaction COMMIT window. Locks are acquired in sorted absolute-path
    order so two multi-table committers touching overlapping table sets
    can never deadlock; holding all of them across validate+publish makes
    a multi-table transaction all-or-nothing against concurrent
    single-table commits (no window between one table's validation and
    another's publish)."""
    dirs = sorted({os.path.abspath(d) for d in table_dirs})
    with ExitStack() as stack:
        for d in dirs:
            stack.enter_context(commit_lock(d))
        yield


def manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, MANIFEST)


def read_manifest(table_dir: str) -> dict:
    with open(manifest_path(table_dir)) as f:
        m = json.load(f)
    _verify_crc(m, manifest_path(table_dir))
    return m


def _payload_crc(m: dict) -> int:
    # CRC over the canonical JSON of everything except the crc field;
    # the reference checksums every manifest/control-file write
    # (src/access/sv.rs:229-242, CRC32C; zlib.crc32 here, same role)
    body = {k: v for k, v in m.items() if k != "crc32"}
    return zlib.crc32(json.dumps(body, sort_keys=True).encode())


def _verify_crc(m: dict, path: str) -> None:
    crc = m.get("crc32")
    if crc is not None and crc != _payload_crc(m):
        from kuibadb_spark.errors import KbError

        raise KbError(f"manifest checksum mismatch: {path} is corrupt")


def init_manifest(table_dir: str, schema_ddl: str, not_null: list[str],
                  props: dict | None = None) -> dict:
    m = {
        "version": 0,
        "files": [],
        "schema": schema_ddl,
        "not_null": list(not_null),
        "props": props or {},
    }
    _persist(table_dir, m)
    return m


def commit_files(table_dir: str, new_files: list[str], base_version: int,
                 stats: dict | None = None,
                 props: dict | None = None) -> dict:
    """Atomically append files; optimistic check against concurrent commits.
    `stats` = per-file zone maps for the new files ({file: {col: [min,max]}},
    plans/zonemap.py) carried in the manifest for scan-time file skipping.
    `props` merges into the table props IN THE SAME swap — e.g. the
    streaming sink's last-committed-batch marker, which must be atomic
    with the data commit for exactly-once replay skipping."""
    with commit_lock(table_dir):
        m = read_manifest(table_dir)
        if m["version"] != base_version:
            raise SerializationFailure(
                f"manifest moved: base v{base_version}, now v{m['version']}"
            )
        _verify_files_exist(new_files, table_dir)
        m["version"] += 1
        _apply_delta(m, new_files, False, stats, props)
        _persist(table_dir, m)
        return m


def replace_files(table_dir: str, new_files: list[str], base_version: int,
                  stats: dict | None = None,
                  props: dict | None = None) -> dict:
    """Atomically swap the whole file list (compaction / COW-rewrite
    commit). Old files stay on disk — pinned readers still see them
    (snapshot isolation); gc() reclaims them later. This is the
    reference's L0→L1 merge shape (src/access/sv.rs levels) on immutable
    parquet. `props` merges into the table props in the SAME locked,
    versioned swap — a props write outside the lock could be silently
    clobbered by a concurrent commit and would desync manifest.json from
    its manifest.vN copy."""
    with commit_lock(table_dir):
        m = read_manifest(table_dir)
        if m["version"] != base_version and not _metadata_only_drift(
            table_dir, base_version, m
        ):
            # metadata-only bumps (ANALYZE) don't invalidate a COW
            # split: it was computed from a snapshot whose FILE LIST the
            # live manifest still has — proceed on the live version,
            # which already carries the metadata writer's changes
            raise SerializationFailure(
                f"manifest moved: base v{base_version}, now v{m['version']}"
            )
        _verify_files_exist(new_files, table_dir)
        m["version"] += 1
        _apply_delta(m, new_files, True, stats, props)
        _persist(table_dir, m)
        return m


def _apply_delta(m: dict, files: list[str], replace: bool,
                 stats: dict | None, props: dict | None) -> None:
    """The one rule for merging a file-list change into a manifest, in
    place: append `files` (or, with `replace`, make them the whole list
    and keep only the zone maps of files that survive), add the new
    files' zone maps `stats`, merge `props`. Shared by the two autocommit
    swaps above and Engine's staged transaction manifest. Private and
    I/O-free: the public publish functions are traced and
    fault-injected by module attribute, so none of them may nest
    another."""
    if replace:
        old = m.get("stats_by_file", {})
        m["files"] = list(files)
        m["stats_by_file"] = {f: old[f] for f in files if f in old}
    else:
        m["files"] = m["files"] + list(files)
        m.setdefault("stats_by_file", {})
    m["stats_by_file"].update(stats or {})
    m["props"].update(props or {})


def _metadata_only_drift(table_dir: str, base_version: int,
                         disk: dict) -> bool:
    """True iff every version between `base_version` and the live
    manifest changed NOTHING but metadata — identical file list, schema,
    and not_null. Provable from the base's time-travel copy; if that
    copy was trimmed, answer False (can't prove it → conflict)."""
    try:
        base = read_manifest_version(table_dir, base_version)
    except Exception:
        return False
    return (disk["files"] == base["files"]
            and disk.get("schema") == base.get("schema")
            and disk.get("not_null") == base.get("not_null"))


def _rebase_metadata_only(table_dir: str, staged: dict, base_version: int,
                          disk: dict) -> dict | None:
    """ANALYZE (update_props) and other metadata-only writers bump the
    manifest version without touching the file list; failing every open
    transaction's COMMIT for that would be a writer-conflict the
    reference's ANALYZE does not create (round-6 ADVICE). When the
    drift since the transaction's base is provably metadata-only, the
    staged manifest is RE-BASED over the live one: the transaction's
    file changes apply verbatim (they were computed against the same
    file list the live manifest still has), and its prop/stat DELTAS vs
    its base replay over the live metadata, so neither writer's changes
    are lost. Any real data or schema movement still conflicts. Returns
    the re-based staged dict, or None when rebase is not provably safe."""
    if not _metadata_only_drift(table_dir, base_version, disk):
        return None
    base = read_manifest_version(table_dir, base_version)
    out = dict(staged)
    # props: live metadata, plus the transaction's own changes/deletes
    props = dict(disk.get("props", {}))
    bp, sp = base.get("props", {}), staged.get("props", {})
    for k, v in sp.items():
        if k not in bp or bp[k] != v:
            props[k] = v
    for k in bp:
        if k not in sp:
            props.pop(k, None)
    out["props"] = props
    # zone maps: live backfills (ANALYZE), plus the transaction's own,
    # restricted to files the re-based manifest still references
    stats = dict(disk.get("stats_by_file", {}))
    bs, ss = base.get("stats_by_file", {}), staged.get("stats_by_file", {})
    for k, v in ss.items():
        if k not in bs or bs[k] != v:
            stats[k] = v
    for k in bs:
        if k not in ss:
            stats.pop(k, None)
    files = set(out.get("files", []))
    out["stats_by_file"] = {k: v for k, v in stats.items() if k in files}
    return out


def prepare_publish(table_dir: str, staged: dict, base_version: int) -> dict:
    """Phase 1 of a two-phase publish (multi-table COMMIT): validate the
    optimistic version check and write the fully-staged manifest AND its
    time-travel version copy to fsync'd temp files WITHOUT renaming them
    into place. Every byte-allocating I/O (where ENOSPC strikes) happens
    here, while nothing is visible; phase 2 (finish_publish) is N
    same-filesystem renames, which allocate no data blocks — so a
    multi-table commit's non-atomic window shrinks to rename-only.
    Caller must hold the commit lock. Returns a handle for
    finish_publish / abort_publish."""
    disk = read_manifest(table_dir)
    if disk["version"] != base_version:
        rebased = _rebase_metadata_only(table_dir, staged, base_version,
                                        disk)
        if rebased is None:
            raise SerializationFailure(
                f"manifest moved: base v{base_version}, "
                f"now v{disk['version']}"
            )
        staged, base_version = rebased, disk["version"]
    _verify_files_exist(staged.get("files", []), table_dir)
    out = dict(staged)
    out["version"] = base_version + 1
    return _write_temps(table_dir, out)


def finish_publish(handle: dict) -> dict:
    """Phase 2: rename the prepared temp manifests into place + dir
    fsync. The commit point is the manifest.json rename, so it MUST be
    the LAST rename: if the version-copy rename ran after it and failed
    in between, the caller's rollback handler (abort_publish +
    segment discard) would delete staged parquet the now-live
    manifest.json already references — silent corruption of a committed
    table. Renaming vtmp→vpath first is safe to roll back: a stray
    manifest.vN.json with no manifest.json pointing at version N is
    inert (read_manifest_version is only reachable for published
    versions, and gc/trim reap orphans)."""
    return _rename_temps(handle)


def publish_landed(handle: dict) -> bool:
    """True iff this handle's commit point — the manifest.json rename to
    the handle's version — has landed on disk. The ground truth for
    "was this table published?" after a mid-phase-2 failure: an
    in-memory progress list can't distinguish a failure just BEFORE the
    rename from one just AFTER it (e.g. in the dir fsync), and the
    difference decides whether rollback may delete staged segments."""
    try:
        live = read_manifest(handle["table_dir"])
    except Exception:
        # UNREADABLE must mean "landed" (round-6 storage review): this
        # is only consulted for tables that existed when the commit
        # began, so manifest.json is always present — a read failure
        # here is a TRANSIENT error (EIO, fd exhaustion), not evidence
        # of being pre-commit-point. Answering False would let the
        # rollback handler delete manifest.vN.json and staged segments
        # that a commit-point rename may ALREADY have made live —
        # committed-data loss on a hiccup. Answering True at worst
        # leaks temps and markers for gc to age out.
        return True
    # `>=`, not `==`: under the commit locks (the only sanctioned caller
    # context) they are equivalent — no concurrent committer can advance
    # the version while the handle's owner holds the lock. But if a
    # caller ever consults a handle AFTER releasing the locks, a live
    # version PAST the handle's means some commit of that version landed
    # (ours, or a concurrent one at the same base): either way,
    # manifest.v{N}.json and the live file set may belong to committed
    # state, so the only safe answer is "landed — delete nothing"
    # (round-5 ADVICE). The cost of a misclassified not-ours commit is a
    # leaked staged segment that gc ages out, never committed-data loss.
    return live.get("version", -1) >= handle["manifest"]["version"]


def abort_publish(handle: dict) -> None:
    """Discard a prepared-but-unpublished phase-1 handle. Safe to call
    after a mid-phase-2 failure too: if the commit point (the
    manifest.json rename) already landed this version, the publish is
    treated as done and NOTHING is removed — rolling back past the
    commit point would orphan data a live manifest references. Short of
    the commit point, the temps and any already-renamed version copy
    (inert without a manifest.json at that version) are reaped."""
    if publish_landed(handle):
        return  # commit point passed — this table IS published
    for k in ("tmp", "vtmp", "vpath"):
        try:
            os.remove(handle[k])
        except OSError:
            pass


def read_manifest_version(table_dir: str, version: int) -> dict:
    """Time travel: read a historical manifest (kept per-version, like the
    reference's checkpointed control-file copies, wal.rs:88-196)."""
    p = os.path.join(table_dir, f"manifest.v{version}.json")
    with open(p) as f:
        m = json.load(f)
    _verify_crc(m, p)
    return m


def trim_versions(table_dir: str, keep: int) -> int:
    """Drop per-version manifest copies older than (current - keep): the
    metadata half of gc (data files have their own reclaim). Returns
    files removed; the current manifest is never touched."""
    cur = read_manifest(table_dir)["version"]
    removed = 0
    for f in os.listdir(table_dir):
        if f.startswith("manifest.v") and f.endswith(".json"):
            try:
                v = int(f[len("manifest.v"):-len(".json")])
            except ValueError:
                continue
            if v <= cur - keep:
                os.remove(os.path.join(table_dir, f))
                removed += 1
    return removed


def _persist(table_dir: str, m: dict) -> None:
    # one-table write with no two-phase window: both halves back to back
    _rename_temps(_write_temps(table_dir, m))


def _write_temps(table_dir: str, m: dict) -> dict:
    """The durable writer's first half: stamp the CRC and write `m` to
    fsync'd temp files for manifest.json and its time-travel copy
    manifest.vN.json (reference src/utils.rs:287-301). Unique temp
    names: concurrent committers must never share a temp path. Returns
    the handle _rename_temps takes."""
    m["crc32"] = _payload_crc(m)
    token = uuid.uuid4().hex[:8]
    vpath = os.path.join(table_dir, f"manifest.v{m['version']}.json")
    h = {"table_dir": table_dir, "vpath": vpath,
         "vtmp": vpath + f".{token}.tmp",
         "tmp": manifest_path(table_dir) + f".{token}.tmp", "manifest": m}
    for p in (h["vtmp"], h["tmp"]):
        with open(p, "w") as f:
            json.dump(m, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
    return h


def _rename_temps(h: dict) -> dict:
    """The durable writer's second half: rename the version copy, then
    manifest.json — the commit point, always the LAST rename (see
    finish_publish) — then fsync the table directory. Returns the
    published manifest."""
    os.rename(h["vtmp"], h["vpath"])
    os.rename(h["tmp"], manifest_path(h["table_dir"]))
    dfd = os.open(h["table_dir"], os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    return h["manifest"]


def update_props(table_dir: str, updater) -> dict:
    """Locked, VERSIONED metadata-only update: re-read the manifest
    under the commit lock, apply `updater(m)` (mutate props/stats in
    place), bump the version, persist. The only sanctioned way to write
    metadata outside a data commit (round-6 storage review): an
    out-of-band _persist without the lock or the bump can clobber a
    concurrent commit's manifest.json with a stale copy — regressing
    the live version and orphaning committed files — and overwrites its
    own manifest.vN.json time-travel copy in place. Callers that change
    metadata WITH a data commit should instead pass props= through
    commit_files/replace_files (one swap).

    The bump does NOT abort concurrent writers (round-6 ADVICE): open
    transactions re-base over provably metadata-only drift at COMMIT
    (_rebase_metadata_only), COW replaces tolerate it in their version
    check, and appends retry — so ANALYZE never creates a writer
    conflict the reference's ANALYZE wouldn't."""
    with commit_lock(table_dir):
        m = read_manifest(table_dir)
        updater(m)
        m["version"] += 1
        _persist(table_dir, m)
        return m


def update_schema(table_dir: str, new_ddl: str, not_null: list[str],
                  base_version: int) -> dict:
    """Metadata-only schema change (ALTER TABLE): files untouched, schema
    swapped, version bumped — readers of pinned versions keep the schema
    their snapshot had. Same optimistic check as data commits."""
    with commit_lock(table_dir):
        m = read_manifest(table_dir)
        if m["version"] != base_version:
            raise SerializationFailure(
                f"concurrent commit: base {base_version}, now {m['version']}"
            )
        m["version"] += 1
        m["schema"] = new_ddl
        m["not_null"] = list(not_null)
        _persist(table_dir, m)
        return m
