"""Index replication — the lucene-replicator module analogue (5.2 ships
``Replicator``/``ReplicationClient``: a publisher exposes index *revisions*,
clients sync only the files they don't already have, then switch to the new
revision atomically, so a reader on the replica never sees a torn index).

Our revision is the catalog's current snapshot set.  ``replicate`` walks the
source warehouse, copies data files INCREMENTALLY (a file already present at
the destination with the same size and a destination mtime no older than the
source's, within the destination's timestamp granularity, is skipped —
parquet part files are immutable and uuid-named, and the mtime guard
additionally catches any fixed-name file rewritten in place with unchanged
length), rewrites the absolute ``data_dirs`` and ``delete_dirs`` in each
manifest to the destination root, and only THEN installs every table's
``CURRENT`` pointer with an atomic rename — the replica serves the previous
revision throughout the copy and flips over in one step per table, exactly
the replicator client's ``revisionReady`` contract.

Scale notes: replication is pure file I/O on the driver (or an external
copier at production scale — the manifest rewrite is the only
catalog-aware step); incremental cost is O(new segment files), which after
a mutation wave is the delta the merge policy produced, never the corpus.
"""

from __future__ import annotations

import json
import os
import shutil


def _files_under(root: str):
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            yield os.path.join(dirpath, f)


def _modify_window_ns(root: str) -> int:
    """rsync's ``--modify-window``, measured instead of configured: how far
    a copied file's mtime can fall below its source's on the filesystem
    under ``root`` (0 on nanosecond filesystems, just under 2 s on FAT).
    Stamps a probe file with an odd second plus the largest fraction and
    reads back what the filesystem kept."""
    probe = os.path.join(root, ".mtime-probe")
    want = 1_000_000_001 * 10**9 + 999_999_999
    with open(probe, "w"):
        pass
    try:
        os.utime(probe, ns=(want, want))
        return max(0, want - os.stat(probe).st_mtime_ns)
    finally:
        os.remove(probe)


def replicate(src_root: str, dst_root: str) -> dict:
    """Sync the source warehouse's current revision into ``dst_root``.

    Returns ``{"copied": n, "skipped": n, "bytes_copied": n, "tables": n}``.
    Safe to re-run (idempotent: second run copies nothing); safe while the
    destination is being read (CURRENT pointers swap atomically, last).
    """
    src_root = os.path.abspath(src_root)
    dst_root = os.path.abspath(dst_root)
    if src_root == dst_root:
        raise ValueError("source and destination warehouses are the same")
    os.makedirs(dst_root, exist_ok=True)
    window = _modify_window_ns(dst_root)
    copied = skipped = nbytes = 0
    currents: list[tuple[str, str]] = []     # (dst CURRENT path, contents)
    manifests: list[tuple[str, str]] = []    # (src manifest, dst manifest)
    for src in _files_under(src_root):
        rel = os.path.relpath(src, src_root)
        dst = os.path.join(dst_root, rel)
        base = os.path.basename(src)
        if base == "CURRENT":
            with open(src) as f:
                currents.append((dst, f.read()))
            continue
        if base.startswith("manifest-") and base.endswith(".json"):
            manifests.append((src, dst))
            continue
        # incremental identity = (relative path, size, mtime): size alone
        # would silently keep a replica stale if a fixed-name file were
        # ever rewritten in place with unchanged length (data files are
        # uuid-named today, but the skip rule must not depend on that).
        # copystat below makes the source mtime the replica's, so an
        # unchanged file compares equal on the next run — up to the
        # destination's granularity, which may truncate the copied mtime.
        if (os.path.exists(dst)
                and os.path.getsize(dst) == os.path.getsize(src)
                and os.stat(dst).st_mtime_ns
                >= os.stat(src).st_mtime_ns - window):
            skipped += 1
            continue
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)
        shutil.copystat(src, dst)
        copied += 1
        nbytes += os.path.getsize(src)
    # manifests: rewrite absolute data and delete dirs to the destination root
    for src, dst in manifests:
        with open(src) as f:
            m = json.load(f)
        def _rw(p: str) -> str:
            if os.path.abspath(p).startswith(src_root + os.sep):
                return os.path.join(dst_root, os.path.relpath(p, src_root))
            return p

        for key in ("data_dirs", "delete_dirs"):
            out = []
            for d in m.get(key, []):
                if isinstance(d, dict):   # partition-leaf entry {base, path}
                    out.append({k: (_rw(v) if isinstance(v, str) else v)
                                for k, v in d.items()})
                else:
                    out.append(_rw(d))
            m[key] = out
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = dst + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, dst)
    # revisionReady: flip every table's CURRENT atomically, after all data
    for dst, contents in currents:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = dst + ".tmp"
        with open(tmp, "w") as f:
            f.write(contents)
        os.replace(tmp, dst)
    return {"copied": copied, "skipped": skipped, "bytes_copied": nbytes,
            "tables": len(currents)}
